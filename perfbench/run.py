"""Lifecycle benchmark: the package's lifecycle jobs run from seeded
files, timed warm, with a separate traced run that splits the time by
layer.

    python3 perfbench/run.py --workload zonal_pipeline --seed 3 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seconds 12
    python3 perfbench/run.py --smoke

Run it from the repository root. One process runs one workload on a
``local[<slots>]`` session with ``2 * slots`` shuffle partitions, where
``slots`` is half the CPUs this process may use, through the job's
public entry point:

1. Generate the seeded inputs with perfbench/inputs.py, which uses none
   of the package's writers.
2. Start the session and run ``WARMUPS`` untimed invocations. The first
   is cold. ``setup_s`` runs from process start to the end of this step.
3. Run timed invocations until ``--seconds`` have passed, and at least
   ``MIN_TIMED`` of them. Each gets hard links to the inputs in a new
   directory and a new output directory, so no cache keyed by path
   carries over. Each is checked against NumPy (perfbench/checks.py).
   A failed check or an exception counts the invocation as failed.

With ``--trace 1`` the timed phase runs plain and traced invocations in
plain-traced-traced-plain order, and ``trace.overhead_ratio`` is the
ratio of their medians. It then reruns the last invocation in place
(``jobs.rerun_*``; the ledger must make the rerun a no-op) and runs the
prefix probes of perfbench/workloads.py.
The JVM and every Python worker have exited when the process exits.
Spans and a record of the run (estate size and sha256, every invocation
time, PSS per process at the peak) go to ``.perfbench/records``. The
last stdout line is the result object.

Workloads (sizes in workloads.py):

- ``standardize_estate`` is the raster write path, Entry-2. Input: six
  deflate strip f4 GeoTIFFs of uneven size, 400 k px in all, each partly
  north of the 35° clip edge. No zonal, tile or text code runs.
- ``zonal_pipeline`` is the raster read path, Entry-1, on the same kind
  of estate (40 k px) with 40 GeoPackage zones: hexagons plus irregular
  polygons with holes, some off every raster. It writes no raster.
- ``curate_corpus`` runs run_curation_job on a parquet corpus with
  planted exact and near duplicates, PII and short documents. It is the
  control with no raster code. ``--workload all`` and ``--smoke`` run
  it; BENCHMARK.json leaves it out (see below).

Measured on a 4-core container (Spark 4.1.2, local[4]):

- Session start to first job: 8-11 s.
- Cold first invocations: standardize 15 s at 20 k px and 24 s at 1 M
  px; pipeline 25 s at 20 k px and 35 s at 1 M px; curate 16 s at 1 k
  docs and 35 s at 20 k docs.
- With the package's default of 32 shuffle partitions the pipeline ran
  161 tasks per invocation, mostly Python workers with next to nothing
  to do: 15.6-20.5 s and 49 CPU-s per warm invocation, varying by 20 %
  within one process. With 2 partitions per core (8) the same
  invocations took 8.5-9.9 s and 25-27 CPU-s, flat to within 5 %.
  Standardize was the same at 8 and 32 (5.1-6.1 s, 14 CPU-s). So the
  session gets 2 shuffle partitions per task slot.
- Each running task keeps a JVM task thread and a Python worker busy,
  so local[4] ran about twice as many busy threads as CPUs. In eight
  interleaved pipeline runs, local[2] (4 partitions) had the same
  median run_s as local[4] (8 partitions), 4.23 vs 4.26 s, half the
  range across runs (14 % vs 28 % of the median) and 17 % less CPU.
  So a session gets half the CPUs as task slots.
- The second invocation of a process was still 10-20 % slower than the
  later ones (pipeline 11.4 then 9.8, 9.8, 9.9, 9.8 s; standardize 6.9
  then 5.6, 5.8, 5.4 s), so two warm-ups precede the timed ones.
- Fixed cost per warm invocation: about 2.5 s for standardize, 7 s for
  the pipeline and 5 s for curate.
- Peak PSS is about 1 GB of JVM plus up to 20 Python workers; see
  procstat.PeakPss for why it is sampled only every 5 s. The workers'
  share is steady; the JVM's varied by 850-1200 MB between runs.
- On unchanged code a warm invocation took 2.6-5.4 s (standardize) and
  4-10 s (pipeline) at different hours of one day, and drifted by up
  to 25 % within ten minutes, CPU seconds as much as wall time (other
  load on the machine). That drift, not the program, sets the 0.25
  bounds on the time and memory metrics.

A run pays for a session start, a cold and a warm invocation and the
timed ones (12 s: four standardize or two to three pipeline
invocations): 35-50 s, and 50-80 s with --trace 1, when the machine is
quiet; under load from other tenants everything took up to 1.5 times
as long. A comparison of two commits (22 runs per workload, plus 4)
must fit in 3420 s, which leaves about 48 s per run with three
workloads, or 71 s with two. So two workloads are timed, both raster.
Each is the other's control: a write-path change must leave
zonal_pipeline alone, and a read-path change shows on both.
Together they cover every layer. Curate was left out rather than the
pipeline because it was the noisier of the two. The pipeline's data
plane is a minority of its warm run at any size that fits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Untimed invocations after session start (the first is cold, the second
# still 10-20 % slow), and the fewest timed ones a run makes however long
# they take.
WARMUPS = 2
MIN_TIMED = 2

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "items_per_s": "1/s",
    "run_cpu_s": "s",
    "peak_pss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
# Printed with --trace 1 for every workload. A workload adds its own
# (Workload.extra_metrics) to the run's record file.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "functions.decode_s": "s",
    "functions.encode_s": "s",
    "operators.self_s": "s",
    "operators.matched_pairs": "count",
    "sinks.self_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "jobs.self_s": "s",
    "jobs.spark_jobs": "count",
    "jobs.tasks": "count",
    "jobs.executor_run_s": "s",
    "jobs.executor_cpu_s": "s",
    "jobs.python_gap_s": "s",
    "jobs.shuffle_write_mb": "MB",
    "jobs.spill_mb": "MB",
    "jobs.gc_s": "s",
    "jobs.rerun_s": "s",
    "jobs.rerun_spark_jobs": "count",
    "lifecycle.cached_mb_after": "MB",
    "trace.run_s": "s",
    "trace.unaccounted_s": "s",
    "trace.unaccounted_share": "ratio",
    "trace.overhead_ratio": "ratio",
}
# The layer self times that, with trace.unaccounted_s, add up to trace.run_s.
SELF_TIMES = (
    "sources.scan_s",
    "sources.zones_ingest_s",
    "operators.self_s",
    "sinks.self_s",
    "jobs.self_s",
)


def process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def link_tree(src: str, dst: str) -> None:
    for dirpath, _, names in os.walk(src):
        target = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(target, exist_ok=True)
        for n in names:
            os.link(os.path.join(dirpath, n), os.path.join(target, n))


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failed = 0
        self.n_inv = 0
        self.spark = None

    # -- one call into the package ----------------------------------------

    def timed(self, name: str, fn, inv: str | None = None) -> float:
        with self.tracer.span(name, inv), tracing.job_group(self.spark, f"{name}#{inv}"):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

    def fresh(self, wl) -> str:
        self.n_inv += 1
        d = os.path.join(self.work, f"inv{self.n_inv}")
        link_tree(os.path.join(wl.master, "in"), os.path.join(d, "in"))
        return d

    def invoke(self, wl, d: str, traced: bool, rerun: bool = False) -> dict:
        """Run one invocation in ``d`` and check it. Returns its wall and
        CPU time, the cache left behind and, when traced, the
        status-store counters."""
        inv = os.path.basename(d) + ("-rerun" if rerun else "")
        group = f"invoke#{inv}"
        self.attempted += 1
        cpu0 = procstat.cpu_seconds(procstat.tree())
        gc0 = tracing.jvm_gc_s(self.spark) if traced else 0.0
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(wl.name, inv), tracing.job_group(self.spark, group):
                    res = wl.invoke(self.spark, d)
            else:
                res = wl.invoke(self.spark, d)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds(procstat.tree()) - cpu0
            problems = wl.check_rerun(res) if rerun else wl.check(d, res)
        except Exception:  # a failing invocation is a result, not a crash
            log(f"{wl.name} {inv} raised:\n{traceback.format_exc()}")
            self.failed += 1
            return {"wall": time.perf_counter() - t0, "cpu": 0.0}
        if problems:
            log(f"{wl.name} {inv} failed its check: {problems[:5]}")
            self.failed += 1
        out = {"wall": wall, "cpu": cpu}
        if traced:
            out.update(tracing.stage_counters(self.spark, group))
            # task-level GC time rounds to whole milliseconds per task and
            # misses collections outside tasks, so read the JVM's total
            out["jobs.gc_s"] = tracing.jvm_gc_s(self.spark) - gc0
        out["lifecycle.cached_mb_after"] = tracing.cached_mb(self.spark)
        return out

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        t_proc = process_start()
        cls = WORKLOADS[args.workload]
        full = cls(args.seed, args.size, os.path.join(self.work, "master"))

        from sids_data_pipeline_spark.session import get_spark

        # a running task keeps a JVM thread and a Python worker busy
        slots = max(1, len(os.sched_getaffinity(0)) // 2)
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{slots}]",
                # the package's default of 32 starves the pipeline on a
                # few cores (module docstring)
                shuffle_partitions=2 * slots,
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                    + os.path.join(self.work, "tmp"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.range(1).count()
        layer = {"session.start_s": time.perf_counter() - t0}

        t0 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            for _ in range(WARMUPS):
                d = self.fresh(full)
                self.invoke(full, d, traced=False)
                shutil.rmtree(d)
        layer["session.warmup_s"] = time.perf_counter() - t0

        setup_s = time.time() - t_proc
        plain, traced = [], []
        peak = procstat.PeakPss()
        peak.start()
        t_end = time.perf_counter() + args.seconds
        last = None
        while time.perf_counter() < t_end or len(plain) + len(traced) < MIN_TIMED:
            # plain, traced, traced, plain: the invocations still get
            # faster, so neither side may always run first
            for is_traced in (False, True, True, False) if args.trace else (False,):
                if last is not None:
                    shutil.rmtree(last)
                last = self.fresh(full)
                r = self.invoke(full, last, traced=is_traced)
                (traced if is_traced else plain).append(r)
                out_bytes, out_files = full.out_bytes(last)
        peak_pss = peak.stop()

        def med(rows, key):
            return statistics.median(r[key] for r in rows)

        run_s = med(plain, "wall")
        metrics = {
            "setup_s": setup_s,
            "run_s": run_s,
            "items_per_s": full.items / run_s,
            "run_cpu_s": med(plain, "cpu"),
            "peak_pss_mb": peak_pss,
            "out_bytes_per_in_byte": out_bytes / full.in_bytes,
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "estate": full.estate(),
            "plain_invocations_s": [r["wall"] for r in plain],
            "traced_invocations_s": [r["wall"] for r in traced],
            "pss_mb_at_peak": peak.at_peak,
        }
        if args.trace:
            layer.update(self.traced_metrics(full, last, traced, run_s))
            layer["sinks.bytes_written"] = out_bytes
            layer["sinks.files_written"] = out_files
            layer["lifecycle.cached_mb_after"] = max(
                r["lifecycle.cached_mb_after"] for r in plain + traced
            )
            metrics = {k: layer.get(k, 0) for k in PER_LAYER}
            record["workload_metrics"] = {k: layer[k] for k in full.extra_metrics}
        record["metrics"] = metrics
        return record

    def traced_metrics(self, wl, last: str, traced: list, run_s: float) -> dict:
        counters = [k for k in PER_LAYER if k.startswith("jobs.")]
        m = {k: statistics.median(r.get(k, 0) for r in traced) for k in counters}
        m["trace.run_s"] = statistics.median(r["wall"] for r in traced)
        m["trace.overhead_ratio"] = m["trace.run_s"] / run_s
        rerun = self.invoke(wl, last, traced=True, rerun=True)
        m["jobs.rerun_s"] = rerun["wall"]
        m["jobs.rerun_spark_jobs"] = rerun.get("jobs.spark_jobs", 0)
        # a probe's first pass compiles its plans; the second is warm
        for rep in ("probe-cold", "probe"):
            d = self.fresh(wl)
            probes = wl.probes(self.spark, d, lambda name, fn: self.timed(name, fn, rep))
            shutil.rmtree(d)
        m.update(probes)
        m["trace.unaccounted_s"] = m["trace.run_s"] - sum(m.get(k, 0.0) for k in SELF_TIMES)
        m["trace.unaccounted_share"] = m["trace.unaccounted_s"] / m["trace.run_s"]
        return m


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import sids_data_pipeline_spark  # noqa: F401
    except ImportError as ex:
        log(f"cannot import the package from {ROOT}: {ex}")
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a 2 GiB JVM heap (the package defaults to 8) fills the same way
    # in every run, where a heap free to grow to 8 GiB made peak PSS
    # differ by 20 % between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # the JVM's performance-counter file would land in /tmp, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # With a random hash seed per process, pipeline processes settled in
    # a ~12.4 s or a ~15.3 s mode (40 vs 49 CPU-s) and stayed there; a
    # fixed seed for the Python workers halved the spread.
    os.environ["PYTHONHASHSEED"] = "0"
    # the geotiff source decodes in Python workers, which must import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVM and the Python workers must end with this process: adopt
    # them if they are orphaned, and turn SIGTERM into an exit that runs
    # the cleanup below
    procstat.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    try:
        record = bench.run()
    finally:
        # also when get_spark failed after starting the JVM
        procstat.stop_spark(bench.spark)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"
        if args.trace:
            bench.tracer.write(os.path.join(base, "records", f"{stem}.spans.json"))
        shutil.rmtree(work, ignore_errors=True)
    record.update(attempted=bench.attempted, failed=bench.failed)
    with open(os.path.join(base, "records", f"{stem}.json"), "w") as f:
        json.dump(record, f, indent=1)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in record["metrics"].items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if bench.failed == 0 else 1


def run_child(name: str, seed: int, seconds: float, trace: int, size: str):
    """Run one workload in its own process: (exit code, result or None,
    the child's stderr)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--size", size],
        capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]), proc.stderr
    except (IndexError, ValueError):
        return proc.returncode, None, proc.stderr


def run_all(args) -> int:
    """Every workload, each in its own process; prints each metric by
    name with its unit and exits non-zero if any check failed."""
    bad = 0
    for name in WORKLOADS:
        code, res, err = run_child(name, args.seed, args.seconds, args.trace, args.size)
        if res is None:
            log(f"{name}: no result (exit {code})\n{err[-3000:]}")
            bad += 1
            continue
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"  {k} {v['value']:.6g} {v['unit']}")
        bad += bool(code or res["failed"])
    return 1 if bad else 0


def smoke() -> int:
    """Every workload once at tiny size, traced: its checks pass, every
    per-layer metric is reported, and the layer self times plus the
    unaccounted remainder equal the traced invocation's wall time."""
    bad = 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if {m["name"]: m["unit"] for m in spec[key]} != ours:
            log(f"smoke: BENCHMARK.json {key} differs from run.py")
            bad += 1
    for name in WORKLOADS:
        code, res, err = run_child(name, 7, 1, 1, "tiny")
        if res is None:
            log(f"smoke {name}: no result (exit {code})\n{err[-3000:]}")
            bad += 1
            continue
        m = {k: v["value"] for k, v in res["metrics"].items()}
        problems = []
        if code or not res["correct"] or res["failed"]:
            problems.append(f"exit {code}, {res['failed']} failed")
        if set(m) != set(PER_LAYER):
            problems.append(f"metrics {sorted(set(PER_LAYER) ^ set(m))} missing or extra")
        with open(os.path.join(".perfbench", "records", f"{name}-seed7-trace1-tiny.json")) as f:
            extra = json.load(f)["workload_metrics"]
        if set(extra) != set(WORKLOADS[name].extra_metrics):
            problems.append(f"workload metrics {sorted(extra)}")
        m.update(extra)
        total = sum(m.get(k, 0.0) for k in SELF_TIMES) + m.get("trace.unaccounted_s", 0.0)
        if abs(total - m.get("trace.run_s", -1.0)) > 1e-6:
            problems.append(f"self times + unaccounted = {total}, wall {m.get('trace.run_s')}")
        log(f"smoke {name}: {'ok' if not problems else problems}")
        bad += bool(problems)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", choices=[*sorted(WORKLOADS), "all"],
        help="'all' runs every workload, each in its own process",
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true", help="self-test every workload at tiny size")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
