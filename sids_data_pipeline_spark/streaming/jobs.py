"""Structured Streaming wrappers (SURVEY.md §2a Streaming — ABSENT in the
reference, shipped by the engine).

The reference is strictly batch with file-existence incrementality
(reference ``pipeline/processing/__main__.py:19-26``, ``data.py:26-40``);
its closest streaming analogue is "process only new inputs." The engine
exposes the same operator definitions (operators/windows.py) over
``readStream``:

- :func:`stream_events` — file-source stream over an events directory;
- :func:`windowed_counts_stream` — watermarked tumbling aggregation, the
  late-data-tolerant form of ``windows.tumbling``;
- :func:`session_windows_stream` — watermarked gap-based sessions, the
  streaming twin of ``windows.session``;
- :func:`run_available_now` — drain everything currently available and
  stop (Trigger.AvailableNow): the batch-parity mode tests use to prove
  the stream plan equals the batch plan.

Batch/stream parity holds because every aggregation here is defined over
event time, not arrival time.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark.schemas import EVENTS


@contextmanager
def data_batches_only(spark: SparkSession):
    """Skip the trailing ZERO-ROW micro-batch on a drain-and-stop run.

    After the last data batch of a watermarked stream, Spark runs one
    extra no-data micro-batch purely to advance the watermark and evict
    state (``spark.sql.streaming.noDataMicroBatches.enabled``, default
    on). That batch executes the FULL stateful plan — every state-store
    partition loads, scans for eviction, and commits — so it costs
    O(buffered state) with zero input and zero output, and on a
    Trigger.AvailableNow drain the query stops right after it, throwing
    the eviction work away with the checkpoint.

    ONLY safe when every sink row is emitted on the data batch that
    produced it — inner stream-stream joins (matches emit on arrival;
    the watermark is state-cleanup-only per the Structured Streaming
    contract), ``dropDuplicatesWithinWatermark`` (survivors emit in
    their arrival batch), and ``applyInPandasWithState`` with
    ``NoTimeout`` (the function never runs without input). It is WRONG
    for append-mode watermarked aggregations / session windows / outer
    joins, whose results emit only when the watermark passes — those
    need the no-data batch and must not use this context.

    The conf is captured by the cloned per-query session at ``start()``,
    so the context must wrap the start; it restores the previous value
    on exit either way.
    """
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def stream_events(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream. Schema is pinned (streams cannot infer),
    one-file micro-batches are opt-in for tests."""
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def windowed_counts_stream(
    events: DataFrame,
    duration: str = "10 minutes",
    watermark: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling counts: LITERALLY ``operators.windows.
    tumbling`` applied to a watermarked stream — one shared definition,
    so a fix to the aggregation algebra reaches batch and stream
    together (the module's parity promise, previously undermined by a
    verbatim copy of the batch plan here). The watermark bounds state —
    windows older than (max event time − watermark) finalize and evict,
    so state size is O(active windows), independent of stream length."""
    from sids_data_pipeline_spark.operators import windows

    return windows.tumbling(
        events.withWatermark("ts", watermark), duration, group_cols=group_cols
    )


def session_windows_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermarked gap-based sessions: LITERALLY ``operators.windows.
    session`` applied to a watermarked stream (one shared definition —
    see :func:`windowed_counts_stream`). Sessions are inherently
    stateful — a new event can extend an open session — so the
    watermark is what makes them emittable: a session finalizes once
    (max event time − watermark) passes its close, and its state
    evicts. Same output schema as the batch operator, so parity tests
    compare them row-for-row."""
    from sids_data_pipeline_spark.operators import windows

    return windows.session(
        events.withWatermark(ts_col, watermark), gap, ts_col=ts_col,
        key_col=key_col,
    )


def streaming_exact_dedup(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("text",),
    id_col: str = "doc_id",
) -> None:
    """Incremental exact dedup across micro-batches (foreachBatch).

    State is a persistent sha2-digest ledger in Parquet — the streaming
    twin of the manifest anti-join (operators/manifest.py): each batch
    dedups internally (keep-first), anti-joins the digests already seen,
    writes survivors to ``out_dir`` and their digests to the ledger.
    foreachBatch runs the same batch operator (dedup.exact_dedup), so
    batch and streaming dedup share one definition; the ledger bounds
    state at one 32-byte digest per unique key, independent of stream
    length. Runs with Trigger.AvailableNow (drain-and-stop).

    Replay safety: foreachBatch is at-least-once, so both sinks write to
    a per-batch ``batch=N`` directory with OVERWRITE. A crash between the
    two writes replays batch N on restart and overwrites any partial
    output instead of appending duplicates; the anti-join excludes the
    replayed batch's own (possibly partial) ledger partition so its rows
    are not mistaken for already-seen keys.

    LEDGER FORMAT NOTE: digests come from ``exact_key_digest(key_cols,
    batch)``, which (since the -0.0 normalization fix) folds ``-0.0`` to
    ``0.0`` in float/double key columns before hashing. A ledger built by
    an earlier version with float keys holds pre-normalization digests:
    keys whose digest changed (only those containing ``-0.0``) would be
    re-emitted once. Rebuild such ledgers when upgrading (drop
    ``out_dir/_seen`` and replay), or accept the one-time duplicate for
    the affected keys; integer/string-keyed ledgers are unaffected.
    """
    import os

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.operators.dedup import exact_dedup, exact_key_digest

    ledger = os.path.join(out_dir, "_seen")

    def process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        fresh = exact_dedup(batch, list(key_cols), id_col).withColumn(
            "_d", exact_key_digest(list(key_cols), batch)
        )
        try:
            seen = bspark.read.option("basePath", ledger).parquet(ledger)
            seen = seen.filter(F.col("batch") != batch_id)
            fresh = fresh.join(seen, fresh["_d"] == seen["d"], "left_anti")
        except AnalysisException:
            pass  # first batch: ledger does not exist yet
        fresh = fresh.persist()
        fresh.drop("_d").write.mode("overwrite").parquet(
            os.path.join(out_dir, "rows", f"batch={batch_id}")
        )
        fresh.select(F.col("_d").alias("d")).write.mode("overwrite").parquet(
            os.path.join(ledger, f"batch={batch_id}")
        )
        fresh.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ann_enrich_stream(
    stream: DataFrame,
    enc: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_limit: int | None = None,
    refine_with: DataFrame | None = None,
    kprime: int = 100,
) -> None:
    """Micro-batch vector retrieval against a STATIC pre-encoded IVF-ADC
    index (foreachBatch) — the streaming face of E3: each arriving batch
    of query vectors runs the SAME batch operator
    (operators/similarity.topk_ivf_pq with ``candidates_encoded=True``),
    so batch and streaming retrieval share one definition — the
    dedup/CDC convention in this module. The index side never changes
    per batch: (cell, codes) rows computed once at ingest
    (similarity.ivf_pq_encode), scanned per micro-batch through the
    broadcast probe equi-join on cell.

    ``refine_with`` switches each micro-batch to the TWO-STAGE serving
    shape (operators/similarity.topk_ivf_pq_refine): the code-only
    index still produces the ``kprime``-deep shortlist, then the true
    integer L2 is recomputed for only those |batch|·k' pairs against
    the passed raw (id, vec) table and the top ``k`` re-ranked exactly
    — streamed dist2 becomes the EXACT metric, bit-identical to the
    batch refine over the same query set. The raw table is gathered by
    a broadcast semi-join per batch (never shuffled), so the extra
    stage stays bounded by the micro-batch size like the shortlist.

    Bounding (ADVICE r14): micro-batch size is NOT intrinsically
    bounded — a file source draining a large backlog under
    Trigger.AvailableNow can deliver one huge batch unless the CALLER
    rate-limits the source (``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` on the readStream). The per-batch query
    collect inside topk_ivf_pq enforces its ``query_limit`` cap either
    way; pass ``query_limit`` here to size that cap to the configured
    trigger. An over-limit batch raises inside foreachBatch and FAILS
    the stream — intentional loud-beats-wrong posture: silently
    truncating a query batch would drop retrievals, and the checkpoint
    replays the batch after the source is re-limited.

    Replay safety: foreachBatch is at-least-once, so results land in a
    per-batch ``batch=N`` directory with OVERWRITE — a replayed batch
    overwrites its own partial output instead of appending duplicate
    neighbor rows. Runs with Trigger.AvailableNow (drain-and-stop);
    production runs drop the trigger for continuous micro-batching.
    """
    import os

    from sids_data_pipeline_spark.operators import similarity

    def process(batch: DataFrame, batch_id: int) -> None:
        extra = {} if query_limit is None else {"query_limit": query_limit}
        if refine_with is not None:
            res = similarity.topk_ivf_pq_refine(
                refine_with,
                batch,
                centroids,
                codebooks,
                k=k,
                kprime=kprime,
                nprobe=nprobe,
                id_col=id_col,
                vec_col=vec_col,
                encoded=enc,
                **extra,
            )
        else:
            res = similarity.topk_ivf_pq(
                enc,
                batch,
                centroids,
                codebooks,
                k=k,
                nprobe=nprobe,
                id_col=id_col,
                vec_col=vec_col,
                candidates_encoded=True,
                **extra,
            )
        res.write.mode("overwrite").parquet(
            os.path.join(out_dir, "rows", f"batch={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each purchase to
    the clicks that preceded it within ``horizon`` (same user).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can EVICT buffered state: a click older than
    (watermark + horizon) can never match a future purchase and is
    dropped from the join buffer — state is O(events in the horizon),
    independent of stream length. The batch twin is the same equi+range
    join expressed statically (tested for parity).

    Output: (user_id, click_id, purchase_id, click_ts, purchase_ts,
    value_cents).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros(F.col("click_ts")).alias("click_ts_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_ts_us"),
        "value_cents",
    )


def _cents_half_up(values):
    """F.round's HALF_UP (away from zero) in pandas terms — pandas'
    ``.round()`` is half-to-even and diverges from every SQL twin on
    exact halves (0.125 → 12 vs 13 cents). Returns ``(cents int64,
    nonnull bool)`` arrays: NULL values carry 0 cents with a False
    flag so callers can reproduce SQL's SUM semantics exactly —
    NULLs skipped, and an ALL-NULL group sums to NULL, not 0 (the
    parity hole a plain nan→0 fold had)."""
    import numpy as np

    x = values.to_numpy(dtype="float64", na_value=np.nan) * 100.0
    nonnull = ~np.isnan(x)
    out = np.sign(x) * np.floor(np.abs(x) + 0.5)
    return np.nan_to_num(out, nan=0.0).astype("int64"), nonnull


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + exact-cents value sum, carried in
    explicit state across micro-batches.

    This is the engine's extension point for stateful logic Spark's
    built-in windows can't express (per-key sketches, custom sessionizers,
    online dedup counters). State is one (count, nonnull-count, cents)
    triple per user — bounded by key cardinality, not stream length.
    Emits the updated running totals for each key seen in the batch
    (update output mode); a user whose every value is NULL reports a
    NULL sum, exactly like the batch SUM / SQL oracle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, nn, cents = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            c, ok = _cents_half_up(pdf["value"])
            nn += int(ok.sum())
            cents += int(c.sum())
        state.update((n, nn, cents))
        yield pd.DataFrame(
            [{
                "user_id": key[0],
                "n_events": n,
                "sum_value_cents": cents if nn > 0 else None,
            }]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value_cents long",
        stateStructType="n long, nn long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    result: DataFrame, query_name: str, checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain all currently-available input into an in-memory table named
    ``query_name`` and stop — deterministic one-shot used for
    batch-parity tests and backfills. ``output_mode`` defaults to
    "complete" (right for the aggregation streams); pass "append" for
    non-aggregating streams (dedup, joins, stateful append operators),
    which Spark rejects in complete mode."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_cdc_upsert(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    ts_col: str,
    tiebreak_col: str,
    delete_col: str | None = None,
) -> None:
    """Maintain a CURRENT-STATE table from a CDC change stream: each
    micro-batch collapses to the latest change per key (ts + tiebreak
    ordering), then folds into the persisted state with the batch
    merge_upsert operator — one definition for batch and streaming
    CDC apply. Tombstones (``delete_col`` true) remove keys.

    State lives as versioned parquet snapshots (``snapshot=N``) plus a
    ``_CURRENT`` JSON pointer {batch, prev}. Replay safety (foreachBatch
    is at-least-once): a replayed batch re-reads its PREDECESSOR snapshot
    — the pointer keeps the predecessor id, so applying the same batch
    twice converges to the same snapshot instead of double-applying.
    Old snapshots double as time travel; prune with any retention sweep.

    Scale shape: per batch, ONE window over the (small) change batch +
    one merge join against the state — broadcast when the batch is
    small; the state table never fully rewrites history, only the
    current snapshot.
    """
    import json
    import os

    from pyspark.sql import Window

    from sids_data_pipeline_spark.operators.merge import merge_upsert
    from sids_data_pipeline_spark.sources.storage import (
        fs_read_text,
        fs_rename,
        fs_write_text,
    )

    pointer = os.path.join(out_dir, "_CURRENT")

    def process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        # final xxhash64 tiebreak over the full row: two change rows with
        # EQUAL (ts, tiebreak) would otherwise pick a partitioning-
        # dependent survivor, and a replay could "converge" to a
        # different snapshot than the original run (same policy as
        # operators/dedup.exact_dedup's keep-first)
        w = Window.partitionBy(*keys).orderBy(
            F.col(ts_col).desc(),
            F.col(tiebreak_col).desc(),
            F.xxhash64(*batch.columns).desc(),
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # pointer IO goes through the Hadoop FS helpers: the snapshots
        # already write through Spark's filesystem, so a remote out_dir
        # (s3a://, hdfs://) — or a restart on a DIFFERENT driver node —
        # must see the same pointer, not a driver-local stray file that
        # silently resets state to empty
        base = None
        ptr_txt = fs_read_text(bspark, pointer)
        if ptr_txt is not None:
            ptr = json.loads(ptr_txt)
            # replayed batch: fold onto the predecessor, not our own
            # (possibly partial) output
            base = ptr["prev"] if ptr["batch"] == batch_id else ptr["batch"]
        value_cols = [c for c in batch.columns if c != delete_col]
        if base is None:
            state = bspark.createDataFrame([], batch.select(*value_cols).schema)
        else:
            state = bspark.read.parquet(
                os.path.join(out_dir, f"snapshot={base}")
            )
        merged = merge_upsert(state, latest, list(keys), delete_col=delete_col)
        merged.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"snapshot={batch_id}")
        )
        # atomic pointer flip: a truncating write could die mid-stream
        # and leave a corrupt pointer that wedges every replay
        tmp = pointer + ".tmp"
        fs_write_text(bspark, tmp, json.dumps({"batch": batch_id, "prev": base}))
        fs_rename(bspark, tmp, pointer)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_cdc_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Load the current snapshot a :func:`streaming_cdc_upsert` run
    maintains (pointer read through the Hadoop FS helpers — works on
    any URI scheme, one parquet scan)."""
    import json
    import os

    from sids_data_pipeline_spark.sources.storage import fs_read_text

    txt = fs_read_text(spark, os.path.join(out_dir, "_CURRENT"))
    if txt is None:
        raise FileNotFoundError(f"no _CURRENT pointer under {out_dir}")
    ptr = json.loads(txt)
    return spark.read.parquet(os.path.join(out_dir, f"snapshot={ptr['batch']}"))


def stateful_rolling_stats(
    stream: DataFrame,
    lookback_seconds: int = 3600,
) -> DataFrame:
    """Streaming twin of ``windows.rolling_stats``: per-event trailing
    count/sum/mean over the preceding ``lookback_seconds``, via
    ``applyInPandasWithState`` (range-frame windows don't exist in
    streaming).

    State per user is ONLY the events still inside the lookback horizon
    (epoch-second, cents, nonnull flag) — every batch drops expired
    entries, so state is bounded by key rate × horizon, not stream
    length. The emitted per-event rows use the identical micros/cents
    algebra as the batch operator — FLOOR epoch-second buckets
    (``FLOOR(epoch_us / 1e6)``, matching ``rolling_stats``'s ``F.floor``
    and the SQL oracle; floor differs from trunc-toward-zero on
    pre-1970 fractional seconds), NULL sums for all-NULL windows — so an
    availableNow drain over a single batch reproduces the batch result
    row-for-row (parity-tested). NULL-timestamp rows are DROPPED (the
    watermark semantics of every stateful streaming op; the batch
    range-frame operator instead emits them with a NULL ts_us — the one
    documented divergence).

    Per-batch cost: the (state ∪ batch) entries sort once and every
    window is two bisects over prefix sums — O((H+S)·log) instead of
    the former per-second list rebuilds (quadratic in per-key state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            s_secs, s_cents, s_nn = state.get
            hist = list(zip(s_secs, s_cents, s_nn))
        else:
            hist = []
        events = []  # (ts_us, sec, cents, nonnull) for NEW rows
        for pdf in pdfs:
            pdf = pdf[pdf["ts"].notna()]
            if not len(pdf):
                continue
            ts_us = pdf["ts"].astype("int64") // 1000
            # FLOOR buckets (Python // is floor division) — the batch
            # operator and the SQL oracle both use FLOOR(epoch_us/1e6),
            # which differs from cast-truncation on pre-1970 fractional
            # seconds
            secs = ts_us // 1_000_000
            cents, ok = _cents_half_up(pdf["value"])
            events.extend(
                zip(ts_us.tolist(), secs.tolist(), cents.tolist(), ok.tolist())
            )
        events.sort()
        rows = []
        if events:
            # one sorted universe (state ∪ batch) + prefix sums: each
            # event's trailing window [sec - lookback, sec] is two
            # bisects, membership decided purely by epoch second exactly
            # like the batch RANGE frame (same-second peers included,
            # later-arriving-but-older entries included)
            universe = sorted(
                hist + [(s, c, nn) for _t, s, c, nn in events]
            )
            u_secs = np.fromiter((e[0] for e in universe), dtype="int64")
            u_cents = np.fromiter(
                (e[1] if e[2] else 0 for e in universe), dtype="int64"
            )
            u_nn = np.fromiter((1 if e[2] else 0 for e in universe), dtype="int64")
            p_cents = np.concatenate(([0], np.cumsum(u_cents)))
            p_nn = np.concatenate(([0], np.cumsum(u_nn)))
            for ts_us, sec, _c, _ok in events:
                lo = int(np.searchsorted(u_secs, sec - lookback_seconds, "left"))
                hi = int(np.searchsorted(u_secs, sec, "right"))
                n = hi - lo
                nn = int(p_nn[hi] - p_nn[lo])
                total = int(p_cents[hi] - p_cents[lo]) if nn > 0 else None
                rows.append(
                    {
                        "user_id": key[0],
                        "ts_us": ts_us,
                        "n_trailing": n,
                        "sum_trailing_cents": total,
                        "mean_trailing": (
                            float(total) / n / 100.0 if total is not None else None
                        ),
                    }
                )
            # state prune relative to the newest NEW second (late
            # batches must not evict newer state entries)
            max_sec = events[-1][1]
            hist = [
                (int(s), int(c), bool(nn))
                for s, c, nn in universe
                if s >= max_sec - lookback_seconds
            ]
        if hist:
            secs_l, cents_l, nn_l = zip(*hist)
            state.update((list(secs_l), list(cents_l), list(nn_l)))
        yield pd.DataFrame(rows)

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, ts_us long, n_trailing long, "
            "sum_trailing_cents long, mean_trailing double"
        ),
        stateStructType="secs array<long>, cents array<long>, nn array<boolean>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def watermarked_dedup_stream(
    stream: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Built-in bounded-state streaming dedup: keep the first event per
    key within the watermark horizon (``dropDuplicatesWithinWatermark``).
    Complements ``streaming_exact_dedup`` (unbounded, ledger-backed):
    this variant's state expires with the watermark, so it fits
    infinite streams where duplicates only arrive close together —
    at-least-once sources, retry storms, double-fires.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_raster_ingest(
    spark: SparkSession,
    input_glob: str,
    out_dir: str,
    checkpoint_dir: str,
    band: int | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """SURVEY §7's optional Structured Streaming wrapper over the S5
    ingest: new GeoTIFFs landing under ``input_glob`` decode into PIXELS
    parquet incrementally. The file source's checkpoint IS the P6
    incrementality ledger — Spark tracks processed files exactly-once,
    so a re-run ingests only files that arrived since the last drain (no
    manifest anti-join needed on this path). The executor decode is the
    batch ingest's own ``mapInArrow`` over ``geotiff.pixel_batches``
    (:func:`geotiff.pixels_from_files`), so the two paths cannot drift.
    Runs with Trigger.AvailableNow
    (drain-and-stop — the reference's batch cadence); a deployment
    wanting continuous tailing drops the trigger and sets
    ``max_files_per_trigger`` to bound per-batch decode work.
    """
    from sids_data_pipeline_spark.sources.geotiff import pixels_from_files

    # streaming sources need the schema pinned; binaryFile's is fixed
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(input_glob)
    pixels = pixels_from_files(files, band)
    q = (
        pixels.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_near_dedup(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental MinHash-LSH near-dup across micro-batches: the
    streaming twin of :func:`~sids_data_pipeline_spark.operators.dedup.
    near_duplicates_incremental`, with the STORED band table as the
    stream's state.

    Each batch is shingled and signed alone; candidates come from one
    equi-join of its bands against the accumulated band ledger (plus
    within-batch banding); exact-Jaccard verification re-reads only the
    ledgered docs that appear in a candidate. Emitted pairs per batch are
    exactly the near-duplicate pairs whose LATER member arrived in that
    batch, so the union over batches equals the batch operator on the
    whole corpus — independent of file/batch order — and each pair is
    emitted exactly once. EXACTNESS CAVEAT: that full-corpus equivalence
    holds while the LSH bucket cap stays a no-op (the skip-probe's common
    case at this state size). A band bucket that turns oversized only
    after later batches cannot retract pairs earlier batches already
    emitted, while the full-corpus run would have skipped that bucket —
    callers needing the guarantee under adversarial bucket skew should
    run the batch operator with ``max_bucket=None`` semantics instead.

    State = two Parquet ledgers under ``out_dir``: ``_docs`` (id, text —
    needed only for candidate verification) and ``_bands`` (the LSH
    index, ``bands`` rows per doc). Replay-safe like
    :func:`streaming_exact_dedup`: every sink writes OVERWRITE into a
    per-batch partition and reads exclude the replayed batch's own
    partitions. Runs with Trigger.AvailableNow.
    """
    import os

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.operators.dedup import (
        banded_signature,
        minhash_band_table,
        minhash_signature,
        near_duplicates_incremental,
        shingles,
    )
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    docs_ledger = os.path.join(out_dir, "_docs")
    bands_ledger = os.path.join(out_dir, "_bands")

    def process(batch: DataFrame, batch_id: int) -> None:
        bspark = batch.sparkSession
        batch = batch.select(id_col, text_col).persist()
        try:
            old_docs = (
                bspark.read.option("basePath", docs_ledger)
                .parquet(docs_ledger)
                .filter(F.col("batch") != batch_id)
                .select(id_col, text_col)
            )
            old_bands = (
                bspark.read.option("basePath", bands_ledger)
                .parquet(bands_ledger)
                .filter(F.col("batch") != batch_id)
                .select("doc_id", "band_idx", "band_val")
            )
        except AnalysisException:
            # first batch: no ledger yet — empty frames with the right shape
            old_docs = batch.limit(0)
            old_bands = minhash_band_table(
                batch.limit(0), text_col=text_col, id_col=id_col
            )
        # ONE shingle pass per batch (r15): the persisted token table
        # feeds the signature (→ band table, appended to the ledger AND
        # probed) and the exact-Jaccard verification — the r14 shape
        # shared only the band table, so the operator re-shingled the
        # batch once more for verification
        tok = shingles(
            spread_small_scan(batch), 3, text_col, id_col
        ).withColumnRenamed("shingle", "token").persist()
        bt = banded_signature(minhash_signature(tok)).persist()
        pairs = near_duplicates_incremental(
            batch,
            old_docs,
            old_bands,
            threshold=threshold,
            text_col=text_col,
            id_col=id_col,
            new_bands=bt,
            new_tok=tok,
        )
        # sequential sinks, deliberately: overlapping these three writes
        # from driver threads (guide §2.6) measured 8.0 -> 11.9 s on the
        # whole entry — the pair job's tiny tasks and the thread-side
        # py4j/GIL contention cost more than the two saved job floors
        pairs.write.mode("overwrite").parquet(
            os.path.join(out_dir, "pairs", f"batch={batch_id}")
        )
        batch.write.mode("overwrite").parquet(
            os.path.join(docs_ledger, f"batch={batch_id}")
        )
        bt.write.mode("overwrite").parquet(
            os.path.join(bands_ledger, f"batch={batch_id}")
        )
        bt.unpersist()
        tok.unpersist()
        batch.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_vector_ingest(
    spark: SparkSession,
    input_glob: str,
    out_dir: str,
    checkpoint_dir: str,
    reproject: bool = False,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming twin of the S4/S6 vector ingest: new shapefile
    (``*.shp``) or GeoPackage (``*.gpkg``) layers landing under
    ``input_glob`` ingest into a ZONES parquet ledger incrementally —
    the drop-folder shape of the reference's vector inputs container
    (pipeline/processing/data.py:44-46), with the file source's
    checkpoint as the exactly-once P6 ledger (same design as
    :func:`streaming_raster_ingest`). ``vector_id`` is the file stem,
    and is the ledger key: a batch carrying two same-stem layers (e.g.
    a multi-directory glob) refuses loudly rather than writing
    ambiguous rows.

    Shapefile GEOMETRY parses DISTRIBUTED: the binaryFile source carries
    each .shp's ``content`` into an executor task, which runs the SAME
    byte-level core as the batch path (sources/shapefile.zone_records —
    winding-rule grouping, .dbf attributes, polygon gate) inside
    mapInPandas, fetching the small .dbf/.cpg sidecars per-task through
    the shared pyarrow-fs path. Only metadata stays on the driver: the
    sidecar-race guard, the .prj CRS gate (resolve_src_epsg — the same
    gate the batch ingest uses, so the two paths cannot drift), and the
    per-file vector_id mapping. A parcel-scale multi-GB .shp therefore
    lands in executor memory, never the driver's; per-FILE parallelism
    is the unit (one task per dropped layer). Non-4326 layers reproject
    through operators/vector_reproject per distinct source EPSG.
    GeoPackages remain a driver-side sqlite3 read (the format is a
    database file; dimension-sized by design — see
    sources/geopackage.ingest_geopackage).
    Replay-safe: each batch writes OVERWRITE into its own ``batch=``
    partition. Runs with Trigger.AvailableNow.
    """
    import os
    from typing import Iterator

    import pandas as pd

    from sids_data_pipeline_spark.sources.geopackage import ingest_geopackage

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(input_glob).select("path", "content")

    zones_schema = "vector_id string, fid long, name string, geometry binary"

    def process(batch: DataFrame, batch_id: int) -> None:
        from sids_data_pipeline_spark.sources.shapefile import (
            _exists,
            _sidecar,
            resolve_src_epsg,
        )

        bspark = batch.sparkSession
        paths = [r.path for r in batch.select("path").distinct().collect()]
        if not paths:
            return
        # vector_id (the file stem) is the ledger key AND the
        # reprojection routing key — two same-stem layers in one batch
        # (drop/a/grid.shp + drop/b/grid.shp via a multi-dir glob) would
        # be indistinguishable downstream and would cross-route through
        # each other's CRS leg. Refuse loudly naming both paths; this is
        # a producer layout error that no retry fixes.
        stem_of = {}
        for path in sorted(paths):
            ext = os.path.splitext(path)[1].lower()
            if ext not in (".shp", ".gpkg"):
                continue
            stem = os.path.splitext(os.path.basename(path))[0]
            if stem in stem_of:
                raise ValueError(
                    f"duplicate vector_id {stem!r} in one batch: "
                    f"{stem_of[stem]} and {path} — vector_id is the "
                    "ledger key, so same-stem layers are ambiguous; "
                    "rename one layer (or narrow input_glob)"
                )
            stem_of[stem] = path
        parts = []
        shp_meta: dict[str, tuple[str, int]] = {}  # path -> (vector_id, epsg)
        for path in sorted(paths):
            local = path.removeprefix("file:")
            stem = os.path.splitext(os.path.basename(local))[0]
            ext = os.path.splitext(local)[1].lower()
            if ext == ".gpkg":
                parts.append(
                    ingest_geopackage(
                        bspark, local, vector_id=stem, reproject=reproject
                    )
                )
            elif ext == ".shp":
                # Sidecar race guard: the file source checkpoints each
                # listed file exactly once, so a .shp ingested before its
                # .prj/.dbf land would be PERMANENTLY mislabeled (silent
                # 4326, dropped attributes) — the late sidecars are never
                # re-listed with it. Fail the batch instead: foreachBatch
                # raising means the checkpoint is NOT committed, and the
                # retry picks the complete set up once the producer
                # finishes — retry is CURATIVE here, unlike corrupt media
                # (which quarantines). (Producers should still drop the
                # .shp last, after its sidecars — then this is a no-op.)
                missing = [
                    e for e in (".prj", ".dbf")
                    if not _exists(_sidecar(local, e))
                ]
                if missing:
                    raise ValueError(
                        f"{path}: sidecars {missing} not present yet — "
                        "failing the batch so the checkpoint does not "
                        "commit a partial shapefile set; drop the .shp "
                        "last, after its sidecars"
                    )
                shp_meta[path] = (
                    stem, resolve_src_epsg(local, reproject=reproject)
                )
            elif ext in (".shx", ".dbf", ".prj", ".cpg"):
                continue  # sidecars ride along with their .shp
            else:
                raise ValueError(f"unsupported vector format: {path}")

        if shp_meta:
            meta = dict(shp_meta)  # tiny: one entry per dropped layer

            def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                from sids_data_pipeline_spark.sources.shapefile import (
                    _exists as ex,
                    _read_bytes as rb,
                    _sidecar as sc,
                    zone_records,
                )

                for pdf in batches:
                    for path, content in zip(pdf["path"], pdf["content"]):
                        vector_id, _epsg = meta[path]
                        loc = path.removeprefix("file:")
                        dbf = sc(loc, ".dbf")
                        cpg = sc(loc, ".cpg")
                        rec = zone_records(
                            bytes(content),
                            rb(dbf) if ex(dbf) else None,
                            rb(cpg).decode("ascii", errors="replace")
                            if ex(cpg) else None,
                            vector_id,
                        )
                        yield rec

            shp_rows = batch.filter(
                F.col("path").isin(list(meta))
            ).select("path", "content")
            zones_shp = shp_rows.mapInPandas(parse, zones_schema)
            # reproject per distinct non-4326 source EPSG (usually 0-1);
            # vector_id → EPSG is driver-known metadata, so the split is
            # a pushed-down filter, not a second parse
            by_epsg: dict[int, list[str]] = {}
            for vid, epsg in meta.values():
                by_epsg.setdefault(epsg, []).append(vid)
            if len(by_epsg) > 1:  # materialize once before multiple filters
                zones_shp = zones_shp.localCheckpoint()
            for epsg, vids in sorted(by_epsg.items()):
                part = zones_shp.filter(F.col("vector_id").isin(vids))
                if epsg != 4326:
                    from sids_data_pipeline_spark.operators.vector_reproject import (
                        reproject_zones,
                    )

                    part = reproject_zones(part, epsg, 4326)
                parts.append(part)

        if not parts:
            return
        zones = parts[0]
        for p in parts[1:]:
            zones = zones.unionByName(p)
        zones.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    q = (
        files.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_media_ingest(
    spark: SparkSession,
    input_glob: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming twin of the E4 media decode: image/audio/video files
    landing under ``input_glob`` decode incrementally into a FEATURES
    parquet ledger — the drop-folder shape of a media lake's landing
    zone, with the file source's checkpoint as the exactly-once ledger
    (same design as :func:`streaming_vector_ingest`).

    Unlike the vector twin (dimension-sized layers, driver-side parse),
    media payloads decode DISTRIBUTED: the binaryFile source carries
    ``content`` into executors and the per-batch decode is the SAME
    mapInPandas codec dispatch as the batch path
    (operators/multimodal._decode_payload → functions/imagecodec), so
    the two paths cannot drift — PNG/JPEG/BMP pixels, GIF frame counts
    through the LZW decoder, WAV sample frames. Unrecognized payloads
    take the documented deterministic fallback with modality 'binary'.

    **Corrupt recognized media QUARANTINES instead of poisoning the
    stream**: a payload whose magic sniffs but whose decode raises
    (bad CRC, truncated LZW, …) becomes a ``status='quarantined'`` row
    carrying the error class+message and the payload checksum, written
    under the batch's ``status=quarantined/`` partition — the
    split_dead_letters posture (operators/quality.py). Failing the
    batch would be PERMANENT: the file source re-lists the same bytes
    on every retry, so unlike the vector twin's sidecar race (where
    retry is curative once the producer finishes), a corrupt asset
    would halt the drop-folder forever. Replay-safe: each batch
    overwrites its own ``batch=`` partition. Runs with
    Trigger.AvailableNow.
    """
    import os
    from typing import Iterator

    import pandas as pd

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(input_glob).select("path", "content")

    _MODALITY = {"png": "image", "jpeg": "image", "bmp": "image",
                 "gif": "video", "wav": "audio"}

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from sids_data_pipeline_spark.functions import imagecodec as icodec
        from sids_data_pipeline_spark.operators.multimodal import _decode_payload

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                fmt = icodec.sniff(data)
                modality = _MODALITY.get(fmt, "binary")
                base = {
                    "media_id": os.path.splitext(os.path.basename(path))[0],
                    "modality": modality,
                    "checksum": hashlib.md5(data).hexdigest(),
                }
                try:
                    feats = _decode_payload(data, modality)
                    rows.append(
                        {**base, **feats, "status": "ok", "error": None}
                    )
                except Exception as exc:  # quarantine, never poison-pill
                    rows.append(
                        {
                            **base,
                            "n_bytes": len(data),
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "status": "quarantined",
                            "error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "modality", "n_bytes", "width",
                         "height", "n_frames", "checksum", "status",
                         "error"],
            )

    schema = (
        "media_id string, modality string, n_bytes int, width int, "
        "height int, n_frames int, checksum string, status string, "
        "error string"
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        import os as _os

        feats = batch.mapInPandas(decode, schema)
        # one decode pass, one job: quarantined rows land under their
        # own status= partition of the same batch directory
        feats.write.mode("overwrite").partitionBy("status").parquet(
            _os.path.join(out_dir, f"batch={batch_id}")
        )

    q = (
        files.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
