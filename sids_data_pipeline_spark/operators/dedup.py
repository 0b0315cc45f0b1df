"""Deduplication operators (EXT E1/E2 — SURVEY.md §2b).

The reference's only "dedup" is operational idempotency: skip a work pair
when its output marker exists (reference ``pipeline/processing/data.py:
26-40``). A training-data pipeline needs *content* dedup at 100 TB, so the
engine ships a family of operators, all candidate-restricted (never
all-pairs):

- :func:`exact_dedup` — content-hash keep-first. One shuffle on the
  256-bit sha2 digest (uniform keys → no skew), map-side distinct-able.
- :func:`near_duplicates_minhash` — MinHash signatures + banded LSH:
  candidate pairs are generated ONLY within equal (band_idx, band_value)
  buckets (the scale-safe shape), then verified with exact Jaccard over
  the candidate set. Hashing is the portable md5 family
  (functions/hashing.py) so the whole pipeline is value-reproducible in
  the DuckDB oracle.
- :func:`near_duplicates_ngram` — word n-gram (shingle) Jaccard with
  rare-shingle blocking: pairs must share a shingle whose document
  frequency is below ``max_df``, which bounds candidate fan-out the same
  way an inverted-index blocker does.
- :func:`near_duplicates_simhash` — 32-bit SimHash with banded blocking
  (4 × 8-bit chunks; by pigeonhole any pair within Hamming distance 3
  shares at least one chunk) and exact Hamming verification.
- embedding-cosine near-dup lives in operators/similarity.py
  (:func:`~sids_data_pipeline_spark.operators.similarity.cosine_pairs`),
  exact integer domain per the plans/base.py determinism policy.

Every aggregate/join here is expressed declaratively so Catalyst picks
shuffled hash joins with AQE skew splitting; nothing collects to the
driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sids_data_pipeline_spark.functions.hashing import minhash_col, token_hash32
from sids_data_pipeline_spark.lifecycle import track

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4
# Production cap on LSH band-bucket size: buckets larger than this are
# uninformative (boilerplate/empty text) and quadratic in candidate pairs;
# 10⁴ docs/bucket ⇒ ≤5·10⁷ pairs per degenerate value, bounded not O(n²).
DEFAULT_MAX_BUCKET = 10_000


def tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct lowercase whitespace tokens per document: (id, token)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Built JVM-side with array higher-order functions (no Python UDF):
    split → transform over a sliding index sequence → explode.
    """
    if n < 1:
        raise ValueError(f"shingle n must be >= 1, got {n}")
    # drop empty tokens (leading/trailing whitespace artifacts) like
    # tokens() and the SQL twin's list_filter — phantom '' words would
    # skew Jaccard between padded and unpadded near-duplicates
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+"), lambda w: w != ""
    )
    parts = " , ' ' , ".join(f"_w[i + {k}]" for k in range(n))
    sh = F.expr(
        f"transform(sequence(0, size(_w) - {n}), i -> concat({parts}))"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
        .filter(F.size("_w") >= n)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .distinct()
    )


def exact_key_digest(key_cols: list[str], df: DataFrame | None = None) -> Column:
    """Collision-safe digest of a multi-column key.

    Each column is encoded as a NULL-flag byte plus the sha2 of its string
    form — fixed-width per column — then the concatenation is hashed again.
    A plain ``concat_ws(sep, *cols)`` would conflate NULL with '' (concat_ws
    skips NULLs) and values containing the separator with adjacent columns;
    this encoding matches SQL ``GROUP BY`` semantics exactly (NULLs form
    their own group, distinct from empty string).

    Pass ``df`` so float/double key columns normalize ``-0.0`` to ``0.0``
    before the string cast: SQL GROUP BY puts the two zeros in ONE group,
    but their string forms ('-0.0' vs '0.0') would digest apart. Without
    ``df`` the column types are unknown and that one divergence remains.
    """
    from pyspark.sql.types import DoubleType, FloatType

    float_cols: set[str] = set()
    if df is not None:
        float_cols = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (FloatType, DoubleType))
        }

    def keyed(c: str) -> Column:
        col = F.col(c)
        if c in float_cols:
            col = col + F.lit(0.0)  # IEEE: -0.0 + 0.0 = 0.0
        return col

    parts = [
        F.concat(
            F.when(F.col(c).isNull(), F.lit("0")).otherwise(F.lit("1")),
            F.sha2(F.coalesce(keyed(c).cast("string"), F.lit("")), 256),
        )
        for c in key_cols
    ]
    return F.sha2(F.concat(*parts), 256)


def _hashable_cols(df: DataFrame) -> list[str]:
    """Columns xxhash64 accepts — Spark forbids hashing MapType anywhere
    in the type tree (DATATYPE_MISMATCH.HASH_MAP_TYPE)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def ok(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return [f.name for f in df.schema.fields if ok(f.dataType)]


def exact_dedup(
    df: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """E1: keep the first row (lowest ``order_col``) per exact key.

    The window partitions on ``sha2`` of the concatenated key, not the raw
    (possibly huge) text: the shuffle moves 32-byte digests + row payload
    once, keys are uniform, and the same plan holds at 100 TB.
    """
    digest = exact_key_digest(key_cols, df)
    # xxhash64 over the full row tie-breaks equal order_col values
    # deterministically (arrival order would pick a different survivor
    # per run/AQE re-plan); fully identical rows remain interchangeable.
    # Map-typed columns are excluded (Spark refuses to hash maps) — rows
    # differing only in an unhashable column remain interchangeable ties.
    tie_cols = _hashable_cols(df) or [order_col]
    rn = "_sdp_rn"  # collision-safe: never clobber a caller's '_rn'
    w = Window.partitionBy(digest).orderBy(
        F.col(order_col).asc(), F.xxhash64(*tie_cols).asc()
    )
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) == 1)
        .drop(rn)
    )


def minhash_signature(
    tok: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    token_col: str = "token",
    with_tokens: bool = False,
) -> DataFrame:
    """MinHash signature per doc: one groupBy producing all k min-aggs
    plus the token-set size (single shuffle, map-side combined — the size
    rides along so Jaccard verification needs no second pass over tok).
    ``with_tokens=True`` also carries the full token set as an array
    column ``_toks`` in the SAME aggregation, so exact verification
    (jaccard_on_pairs) needs no second shuffle of the big token table."""
    h = token_hash32(token_col)
    aggs = [F.min(minhash_col(h, i)).alias(f"mh{i}") for i in range(num_hashes)]
    extra = (
        [F.collect_list(token_col).alias("_toks")] if with_tokens else []
    )
    return tok.groupBy("doc_id").agg(
        *aggs, F.count(token_col).alias("set_size"), *extra
    )


def banded_signature(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Unpivot a MinHash signature to LSH band rows: (doc_id, band_idx,
    band_val) — the shape :func:`lsh_candidate_pairs` self-joins AND the
    STORED index :func:`near_duplicates_incremental` probes (one band
    table per corpus, appended per ingest batch, never recomputed)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands} "
            "(trailing hashes would be silently ignored)"
        )
    rows = num_hashes // bands
    stack_args = ", ".join(
        f"{b}, concat_ws(',', {', '.join(f'mh{b * rows + r}' for r in range(rows))})"
        for b in range(bands)
    )
    return sig.select(
        "doc_id",
        F.expr(f"stack({bands}, {stack_args}) AS (band_idx, band_val)"),
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs collide when one band of their signature matches.

    Signatures unpivot to (doc_id, band_idx, band_val); the self-join is a
    pure equi-join on (band_idx, band_val) — shuffled hash join, AQE skew
    split — never a cross join. Returns distinct (id1, id2), id1 < id2.

    ``max_bucket`` (optional) drops band buckets holding more than that
    many documents before the self-join: a bucket of n docs emits n²/2
    candidate pairs, so one degenerate band value (boilerplate text, empty
    documents) can go quadratic at corpus scale; production dedup caps it
    and treats oversized buckets as uninformative — the same reasoning as
    stop-word removal. Off by default so results mirror pure banding (the
    hash-verified oracle path).
    """
    banded = banded_signature(sig, num_hashes, bands)
    if max_bucket is not None:
        # Subtract only the OVERSIZED buckets (normally zero): the size
        # aggregate is map-side combined and tiny, the survivors list is
        # near-empty, and the broadcast anti-join adds no shuffle of the
        # banded table — the healthy path costs one cheap aggregation.
        oversized = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band_idx", "band_val")
        )
        banded = banded.join(
            F.broadcast(oversized), ["band_idx", "band_val"], "left_anti"
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id1"), F.col("r.doc_id").alias("id2"))
        .distinct()
    )


def jaccard_on_pairs(
    tok: DataFrame,
    pairs: DataFrame,
    token_col: str = "token",
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard restricted to candidate pairs.

    The (distinct) token table collapses to ONE array row per document —
    a single shuffle of the big table — and each candidate pair then
    joins two rows of that doc-count-sized table, with |A∩B| computed
    JVM-side by ``array_intersect`` (inputs are distinct sets, so the
    distinct-intersection size is the exact set intersection). This
    replaces the previous pair-scoped token join, which shuffled the full
    token table two more times; per-doc token arrays are bounded by
    document length, so rows stay small at corpus scale.
    ``sizes`` may carry a pre-aggregated (doc_id, _toks, _sz) table
    (e.g. from ``minhash_signature(with_tokens=True)``) to reuse that
    shuffle; any other shape is ignored (the array aggregation yields
    the set size for free).
    Returns (id1, id2, inter, size1, size2, jaccard); pairs sharing no
    token are omitted (inner-join contract, matching the SQL oracle's
    intersection join)."""
    sz_col = None
    if sizes is not None and "_toks" in sizes.columns:
        sz_col = next(
            (c for c in ("_sz", "set_size") if c in sizes.columns), None
        )
    if sz_col is not None:
        arrays = sizes.select("doc_id", "_toks", F.col(sz_col).alias("_sz"))
    else:
        arrays = tok.groupBy("doc_id").agg(
            F.collect_list(token_col).alias("_toks"),
            F.count(token_col).alias("_sz"),
        )
    a1 = arrays.select(
        F.col("doc_id").alias("id1"),
        F.col("_toks").alias("_t1"),
        F.col("_sz").alias("size1"),
    )
    a2 = arrays.select(
        F.col("doc_id").alias("id2"),
        F.col("_toks").alias("_t2"),
        F.col("_sz").alias("size2"),
    )
    return (
        pairs.join(a1, "id1")
        .join(a2, "id2")
        .withColumn("inter", F.size(F.array_intersect("_t1", "_t2")).cast("long"))
        .drop("_t1", "_t2")
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size1") + F.col("size2") - F.col("inter")).cast("double"),
        )
    )


def near_duplicates_minhash(
    docs: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int | None = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """E2: MinHash + banded LSH candidates → exact Jaccard ≥ threshold.

    Hashes word ``shingle_n``-gram shingles by default (pass None for
    unigram tokens): shingles keep band collisions discriminative even on
    small vocabularies, which bounds candidate fan-out — the property that
    keeps this operator sub-quadratic at corpus scale.

    ``max_bucket`` (default 10⁴) is ON in this production entry point: it
    removes the one quadratic escape hatch (a degenerate band bucket of n
    docs emits n²/2 pairs). The oracle stays exact because the SQL twin
    applies the same cap; pass ``None`` for pure unbounded banding.
    Output: (id1, id2, jaccard).
    """
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    # the shingle explode + k minhash expressions are the CPU-heavy map
    # side before the first shuffle: spread under-parallel scans so they
    # use every core (guide §2.5; no-op when the scan is already wide)
    docs = spread_small_scan(docs)
    tok = (
        shingles(docs, shingle_n, text_col, id_col).withColumnRenamed(
            "shingle", "token"
        )
        if shingle_n is not None
        else tokens(docs, text_col, id_col)
    )
    # Since the signature aggregation carries token arrays + set sizes
    # (with_tokens=True), the exploded token table has exactly ONE
    # consumer — persisting it would pin the largest intermediate for
    # nothing. The SIGNATURE is the reused subtree (both sides of the
    # band self-join AND the verification sizes), so it persists.
    sig = track(
        minhash_signature(tok, num_hashes, with_tokens=True).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if max_bucket is not None and sig.limit(max_bucket + 1).count() <= max_bucket:
        # A band bucket can never hold more docs than exist, so with
        # ≤ max_bucket docs the cap is a no-op BY CONSTRUCTION — skip the
        # bucket-size aggregate + broadcast anti-join (r8 A/B, README
        # "Round 8": always-on cap cost +73% steady-state at sf0.1). The
        # probe is a bounded limit+count that doubles as the cache
        # materialization of the persisted signature, so it adds no extra
        # pass; at corpus scale (n_docs ≫ max_bucket) it stops at
        # max_bucket+1 rows and the real cap path runs.
        max_bucket = None
    cand = lsh_candidate_pairs(sig.drop("_toks"), num_hashes, bands, max_bucket)
    scored = jaccard_on_pairs(
        tok, cand,
        sizes=sig.select("doc_id", "_toks", F.col("set_size").alias("_sz")),
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


def near_duplicates_ngram(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E2 variant: n-gram Jaccard with rare-shingle blocking.

    Candidates must share a shingle with document frequency ≤ ``max_df``
    — the inverted-index blocker that keeps candidate count linear-ish in
    corpus size instead of quadratic. Output: (id1, id2, jaccard).

    Before the exact per-pair verification, candidates are pruned by an
    EXACT Jaccard upper bound (r14, guide §3.4 — pre-filter the big side
    of an expensive join): ``|A∩B| ≤ shared_rare + min(common_A,
    common_B)`` where shared_rare is the per-pair count of shared rare
    shingles (it rides the candidate aggregation for free — groupBy-count
    instead of distinct, same shuffle) and common_X = |X| − |rare_X| from
    two tiny per-doc aggregates. Jaccard is monotone in the intersection,
    so ``ub/(|A|+|B|−ub) < threshold`` proves the pair cannot reach the
    final filter; dropping it cannot change the result. Near-dup corpora
    prune ~99.9% of candidates here (blocking admits any pair sharing ONE
    rare shingle; almost none survive exact verification), which removes
    the array-payload joins and per-pair ``array_intersect`` for exactly
    the pairs that would be discarded anyway.
    """
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)  # guide §2.5; no-op on wide scans
    sh = track(shingles(docs, n, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK))
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # FLAG rarity instead of filtering to a separate rare table (r15,
    # guide §2.4): the left join keeps every shingle row with a _r
    # marker, so ONE doc-grouped aggregation below yields both the
    # total size and the rare count — the former shape ran sizes and
    # rc as separate aggregations (one over sh, one over rare) and
    # joined them back. flagged feeds both self-join sides (filtered),
    # the stats aggregate, and the verification arrays; persisted, the
    # df aggregate + rarity join run once.
    flagged = track(
        sh.join(
            df_counts.filter(F.col("df") <= max_df).select(
                "shingle", F.lit(1).alias("_r")
            ),
            "shingle",
            "left",
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    rare = flagged.filter(F.col("_r") == 1).select("doc_id", "shingle")
    l = rare.select(F.col("doc_id").alias("id1"), "shingle")
    r = rare.select(F.col("doc_id").alias("id2"), "shingle")
    cand = (
        l.join(r, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("_ri"))
    )
    # count(_r) counts the non-null flags — exactly the old rc, with
    # the all-common doc's 0 falling out of the same aggregation
    stats = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_sz"), F.count("_r").alias("_rc")
    )
    s1 = stats.select(
        F.col("doc_id").alias("id1"),
        F.col("_sz").alias("_z1"),
        (F.col("_sz") - F.col("_rc")).alias("_c1"),
    )
    s2 = stats.select(
        F.col("doc_id").alias("id2"),
        F.col("_sz").alias("_z2"),
        (F.col("_sz") - F.col("_rc")).alias("_c2"),
    )
    ub = F.col("_ri") + F.least("_c1", "_c2")
    # 1e-6 slack: the bound compare runs in doubles over exact integers
    # ≤ ~1e6, absolute rounding error ≤ 1e-10 — the slack only ever lets
    # a borderline pair THROUGH to exact verification, never drops one
    pruned = (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .filter(
            ub
            >= F.lit(float(threshold)) * (F.col("_z1") + F.col("_z2") - ub)
            - F.lit(1e-6)
        )
        .select("id1", "id2")
    )
    scored = jaccard_on_pairs(
        flagged.withColumnRenamed("shingle", "token").select("doc_id", "token"),
        pruned,
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


def near_duplicates_minhash_ml(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E2 via pyspark.ml: CountVectorizer shingle vectors → MinHashLSH →
    ``approxSimilarityJoin`` (banded candidates only). Seeded and
    deterministic run-to-run but not SQL-reproducible, so this variant
    registers rows-only; the md5-family implementation above carries the
    hash-verified oracle. Output: (id1, id2, jaccard) with jaccard
    computed as 1 − approx Jaccard distance.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = shingles(docs, 3, text_col, id_col)
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("toks"))
    # vocabSize must cover the distinct-shingle count: past the cap,
    # CountVectorizer drops rare shingles, which SHRINKS unions and
    # inflates the vector Jaccard above the exact shingle Jaccard — the
    # sketch would then emit pairs the exact operator rejects (and the
    # dedup_minhash_ml_gate catalog gate would flag it). 2^22 holds the
    # full vocab far past the tested scales; corpora beyond it should
    # use the md5-family near_duplicates_minhash, which has no vocab.
    cv = CountVectorizer(
        inputCol="toks", outputCol="features", binary=True,
        vocabSize=1 << 22,
    )
    model = cv.fit(sets)
    feats = model.transform(sets)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    lsh_model = lsh.fit(feats)
    joined = lsh_model.approxSimilarityJoin(
        feats, feats, 1.0 - threshold, distCol="dist"
    )
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id1"),
            F.col("datasetB.doc_id").alias("id2"),
            F.round(1.0 - F.col("dist"), 6).alias("jaccard"),
        )
    )


def simhash32(tok: DataFrame, token_col: str = "token") -> DataFrame:
    """32-bit SimHash per doc: sign-sum of token-hash bits, one groupBy.

    bit_j(doc) = 1 iff Σ_tokens (2·((h >> j) & 1) − 1) > 0; the 32 sums are
    computed as 32 agg expressions in a single pass (no explode).
    """
    h = token_hash32(token_col)
    sums = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
        for j in range(32)
    ]
    per_doc = tok.groupBy("doc_id").agg(*sums)
    sim = None
    for j in range(32):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def near_duplicates_simhash(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """E2 variant: SimHash blocking + exact Hamming verification.

    The 32-bit simhash splits into 4 byte-chunks; any pair with Hamming
    distance ≤ 3 must agree on ≥ 1 chunk (pigeonhole), so the equi-join on
    (chunk_idx, chunk_val) finds all such pairs without an all-pairs scan.
    ``max_hamming`` > 3 is REJECTED: the 4-chunk blocking only guarantees
    completeness through distance 3 (a distance-4 pair can differ in every
    chunk), so a larger radius would silently drop matches.
    Output: (id1, id2, hamming).
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 3]: 4-chunk blocking "
            "is only complete through Hamming distance 3 (pigeonhole); "
            "use more chunks or the minhash family for looser matching"
        )
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)  # guide §2.5; no-op on wide scans
    sim = track(
        simhash32(tokens(docs, text_col, id_col)).persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.expr(
            "stack(4, 0, (simhash >> 0) & 255, 1, (simhash >> 8) & 255, "
            "2, (simhash >> 16) & 255, 3, (simhash >> 24) & 255) "
            "AS (chunk_idx, chunk_val)"
        ),
    )
    l = chunks.select(
        F.col("doc_id").alias("id1"), F.col("simhash").alias("sh1"), "chunk_idx", "chunk_val"
    )
    r = chunks.select(
        F.col("doc_id").alias("id2"), F.col("simhash").alias("sh2"), "chunk_idx", "chunk_val"
    )
    cand = (
        l.join(r, ["chunk_idx", "chunk_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sh1", "sh2")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: drop corpus documents sharing at least
    ``min_shared`` distinct word ``n``-grams with ANY benchmark document.

    The standard guard against train/test contamination in training-data
    pipelines. Shape: corpus shingles equi-join the (distinct, typically
    small → broadcast) benchmark shingle set, count hits per document,
    left-anti the offenders. Never all-pairs: the join key is the shingle
    itself, so cost is |matching shingles|, and the benchmark side is a
    set of n-grams independent of corpus size."""
    c_sh = shingles(corpus, n, text_col, id_col)
    b_sh = shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    hits = (
        c_sh.join(b_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return corpus.join(
        hits.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 1,
    block_cols: Sequence[str] = (),
    band_width: int = 4,
) -> DataFrame:
    """Entity-resolution join: pair rows whose strings are within
    ``max_distance`` Levenshtein edits, optionally restricted to equal
    ``block_cols``.

    Completeness-preserving blocking: edits change length by at most
    ``max_distance``, so the right side lands on its length band and the
    left side explodes onto every band its match could occupy —
    candidates form a band EQUI-join (never all-pairs), then the exact
    JVM levenshtein filter decides. ``block_cols`` adds exact-match keys
    (country, zip...) to keep bands small at scale; the band trick alone
    is complete but groups all same-length strings.

    Right-side columns whose names collide with the left (outside
    ``block_cols``) come back suffixed ``_right`` — so the natural
    entity-resolution call ``fuzzy_join(a, b, "name", "name")`` works
    instead of dying on an ambiguous reference, and the output stays
    unambiguous for the caller.
    """
    overlap = (set(left.columns) & set(right.columns)) - set(block_cols)
    renames = {c: f"{c}_right" for c in overlap}
    right = right.withColumnsRenamed(renames)
    right_col = renames.get(right_col, right_col)
    lc, rc = F.col(left_col), F.col(right_col)
    lo = F.floor((F.length(lc) - max_distance) / band_width)
    hi = F.floor((F.length(lc) + max_distance) / band_width)
    lb = left.withColumn("_band", F.explode(F.sequence(lo, hi)))
    rb = right.withColumn("_band", F.floor(F.length(rc) / band_width))
    cond = F.levenshtein(lc, rc) <= max_distance
    return lb.join(rb, [*block_cols, "_band"]).filter(cond).drop("_band")


def minhash_band_table(
    docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int | None = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Build the STORED near-dup index for a corpus (or one ingest
    batch): (doc_id, band_idx, band_val). Persist this next to the
    corpus; each new batch appends its own rows — the corpus is never
    re-shingled or re-signed."""
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    docs = spread_small_scan(docs)  # guide §2.5; no-op on wide scans
    tok = (
        shingles(docs, shingle_n, text_col, id_col).withColumnRenamed(
            "shingle", "token"
        )
        if shingle_n is not None
        else tokens(docs, text_col, id_col)
    )
    return banded_signature(
        minhash_signature(tok, num_hashes), num_hashes, bands
    )


def near_duplicates_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int | None = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    new_bands: DataFrame | None = None,
    new_tok: DataFrame | None = None,
) -> DataFrame:
    """E2 incremental: near-duplicate pairs INVOLVING a new ingest batch
    against a corpus whose LSH index is already stored — the new batch
    is shingled and signed, the corpus is NOT. Batch-equivalent by
    construction FOR ONE CALL: the result is exactly
    ``near_duplicates_minhash(old ∪ new)`` restricted to pairs touching
    a new doc (same banding, same bucket cap over the UNION, same
    exact-Jaccard verify). Across a SEQUENCE of incremental calls the
    equivalence additionally requires the bucket cap never to trip
    mid-sequence (the probe's common case, or ``max_bucket=None``): a
    bucket that becomes oversized only after a later batch cannot
    retract pairs an earlier call already emitted, whereas the
    full-corpus run would have dropped them.

    100 TB economics: candidate generation is one equi-join of the new
    batch's bands against the stored band table; exact verification
    re-shingles ONLY the corpus docs that actually appear in a candidate
    pair (a left-semi join bounds that read to the match set, which is
    candidate-sized, not corpus-sized). Id spaces of new and old must be
    disjoint (they are distinct documents by definition).

    Output: (id1, id2, jaccard), id1 < id2, each pair touching ≥1 new doc.
    """
    from sids_data_pipeline_spark.operators.spread import spread_small_scan

    if new_tok is None:
        # a micro-batch typically arrives as one file → one partition;
        # the shingle + k-hash map side would run on one core (guide
        # §2.5; the helper is a no-op when the scan is already wide)
        new_docs = spread_small_scan(new_docs)
        new_tok = (
            shingles(new_docs, shingle_n, text_col, id_col).withColumnRenamed(
                "shingle", "token"
            )
            if shingle_n is not None
            else tokens(new_docs, text_col, id_col)
        )
    else:
        # caller supplies the batch's token table (e.g. the streaming
        # job persists ONE shingle pass and derives both the band table
        # and this verification input from it). Same HARD CONTRACT as
        # new_bands: it must be the shingle_n/text_col tokenization of
        # new_docs — not re-validated.
        new_tok = new_tok.select("doc_id", "token")
    if new_bands is None:
        new_bands = banded_signature(
            minhash_signature(new_tok, num_hashes), num_hashes, bands
        )
    else:
        # Caller supplies the batch's band table (e.g. the streaming job
        # persists the SAME table it appends to the ledger) — skip the
        # second shingle+sign pass over the batch. HARD CONTRACT
        # (ADVICE r14): the table must come from minhash_band_table with
        # the SAME num_hashes/bands/shingle_n as ``corpus_bands`` — the
        # args are NOT re-validated against it (checking band_idx
        # cardinality would cost an extra aggregation job per micro-
        # batch), and a mismatched table silently mis-buckets candidates.
        new_bands = new_bands.select("doc_id", "band_idx", "band_val")
    stored = corpus_bands.select("doc_id", "band_idx", "band_val")
    union_bands = stored.unionByName(new_bands)
    if max_bucket is not None:
        # same skip as near_duplicates_minhash: every doc emits exactly
        # `bands` band rows, so ≤ max_bucket·bands rows ⇒ ≤ max_bucket
        # docs ⇒ the cap is a no-op by construction
        probe = union_bands.limit(max_bucket * bands + 1).count()
        if probe <= max_bucket * bands:
            max_bucket = None
    if max_bucket is not None:
        oversized = (
            union_bands.groupBy("band_idx", "band_val")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band_idx", "band_val")
        )
        new_bands = new_bands.join(
            F.broadcast(oversized), ["band_idx", "band_val"], "left_anti"
        )
        union_bands = union_bands.join(
            F.broadcast(oversized), ["band_idx", "band_val"], "left_anti"
        )
    l = new_bands.select(
        F.col("doc_id").alias("_n1"), "band_idx", "band_val"
    )
    r = union_bands.select(
        F.col("doc_id").alias("_n2"), "band_idx", "band_val"
    )
    # persisted: cand feeds BOTH the verification-id semi-join and the
    # final pair scoring — un-persisted, the band-ledger equi-join +
    # distinct (the probe over the ever-growing stored index) would
    # re-execute per reference (r15, guide §5)
    cand = track(
        l.join(r, ["band_idx", "band_val"])
        .filter(F.col("_n1") != F.col("_n2"))
        .select(
            F.least("_n1", "_n2").alias("id1"),
            F.greatest("_n1", "_n2").alias("id2"),
        )
        .distinct()
        .persist()
    )
    # verify tokens: the new batch's (already built) plus ONLY the
    # corpus docs that appear in a candidate pair
    cand_ids = (
        cand.select(F.col("id1").alias(id_col))
        .unionByName(cand.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    old_needed = corpus_docs.join(cand_ids, id_col, "left_semi")
    old_tok = (
        shingles(old_needed, shingle_n, text_col, id_col).withColumnRenamed(
            "shingle", "token"
        )
        if shingle_n is not None
        else tokens(old_needed, text_col, id_col)
    )
    scored = jaccard_on_pairs(new_tok.unionByName(old_tok), cand)
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )
