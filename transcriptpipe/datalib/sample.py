"""Dataset splitting, sampling, and context-window chunking — the
bookkeeping operators a training-data pipeline runs after dedup/filtering.

Everything here is deterministic (md5-keyed) and NARROW — no shuffle, no
RNG state, no driver coordination — so split membership is reproducible
across runs, machines, and cluster sizes, and a retried task assigns the
same rows to the same split (Spark's rand() does not survive task retries
deterministically; content/key hashing does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5 prefix → uniform uint in [0, 2^32) — the split/sample coin
_BUCKETS = 1 << 32


def _hash_u32(key: Column, salt: str) -> Column:
    return F.conv(F.md5(F.concat(F.lit(salt), key.cast("string"))).substr(1, 8),
                  16, 10).cast("long")


def hash_split(df: DataFrame, key_col: str = "doc_id",
               weights: dict[str, float] | None = None,
               salt: str = "split-v1") -> DataFrame:
    """Assign every row to a named split (train/val/test by default) by
    hashing ``key_col`` — deterministic, retry-stable, and cluster-size
    independent, unlike randomSplit (which reshuffles membership whenever
    partitioning changes). Hashing the KEY (not the content) keeps all
    near-duplicate cluster members together only if the caller passes the
    cluster_id as the key — the recommended recipe after dedup.dup_clusters
    (splitting leakage: near-dups of a test doc landing in train)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    h = _hash_u32(F.col(key_col), salt)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = h < int(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                salt: str = "sample-v1") -> DataFrame:
    """Deterministic ``fraction`` sample by key hash (same properties as
    hash_split; rerunning yields the identical sample)."""
    return df.filter(
        _hash_u32(F.col(key_col), salt) < int(fraction * _BUCKETS)
    )


def pack_chunks(df: DataFrame, max_tokens: int, buckets: int = 64,
                id_col: str = "doc_id", text_col: str = "text",
                salt: str = "pack-v1") -> DataFrame:
    """Sequence packing via concat-then-chunk: fill fixed context windows
    with document text so training batches waste no pad tokens.

    Greedy bin-packing needs per-bucket sequential state (and has no clean
    SQL mirror); this formulation is fully relational and deterministic:

    1. assign each doc to one of ``buckets`` pack buckets by key hash
       (same md5 coin as hash_split — retry-stable, cluster-size
       independent),
    2. concatenate each bucket's texts in (hash, id) order with a single
       space (token sequence = concatenation of token sequences),
    3. chunk each bucket's concatenation into ``max_tokens`` windows
       (chunk_text with overlap 0).

    Output: (bucket, chunk_idx, chunk_text, n_tokens, token_start).  Every
    chunk except possibly each bucket's last is exactly ``max_tokens``
    tokens — the pad waste is <= (buckets * (max_tokens-1)) tokens total,
    amortized to ~0 as buckets' contents grow.

    Scale: ONE shuffle (the bucket groupBy).  Size ``buckets`` so a
    bucket's concatenation stays executor-resident (e.g. corpus_tokens /
    ~64M tokens per bucket); the shuffle carries each text once."""
    h = _hash_u32(F.col(id_col), salt)
    packed = (
        df.select((h % buckets).cast("int").alias("bucket"),
                  F.struct(h.alias("h"),
                           F.col(id_col).alias("id"),
                           F.col(text_col).alias("t")).alias("e"))
        .groupBy("bucket")
        # null texts are skipped by the join (like SQL string_agg); a
        # bucket holding ONLY null texts must concat to NULL, not "" —
        # array_join alone returns "" there, which would emit a phantom
        # empty chunk the DuckDB mirror (string_agg -> NULL) never sees
        .agg(F.when(
            F.count(F.col("e")["t"]) > 0,
            F.array_join(F.array_sort(F.collect_list("e")).getField("t"),
                         " ")).alias("text"))
    )
    return chunk_text(packed, max_tokens=max_tokens, overlap=0,
                      id_col="bucket", text_col="text")


def chunk_text(df: DataFrame, max_tokens: int, overlap: int = 0,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split documents into context-window chunks of at most ``max_tokens``
    whitespace tokens, with ``overlap`` tokens carried between consecutive
    chunks — the pre-tokenization packing step for fixed-window training.

    Pure narrow column work: split → sequence of window starts →
    posexplode → slice + rejoin. One output row per (doc, chunk_idx) with
    the chunk text and its token span; no shuffle (downstream repacking /
    shuffling is the caller's policy)."""
    if not (0 <= overlap < max_tokens):
        raise ValueError("require 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    # window starts: 1, 1+step, ... (1-based for F.slice). Note split('')
    # yields [''] (n=1) on BOTH Spark and the DuckDB mirror, so an
    # empty-string text emits one chunk with chunk_text='' / n_tokens=1;
    # only NULL text (n is null, the guard below) emits nothing. Callers
    # wanting to drop token-free docs should pre-filter trim(text) != ''.
    starts = F.when(
        n > 0, F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                          F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    out = df.withColumn("_toks", toks).withColumn("_starts", starts)
    out = out.select(
        F.col(id_col),
        F.posexplode("_starts").alias("chunk_idx", "_start"),
        F.col("_toks"),
    )
    chunk = F.slice("_toks", F.col("_start"), F.lit(max_tokens))
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
        (F.col("_start") - 1).alias("token_start"),
    )


def shard_by_budget(df: DataFrame, budget_tokens: int,
                    id_col: str = "doc_id", text_col: str = "text",
                    salt: str = "shard-v1",
                    partitions: int | None = None) -> DataFrame:
    """Assign every document to an output shard so each shard carries
    ~``budget_tokens`` whitespace tokens — the "write fixed-size training
    shards" op. Documents are laid out in deterministic (md5(salt||id), id)
    order and ``shard_id = exclusive-prefix-token-count // budget``, so the
    assignment is reproducible across runs and cluster sizes and shard
    boundaries never depend on partitioning.

    Scale: a global prefix sum CANNOT be one window over a global ORDER BY
    (Spark executes that in a single partition). This is the standard
    two-pass formulation instead, keyed by DETERMINISTIC contiguous
    buckets of the order key (round 6 — previously ``repartitionByRange``,
    whose RangePartitioner pays a full sampling pass over the projection
    before the shuffle, plus a ``persist`` to stop the totals branch
    repeating that shuffle, which leaked cache for the session (ADVICE
    r5). The md5 order key is uniform by construction, so its first 4 hex
    chars ARE a range partitioner: ``bucket = u16(prefix) * B / 65536`` is
    monotone in the key — bucket b holds exactly a contiguous key range —
    with no sampling, no persist, nothing to leak):

    1. project NARROW (id, key, n_tokens, bucket) — text never shuffles;
    2. per-bucket token totals (one tiny aggregate, |buckets| rows)
       → exclusive running offsets via a window over that tiny frame;
    3. broadcast-join the offsets back and add the within-bucket
       exclusive cumsum (one hash exchange on the bucket) — buckets are
       contiguous ordered key ranges with ascending ids, so offset +
       local prefix IS the global prefix.

    ``partitions`` is the bucket count B, in (0, 65536] (one bucket per
    4-hex prefix at most); it defaults to ``defaultParallelism * 2``,
    clamped to 65536 on wider clusters.

    Cost: the totals branch (2) and the cumsum branch (3) are different
    exchanges, so nothing is reused between them and the narrow projection
    (1) — the source scan, the md5 key and the whitespace token count over
    the full text — runs twice. That is the price of keeping no persist; if
    the double scan dominates at some scale, a ``localCheckpoint`` of the
    narrow frame removes it without the cache leak.

    Returns (id_col, n_tokens, shard_id); join back on id to write
    ``df.write.partitionBy("shard_id")``. Null texts count 0 tokens."""
    from pyspark.sql.window import Window

    from .textstats import token_count_ws

    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    spark = df.sparkSession
    if partitions is None:
        n_parts = min(spark.sparkContext.defaultParallelism * 2, 65536)
    elif 0 < partitions <= 65536:
        n_parts = partitions
    else:
        raise ValueError("partitions must be in (0, 65536]")
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    bucket = F.floor(
        F.conv(F.substring("_k", 1, 4), 16, 10).cast("long") * n_parts / 65536
    ).cast("int")
    t = df.select(
        F.col(id_col),
        key.alias("_k"),
        F.coalesce(token_count_ws(F.col(text_col)), F.lit(0))
        .cast("long").alias("n_tokens"),
    ).withColumn("_pid", bucket)
    totals = t.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"),
    )
    w_in = (
        Window.partitionBy("_pid").orderBy("_k", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = (
        F.col("_off") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    return (
        t.join(F.broadcast(offsets), "_pid")
        .select(
            id_col,
            "n_tokens",
            F.floor(cum_excl / budget_tokens).cast("long").alias("shard_id"),
        )
    )


def stratified_sample(df: DataFrame, strata_col: str, n_per_stratum: int,
                      key_col: str = "doc_id",
                      salt: str = "strat-v1") -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (fewer if the stratum is
    smaller), chosen deterministically: rank by (md5 hash, key) inside each
    stratum and keep the first n. Same retry/cluster-size stability story
    as hash_split — the "balanced subset" op for dataset curation.

    Scale: the rank<=k filter sits directly above the window, so Spark's
    InferWindowGroupLimit rewrites it into a WindowGroupLimit — each map
    task keeps only its local top-k BEFORE the shuffle, so the exchange
    carries O(partitions * k) rows per stratum, not the whole stratum.
    Skewed strata therefore don't flood a single reducer at 100 TB."""
    from pyspark.sql.window import Window

    h = _hash_u32(F.col(key_col), salt)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def mix_sources(df: DataFrame, fractions: dict[str, float],
                source_col: str = "source", key_col: str = "doc_id",
                salt: str = "mix-v1") -> DataFrame:
    """Weighted dataset mixing: keep each row with its source's fraction,
    decided by the deterministic md5 coin — the standard way to re-weight
    heterogeneous corpora (books x2 epochs, web x0.3, ...) without a
    shuffle or RNG state. Sources absent from ``fractions`` are dropped;
    fractions > 1 are capped at keep-all (true up-sampling means emitting
    the row more than once — do that with an explode on ceil(frac) copies
    upstream if needed). Narrow: one filter, fully pushed into the scan."""
    cond = None
    h = _hash_u32(F.col(key_col), salt)
    for src, frac in sorted(fractions.items()):
        thr = int(min(max(frac, 0.0), 1.0) * _BUCKETS)
        this = (F.col(source_col) == src) & (h < thr)
        cond = this if cond is None else (cond | this)
    return df.filter(cond if cond is not None else F.lit(False))
