"""Candidate-pair generation at scale: MinHash-LSH and SimHash Hamming-ball.

North-rule core (SURVEY §2.9 "New"): these produce the ``candidate_edges``
that connected components (components.py) resolves into duplicate clusters.

Scale design:
- LSH bucket join is an equi-join on (band_index, band_hash) — shuffle on the
  band key only; no O(n²) anywhere.
- :func:`bucket_pairs` is the one bucket → pair kernel every channel uses
  (MinHash bands, SimHash chunks, the incremental delta buckets, SRP
  embedding buckets).  Hot buckets (boilerplate-heavy shingles, viral
  hosts) are CAPPED at ``max_bucket_size`` before pair expansion — a bucket
  of B rows expands to B²/2 pairs, so one mega-bucket can dominate the job;
  the cap bounds the blowup and :func:`dropped_bucket_stats` counts the
  exclusions (no silent truncation).
- SimHash channel: split the 64-bit value into ``chunks`` equal bit-slices;
  by pigeonhole any pair with hamming ≤ chunks-1 collides on at least one
  slice, so an equi-join per slice finds all candidates for distance
  ≤ chunks-1; the exact ``bit_count(a^b) <= max_hamming`` verify runs
  JVM-side after the join.
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import make_minhash_bands_udf
from .timeline import ENRICHMENT_STRUCT


def minhash_band_table(
    df: DataFrame,
    id_col: str = "urim",
    tokens_col: str = "tokens",
    num_perm: int = 128,
    shingle_words: int = 5,
    bands: int = 32,
    seed: int = 1234567,
) -> DataFrame:
    """(id, band, band_hash) — one row per document per band.

    Null/empty-token documents are dropped by the ``posexplode`` itself (the
    UDF maps them to NULL band arrays) rather than by an explicit filter: a
    filter on the UDF output would be pushed below the enrichment exchange
    and re-run the whole tokenize/minhash chain on the narrow pre-shuffle
    side (guide §4.4) — the Generate-based drop leaves nothing for the
    optimizer to push (InferFiltersFromGenerate is excluded in session.py
    for the same reason).

    Over an unpinned ``timeline.prepare_pages`` frame the UDF reads the
    enrichment struct rather than its tokens field, so Spark chains it onto
    the enrichment UDF: one Python node, one pass per document."""
    udf = make_minhash_bands_udf(num_perm, shingle_words, bands, seed)
    source = (ENRICHMENT_STRUCT if tokens_col == "tokens"
              and ENRICHMENT_STRUCT in df.columns else tokens_col)
    return (
        df.select(F.col(id_col).alias("id"), udf(F.col(source)).alias("_bands"))
        .select("id", F.posexplode("_bands").alias("band", "band_hash"))
    )


def _pair_expand_expr(col: str) -> str:
    """SQL expression expanding a (sorted) array column into its unordered
    element pairs as struct(u, v)."""
    return (
        f"flatten(transform({col}, (x, i) -> "
        f"transform(slice({col}, i + 2, size({col}) - i - 1), "
        f"y -> struct(x AS u, y AS v))))"
    )


def bucket_pairs(
    rows: DataFrame,
    key_cols: list,
    member,
    max_bucket_size: int,
) -> DataFrame:
    """The one bucket-table → candidate-pair kernel: every channel (MinHash
    bands, SimHash chunks, delta buckets, SRP embedding buckets) groups its
    rows on ``key_cols`` and expands each bucket's ``member`` values into a
    ``p: struct<u, v>`` column, one row per unordered member pair.  Callers
    keep only their own filters and the id projection.

    ONE shuffle: group each bucket's members with ``collect_list`` and
    expand the pairs JVM-side (``transform``/``flatten``/``explode``) — no
    self-join (a self-join would evaluate the signature-UDF lineage twice
    and shuffle the bucket table two more times).

    Buckets larger than ``max_bucket_size`` are dropped (their members are
    near-certainly caught by other bands; a bucket of B rows expands to B²/2
    pairs, so one boilerplate mega-bucket could dominate the job —
    :func:`dropped_bucket_stats` makes the exclusions observable).

    OOM-safety order: the size gate runs as a WINDOW count BEFORE the
    ``collect_list`` — a window buffers per-key rows in a spillable sorter,
    while ``collect_list`` must hold the whole bucket in one unspillable
    array, so filtering after the collect would let a single degenerate
    10^7-member bucket OOM its reducer at 100 TB.  The window and the groupBy
    share the same hash partitioning, so this still compiles to ONE exchange
    on the bucket table (enforced by tests/test_plan_shape.py).

    Expand-late: a true near-dup pair collides in MANY bands (a jaccard-0.9
    pair hits ~half of 32 bands), so the same member set reappears as a
    bucket band after band.  Expanding every bucket and deduping PAIRS
    multiplies the heaviest stage's row count by that band-duplication
    factor (measured ~29x on a clique corpus: 79M expanded rows for 2.7M
    distinct pairs).  Instead the member LISTS are sorted and deduped first
    — one exchange over #buckets short-array rows, strictly smaller than
    the bucket table itself — and only distinct member sets expand to
    pairs.  The produced pair set is identical (pairs of a bucket depend
    only on its member set); overlapping but non-identical buckets still
    emit a pair once per set, so callers that need a pair SET distinct it.
    Measured 8→32-thread efficiency of the dedup stage on the adversarial
    all-clique corpus: 0.14 → ≥0.5 raw (BENCH.md mechanism section)."""
    counted = rows.withColumn(
        "_n", F.count("*").over(Window.partitionBy(*key_cols)))
    bounded_rows = counted.filter(
        (F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size)).drop("_n")
    member_sets = (
        bounded_rows.groupBy(*key_cols)
        .agg(F.collect_list(member).alias("members"))
        .select(F.array_sort("members").alias("members"))
        .distinct()
    )
    return member_sets.select(
        F.explode(F.expr(_pair_expand_expr("members"))).alias("p"))


def overflowing_buckets(
    rows: DataFrame, key_cols: list, max_bucket_size: int,
) -> DataFrame:
    """(*key_cols, count) of every bucket over the cap — the buckets
    :func:`bucket_pairs` drops."""
    return (rows.groupBy(*key_cols).count()
            .filter(F.col("count") > max_bucket_size))


def dropped_bucket_stats(
    rows: DataFrame, key_cols: list, max_bucket_size: int = 64,
) -> DataFrame:
    """Observability for the cap: how many buckets/rows were excluded.
    Run it over the same rows the channel pairs — the band or chunk table,
    an incremental channel's ``delta_bucket_rows``, or the SRP bucket
    table."""
    return overflowing_buckets(rows, key_cols, max_bucket_size).agg(
        F.count("*").alias("dropped_buckets"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("dropped_rows"),
    )


def candidate_pairs_from_buckets(
    bucketed: DataFrame,
    max_bucket_size: int = 64,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Equal (band, band_hash) buckets → (id_a < id_b) candidate pairs, via
    :func:`bucket_pairs`.

    ``distinct_pairs=False``: emit the expanded pairs without the final
    pair-level ``distinct()`` — for callers that union several candidate
    channels and distinct the union anyway (dedup_pipeline), where the
    per-channel distinct would be a redundant extra exchange at every
    scale.  Multiset differs (overlapping member sets emit a pair once per
    set); the SET of pairs is identical.
    """
    pairs = bucket_pairs(
        bucketed, ["band", "band_hash"], F.col("id"), max_bucket_size,
    ).select(
        F.least("p.u", "p.v").alias("id_a"),
        F.greatest("p.u", "p.v").alias("id_b"),
    )
    return pairs.distinct() if distinct_pairs else pairs


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "urim",
    tokens_col: str = "tokens",
    num_perm: int = 128,
    shingle_words: int = 5,
    bands: int = 32,
    seed: int = 1234567,
    max_bucket_size: int = 64,
) -> DataFrame:
    bucketed = minhash_band_table(
        df, id_col, tokens_col, num_perm, shingle_words, bands, seed)
    return candidate_pairs_from_buckets(bucketed, max_bucket_size)


def chunks_for_hamming(max_hamming: int, chunks: int = 4) -> int:
    """The slice count that keeps the pigeonhole EXHAUSTIVE: a pair at
    hamming ≤ max_hamming collides on ≥1 of ``chunks`` slices only when
    chunks ≥ max_hamming + 1.  Returns ``chunks`` unchanged when already
    sufficient, else the smallest divisor of 64 that is — so a caller
    raising ``max_hamming`` past the default 3 silently gets a wider slice
    join instead of silent recall loss."""
    if max_hamming + 1 <= chunks:
        return chunks
    for c in (2, 4, 8, 16, 32, 64):
        if c >= max_hamming + 1:
            return c
    raise ValueError(
        f"max_hamming={max_hamming} out of range for a 64-bit simhash")


def simhash_chunk_table(
    df: DataFrame,
    id_col: str = "urim",
    simhash_col: str = "simhash",
    chunks: int = 4,
) -> DataFrame:
    """(id, chunk, chunk_value): bit-slices of the 64-bit simhash."""
    if chunks < 1 or 64 % chunks:
        raise ValueError(
            f"chunks={chunks} must divide 64 — unequal slices would leave "
            f"high bits out of every chunk key and miss collisions")
    width = 64 // chunks
    mask = (1 << width) - 1
    slices = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), c * width)
            .bitwiseAND(F.lit(mask)).alias("chunk_value"),
        )
        for c in range(chunks)
    ])
    # null simhashes are dropped by the explode (NULL slice array), not a
    # filter: a filter on what is usually a UDF-derived column gets pushed
    # below the enrichment exchange and re-evaluates the simhash UDF on the
    # narrow pre-shuffle side (guide §4.4 — same pathology as the minhash
    # band filter, same fix)
    return (
        df.select(F.col(id_col).alias("id"), F.col(simhash_col).alias("simhash"))
        .withColumn(
            "_slice",
            F.explode(F.when(F.col("simhash").isNotNull(), slices)))
        .select("id", "simhash", "_slice.chunk", "_slice.chunk_value")
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "urim",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 64,
    distinct_pairs: bool = True,
) -> DataFrame:
    """All pairs with hamming(simhash) ≤ max_hamming, found via chunk-bucket
    grouping (exhaustive when max_hamming ≤ chunks-1 by pigeonhole).

    Same :func:`bucket_pairs` kernel as the MinHash path (a pair within
    hamming ≤ chunks-1 can collide on up to ``chunks`` slices, so the
    member-set dedup divides the expanded row count by that duplication);
    the exact ``bit_count`` verify runs on the expanded pairs, all
    JVM-side."""
    # the contract is ALL pairs ≤ max_hamming: widen the slice count when
    # the caller's max_hamming outgrows it (pigeonhole needs ≥ h+1 slices)
    chunks = chunks_for_hamming(max_hamming, chunks)
    table = simhash_chunk_table(df, id_col, simhash_col, chunks)
    pairs = (
        bucket_pairs(table, ["chunk", "chunk_value"],
                     F.struct("id", "simhash"), max_bucket_size)
        .filter(
            F.bit_count(
                F.col("p.u.simhash").bitwiseXOR(F.col("p.v.simhash"))
            ) <= max_hamming
        )
        .select(
            F.least("p.u.id", "p.v.id").alias("id_a"),
            F.greatest("p.u.id", "p.v.id").alias("id_b"),
        )
    )
    return pairs.distinct() if distinct_pairs else pairs
