"""Candidate-pair generation at scale: MinHash-LSH and SimHash Hamming-ball.

North-rule core (SURVEY §2.9 "New"): these produce the ``candidate_edges``
that connected components (components.py) resolves into duplicate clusters.

Scale design:
- One candidate table for both channels: (id, key, value, simhash) rows,
  a MinHash band row keyed on its band index (NULL simhash) and a SimHash
  chunk row keyed on ``-1 - chunk``, so the two channels never share a
  bucket.  One shuffle on the bucket key (key, value) groups the whole
  table; no join and no O(n²) anywhere.
- :func:`bucket_pairs` is the one bucket → pair kernel every channel uses
  (the candidate table, batch or delta, and SRP embedding buckets).  Hot
  buckets (boilerplate-heavy shingles, viral hosts) are CAPPED at
  ``max_bucket_size`` before pair expansion — a bucket of B rows expands
  to B²/2 pairs, so one mega-bucket can dominate the job; the cap bounds
  the blowup and :func:`dropped_bucket_stats` counts the exclusions (no
  silent truncation).
- SimHash channel: split the 64-bit value into ``chunks`` equal bit-slices;
  by pigeonhole any pair with hamming ≤ chunks-1 collides on at least one
  slice, so grouping per slice finds all candidates for distance
  ≤ chunks-1; the exact Hamming check runs JVM-side on the chunk-bucket
  pairs (:func:`candidate_pairs`).
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
    """The one bucket-table → candidate-pair kernel: the candidate table
    (MinHash bands and SimHash chunks, batch or delta) and the SRP
    embedding buckets group their rows on ``key_cols`` and expand each
    bucket's ``member`` values into a
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
    Run it over the same rows that are paired — a candidate table (or one
    channel's rows of it), an increment's ``delta_bucket_rows``, or the SRP
    bucket table."""
    return overflowing_buckets(rows, key_cols, max_bucket_size).agg(
        F.count("*").alias("dropped_buckets"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("dropped_rows"),
    )


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


# the bucket key of the candidate table: band rows key on their band index
# (≥ 0) and chunk rows on -1 - chunk, so the channels never share a bucket
BUCKET_KEY = ["key", "value"]


def band_keys(bands: DataFrame) -> DataFrame:
    """The MinHash channel's rows of the candidate table: (id, key, value,
    simhash) of a :func:`minhash_band_table`, keyed on the band index, with
    a NULL simhash.  The stored ``bands`` stage keeps its
    (id, band, band_hash) schema; this is a projection of it."""
    return bands.select(
        "id", F.col("band").alias("key"), F.col("band_hash").alias("value"),
        F.lit(None).cast("long").alias("simhash"))


def chunk_keys(
    df: DataFrame,
    id_col: str = "urim",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """The SimHash channel's rows of the candidate table: (id, key, value,
    simhash) slices of :func:`simhash_chunk_table`, as many as
    ``max_hamming`` needs (:func:`chunks_for_hamming`), keyed on
    ``-1 - chunk``."""
    table = simhash_chunk_table(df, id_col, simhash_col,
                                chunks_for_hamming(max_hamming, chunks))
    return table.select(
        "id", (-1 - F.col("chunk")).alias("key"),
        F.col("chunk_value").alias("value"), "simhash")


def candidate_keys(bands: DataFrame, docs: DataFrame,
                   max_hamming: int = 3) -> DataFrame:
    """Both channels' keys of the dedup ``docs`` stage as one candidate
    table: the band rows of ``bands`` and the chunk rows of ``docs``'
    (nid, raw_simhash)."""
    return band_keys(bands).unionByName(
        chunk_keys(docs, "nid", "raw_simhash", max_hamming))


def _canonical_pairs(keys: DataFrame, max_hamming: int = 3,
                     max_bucket_size: int = 64) -> DataFrame:
    """(id_a < id_b) pairs of a candidate table, before the pair distinct
    (overlapping member sets emit a pair once per set)."""
    delta = "is_new" in keys.columns
    member = F.struct("id", "simhash", *(["is_new"] if delta else []))
    # chunk buckets hold only non-NULL simhashes, band buckets only NULL ones
    keep = F.col("p.u.simhash").isNull() | (F.bit_count(
        F.col("p.u.simhash").bitwiseXOR(F.col("p.v.simhash"))) <= max_hamming)
    if delta:
        keep = keep & (F.col("p.u.is_new") | F.col("p.v.is_new"))
    return (
        bucket_pairs(keys, BUCKET_KEY, member, max_bucket_size)
        .filter(keep)
        .select(F.least("p.u.id", "p.v.id").alias("id_a"),
                F.greatest("p.u.id", "p.v.id").alias("id_b"))
        # a re-ingested id on both sides of a delta would pair with itself
        .filter(F.col("id_a") < F.col("id_b"))
    )


def candidate_pairs(
    keys: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs of a candidate table — the one
    pairing of both channels, batch and delta: one :func:`bucket_pairs`
    call over (key, value) buckets with ``struct(id, simhash)`` members,
    the Hamming check ``≤ max_hamming`` on chunk-bucket pairs only, and one
    pair distinct.

    ``keys``: rows of :func:`band_keys` / :func:`chunk_keys` (or their
    union, :func:`candidate_keys`), or ``incremental.delta_bucket_rows``
    over such rows; with the latter's ``is_new`` column only pairs with a
    new endpoint are kept."""
    return _canonical_pairs(keys, max_hamming, max_bucket_size).distinct()


def candidate_pairs_from_buckets(
    bucketed: DataFrame,
    max_bucket_size: int = 64,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Equal (band, band_hash) buckets of a :func:`minhash_band_table` →
    (id_a < id_b) candidate pairs: :func:`candidate_pairs` over its
    :func:`band_keys`.

    ``distinct_pairs=False``: emit the expanded pairs without the final
    pair-level ``distinct()`` — for callers that union several candidate
    frames and distinct the union anyway.  Multiset differs (overlapping
    member sets emit a pair once per set); the SET of pairs is identical.
    """
    pairs = _canonical_pairs(band_keys(bucketed),
                             max_bucket_size=max_bucket_size)
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


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "urim",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 64,
    distinct_pairs: bool = True,
) -> DataFrame:
    """All pairs with hamming(simhash) ≤ max_hamming: :func:`candidate_pairs`
    over the :func:`chunk_keys` of ``df`` (exhaustive by pigeonhole: the
    slice count is widened to ≥ max_hamming + 1).  ``distinct_pairs`` as
    in :func:`candidate_pairs_from_buckets`."""
    pairs = _canonical_pairs(
        chunk_keys(df, id_col, simhash_col, max_hamming, chunks),
        max_hamming, max_bucket_size)
    return pairs.distinct() if distinct_pairs else pairs
