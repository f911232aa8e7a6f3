"""Structured Streaming ingest path.

The reference is batch-only (SURVEY §2.11) — its incrementality is disk
memoization + a resumable directory store.  For a crawl that lands WARC-drop
parquet continuously, the equivalent streaming plan is:

    readStream (file source over pages parquet)
      → watermark on warc_ts
      → extract/tokenize/simhash enrichment (same UDFs as batch)
      → streaming exact/near-dup suppression via dropDuplicates /
        flatMapGroupsWithState-style stateful filter
      → writeStream to the signatures checkpoint table

``build_streaming_enrichment`` wires the readStream; the stateful near-dup
filter uses ``dropDuplicatesWithinWatermark`` on the simhash value (exact
match), which is the streaming analogue of D1's "already seen" rule —
Hamming-ball near-dup needs cross-row joins and stays in the batch/LSH path.

All transformations are identical Column expressions to the batch path, so
one logical definition serves both (the test exercises the batch-equivalent
plan; the streaming wiring is exercised with a memory-sink smoke test).
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeline import enrich_pages
from ..sources.datagen import PAGES_SCHEMA

# the enrichment outputs each ``stream --mode`` reads: the one enrichment
# UDF computes every output it is asked for, read or not
MODE_OUTPUTS = {
    "signatures": ("tokens", "raw_simhash", "tf_simhash"),
    "candidates": ("tokens",),
    "dedup": ("raw_simhash",),
    "rates": ("raw_simhash",),
}
# the batch enrichment's columns (timeline.prepare_pages)
PAGE_OUTPUTS = ("text", "tokens", "raw_simhash", "tf_simhash")


def build_streaming_enrichment(
    spark: SparkSession,
    input_path: str,
    watermark: str = "1 hour",
    outputs=PAGE_OUTPUTS,
) -> DataFrame:
    """readStream over a pages parquet directory → stream enriched with
    ``outputs`` (see :data:`MODE_OUTPUTS`)."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
        .withWatermark("warc_ts", watermark)
    )
    return enrich_pages(stream, outputs)


def streaming_near_dup_suppression(enriched: DataFrame) -> DataFrame:
    """Suppress exact simhash repeats per url within the watermark — the
    streaming analogue of bin/exclude_duplicates' 'already seen' rule.

    Null simhashes (unparseable/absent content) are EXCLUDED, matching
    :func:`streaming_exact_dedup_batch_equivalent` — dedup keys treat nulls
    as equal, so without the filter distinct unparseable pages would
    wrongly collapse into one "duplicate" group while the batch twin
    emits none of them.  The gate tests ``html`` (the raw input), not
    ``raw_simhash``: the simhash UDF is null-preserving and never null
    otherwise, so the two are equivalent — but a filter on the UDF output
    is pushed below the enrichment projection and re-runs the UDF per
    micro-batch (guide §4.4), while the input-column filter pushes all the
    way to the source scan and skips null rows BEFORE enrichment."""
    return (
        enriched.filter(F.col("html").isNotNull())
        .dropDuplicatesWithinWatermark(["url", "raw_simhash"])
    )


def write_signatures_stream(df: DataFrame, out_path: str,
                            checkpoint_path: str, once: bool = True):
    """Append signatures to the checkpoint table; exactly-once via the
    streaming commit log.  ``once=True`` drains with availableNow and stops;
    ``once=False`` tails the source continuously."""
    writer = (
        df.select("url", "warc_ts", "urim", "urit", "raw_simhash",
                  "tf_simhash", "n_tokens")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_crawl_rates(
    enriched: DataFrame,
    window_duration: str = "1 hour",
) -> DataFrame:
    """Windowed aggregation over the crawl stream: pages and distinct-simhash
    counts per (url, event-time window).  Uses the watermark already set by
    :func:`build_streaming_enrichment` (redefining a watermark downstream is
    disallowed): late arrivals inside it update their window, older ones are
    dropped at the state boundary — the standard late-data contract.  Emits
    one final row per window in append mode (used with the parquet sink)."""
    return (
        enriched
        .groupBy(F.window("warc_ts", window_duration).alias("win"), "url")
        .agg(
            F.count("*").alias("n_pages"),
            F.approx_count_distinct("raw_simhash").alias("n_distinct_simhash"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "url", "n_pages", "n_distinct_simhash",
        )
    )


DEDUP_OUT_SCHEMA = ("url string, warc_ts timestamp, urim string, "
                    "raw_simhash long")
DEDUP_STATE_SCHEMA = "prev long, seen array<long>"


def streaming_sequential_dedup(
    enriched: DataFrame,
    threshold: float = 0.2,
    state_cap: int = 4096,
    state_ttl_hours: float | None = None,
) -> DataFrame:
    """Custom stateful operator: the reference's SEQUENTIAL D1 rule in its
    CONSIDERATION-branch form (bin/exclude_duplicates:78-93 — the seen-set
    variant; batch twin ``exclude_duplicates(first_seen_skip=True)``) as
    ``applyInPandasWithState`` per url — exact-simhash repeats are
    suppressed against an ever-growing seen-set, and a row survives only
    when its Hamming distance to the PREVIOUS first-seen simhash exceeds
    ``threshold`` (prev starts at 0 and updates on every first-seen row,
    emitted or not — the reference quirk).  The seen-set rule is the right
    one for a stream (it is what makes the state idempotent under replay);
    the no-consideration lag-only branch is batch-only.

    State per url: (prev simhash, seen-set).  The seen-set is CAPPED at
    ``state_cap`` values (~32 KB) — beyond it, exact repeats of *old* hashes
    may re-emit, a bounded-memory trade every streaming dedup makes; the
    batch path (LSH + CC) is the exhaustive channel.

    TOTAL state (the url COUNT, which per-key caps don't bound) is bounded
    by ``state_ttl_hours``: a url whose last event is that far behind the
    watermark has its state evicted via an event-time timeout — without
    it, a continuous crawl over millions of distinct urls grows the state
    store without bound.  Eviction trades exact D1 parity for the bound: a
    url resurfacing after the TTL restarts its prev/seen history, and
    archival EVENT time gaps of months are normal in TimeMaps — so the
    default is ``None`` (exact parity, unbounded url count) and continuous
    multi-tenant deployments opt in (e.g. 720 = 30 days).

    Parity note: D1 is an order-of-arrival rule; exact batch equivalence
    holds when rows arrive per-url in (warc_ts, urim) order.  A url group is
    delivered as MULTIPLE Arrow chunks when it exceeds
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k), and the
    chunks carry no ordering guarantee — so the whole micro-batch group is
    buffered and sorted ONCE before the sequential scan.  Memory bound =
    one url's rows within one micro-batch (4 narrow columns), the same bound
    the state itself already implies."""
    import pandas as pd

    columns = ["url", "warc_ts", "urim", "raw_simhash"]

    ttl_ms = (int(state_ttl_hours * 3_600_000)
              if state_ttl_hours is not None else None)

    def dedup_fn(key, pdf_iter, state):
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict (bounds TOTAL state in #urls)
            state.remove()
            return
        prev, seen_list = state.get if state.exists else (0, [])
        seen = set(int(h) for h in seen_list)
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["warc_ts", "urim"], kind="mergesort")
            for row in pdf.itertuples(index=False):
                h = int(row.raw_simhash)
                if h in seen:
                    continue
                if len(seen) < state_cap:
                    seen.add(h)
                if ((h ^ prev) & 0xFFFFFFFFFFFFFFFF).bit_count() / 64 > threshold:
                    out.append((row.url, row.warc_ts, row.urim, h))
                prev = h
        state.update((prev, sorted(seen)))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl_ms)
        if out:
            yield pd.DataFrame(out, columns=columns)

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (
        # error rows (null simhash: absent content) carry no dedup signal
        # and would crash the int() in the kernel — same exclusion the
        # batch D1 operator's window semantics imply.  The gate tests html,
        # as in streaming_near_dup_suppression: a filter on the UDF output
        # would evaluate the UDF a second time below the projection.
        enriched.filter(F.col("html").isNotNull())
        .select("url", "warc_ts", "urim", "raw_simhash")
        .groupBy("url")
        .applyInPandasWithState(
            dedup_fn, DEDUP_OUT_SCHEMA, DEDUP_STATE_SCHEMA,
            "append", timeout,
        )
    )


def streaming_exact_dedup_batch_equivalent(pages: DataFrame) -> DataFrame:
    """The same logical dedup as the stream (url+simhash first-occurrence),
    expressed on a batch frame — used for correctness checks."""
    from pyspark.sql import Window

    enriched = enrich_pages(pages, PAGE_OUTPUTS)
    window = Window.partitionBy("url", "raw_simhash").orderBy("warc_ts", "urim")
    # html gate, not raw_simhash — see streaming_near_dup_suppression: the
    # simhash UDF is null-preserving, so the gates are equivalent, and the
    # input-column filter pushes to the scan instead of duplicating the UDF
    # below the widen exchange (guide §4.4; this plan showed two
    # raw-simhash evaluations, one single-threaded, before the change)
    return (
        enriched.filter(F.col("html").isNotNull())
        .withColumn("_occ", F.row_number().over(window))
        .filter(F.col("_occ") == 1)
        .drop("_occ")
    )


def streaming_incremental_candidates(
    enriched: DataFrame,
    base_bands: DataFrame,
    num_perm: int = 128,
    shingle_words: int = 5,
    bands: int = 32,
    seed: int = 1234567,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Continuous ingest against a deduped corpus: a STREAM-STATIC equi-join
    of each micro-batch's minhash bands against the checkpointed base band
    table (operators/incremental.py is the batch twin of this plan).

    Emits (id_new, id_base, warc_ts) candidate pairs — new-vs-corpus only;
    new-vs-new pairs within and across micro-batches belong to the periodic
    batch `ingest` merge, which also owns cluster assignment (CC needs the
    whole edge set; a stream emits candidates, not components).

    Scale shape: the band UDF is stateless map-side work on the stream; the
    join is Spark's native stream-static join (the static side is re-read
    per micro-batch — on a real deployment point it at the bucketed/Iceberg
    `bands` stage table so the join prunes partitions by band key); the
    hot-bucket cap is applied STATICALLY to the base side (a stream cannot
    window-count its own future), so a boilerplate mega-bucket never fans a
    micro-batch out; pair-level dedup state is bounded by the watermark via
    ``dropDuplicatesWithinWatermark``.

    ``enriched``: output of :func:`build_streaming_enrichment` (carries the
    event-time watermark; rows with empty tokens are dropped — they have no
    shingle signature)."""
    from ..functions.udfs import make_minhash_bands_udf

    udf = make_minhash_bands_udf(num_perm, shingle_words, bands, seed)
    new_bands = (
        enriched
        .filter(F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        .select(F.xxhash64("urim").alias("id_new"), "warc_ts",
                F.posexplode(udf(F.col("tokens"))).alias("band", "band_hash"))
    )
    # The static subplan re-evaluates EVERY micro-batch, so the hot-bucket
    # cap must not be a corpus-wide window count inside it (that would
    # shuffle the whole base band table per trigger — the stream could
    # never keep up).  Instead the OVERFLOWING bucket keys — a tiny frame,
    # #hot-buckets rows — are computed once and persisted for the stream's
    # lifetime; each micro-batch then drops them with a map-side broadcast
    # anti-join.  The base is a committed checkpoint stage (immutable until
    # the next promote rebuilds the stream), so caching it is sound.
    from ..operators.lsh import overflowing_buckets
    from ..session import pin_for_session

    hot_keys = pin_for_session(
        overflowing_buckets(base_bands, ["band", "band_hash"],
                            max_bucket_size)
        .select("band", "band_hash")
    )
    bounded_base = (
        base_bands.join(F.broadcast(hot_keys), ["band", "band_hash"],
                        "left_anti")
        .withColumnRenamed("id", "id_base")
    )
    return (
        new_bands.join(bounded_base, ["band", "band_hash"])
        .filter(F.col("id_new") != F.col("id_base"))
        .select("id_new", "id_base", "warc_ts")
        .dropDuplicatesWithinWatermark(["id_new", "id_base"])
    )
