"""Timeline (TimeMap) construction over the ``pages`` table.

Reference model: mementos grouped per original URL, ordered by
(memento-datetime, URI-M) with the URI string breaking datetime ties
(otmt/collectionmodel.py:196-203, otmt/input_types.py:114-135).  The "first
memento" anchor every measure compares against (otmt/timemap_measures.py:148)
is a window ``first_value`` — no join, one shuffle on the group key.

URI synthesis (otmt/input_types.py:105-108,160-162):
    urim = from-warc::{yyyyMMddHHmmss}::{url}
    urit = from-warc::timemap::{url}
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textprep import TEXT_OUTPUTS
from ..functions.udfs import make_enrich_udf


def with_memento_identity(pages: DataFrame) -> DataFrame:
    """Add urim/urit columns derived from (url, warc_ts)."""
    return pages.withColumn(
        "urim",
        F.concat(
            F.lit("from-warc::"),
            F.date_format("warc_ts", "yyyyMMddHHmmss"),
            F.lit("::"),
            F.col("url"),
        ),
    ).withColumn("urit", F.concat(F.lit("from-warc::timemap::"), F.col("url")))


def timeline_window() -> Window:
    """Per-TimeMap order: (warc_ts, urim) — the reference's tuple sort with
    the URI tie-break (otmt/collectionmodel.py:198-203)."""
    return Window.partitionBy("urit").orderBy("warc_ts", "urim")


def first_over_timeline(column: str) -> Column:
    """First memento's value of ``column`` within the timeline (running frame,
    so it pipelines in one window pass with no extra join)."""
    window = (
        timeline_window()
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.first(column, ignorenulls=False).over(window)


# the enrichment struct a :func:`prepare_pages` frame carries beside its
# flattened columns; :func:`..operators.lsh.minhash_band_table` is its reader
ENRICHMENT_STRUCT = "_enrichment"


def prepare_pages(
    pages: DataFrame,
    need_raw_simhash: bool = True,
    need_tf_simhash: bool = True,
) -> DataFrame:
    """:func:`enrich_pages` with text, tokens and the simhashes on demand,
    plus the outputs' struct as the :data:`ENRICHMENT_STRUCT` column.

    Spark runs a Python UDF in the node of the UDF it reads only when it
    takes that UDF's whole output, so a per-document kernel that takes the
    struct (the MinHash band table) adds no Python pass.  The struct holds
    every output a second time: select columns before a pin or a write."""
    optional = {"raw_simhash": need_raw_simhash,
                "tf_simhash": need_tf_simhash}
    return _enrich(pages, ["text", "tokens"] + [
        name for name, needed in optional.items() if needed])


def enrich_pages(pages: DataFrame, outputs) -> DataFrame:
    """One-pass enrichment computed ONCE and shared by every measure — the
    structural win over the reference, which re-reads and re-tokenizes each
    memento per measure (otmt/timemap_measures.py:194-197; SURVEY §4.1).

    Adds urim, urit, raw_len and one column per name in ``outputs`` (the
    enrichment outputs of :mod:`..functions.udfs`, all from ONE Python UDF
    call per row), plus n_tokens with ``tokens``.  ``text`` fills a null or
    absent text column from html (the reference's lazy derive+memoize,
    otmt/collectionmodel.py:440-469).  Ask only for what the caller reads:
    a later ``persist`` defeats Catalyst's column pruning, and the UDF
    computes every output it is asked for.
    """
    return _enrich(pages, outputs).drop(ENRICHMENT_STRUCT)


def _enrich(pages: DataFrame, outputs) -> DataFrame:
    df = with_memento_identity(pages)

    # Python enrichment cost tracks ROWS, not bytes: a narrow parquet scan
    # (one small file → one partition) would serialize every UDF on one core.
    # When the input is small, widen it ROUND-ROBIN before the UDFs: (a)
    # hash-by-urit would put a viral host's whole timeline on one core
    # exactly where the work is heaviest, and (b) ArrowEvalPython does not
    # propagate outputPartitioning in Spark 4, so a keyed pre-shuffle could
    # never be reused by the measure window anyway — the window's own
    # exchange then moves enriched columns as usual.
    #
    # The widen decision is PLAN-ONLY (optimizer size estimate): the old
    # ``df.rdd.getNumPartitions()`` probe forced plan EXECUTION under AQE —
    # eagerly running every upstream shuffle stage and broadcast build whose
    # results the real action then could not reuse (measured: the
    # dedupe_pages duplicate-key aggregation executed twice per dedup run,
    # and at corpus scale the probe would pre-run a full narrow scan).
    # Heuristic: widen iff the estimated input is smaller than one full
    # shuffle round (shuffle_partitions × maxPartitionBytes) AND the plan
    # is not already explicitly partitioned to the shuffle width.  A
    # 100 TB cluster scan exceeds the threshold at any sane conf → no
    # extra exchange in the wide regime (plan-asserted); a small input's
    # round-robin costs MBs.  Narrow-but-huge sources (one unsplittable
    # gzip) must widen at the source layer — bytes alone can't see them.
    # Streams can't repartition mid-plan.
    if not df.isStreaming:
        conf = df.sparkSession.conf
        shuffle_n = int(conf.get("spark.sql.shuffle.partitions"))
        jutils = df._sc._jvm.org.apache.spark.network.util.JavaUtils
        max_pb = jutils.byteStringAsBytes(
            str(conf.get("spark.sql.files.maxPartitionBytes", "134217728")))
        qe = df._jdf.queryExecution()
        est_bytes = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        already_wide = (
            qe.sparkPlan().outputPartitioning().numPartitions() == shuffle_n)
        if est_bytes < shuffle_n * max_pb and not already_wide:
            df = df.repartition(shuffle_n)

    has_text = "text" in df.columns and TEXT_OUTPUTS & set(outputs)
    enriched = make_enrich_udf(outputs)(
        F.col("html"),
        F.col("text") if has_text else F.lit(None).cast("string"))
    field = F.col(ENRICHMENT_STRUCT).getField
    columns = {"text": field("text")} if "text" in outputs else {}
    columns["raw_len"] = F.octet_length("html")
    if "tokens" in outputs:
        columns.update(tokens=field("tokens"), n_tokens=F.size(field("tokens")))
    for name in ("raw_simhash", "tf_simhash", "top20", "tokens_cos"):
        if name in outputs:
            columns[name] = field(name)
    return df.withColumn(ENRICHMENT_STRUCT, enriched).withColumns(columns)
