"""Physical-plan regression tests — the scale story is enforced, not hoped:

- on an already-wide input (the 100 TB cluster-scan regime) the whole
  pairwise measure suite compiles to exactly ONE exchange (hash on urit) and
  one sort (the window's), with all text UDFs fused into a single
  ArrowEvalPython node;
- on a narrow input (one small local file) prepare_pages widens the scan
  round-robin BEFORE the Python UDFs, so enrichment parallelizes — that adds
  exactly one round-robin exchange and nothing else;
- the parquet scan prunes to the columns the query needs;
- LSH candidate generation contains no join (collect+expand shape), and
  operators/lsh.py is the only module that builds that shape or applies
  the hot-bucket cap;
- no Python node evaluates a Python UDF over another Python UDF's output
  in the detect report, story's metadata or the dedup docs stage, so each
  document crosses into Python once per pass.
"""

import pathlib
import re

import off_topic_memento_toolkit_spark as package
from off_topic_memento_toolkit_spark.operators.lsh import (
    candidate_pairs_from_buckets,
    minhash_band_table,
)
from off_topic_memento_toolkit_spark.operators.measures import (
    score_timemap_measures,
)
from off_topic_memento_toolkit_spark.queries import (
    make_sql_query,
    pages_from_documents,
)

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# nodes a row passes through without leaving its pipeline
PIPELINED = ("Project", "Filter", "ArrowEvalPython", "ColumnarToRow",
             "InputAdapter", "WholeStageCodegen")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _plan_nodes(plan):
    """Every node of a JVM physical plan once, cached relations' plans and
    adaptive plans included."""
    nodes, seen, stack = [], set(), [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if node.id() in seen:
            continue
        seen.add(node.id())
        nodes.append(node)
        if node.nodeName() == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        stack += _seq(node.children())
    return nodes


def _arrow_nodes(plan):
    return [node for node in _plan_nodes(plan)
            if node.nodeName() == "ArrowEvalPython"]


def _has_python_udf(expr):
    return expr.nodeName() == "PythonUDF" or any(
        _has_python_udf(child) for child in _seq(expr.children()))


def _reference_ids(expr):
    return {attr.exprId().id() for attr in _seq(expr.references().toSeq())}


def _python_derived_ids(node):
    """Ids of the attributes ``node``'s pipeline computes from a Python
    UDF's output (a window, exchange or cache below ends the pipeline)."""
    name = node.nodeName()
    if not name.startswith(PIPELINED):
        return set()
    derived = set().union(*map(_python_derived_ids, _seq(node.children())))
    if name == "ArrowEvalPython":
        derived |= {attr.exprId().id() for attr in _seq(node.resultAttrs())}
    elif name == "Project":
        derived |= {expr.exprId().id() for expr in _seq(node.projectList())
                    if _reference_ids(expr) & derived}
    return derived


def chained_python_udfs(plan):
    """The UDFs some ArrowEvalPython node of the JVM ``plan`` evaluates over
    another Python UDF's output: a nested call, or an argument its own
    pipeline derives from a lower Python node's output."""
    chained = []
    for node in _arrow_nodes(plan):
        derived = _python_derived_ids(node.child())
        for udf in _seq(node.udfs()):
            args = _seq(udf.children())
            if any(_has_python_udf(arg) or _reference_ids(arg) & derived
                   for arg in args):
                chained.append(udf.toString())
    return chained


def _jplan(df):
    return df._jdf.queryExecution().executedPlan()


def _arrow_udf_types(plan):
    """Return types of the UDFs the JVM ``plan``'s ArrowEvalPython nodes
    run."""
    return [udf.dataType().simpleString() for node in _arrow_nodes(plan)
            for udf in _seq(node.udfs())]


def _wide(spark, pages):
    """Pre-widen the input so prepare_pages sees the cluster-scan regime."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pages.repartition(n)


MEASURES = ("bytecount", "wordcount", "jaccard", "sorensen",
            "raw_simhash", "tf_simhash")


def test_measure_suite_single_exchange_wide_input(spark):
    pages = _wide(spark, pages_from_documents(spark, SF_DIR))
    plan = _executed_plan(score_timemap_measures(pages, measures=MEASURES))
    # wide regime: the window's hash shuffle is the ONLY keyed exchange
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    assert len(re.findall(r"\+- Sort ", plan)) == 1


def test_measure_suite_narrow_input_parallelizes_udfs(spark):
    pages = pages_from_documents(spark, SF_DIR)  # 1-partition parquet scan
    plan = _executed_plan(score_timemap_measures(pages, measures=MEASURES))
    # narrow regime: one extra ROUND-ROBIN widen below the UDFs, still one
    # keyed exchange; the UDF node must sit ABOVE the round-robin exchange
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"Exchange RoundRobinPartitioning", plan)) == 1
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    udf_pos = plan.index("ArrowEvalPython")
    rr_pos = plan.index("Exchange RoundRobinPartitioning")
    assert udf_pos < rr_pos  # executed-plan strings print consumers first


def test_scan_prunes_columns(spark):
    query = make_sql_query("bytecount_vs_first")
    plan = _executed_plan(query(spark, SF_DIR))
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert scans, plan
    # only doc_id and text are needed; lang/source/n_chars must be pruned
    for scan in scans:
        assert "lang" not in scan and "source" not in scan


def test_lsh_candidates_no_join(spark):
    pages = _wide(spark, pages_from_documents(spark, SF_DIR))
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    docs = prepare_pages(pages, need_raw_simhash=False, need_tf_simhash=False)
    bands = minhash_band_table(docs, id_col="urim", tokens_col="tokens")
    pairs = candidate_pairs_from_buckets(bands)
    plan = _executed_plan(pairs)
    assert "Join" not in plan, plan
    # the size-gate window and the collect_list groupBy share one hash
    # exchange; the expand-late member-set dedup adds a second (short-array
    # rows, one per bucket — strictly smaller than the band table) and the
    # pair distinct the third — nothing else shuffles
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    # the spill-safe gate sits BEFORE the collect: Window below HashAggregate
    assert plan.index("HashAggregate") < plan.index("Window")  # printed top-down


def test_only_lsh_turns_buckets_into_pairs():
    """Every candidate channel (MinHash, SimHash, incremental, streaming,
    embedding) goes through lsh.bucket_pairs / lsh.overflowing_buckets: the
    bucket gate's collect_list, the pair-expand expression and the
    over-the-cap comparison appear in no other module."""
    root = pathlib.Path(package.__file__).parent
    pattern = re.compile(
        r"collect_list\(|pair_expand|flatten\(transform\(|> max_bucket_size")
    sites = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "lsh.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not sites, sites


def test_slice_by_datetime_no_single_partition_sort(spark):
    """W3's global rank must come from the distributed two-phase ranking:
    no Exchange SinglePartition (the old all-to-one Window) anywhere, and
    the slice ids must equal a brute-force single-window rendition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from off_topic_memento_toolkit_spark.operators.curation import (
        slice_by_datetime,
    )

    meta = spark.range(1200).select(
        F.concat(F.lit("u"), F.format_string("%05d", F.col("id"))).alias("urim"),
        F.lit("t").alias("urit"),
        (F.col("id") % 37).alias("simhash"),
        F.timestamp_seconds(F.lit(1700000000) + (F.col("id") * 7919) % 100000)
        .alias("memento_datetime"),
    ).repartition(13)  # adversarial input layout

    out = slice_by_datetime(meta)
    plan = _executed_plan(out)
    assert "Exchange SinglePartition" not in plan, plan

    got = {r.urim: (r.global_position, r.slice_id) for r in out.collect()}

    # brute-force oracle: literal single-window arithmetic (test-only)
    import math
    n = meta.count()
    slice_count = n if n <= 28 else math.floor(28 + math.log10(n))
    ips = n // slice_count
    w = Window.orderBy("memento_datetime", "urim")
    brute = meta.withColumn("_i", F.row_number().over(w) - 1)
    expect = {}
    for r in brute.collect():
        sid = 0 if r._i == 0 else math.ceil(r._i / ips)
        if r._i == 0 or sid * ips <= n - 1:
            expect[r.urim] = (r._i, sid)
    assert got == expect


def test_detect_report_runs_no_chained_python_udf(spark):
    """The detect report's enrichment is ONE ArrowEvalPython node with ONE
    UDF: extract, tokenize, both simhashes, top-20 and the cosine tokens
    come from one pass per row; Levenshtein reads it after the window."""
    from off_topic_memento_toolkit_spark.plans.pipeline import (
        detect_off_topic,
    )
    from off_topic_memento_toolkit_spark.queries import ALL_MEASURES
    from off_topic_memento_toolkit_spark.session import session_pins_scope
    from off_topic_memento_toolkit_spark.sources.sinks import detect_report

    pages = pages_from_documents(spark, SF_DIR)
    with session_pins_scope():
        result = detect_off_topic(pages, measures=ALL_MEASURES)
        plan = _jplan(detect_report(result["scores"], result["meta"]))
        chained = chained_python_udfs(plan)
        enrichment = [[udf.name() for udf in _seq(node.udfs())]
                      for node in _arrow_nodes(plan)
                      if "enrich_udf" in node.udfs().toString()]
    assert not chained, chained
    assert enrichment == [["enrich_udf"]], enrichment


def test_story_metadata_computes_raw_simhash_only(spark):
    from off_topic_memento_toolkit_spark.operators.measures import (
        memento_metadata,
    )

    plan = _jplan(memento_metadata(pages_from_documents(spark, SF_DIR)))
    assert not chained_python_udfs(plan)
    assert _arrow_udf_types(plan) == ["struct<raw_simhash:bigint>"]


def test_dedup_stream_computes_raw_simhash_only(spark, tmp_path):
    """``stream --mode dedup`` reads the raw simhash alone, so its one
    Python UDF neither extracts nor tokenizes."""
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        MODE_OUTPUTS,
        build_streaming_enrichment,
        streaming_sequential_dedup,
    )

    src = str(tmp_path / "src")
    generate_pages(spark, n_urls=3, mementos_per_url=2, skew=False,
                   error_rows=False).write.parquet(src)
    stream = build_streaming_enrichment(spark, src,
                                        outputs=MODE_OUTPUTS["dedup"])
    query = (streaming_sequential_dedup(stream)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
    query.awaitTermination(120)
    plan = query._jsq.streamingQuery().lastExecution().executedPlan()
    assert _arrow_udf_types(plan) == ["struct<raw_simhash:bigint>"]


def test_dedup_docs_stage_one_python_node(spark):
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_docs

    plan = _jplan(dedup_docs(pages_from_documents(spark, SF_DIR)))
    assert not chained_python_udfs(plan)
    assert len(_arrow_nodes(plan)) == 1


def test_chained_udf_guard_sees_nested_and_stacked_chains(spark):
    """The guard flags a UDF over another UDF's whole output and one over
    a projection of it; a window in between ends the pipeline."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def shout(values: pd.Series) -> pd.Series:
        return values.str.upper()

    df = spark.createDataFrame([("a", "x")], "key string, word string")
    nested = df.select(shout(shout("word")).alias("out"))
    stacked = (df.withColumn("loud", shout("word"))
               .select(shout(F.concat("loud", F.lit("!"))).alias("out")))
    windowed = (df.withColumn("loud", shout("word"))
                .withColumn("first", F.first("loud").over(
                    Window.partitionBy("key").orderBy("word")))
                .select(shout("first").alias("out")))
    assert len(chained_python_udfs(_jplan(nested))) == 1
    assert len(chained_python_udfs(_jplan(stacked))) == 1
    assert chained_python_udfs(_jplan(windowed)) == []
