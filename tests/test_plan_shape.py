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
- the storeless dedup pipeline pairs both candidate channels through one
  bucket exchange (3 hash exchanges in its candidate stage), and its band
  UDF runs once over the docs pin with no inferred filter below the
  exchange;
- no Python node evaluates a Python UDF over another Python UDF's output
  in the detect report, story's metadata or the dedup docs stage, so each
  document crosses into Python once per pass;
- the detect report shuffles timelines once, into its enrichment pin, and
  the anchor window and the group kernels read that pin with no exchange;
  a ``pages:`` report's distributed write adds no window;
- story ranks its rows once and shuffles them once by slice;
- one ``detect`` and one ``story`` run stay within their Spark job counts.
"""

import pathlib
import re

import pytest

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


def _unwrapped(node):
    """``node``, or the plan an adaptive plan or a query stage runs."""
    while True:
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        elif node.nodeName().endswith("QueryStage"):
            node = node.plan()
        else:
            return node


def _plan_nodes(plan):
    """Every node of a JVM physical plan once, cached relations' plans,
    adaptive plans and query stages included."""
    nodes, seen, stack = [], set(), [plan]
    while stack:
        node = _unwrapped(stack.pop())
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


BUCKET_HASH = re.compile(r"hashpartitioning\(key#\d+, value#\d+L?, \d+\)")


def _stage_nodes(plan):
    """Every node of a JVM physical plan once, adaptive plans and query
    stages included, stopping at cached relations (their own plans are
    not part of the stage)."""
    nodes, seen, stack = [], set(), [plan]
    while stack:
        node = _unwrapped(stack.pop())
        if node.id() in seen:
            continue
        seen.add(node.id())
        nodes.append(node)
        if node.nodeName() != "InMemoryTableScan":
            stack += _seq(node.children())
    return nodes


def _feeding_exchange(node):
    """The first exchange down ``node``'s one input chain."""
    while node.nodeName() != "Exchange":
        (child,) = _seq(node.children())
        node = _unwrapped(child)
    return node


@pytest.fixture(scope="module")
def dedup_candidate_stage(spark):
    """The nodes of the executed candidate stage of one storeless
    ``dedup_pipeline`` run: the plan that fills its candidates pin, down to
    the docs pin."""
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
    from off_topic_memento_toolkit_spark.session import (
        _SESSION_PINS,
        session_pins_scope,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=12, mementos_per_url=4, skew=False,
                           error_rows=False, dup_rate=0.6)
    with session_pins_scope():
        earlier = list(_SESSION_PINS)
        dedup_pipeline(pages).collect()
        (candidates,) = [df for df in _SESSION_PINS
                         if not any(df is e for e in earlier)
                         and df.columns == ["id_a", "id_b"]]
        assert candidates.count()  # AQE prunes the stages of empty inputs
        scan = _unwrapped(_jplan(candidates))
        return _stage_nodes(scan.relation().cachedPlan())


def test_dedup_candidates_one_bucket_exchange(dedup_candidate_stage):
    """Both channels' keys go through one exchange on the bucket key, which
    feeds the size-gate window and the collect_list; the member-set and
    pair distincts are the stage's only other hash exchanges."""
    nodes = dedup_candidate_stage
    hashed = [node for node in nodes if node.nodeName() == "Exchange"
              and node.outputPartitioning().toString()
              .startswith("hashpartitioning")]
    assert len(hashed) == 3, [n.outputPartitioning().toString()
                              for n in hashed]
    bucket = [node for node in hashed
              if BUCKET_HASH.fullmatch(node.outputPartitioning().toString())]
    assert len(bucket) == 1, [n.outputPartitioning().toString()
                              for n in hashed]
    gates = [node for node in nodes if node.nodeName() == "Window"]
    collects = [node for node in nodes
                if node.nodeName().endswith("HashAggregate")
                and "collect_list(" in node.simpleString(25)]
    assert len(gates) == 1 and collects
    assert all(_feeding_exchange(node).id() == bucket[0].id()
               for node in gates + collects)


def test_dedup_band_udf_runs_once_over_the_docs_pin(dedup_candidate_stage):
    """Guards the session's InferFiltersFromGenerate exclusion: without it
    the optimizer infers a non-empty filter on the band UDF's array below
    the band explode and pushes it onto the docs pin, so the band UDF is
    evaluated twice per document."""
    nodes = dedup_candidate_stage
    band_nodes = [node for node in nodes
                  if node.nodeName() == "ArrowEvalPython"
                  and any("minhash_bands_udf" in udf.toString()
                          for udf in _seq(node.udfs()))]
    assert len(band_nodes) == 1, [n.simpleString(25) for n in band_nodes]
    (bucket,) = [node for node in nodes if node.nodeName() == "Exchange"
                 and BUCKET_HASH.fullmatch(
                     node.outputPartitioning().toString())]
    filters = [node.simpleString(25) for node in _stage_nodes(bucket)
               if node.nodeName() == "Filter"]
    assert not filters, filters


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


def test_only_count_matrix_builds_a_vocabulary():
    """The whole-timeline measures share one count build per token column:
    in groupkernels.py only _count_matrix factorizes tokens into a
    vocabulary and counts them; the fits and the kernel loop over no
    tokens."""
    import ast

    path = pathlib.Path(package.__file__).parent / "operators" / "groupkernels.py"
    lines = path.read_text().splitlines()
    build = next(node for node in ast.parse(path.read_text()).body
                 if isinstance(node, ast.FunctionDef)
                 and node.name == "_count_matrix")
    own = range(build.lineno, build.end_lineno + 1)
    pattern = re.compile(
        r"factorize\(|np\.unique\(|bincount\(|sorted\(\{|\bfor \w+ in tokens\b")
    sites = [n for n, line in enumerate(lines, 1)
             if pattern.search(line) and n not in own]
    assert not sites, sites
    assert any(pattern.search(lines[n - 1]) for n in own)


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


URIT_HASH = re.compile(r"hashpartitioning\(urit#\d+, \d+\)")


def _reads_pin_directly(node):
    """Whether ``node``'s one input chain reaches a cached relation with
    no exchange (and no join or union) on the way."""
    while True:
        children = _seq(node.children())
        if len(children) != 1:
            return False
        node = _unwrapped(children[0])
        if node.nodeName() == "InMemoryTableScan":
            return True
        if node.nodeName() == "Exchange":
            return False


def test_detect_report_shuffles_timelines_once_into_the_pin(spark):
    """The report's one urit shuffle is the enrichment pin's own
    repartition; the first-memento window and the group kernels read the
    pin with no exchange of their own (checked on the executed adaptive
    plan: the pin's layout is known once it is filled)."""
    from off_topic_memento_toolkit_spark.plans.pipeline import (
        detect_off_topic,
    )
    from off_topic_memento_toolkit_spark.queries import ALL_MEASURES
    from off_topic_memento_toolkit_spark.session import session_pins_scope
    from off_topic_memento_toolkit_spark.sources.sinks import detect_report

    pages = pages_from_documents(spark, SF_DIR)
    with session_pins_scope():
        result = detect_off_topic(pages, measures=ALL_MEASURES)
        report = detect_report(result["scores"], result["meta"])
        report.collect()
        nodes = _plan_nodes(_jplan(report))
        pinned = {node.id() for scan in nodes
                  if scan.nodeName() == "InMemoryTableScan"
                  for node in _plan_nodes(scan.relation().cachedPlan())}
    urit = [node for node in nodes if node.nodeName() == "Exchange"
            and URIT_HASH.fullmatch(node.outputPartitioning().toString())]
    assert len(urit) == 1 and urit[0].id() in pinned, \
        [node.toString() for node in urit]
    readers = [node for node in nodes
               if node.nodeName() == "FlatMapGroupsInPandas"
               or node.nodeName() == "Window"
               and [e.toString().split("#")[0]
                    for e in _seq(node.partitionSpec())] == ["urit"]]
    assert len(readers) == 2, [node.nodeName() for node in readers]
    assert all(_reads_pin_directly(node) for node in readers), \
        [node.toString() for node in readers]


def test_pages_report_distributed_write_adds_no_window(
        spark, tmp_path, monkeypatch):
    """A ``pages:`` input has no access errors, so the ``json-dist``
    writer writes the pinned report as it is: no window above the pin
    (the collapse of access-error rows belongs to reports that have
    them)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from off_topic_memento_toolkit_spark.plans.pipeline import (
        detect_off_topic,
    )
    from off_topic_memento_toolkit_spark.session import (
        pin_for_session,
        session_pins_scope,
    )
    from off_topic_memento_toolkit_spark.sources.sinks import (
        REPORT_WRITERS,
        detect_report,
    )

    plans = []
    write_json = DataFrameWriter.json

    def capturing(self, *args, **kwargs):
        plans.append(_executed_plan(self._df))
        return write_json(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "json", capturing)
    pages = pages_from_documents(spark, SF_DIR)
    with session_pins_scope():
        result = detect_off_topic(pages, measures=("wordcount", "cosine"))
        report = pin_for_session(
            detect_report(result["scores"], result["meta"]))
        REPORT_WRITERS["json-dist"](report, str(tmp_path / "out"))
    lines = plans[0].splitlines()
    pin = next(i for i, line in enumerate(lines) if "InMemoryRelation" in line)
    assert not [line for line in lines[:pin] if "Window" in line], plans[0]


def test_story_ranks_once_and_shuffles_slices_once(spark):
    """Story's clusters come from windows over one ``slice_id`` shuffle:
    the ranked layout is read once (one ranking-offset aggregate, no
    join of it with itself) and the cluster and representative windows
    share that one exchange."""
    from pyspark.sql import functions as F

    from off_topic_memento_toolkit_spark.plans.pipeline import story_pipeline

    meta = spark.range(600).select(
        F.concat(F.lit("from-warc::20160101000000::http://news.example/"),
                 F.format_string("%05d", F.col("id"))).alias("urim"),
        F.concat(F.lit("t"), (F.col("id") % 40).cast("string")).alias("urit"),
        (F.col("id") % 7 * 1_000_003).alias("simhash"),
        F.timestamp_seconds(F.lit(1700000000) + (F.col("id") * 7919) % 100000)
        .alias("memento_datetime"),
    )
    plan = _executed_plan(story_pipeline(meta))
    offsets = re.findall(
        r"HashAggregate\(keys=\[_pid#\d+L?\], functions=\[count\(1\)\]", plan)
    assert len(offsets) == 1, plan
    join_keys = re.findall(r"Join \[([^\]]*)\]", plan)
    assert [keys.split("#")[0] for keys in join_keys] == ["_pid"], join_keys
    assert len(re.findall(r"hashpartitioning\(slice_id#", plan)) == 1, plan


# Spark jobs one run of each command fires on the fixture below, measured
# with local[4] and 4 shuffle partitions; a plan change that adds jobs
# must raise these on purpose
DETECT_JOBS = 11
STORY_JOBS = 11


def test_detect_and_story_job_counts(spark, tmp_path):
    from off_topic_memento_toolkit_spark import cli
    from off_topic_memento_toolkit_spark.operators.measures import (
        MEASURE_REGISTRY,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    src = str(tmp_path / "pages")
    generate_pages(spark, n_urls=12, mementos_per_url=4, skew=False,
                   error_rows=False).write.parquet(src)
    sc = spark.sparkContext

    def jobs(group, argv):
        sc.setJobGroup(group, group)
        try:
            cli.main(argv, spark=spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    detect = jobs("test-detect-jobs", [
        "detect", "-i", f"pages:{src}", "-o", str(tmp_path / "scores"),
        "-ot", "json-dist", "-tm", ",".join(sorted(MEASURE_REGISTRY)),
        "--ontopic-list", str(tmp_path / "on")])
    story = jobs("test-story-jobs", [
        "story", "-i", f"pages:{src}", "-o", str(tmp_path / "story")])
    assert detect <= DETECT_JOBS and story <= STORY_JOBS, (detect, story)
