"""``detect`` scores once and writes many: every output it writes reads one
pinned report, the report's Python work runs once, the outputs equal the
library writers' over unpinned frames, and the command (like ``dedup``,
``story`` and ``ingest``) leaves a caller-owned session's pins as it found
them."""

import csv
import glob
import json
import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from off_topic_memento_toolkit_spark import cli, session
from off_topic_memento_toolkit_spark.operators.measures import (
    MEASURE_REGISTRY,
    memento_metadata,
    overall_status,
    score_timemap_measures,
    scores_with_metadata,
)
from off_topic_memento_toolkit_spark.session import (
    _SESSION_PINS,
    pin_for_session,
    release_persisted,
    release_session_pins,
)
from off_topic_memento_toolkit_spark.sources import sinks
from off_topic_memento_toolkit_spark.sources.datagen import (
    PAGES_SCHEMA,
    pangram_drift_rows,
)

ALL_MEASURES = sorted(MEASURE_REGISTRY)
# tfintersection's default votes every drift memento off-topic; this
# threshold leaves both URI-M lists non-empty
THRESHOLDS = {"tfintersection": 20.0}
MEASURE_SPEC = ",".join(
    f"{m}={THRESHOLDS[m]}" if m in THRESHOLDS else m for m in ALL_MEASURES)
PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas")


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _storage_kept(before, after, owned):
    """Nothing cached after a command that was not cached before it, and
    the caller's own cached RDDs survived.  Unrelated RDDs may go: Spark's
    cleaner drops persisted RDDs that earlier code stopped referencing."""
    return after <= before and owned <= after


def _run_cli(spark, argv):
    """``cli.main(argv)`` on the caller's session, recording the frames
    the command added to the session pin registry, which of them are still
    cached when it returns (checked at once: a later equal plan cached by
    anyone reads as cached too), and the storage and registry around the
    call."""
    made = []
    pin = session.pin_for_session

    def recording(df):
        registered = len(_SESSION_PINS)
        pinned = pin(df)
        if len(_SESSION_PINS) > registered:
            made.append(pinned)
        return pinned

    pins_before = [id(df) for df in _SESSION_PINS]
    storage_before = _persistent_rdds(spark)
    with pytest.MonkeyPatch.context() as mp:
        # operators import the helper when they run; cli at import time
        mp.setattr(session, "pin_for_session", recording)
        mp.setattr(cli, "pin_for_session", recording)
        cli.main(argv, spark=spark)
    return {
        "made": made,
        "still_cached": [df for df in made if df.storageLevel.useMemory
                         or df.storageLevel.useDisk],
        "pins_before": pins_before,
        "pins_after": [id(df) for df in _SESSION_PINS],
        "storage_before": storage_before,
        "storage_after": _persistent_rdds(spark),
    }


@pytest.fixture(scope="module")
def detect_run(spark, tmp_path_factory):
    """One ``detect -ot json-dist`` run with all 12 measures and both URI-M
    lists over the drift pages, on a session that holds two caller-owned
    pins.  Records the executed plan of every frame a writer runs, taken
    just before it runs."""
    root = tmp_path_factory.mktemp("detect_report")
    src = str(root / "pages")
    spark.createDataFrame(pangram_drift_rows(), schema=PAGES_SCHEMA) \
        .write.parquet(src)

    unrelated = _persistent_rdds(spark)
    caller_pin = pin_for_session(spark.range(10).selectExpr("id * 2 AS x"))
    caller_cache = spark.range(7).selectExpr("id + 1 AS y").persist()
    caller_pin.count()
    caller_cache.count()

    plans = []

    def capturing(method):
        def run(self, *args, **kwargs):
            df = self._df if isinstance(self, DataFrameWriter) else self
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return method(self, *args, **kwargs)
        return run

    out = {name: str(root / name) for name in ("scores", "on", "off")}
    with pytest.MonkeyPatch.context() as mp:
        for cls, name in ((DataFrameWriter, "json"), (DataFrameWriter, "csv"),
                          (DataFrameWriter, "text"), (DataFrame, "collect")):
            mp.setattr(cls, name, capturing(getattr(cls, name)))
        run = _run_cli(spark, [
            "detect", "-i", f"pages:{src}", "-o", out["scores"],
            "-ot", "json-dist", "-tm", MEASURE_SPEC,
            "--ontopic-list", out["on"], "--offtopic-list", out["off"]])

    yield {
        **run, "root": root, "src": src, "out": out, "plans": plans,
        "caller_rdds": run["storage_before"] - unrelated,
        "caller_frames": (caller_pin, caller_cache),
    }
    release_session_pins()
    release_persisted([caller_cache])


def _indent(line):
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(lines, i):
    """``lines[i]`` and the lines printed below it as its descendants."""
    j = i + 1
    while j < len(lines) and _indent(lines[j]) > _indent(lines[i]):
        j += 1
    return lines[i:j]


def _python_nodes(lines, seen):
    """Python-node lines of a plan with each cached relation counted once:
    a relation read by several branches prints its plan under every read."""
    nodes = []
    i = 0
    while i < len(lines):
        if "InMemoryRelation" in lines[i]:
            sub = _subtree(lines, i)
            key = "\n".join(line[_indent(lines[i]):] for line in sub[1:])
            if key not in seen:
                seen.add(key)
                nodes += _python_nodes(sub[1:], seen)
            i += len(sub)
            continue
        if PYTHON_NODE.search(lines[i]):
            nodes.append(lines[i].strip())
        i += 1
    return nodes


def _report_split(plan):
    """(lines above the report relation, the report relation's lines)."""
    lines = plan.splitlines()
    start = next(i for i, line in enumerate(lines)
                 if "InMemoryRelation" in line)
    report = _subtree(lines, start)
    assert start + len(report) == len(lines), \
        "the writer reads something besides the report:\n" + plan
    return lines[:start], report


def test_detect_writers_read_one_report_with_python_once(detect_run):
    plans = detect_run["plans"]
    assert len(plans) == 3, "json-dist + two URI-M lists"
    headers = set()
    for plan in plans:
        outside, report = _report_split(plan)
        assert not [line for line in outside if PYTHON_NODE.search(line)], \
            plan
        headers.add(report[0].strip())
    assert len(headers) == 1, "every writer must read the same report"

    # the first writer's plan is taken before anything ran, so every
    # adaptive plan in it is printed once (an executed one prints its
    # initial and final plans)
    nodes = _python_nodes(_report_split(plans[0])[1][1:], set())
    assert sum("FlatMapGroupsInPandas" in n for n in nodes) == 1, nodes
    for udf in ("enrich_udf", "token_levenshtein_udf"):
        assert sum(f"{udf}(" in n for n in nodes) == 1, (udf, nodes)


def _records(spark, path):
    rows = spark.read.json(path).collect()
    return sorted(
        tuple(sorted((k, round(v, 9) if isinstance(v, float) else v)
                     for k, v in row.asDict().items()))
        for row in rows)


def test_detect_outputs_equal_library_writers(spark, detect_run, tmp_path):
    pages = spark.read.parquet(detect_run["src"])
    scores = score_timemap_measures(pages, measures=ALL_MEASURES,
                                    thresholds=THRESHOLDS)
    overall = overall_status(scores)
    meta = memento_metadata(pages)
    want = str(tmp_path / "scores")
    sinks.save_as_json_distributed(scores, overall, want, meta=meta)
    got = _records(spark, detect_run["out"]["scores"])
    assert got and got == _records(spark, want)

    def lines(path):
        return sorted(r.value for r in spark.read.text(path).collect())

    for status, name in (("on-topic", "on"), ("off-topic", "off")):
        want = str(tmp_path / name)
        sinks.save_uri_list(overall, status, want)
        assert lines(want) and lines(detect_run["out"][name]) == lines(want)


def _read_output(output_type, path):
    """An output's content, independent of row order."""
    if output_type == "json":
        with open(path) as fh:
            return json.load(fh)
    if output_type == "csv-dist":
        records = []
        for part in glob.glob(f"{path}/*.csv"):
            with open(part) as fh:
                records.extend(tuple(sorted(r.items()))
                               for r in csv.DictReader(fh))
        return sorted(records)
    with open(path) as fh:
        return sorted(fh.read().splitlines())


@pytest.mark.parametrize("output_type",
                         ["json", "csv", "csv-dist", "goldstandard"])
def test_detect_output_types_equal_library_writers(
        spark, detect_run, tmp_path, output_type):
    got = str(tmp_path / "got")
    cli.main(["detect", "-i", f"pages:{detect_run['src']}", "-o", got,
              "-ot", output_type, "-tm", "wordcount,cosine"], spark=spark)

    pages = spark.read.parquet(detect_run["src"])
    scores = score_timemap_measures(pages, measures=("wordcount", "cosine"))
    overall = overall_status(scores)
    want = str(tmp_path / "want")
    if output_type == "goldstandard":
        sinks.save_as_goldstandard(overall, want)
    else:
        writer = {"json": sinks.save_as_json, "csv": sinks.save_as_csv,
                  "csv-dist": sinks.save_as_csv_distributed}[output_type]
        writer(scores, overall, want, meta=memento_metadata(pages))
    expected = _read_output(output_type, want)
    assert expected and _read_output(output_type, got) == expected


@pytest.fixture(scope="module")
def cli_runs(spark, detect_run):
    """``dedup`` (storeless), ``story`` and ``ingest`` (storeless increment
    over a checkpointed base) on the drift pages, on the session that
    still holds ``detect_run``'s caller-owned pins."""
    root = detect_run["root"]
    rows = pangram_drift_rows()
    base, increment = str(root / "base"), str(root / "increment")
    spark.createDataFrame(rows[:3], schema=PAGES_SCHEMA).write.parquet(base)
    spark.createDataFrame(rows[3:], schema=PAGES_SCHEMA) \
        .write.parquet(increment)
    checkpoint = str(root / "checkpoint")
    cli.main(["dedup", "-i", f"pages:{base}", "-o", str(root / "base_out"),
              "--checkpoint-dir", checkpoint], spark=spark)
    src = f"pages:{detect_run['src']}"
    return {
        "dedup": _run_cli(spark, ["dedup", "-i", src,
                                  "-o", str(root / "dedup")]),
        "story": _run_cli(spark, ["story", "-i", src,
                                  "-o", str(root / "story")]),
        "ingest": _run_cli(spark, [
            "ingest", "-i", f"pages:{increment}",
            "--base-checkpoint-dir", checkpoint, "-o", str(root / "ingest")]),
    }


def test_detect_releases_only_its_own_pins(spark, detect_run, cli_runs):
    """After each command returns, no frame it pinned is still cached or
    registered, and the caller's pins and caches made before it survive."""
    assert detect_run["caller_rdds"]
    caller_pin, caller_cache = detect_run["caller_frames"]
    for command, run in {"detect": detect_run, **cli_runs}.items():
        assert run["made"] and not run["still_cached"], command
        assert run["pins_after"] == run["pins_before"], command
        assert detect_run["caller_rdds"] <= run["storage_after"], command
        if command in ("detect", "story"):
            # dedup and ingest also leave the connected-components entry
            # checkpoint (localCheckpoint: lineage truncation, not a pin)
            assert run["storage_after"] <= run["storage_before"], command
    assert any(pin is caller_pin for pin in _SESSION_PINS)
    for frame in (caller_pin, caller_cache):
        assert frame.storageLevel.useMemory


def test_detect_keeps_a_callers_cache_of_the_same_plan(
        spark, detect_run, tmp_path):
    """A caller that already pinned the measure enrichment ``detect`` is
    about to pin keeps its cache: the command reads it and leaves it."""
    pages = spark.read.parquet(detect_run["src"])
    unrelated = _persistent_rdds(spark)
    _, meta = scores_with_metadata(pages, measures=("wordcount",))
    meta.count()
    caller_pin = _SESSION_PINS[-1]
    before = _persistent_rdds(spark)
    owned = before - unrelated
    try:
        cli.main(["detect", "-i", f"pages:{detect_run['src']}",
                  "-o", str(tmp_path / "gold"), "-ot", "goldstandard",
                  "-tm", "wordcount"], spark=spark)
        assert owned
        assert _storage_kept(before, _persistent_rdds(spark), owned)
        assert caller_pin.storageLevel.useMemory
    finally:
        release_session_pins()


def test_collapse_access_errors_reads_its_input_once(spark):
    rows = spark.createDataFrame(
        [("t1", "m1", "a", None), ("t1", "m1", "b", None),
         ("t1", "m2", "a", "memento access"),
         ("t1", "m2", "b", "memento access"),
         ("t2", "m3", "a", "timemap access"),
         ("t2", "m4", "a", "timemap access"),
         ("t1", "m5", "a", "measurement"), ("t1", "m5", "b", "measurement")],
        "urit string, urim string, measure string, error_kind string")
    collapsed = sinks._collapse_access_errors(rows)
    plan = collapsed._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"LocalTableScan|Scan ExistingRDD", plan)) == 1, \
        plan
    got = sorted((r.urim, r.measure) for r in collapsed.collect())
    assert got == [("m1", "a"), ("m1", "b"), ("m2", "a"), ("m3", "a"),
                   ("m5", "a"), ("m5", "b")]
