"""End-to-end Spark parity: the full measure suite over the pangram fixture
pages reproduces the reference's golden scores (tests/timemap_measures_test.py
:424-472,568-575,632-639,1011-1018,1075-1082)."""

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.measures import (
    overall_status,
    score_timemap_measures,
)
from off_topic_memento_toolkit_spark.sources.datagen import (
    PAGES_SCHEMA,
    overlap_pair_rows,
    pangram_drift_rows,
    tfintersection_pair_rows,
)

ALL_PAIRWISE = (
    "bytecount", "wordcount", "jaccard", "sorensen",
    "levenshtein", "nlevenshtein", "tfintersection",
    "raw_simhash", "tf_simhash",
)


@pytest.fixture(scope="module")
def drift_scores(spark):
    pages = spark.createDataFrame(pangram_drift_rows(), schema=PAGES_SCHEMA)
    scores = score_timemap_measures(pages, measures=ALL_PAIRWISE + ("cosine",))
    rows = scores.collect()
    # index by (timeline, position, measure) — position = order of warc_ts
    by_urit = {}
    for row in rows:
        by_urit.setdefault(row.urit, set()).add(row.urim)
    out = {}
    for row in rows:
        position = sorted(by_urit[row.urit]).index(row.urim)
        tm = "timemap1" if "timemap1" in row.urit else "timemap2"
        out[(tm, position, row.measure)] = row
    return out


GOLDEN = {
    ("timemap1", 0): {"bytecount": 0.0, "wordcount": 0.0, "jaccard": 0.0,
                      "sorensen": 0.0, "levenshtein": 0.0, "nlevenshtein": 0.0,
                      "raw_simhash": 0.0, "tf_simhash": 0.0, "cosine": 1.0},
    ("timemap1", 1): {"bytecount": 0.43015214384508993,
                      "wordcount": 0.43617021276595747,
                      "jaccard": 0.11363636363636365,
                      "sorensen": 0.06024096385542166,
                      "levenshtein": 45.0, "nlevenshtein": 0.3333333333333333},
    ("timemap1", 2): {"bytecount": 0.8409405255878284,
                      "wordcount": 0.8723404255319149,
                      "jaccard": 0.15555555555555556,
                      "sorensen": 0.08433734939759041,
                      "levenshtein": 86.0, "nlevenshtein": 0.48863636363636365},
    ("timemap2", 1): {"bytecount": 0.28655544651619236,
                      "wordcount": 0.30827067669172936,
                      "jaccard": 0.09302325581395354,
                      "sorensen": 0.04878048780487809,
                      "levenshtein": 45.0, "nlevenshtein": 0.25862068965517243},
    ("timemap2", 2): {"bytecount": 0.5593719332679097,
                      "wordcount": 0.593984962406015,
                      "jaccard": 0.13636363636363635,
                      "sorensen": 0.07317073170731703,
                      "levenshtein": 86.0, "nlevenshtein": 0.4056603773584906},
}


def test_drift_goldens(drift_scores):
    for (tm, pos), expected in GOLDEN.items():
        for measure, value in expected.items():
            row = drift_scores[(tm, pos, measure)]
            assert row.error_msg is None, (tm, pos, measure, row.error_msg)
            assert row.comparison_score == pytest.approx(value), (tm, pos, measure)


def test_overlap_pair_goldens(spark):
    pages = spark.createDataFrame(overlap_pair_rows(), schema=PAGES_SCHEMA)
    scores = score_timemap_measures(
        pages, measures=("raw_simhash", "tf_simhash", "cosine"))
    got = {(r.measure, i): r.comparison_score
           for i, r in enumerate(sorted(scores.collect(),
                                        key=lambda r: (r.measure, r.urim)))}
    values = {r["measure"]: {} for r in []}
    rows = sorted(scores.collect(), key=lambda r: (r.measure, r.urim))
    by_measure = {}
    for row in rows:
        by_measure.setdefault(row.measure, []).append(row.comparison_score)
    assert by_measure["raw_simhash"] == [0.0, 36.0]
    assert by_measure["tf_simhash"] == [0.0, 24.0]
    assert by_measure["cosine"][0] == pytest.approx(1.0)
    assert by_measure["cosine"][1] == pytest.approx(0.12882843018556128)


def test_tfintersection_golden(spark):
    pages = spark.createDataFrame(tfintersection_pair_rows(), schema=PAGES_SCHEMA)
    scores = score_timemap_measures(pages, measures=("tfintersection",))
    values = [r.comparison_score
              for r in sorted(scores.collect(), key=lambda r: r.urim)]
    # first memento vs itself: full top-20ish self-intersection (17 distinct)
    assert values[1] == 11.0


def test_labels_and_overall(spark):
    pages = spark.createDataFrame(pangram_drift_rows(), schema=PAGES_SCHEMA)
    scores = score_timemap_measures(pages, measures=("wordcount", "jaccard"))
    # defaults: wordcount off when < -0.70 (drift grows, so never); jaccard
    # off when > 0.96 (max drift 0.156) → everything on-topic
    assert scores.filter(F.col("topic_status").isNull()).count() == 0
    overall = overall_status(scores)
    statuses = {r.urim: r.overall_topic_status for r in overall.collect()}
    assert set(statuses.values()) == {"on-topic"}


def test_error_semantics(spark):
    from datetime import datetime
    rows = [
        # timeline whose FIRST memento has empty body → poisoned
        ("http://e.example/a", datetime(2016, 1, 1), b"<html><body></body></html>",
         "", "en"),
        ("http://e.example/a", datetime(2016, 1, 2),
         b"<html><body>words here now</body></html>", "words here now\n", "en"),
        # timeline with null html on a non-first memento
        ("http://e.example/b", datetime(2016, 1, 1),
         b"<html><body>base page content</body></html>", "base page content\n", "en"),
        ("http://e.example/b", datetime(2016, 1, 2), None, None, "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    scores = score_timemap_measures(pages, measures=("wordcount",))
    got = {(r.urit, r.urim): r for r in scores.collect()}
    a_rows = [r for (urit, _), r in got.items() if "/a" in urit]
    assert all(r.error_msg is not None and "first memento" in r.error_msg
               for r in a_rows)
    b_rows = sorted((r for (urit, _), r in got.items() if "/b" in urit),
                    key=lambda r: r.urim)
    assert b_rows[0].error_msg is None and b_rows[0].comparison_score == 0.0
    assert b_rows[1].error_msg is not None


def test_group_kernel_timeline_cap(spark):
    """Skew guardrail: docs past max_docs_per_timeline get an explicit error
    row (never a silently-wrong fit), the fit uses only the kept prefix."""
    from off_topic_memento_toolkit_spark.operators.groupkernels import (
        CAP_ERROR_MSG,
        score_group_measures,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import enrich_pages
    from off_topic_memento_toolkit_spark.sources.datagen import (
        PAGES_SCHEMA,
        generate_pages,
    )

    pages = generate_pages(spark, n_urls=2, mementos_per_url=6, skew=False,
                           error_rows=False)
    enriched = enrich_pages(pages, ["text", "tokens_cos"])
    scores = score_group_measures(enriched, ["cosine"],
                                  max_docs_per_timeline=4).collect()
    by_urit = {}
    for r in scores:
        by_urit.setdefault(r.urit, []).append(r)
    # datagen prepends short golden-fixture timelines; assert on the two
    # 6-memento generated ones, which exceed the cap of 4
    capped_timelines = 0
    for urit, rows in by_urit.items():
        if len(rows) != 6:
            assert all(r.error_msg != CAP_ERROR_MSG for r in rows)
            continue
        capped_timelines += 1
        capped = [r for r in rows if r.error_msg == CAP_ERROR_MSG]
        scored = [r for r in rows if r.error_msg is None]
        assert len(capped) == 2 and len(scored) == 4, (urit, rows)
        # kept prefix is the timeline's first 4 by (warc_ts, urim)
        all_urims = sorted(r.urim for r in rows)
        assert sorted(r.urim for r in scored) == all_urims[:4]
    assert capped_timelines == 2
