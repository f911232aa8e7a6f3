"""Focused regressions for the round-6 optimization changes: each test pins
the NEW internal contract of an operator whose implementation changed, so a
future edit can't silently reintroduce the measured pathology.

What changed and what is pinned here:
- minhash_band_table drops empty/null-token docs via NULL band arrays
  (posexplode), not a post-UDF filter → same rows, and the plan must not
  evaluate the tokenize/minhash chain twice (no Python node below the widen
  exchange); over an unpinned enrichment the band UDF chained onto the
  enrichment struct gives the same rows as over the token arrays.
- candidate channels' ``distinct_pairs=False`` emits the same pair SET.
- connected_components(assume_distinct=True) labels equal the default.
- prepare_pages' widen probe is plan-only: building the frame over a
  join/union input fires no Spark jobs.
- the measure-suite pin caches scalars, not the first-anchor/top-20 arrays.
"""

import re

from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.components import (
    connected_components,
)
from off_topic_memento_toolkit_spark.operators.lsh import (
    candidate_pairs_from_buckets,
    minhash_band_table,
    simhash_candidate_pairs,
)


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _tokens_df(spark, rows):
    return spark.createDataFrame(rows, "id string, tokens array<string>")


def test_band_table_drops_empty_and_null_token_docs(spark):
    df = _tokens_df(spark, [
        ("a", ["x", "y", "z", "w", "v", "u"]),
        ("b", []),
        ("c", None),
        ("d", ["x", "y", "z", "w", "v", "u"]),
    ])
    bands = minhash_band_table(df, id_col="id", tokens_col="tokens")
    ids = {r.id for r in bands.select("id").distinct().collect()}
    assert ids == {"a", "d"}  # empty and null token docs emit no band rows
    # identical docs share every band bucket
    assert bands.groupBy("band", "band_hash").count().filter(
        "count = 2").count() == bands.select("band").distinct().count()


def test_band_table_no_python_below_widen_exchange(spark):
    """The §4.4 regression guard: one Python node, above the round-robin
    exchange (narrow input), nothing Python below it."""
    from off_topic_memento_toolkit_spark.operators.timeline import (
        prepare_pages,
    )
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    docs = prepare_pages(pages_from_documents(spark, "/root/testdata/sf0.001"),
                         need_raw_simhash=False, need_tf_simhash=False)
    bands = minhash_band_table(docs, id_col="urim", tokens_col="tokens")
    plan = _executed(bands)
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1
    rr = plan.index("Exchange RoundRobinPartitioning")
    # executed-plan strings print consumers first: everything after the
    # round-robin exchange line is BELOW it in the plan
    assert "ArrowEvalPython" not in plan[rr:]


def test_band_table_from_enrichment_struct_equals_tokens(spark):
    """Over an unpinned prepare_pages frame the band UDF reads the
    enrichment struct (chained into the enrichment's node); the rows equal
    those built from the plain token arrays."""
    from off_topic_memento_toolkit_spark.operators.timeline import (
        prepare_pages,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=4, mementos_per_url=3, skew=False,
                           error_rows=True)
    docs = prepare_pages(pages, need_raw_simhash=False, need_tf_simhash=False)
    chained = minhash_band_table(docs, id_col="urim", tokens_col="tokens")
    assert "minhash_bands_udf(enrich_udf(" in _executed(chained)
    plain = minhash_band_table(docs.select("urim", "tokens"), id_col="urim",
                               tokens_col="tokens")
    assert "minhash_bands_udf(pythonUDF" in _executed(plain)
    got = sorted(chained.collect())
    assert got and got == sorted(plain.collect())


def test_distinct_pairs_flag_same_pair_set(spark):
    df = _tokens_df(spark, [
        ("a", ["the", "quick", "brown", "fox", "jumps", "over", "it"]),
        ("b", ["the", "quick", "brown", "fox", "jumps", "over", "it"]),
        ("c", ["the", "quick", "brown", "fox", "jumps", "over", "them"]),
        ("d", ["something", "else", "entirely", "unrelated", "words", "here"]),
    ])
    bands = minhash_band_table(df, id_col="id", tokens_col="tokens")
    with_d = {(r.id_a, r.id_b) for r in
              candidate_pairs_from_buckets(bands).collect()}
    without = {(r.id_a, r.id_b) for r in
               candidate_pairs_from_buckets(
                   bands, distinct_pairs=False).collect()}
    assert with_d == without and with_d  # same SET (multiset may differ)

    sim = spark.createDataFrame(
        [("a", 7), ("b", 7), ("c", 5), ("d", 1 << 40)],
        "id string, simhash long")
    sp = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(
        sim, id_col="id", simhash_col="simhash", max_hamming=3).collect()}
    sp_nd = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(
        sim, id_col="id", simhash_col="simhash", max_hamming=3,
        distinct_pairs=False).collect()}
    assert sp == sp_nd and sp


def test_simhash_chunk_table_drops_nulls_without_filter(spark):
    from off_topic_memento_toolkit_spark.operators.lsh import (
        simhash_chunk_table,
    )

    df = spark.createDataFrame(
        [("a", 7), ("b", None)], "id string, simhash long")
    table = simhash_chunk_table(df, id_col="id", simhash_col="simhash")
    assert {r.id for r in table.select("id").distinct().collect()} == {"a"}
    assert table.count() == 4  # one row per chunk, null row gone


def test_cc_assume_distinct_equivalent_labels(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (2, 1)], "src long, dst long")
    base = {(r.id, r.component) for r in
            connected_components(edges).collect()}
    # vouched path on the truly-distinct subset of the same graph
    distinct_edges = edges.filter("src < dst").distinct()
    vouched = {(r.id, r.component) for r in connected_components(
        distinct_edges, assume_distinct=True).collect()}
    assert base == vouched
    assert {c for _, c in base} == {1, 5}


def test_single_task_union_find_string_ids(spark):
    """The factorized numpy kernel must keep min-id labels for STRING ids
    too (attach_components is called with urim keys elsewhere)."""
    edges = spark.createDataFrame(
        [("u2", "u1"), ("u2", "u3"), ("z9", "z8")], "src string, dst string")
    labels = {r.id: r.component for r in
              connected_components(edges).collect()}
    assert labels == {"u1": "u1", "u2": "u1", "u3": "u1",
                      "z8": "z8", "z9": "z8"}


def test_prepare_pages_probe_fires_no_jobs(spark):
    """The widen decision must be plan-only: building the enriched frame
    over a join/union-shaped input (dedupe_pages) runs ZERO Spark jobs —
    the old df.rdd probe pre-executed the duplicate-key aggregation and its
    broadcast."""
    from off_topic_memento_toolkit_spark.operators.timeline import (
        prepare_pages,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import dedupe_pages
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    pages.schema  # one-time parquet schema/footer job happens HERE, not below

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = prepare_pages(dedupe_pages(pages))
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan build must not execute jobs"
    assert "tokens" in df.columns  # the frame is still the enriched one


def test_measure_pin_caches_scalars_not_arrays(spark):
    """The full-suite persist must not materialize the first-anchor token
    array or the top-20 arrays — their algebra is scalarized before the
    pin (cache bytes are corpus-sized at scale)."""
    from off_topic_memento_toolkit_spark.operators.measures import (
        score_timemap_measures,
    )
    from off_topic_memento_toolkit_spark.queries import (
        ALL_MEASURES,
        pages_from_documents,
    )
    from off_topic_memento_toolkit_spark.session import release_session_pins

    try:
        scores = score_timemap_measures(
            pages_from_documents(spark, "/root/testdata/sf0.001"),
            measures=ALL_MEASURES)
        plan = _executed(scores)
        mem = plan[plan.index("InMemoryRelation"):]
        mem = mem[:mem.index("\n")]
        # column refs print as `name#<exprId>` — match on that boundary
        # (the scalar `_first_tokens_bad` contains "first_tokens" as a
        # substring and must NOT trip the check)
        for banned in (" first_tokens#", " top20#", " first_top20#",
                       " html#"):
            assert banned not in mem, mem
        for needed in ("_set_inter#", "_tf20_inter#", " tokens#"):
            assert needed in mem, mem
    finally:
        release_session_pins()
