"""The first-memento anchor (a running-frame window over each timeline)
under a viral host: one timeline with ~100x the median mementos."""

from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.measures import (
    score_timemap_measures,
)
from off_topic_memento_toolkit_spark.operators.timeline import (
    with_memento_identity,
)
from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

MEASURES = ("wordcount", "jaccard", "raw_simhash")


def _scores(pages):
    return sorted(
        (r.urit, r.urim, r.measure, r.comparison_score, r.topic_status)
        for r in score_timemap_measures(pages, measures=MEASURES).collect())


def test_window_anchor_under_viral_host_skew(spark):
    """Window-path scores on the skew fixture: one row per memento and
    measure, every timeline's first memento scores 0 against itself, and
    the viral timeline scores the same alone as beside the others.  The
    dedup pipeline must resolve the viral host's near-identical pages into
    a dominant cluster."""
    pages = generate_pages(spark, n_urls=6, mementos_per_url=4, skew=True,
                           error_rows=False, dup_rate=0.5)
    counts = {r.url: r["count"] for r in pages.groupBy("url").count().collect()}
    assert max(counts.values()) >= 50 * sorted(counts.values())[len(counts) // 2]
    viral_url = max(counts, key=counts.get)

    scores = _scores(pages)
    assert len(scores) == sum(counts.values()) * len(MEASURES)
    first = {
        r.urit: r.first.urim
        for r in with_memento_identity(pages).groupBy("urit")
        .agg(F.min(F.struct("warc_ts", "urim")).alias("first")).collect()
    }
    anchored = [s for s in scores if s[1] == first[s[0]]]
    assert len(anchored) == len(counts) * len(MEASURES)
    assert all(s[3] == 0.0 and s[4] == "on-topic" for s in anchored), anchored

    viral_urit = next(urit for urit in first if urit.endswith(viral_url))
    assert _scores(pages.filter(F.col("url") == viral_url)) == \
        [s for s in scores if s[0] == viral_urit]

    clusters = dedup_pipeline(pages, min_jaccard=0.9)
    viral = (clusters.filter(F.col("urim").contains(viral_url))
             .groupBy("component").count().orderBy(F.desc("count")).collect())
    # the viral host's repeated pages collapse into few components, with a
    # dominant one holding many mementos (duplicates clustered, not dropped)
    assert viral[0]["count"] >= 10
