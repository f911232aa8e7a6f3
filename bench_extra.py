"""Phase-isolation profiling harness (guide §1.4): times sub-plans of the
headline queries with the noop sink so optimization targets are measured,
not guessed.  NOT part of the frozen bench contract — bench.py is the
driver's measurement; this file only informs OPTIMIZATION_r06.md.

Usage:  python bench_extra.py [phases|queries] [runs]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ["OTMT_MATERIALIZE"] = "0"

from off_topic_memento_toolkit_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def time_phase(spark, name, fn, runs=3):
    best = None
    for _ in range(runs):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def dedup_phases(spark, runs):
    """Decompose dedup_clusters_cc (storeless path, same as bench)."""
    from off_topic_memento_toolkit_spark.operators.lsh import (
        candidate_keys,
        candidate_pairs,
        candidate_pairs_from_buckets,
        minhash_band_table,
        simhash_candidate_pairs,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.operators.verify import (
        prune_docs_to_pair_endpoints,
        verified_pairs_jaccard,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import (
        dedup_pipeline,
        dedupe_pages,
    )
    from off_topic_memento_toolkit_spark.queries import pages_from_documents
    import pyspark.sql.functions as F

    out = {}
    pages = lambda: pages_from_documents(spark, SF_DIR)  # noqa: E731

    out["0_pages_scan"] = time_phase(
        spark, "pages scan", lambda: noop(pages()), runs)
    out["1_dedupe_pages"] = time_phase(
        spark, "dedupe_pages", lambda: noop(dedupe_pages(pages())), runs)

    def docs_df():
        return prepare_pages(
            dedupe_pages(pages()), need_tf_simhash=False,
        ).select(F.xxhash64("urim").alias("nid"),
                 "urim", "text", "tokens", "raw_simhash")

    out["2_docs_enrich"] = time_phase(
        spark, "docs enrich (UDFs)", lambda: noop(docs_df()), runs)

    def bands_df(docs):
        return minhash_band_table(docs, id_col="nid", tokens_col="tokens")

    out["3_bands"] = time_phase(
        spark, "minhash bands", lambda: noop(bands_df(docs_df())), runs)

    def minhash_pairs():
        return candidate_pairs_from_buckets(bands_df(docs_df()))

    out["4_minhash_pairs"] = time_phase(
        spark, "minhash pairs", lambda: noop(minhash_pairs()), runs)

    def simhash_pairs():
        return simhash_candidate_pairs(
            docs_df(), id_col="nid", simhash_col="raw_simhash", max_hamming=3)

    out["5_simhash_pairs"] = time_phase(
        spark, "simhash pairs", lambda: noop(simhash_pairs()), runs)

    def full_pipeline():
        return dedup_pipeline(pages())

    out["9_full_pipeline"] = time_phase(
        spark, "full dedup pipeline", lambda: noop(full_pipeline()), runs)

    # candidates with persist (as the pipeline does)
    def staged():
        docs = docs_df().persist()
        cands = minhash_pairs_from(docs).persist()
        pruned = prune_docs_to_pair_endpoints(cands, docs, "nid")
        ver = verified_pairs_jaccard(cands, pruned, id_col="nid",
                                     tokens_col="tokens",
                                     min_jaccard=0.8).select("id_a", "id_b")
        noop(ver)
        docs.unpersist(False)
        cands.unpersist(False)

    def minhash_pairs_from(docs):
        return candidate_pairs(candidate_keys(bands_df(docs), docs))

    out["6_through_verify"] = time_phase(
        spark, "through verify", staged, runs)
    return out


def measures_phases(spark, runs):
    from off_topic_memento_toolkit_spark.operators.measures import (
        enrich_with_firsts,
        score_timemap_measures,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.queries import (
        ALL_MEASURES,
        pages_from_documents,
    )

    out = {}
    pages = lambda: pages_from_documents(spark, SF_DIR)  # noqa: E731

    out["0_prepare_pages"] = time_phase(
        spark, "prepare_pages all cols",
        lambda: noop(prepare_pages(pages())), runs)
    out["1_enrich_firsts"] = time_phase(
        spark, "enrich_with_firsts",
        lambda: noop(enrich_with_firsts(
            pages(), need_top20=True, need_lev=True)), runs)
    pairwise_only = tuple(m for m in ALL_MEASURES
                          if m not in ("cosine", "gensim_lsi", "gensim_lda"))
    out["2_pairwise_only"] = time_phase(
        spark, "pairwise measures",
        lambda: noop(score_timemap_measures(pages(), measures=pairwise_only)),
        runs)
    out["3_grouped_only"] = time_phase(
        spark, "grouped measures",
        lambda: noop(score_timemap_measures(
            pages(), measures=("cosine", "gensim_lsi", "gensim_lda"))), runs)
    out["4_full_suite"] = time_phase(
        spark, "full suite",
        lambda: noop(score_timemap_measures(pages(), measures=ALL_MEASURES)),
        runs)
    return out


def curation_phases(spark, runs):
    from off_topic_memento_toolkit_spark.operators.curation import (
        cluster_by_simhash,
        exclude_duplicates,
        quality_score,
        select_representatives,
        slice_by_datetime,
    )
    from off_topic_memento_toolkit_spark.operators.measures import (
        memento_metadata,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import story_pipeline
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    out = {}
    pages = lambda: pages_from_documents(spark, SF_DIR)  # noqa: E731
    meta = lambda: memento_metadata(pages())  # noqa: E731

    out["0_meta"] = time_phase(spark, "memento_metadata",
                               lambda: noop(meta()), runs)
    out["1_exclude_dup"] = time_phase(
        spark, "exclude_duplicates",
        lambda: noop(exclude_duplicates(meta(), threshold=0.2)), runs)
    out["2_slice"] = time_phase(
        spark, "slice_by_datetime",
        lambda: noop(slice_by_datetime(exclude_duplicates(meta(), 0.2))),
        runs)
    out["3_full_story"] = time_phase(
        spark, "story_pipeline",
        lambda: noop(story_pipeline(meta())), runs)
    return out


def main():
    what = sys.argv[1] if len(sys.argv) > 1 else "phases"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("otmt-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(int(CPUS), 8))
    spark.sparkContext.setLogLevel("ERROR")
    result = {}
    if what in ("phases", "dedup"):
        result["dedup"] = dedup_phases(spark, runs)
    if what in ("phases", "measures"):
        result["measures"] = measures_phases(spark, runs)
    if what in ("phases", "curation"):
        result["curation"] = curation_phases(spark, runs)
    print(json.dumps(result, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
