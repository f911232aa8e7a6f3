"""Physical-plan audit: capture each headline query's executed plan and
summarize the scale-relevant facts (exchanges, Python nodes, joins, scans)
into PLANS.md — the '.explain and iterate' artifact."""

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("OTMT_MATERIALIZE", "0")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"


PYTHON_NODE = re.compile(
    r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas")
# a Python UDF call prints as ``name(args)#id`` (a built-in has no ``#id``),
# so a UDF chained over another counts once per call
PYTHON_UDF_CALL = re.compile(r"\)#\d+")


def summarize(plan: str) -> dict:
    python_lines = [line for line in plan.splitlines()
                    if PYTHON_NODE.search(line)]
    return {
        "hash_exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "roundrobin_exchanges": len(
            re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "broadcast_exchanges": len(re.findall(r"BroadcastExchange", plan)),
        "python_nodes": len(python_lines),
        "python_udfs": sum(len(PYTHON_UDF_CALL.findall(line))
                           for line in python_lines),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "nested_loop": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "sorts": len(re.findall(r"\+- Sort ", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "scans": len(re.findall(r"FileScan", plan)),
    }


def above_cache(plan: str) -> str:
    """The part of ``plan`` above its first cached relation: what the
    action runs afresh once that relation is filled."""
    lines = plan.splitlines()
    cut = next((i for i, line in enumerate(lines)
                if "InMemoryRelation" in line), len(lines))
    return "\n".join(lines[:cut])


def detect_writer_plans(spark, sf_dir: str) -> dict:
    """Executed plans of the frames one ``detect -ot json-dist
    --ontopic-list`` run with all 12 measures hands its writers, taken as
    each write starts."""
    from pyspark.sql.readwriter import DataFrameWriter

    from off_topic_memento_toolkit_spark import cli
    from off_topic_memento_toolkit_spark.queries import (
        ALL_MEASURES,
        pages_from_documents,
    )

    plans = {}
    originals = {name: getattr(DataFrameWriter, name)
                 for name in ("json", "text")}

    def capture(name):
        def write(self, *args, **kwargs):
            plans[name] = \
                self._df._jdf.queryExecution().executedPlan().toString()
            return originals[name](self, *args, **kwargs)
        return write

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "pages")
        pages_from_documents(spark, sf_dir).write.parquet(src)
        try:
            for name in originals:
                setattr(DataFrameWriter, name, capture(name))
            cli.main(["detect", "-i", f"pages:{src}",
                      "-o", os.path.join(tmp, "scores"), "-ot", "json-dist",
                      "-tm", ",".join(ALL_MEASURES),
                      "--ontopic-list", os.path.join(tmp, "ontopic")],
                     spark=spark)
        finally:
            for name, method in originals.items():
                setattr(DataFrameWriter, name, method)
    return {"detect_json_dist": plans["json"],
            "detect_ontopic_list": plans["text"]}


def main():
    from off_topic_memento_toolkit_spark.queries import (
        full_suite_query,
        make_sql_query,
    )
    from off_topic_memento_toolkit_spark.queries_mat import mat_queries
    from off_topic_memento_toolkit_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    mat = mat_queries()
    targets = {
        "offtopic_measures_full": full_suite_query,
        "offtopic_measures_core": mat["offtopic_measures_core"],
        "minhash_lsh_pairs": mat["minhash_lsh_pairs"],
        "incremental_lsh_pairs": mat["incremental_lsh_pairs"],
        "incremental_dedup_merge": mat["incremental_dedup_merge"],
        "simhash_hamming_pairs": mat["simhash_hamming_pairs"],
        "curation_story": mat["curation_story"],
        "ann_lsh_topk": mat["ann_lsh_topk"],
        "ann_ivf_topk": mat["ann_ivf_topk"],
        "streaming_dedup_batch": mat["streaming_dedup_batch"],
        "verified_dup_pairs": mat["verified_dup_pairs"],
        "embedding_near_dups": mat["embedding_near_dups"],
        "multimodal_bmp_topk": mat["multimodal_bmp_topk"],
        "tpch_pricing_summary": make_sql_query("tpch_pricing_summary"),
    }
    notes = {
        "offtopic_measures_full": (
            "12 measures, one keyed shuffle (the timeline window); narrow "
            "local scan adds the round-robin widen below the UDFs; the "
            "persisted enrichment is ONE struct UDF per row (text, tokens, "
            "both simhashes, top-20, cosine tokens), Levenshtein reads it "
            "after the window, the union branch for the grouped kernels "
            "reads the pin. The per-column UDF chain it replaced made 24 "
            "UDF calls in 6 Python nodes here: every chained consumer of "
            "the tokens re-ran extract and tokenize."),
        "offtopic_measures_core": "8 relational measures, same shape.",
        "minhash_lsh_pairs": (
            "signature UDF chained onto the enrichment struct: one Python "
            "node, one pass per document; spill-safe window size gate and the "
            "collect_list share ONE hash exchange; expand-late member-set "
            "dedup adds one over short-array rows (strictly smaller than "
            "the band table); pair distinct is the third; no joins "
            "anywhere."),
        "incremental_lsh_pairs": (
            "delta-batch candidates: base band table pruned to delta-touched "
            "buckets by a broadcast SEMI-join before any shuffle; then the "
            "batch path's lsh.bucket_pairs kernel (gate+collect share one "
            "exchange, the member-set dedup adds one) and the pair "
            "distinct."),
        "incremental_dedup_merge": (
            "contraction CC: prior assignments pruned to edge endpoints "
            "(broadcast semi-join), contracted edges resolved by the hybrid "
            "CC, corpus relabeled by ONE broadcast join — no corpus-sized "
            "shuffle anywhere in the merge."),
        "simhash_hamming_pairs": "same shape over 4x16-bit chunk buckets.",
        "curation_story": (
            "W3 global order via the lazy two-phase ranking: range "
            "repartition + per-partition mono-id, offsets from the "
            "coalesce(1) agg side broadcast back — no Exchange "
            "SinglePartition anywhere (enforced by test_plan_shape)."),
        "ann_lsh_topk": "SRP bucket equi-join, queries broadcast.",
        "ann_ivf_topk": "nprobe bucket equi-join, queries broadcast.",
        "streaming_dedup_batch": "url+simhash first-occurrence window.",
        "verified_dup_pairs": (
            "LSH candidates -> Arrow Jaccard verify on pair payload joins. "
            "The docs select drops the enrichment struct, so the band UDF "
            "reads its tokens field in a Python node of its own."),
        "embedding_near_dups": (
            "SRP buckets through lsh.bucket_pairs: spill-safe size gate and "
            "collect share one exchange, the member-set dedup adds one, the "
            "pair distinct the third; no self-join."),
        "multimodal_bmp_topk": (
            "BMP synth+decode+feature in partition-preserving mapInPandas "
            "(no exchange until the ANN join); brute top-k = deliberate "
            "broadcast(queries) NLJ baseline — scale path is the bucketed "
            "ANN variants."),
        "tpch_pricing_summary": "scan→partial agg→exchange→final agg.",
        "detect_json_dist": (
            "one materialisation; Python nodes per action. Counts cover "
            "what this writer runs above the pinned detect report; the "
            "report (12 measures, filled once by the first writer) holds "
            "the suite's Python nodes once: the one enrichment UDF and "
            "Levenshtein in the measure pin, the group kernel above it. "
            "The writer itself adds one hash "
            "exchange and the row-number window that collapses "
            "access-error rows in a single read."),
        "detect_ontopic_list": (
            "one materialisation; Python nodes per action. Same report; "
            "the list is a distinct over its overall verdicts."),
    }

    lines = ["# PLANS — physical-plan audit of the headline queries",
             "",
             f"Captured from `executedPlan` at sf0.01, local[8], 8 shuffle "
             f"partitions, materialization off (scripts/plan_audit.py). "
             f"Counts are plan-node occurrences; the detect_* rows count "
             f"what each writer runs above the pinned report. `python UDFs` "
             f"counts the UDF calls the Python nodes evaluate, a UDF chained "
             f"over another counted once per call: each call is its own "
             f"pass over the rows.",
             "",
             "| query | hash exch | RR exch | bcast exch | python nodes | "
             "python UDFs | SMJ | BHJ | cartesian | NLJ | sorts | windows "
             "| scans |",
             "|---|---|---|---|---|---|---|---|---|---|---|---|---|"]
    plans = {name: fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
             .toString() for name, fn in targets.items()}
    plans.update({name: above_cache(plan) for name, plan in
                  detect_writer_plans(spark, SF_DIR).items()})
    details = []
    for name, plan in plans.items():
        s = summarize(plan)
        assert s["cartesian"] == 0, f"{name} has a cartesian product!"
        # BroadcastNestedLoopJoin is what an accidental cross join compiles
        # to at test scale — the audited queries must be equi-join-only.
        # Exception: brute-force cosine top-k (the ANN BASELINE) is a
        # deliberate broadcast(queries) x scan(corpus) — linear in the
        # corpus with queries << corpus, and the scale path is the
        # bucketed ann_lsh/ann_ivf variants audited above.
        if name not in ("multimodal_bmp_topk",):
            assert s["nested_loop"] == 0, f"{name} has a nested-loop join!"
        lines.append(
            f"| {name} | {s['hash_exchanges']} | {s['roundrobin_exchanges']} "
            f"| {s['broadcast_exchanges']} | {s['python_nodes']} "
            f"| {s['python_udfs']} | {s['sortmerge_joins']} | {s['broadcast_joins']} "
            f"| {s['cartesian']} | {s['nested_loop']} | {s['sorts']} "
            f"| {s['windows']} | {s['scans']} |")
        details.append(f"- **{name}** — {notes[name]}")
    lines += ["", "## Shape notes", ""] + details + [
        "",
        "Invariants enforced by tests/test_plan_shape.py: the pairwise "
        "measure suite = exactly one keyed exchange / one fused "
        "ArrowEvalPython / one sort on wide input; LSH candidate generation "
        "is join-free with the size gate below the collect, and only "
        "operators/lsh.py builds it; scans prune "
        "columns; bucketed-table joins are Exchange-free "
        "(tests/test_bucketing.py); no Python UDF runs over another's "
        "output in the detect report, story's metadata or the dedup docs "
        "stage (tests/test_plan_shape.py); detect's writers run no Python "
        "node outside the one pinned report, which runs each once "
        "(tests/test_detect_report.py).",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
