"""Collection-wide measures (K13/K14, otmt/collection_measures.py:96-214):
each memento's token set scored against the token bag of the ENTIRE
collection.

Since jaccard/sorensen are set-based, the 'bag' reduces to the global DISTINCT
token set G; every document's set A is a subset of G (it contributed its own
tokens), so:
    jaccard(A, G)  = 1 - |A| / |G|
    sorensen(A, G) = 1 - 2|A| / (|A| + |G|)
— the whole operator is one global count-distinct + per-row column math; the
reference's in-memory global token list (otmt/collection_measures.py:136-139)
never needs to exist.

Error semantics mirror the per-measure rules: rows whose text failed
extraction get error rows and do NOT contribute tokens.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .measures_constants import ROW_BP_ERROR_MSG
from .timeline import prepare_pages

COLLECTION_THRESHOLDS = {  # otmt/collection_measures.py:195-214
    "jaccard": {"direction": ">", "threshold": 0.96},
    "sorensen": {"direction": ">", "threshold": 0.96},
}


def score_collection_measures(
    pages: DataFrame,
    measures=("jaccard", "sorensen"),
    thresholds: dict | None = None,
) -> DataFrame:
    thresholds = {**{m: COLLECTION_THRESHOLDS[m]["threshold"] for m in measures},
                  **(thresholds or {})}
    # ONE narrow pinned projection (neither measure needs the simhashes)
    # feeds the global count-distinct branch AND the per-row branch —
    # without the pin each traversal would re-run the extract/tokenize
    # UDFs over the whole corpus (pinned in the session registry: an
    # enclosing session_pins_scope or release_session_pins releases it)
    from ..session import pin_for_session

    df = pin_for_session(
        prepare_pages(pages, need_raw_simhash=False, need_tf_simhash=False)
        .select("urit", "urim", "tokens"))
    ok = df.filter(F.col("tokens").isNotNull())
    global_count = (
        ok.select(F.explode("tokens").alias("token"))
        .agg(F.countDistinct("token").alias("gn"))
    )
    scored = (
        df.crossJoin(F.broadcast(global_count))
        .withColumn("n_distinct", F.size(F.array_distinct("tokens")))
    )

    error = F.when(
        F.col("tokens").isNull(),
        F.lit(ROW_BP_ERROR_MSG),
    )
    entries = []
    for measure in measures:
        if measure == "jaccard":
            score = (1.0 - F.col("n_distinct") / F.col("gn")).cast("double")
        elif measure == "sorensen":
            score = (
                1.0 - (F.lit(2.0).cast("double") * F.col("n_distinct"))
                / (F.col("n_distinct") + F.col("gn"))
            ).cast("double")
        else:
            raise ValueError(measure)
        threshold = float(thresholds[measure])
        entries.append(
            F.struct(
                F.lit(measure).alias("measure"),
                F.when(error.isNull(), score).alias("comparison_score"),
                F.when(error.isNotNull(), F.lit(None).cast("string"))
                .when(score > threshold, F.lit("off-topic"))
                .otherwise(F.lit("on-topic")).alias("topic_status"),
            )
        )
    # every measure in one pass over the pinned frame (an explode of the
    # per-measure structs), not one plan branch per measure
    return (
        scored.select(
            "urit", "urim", error.alias("error_msg"),
            F.explode(F.array(*entries)).alias("entry"))
        .select(
            "urit", "urim",
            F.lit("collection measures").alias("measuretype"),
            F.col("entry.measure").alias("measure"),
            F.col("entry.comparison_score").alias("comparison_score"),
            F.lit(True).alias("tokenized"),
            F.lit(True).alias("stemmed"),
            F.lit(True).alias("removed_boilerplate"),
            "error_msg",
            F.col("entry.topic_status").alias("topic_status"),
        )
    )
