"""OTMT's TimeMap measure suite as one declarative Spark plan.

Each memento is scored against the FIRST memento of its timeline
(otmt/timemap_measures.py:105-232).  The reference re-fetches and re-tokenizes
every document once per measure; here the enrichment is computed once
(:func:`..operators.timeline.enrich_pages`: one Python UDF call per row,
top-20 terms and the cosine tokens included), the first-memento anchor comes
from a single window pass, and every cheap kernel is pure JVM column algebra —
the only other Python in the per-measure path is the token-sequence
Levenshtein over the anchor window, Arrow-batched.

Physical shape: one shuffle (hash on ``urit``).  With one consumer it is the
anchor window's own exchange.  When the suite fans out (pairwise and grouped
measures, or scores plus metadata) it is the explicit ``repartition("urit")``
of the enrichment pin, which every reader takes as it is: the anchor window
(then Levenshtein and the scalar measure columns), the group kernels'
``groupBy("urit")`` and the metadata projection run in the stage above the
pin with no exchange of their own (AQE learns the pin's layout once it is
filled and drops the exchanges it first planned there).  The long format is
an ``explode`` of a struct array (no extra shuffle); labels pipeline on top.

Registry (names, directions, default thresholds) mirrors
otmt/timemap_measures.py:895-970.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import token_levenshtein_udf
from .groupkernels import GROUP_MEASURES, score_group_measures
from .measures_constants import (
    FIRST_BP_ERROR_MSG,
    FIRST_EMPTY_MSG,
    ROW_BP_ERROR_MSG,
)
from .timeline import enrich_pages, first_over_timeline

# otmt/timemap_measures.py:895-970; preproc flags per compute_* wrappers
MEASURE_REGISTRY = {
    "cosine":        {"direction": "<", "threshold": 0.12,  "flags": (True, True, True)},
    "bytecount":     {"direction": "<", "threshold": -0.43, "flags": (False, False, False)},
    "wordcount":     {"direction": "<", "threshold": -0.70, "flags": (True, True, True)},
    "tfintersection": {"direction": ">", "threshold": 0.0,  "flags": (True, True, True)},
    "jaccard":       {"direction": ">", "threshold": 0.96,  "flags": (True, True, True)},
    "sorensen":      {"direction": ">", "threshold": 0.93,  "flags": (True, True, True)},
    "raw_simhash":   {"direction": ">", "threshold": 38.0,  "flags": (False, False, False)},
    "tf_simhash":    {"direction": ">", "threshold": 34.0,  "flags": (True, True, True)},
    "gensim_lsi":    {"direction": "<", "threshold": 0.07,  "flags": (True, True, True)},
    "gensim_lda":    {"direction": "<", "threshold": 0.15,  "flags": (True, True, True)},
    "levenshtein":   {"direction": ">", "threshold": 0.05,  "flags": (True, True, True)},
    "nlevenshtein":  {"direction": ">", "threshold": 0.05,  "flags": (True, True, True)},
}

DEFAULT_MEASURES = ("cosine",)  # bin/detect_off_topic:62 — default is cosine only

# the whole-timeline measures run as the grouped kernels
_GROUP_KERNELS = tuple(GROUP_MEASURES)


_SCALARIZED = ("_set_inter", "_set_union", "_set_a_n", "_set_b_n",
               "_tf20_inter", "_first_tokens_bad")


def with_pairwise_scalars(df: DataFrame, pairwise) -> DataFrame:
    """Reduce the per-row array algebra of the pairwise measures to scalar
    columns (set-intersection/union sizes, the top-20 overlap count, the
    first-anchor null flag) in ONE projection over the anchored frame.

    The score expressions then reference only these scalars, so the set
    algebra jaccard and sorensen share is computed once per row.  Pure
    column renaming of the identical expressions: NULL propagation
    (size/array_intersect of NULL → NULL) is unchanged, which the
    *_vs_first oracles hash-check."""
    cols = {}
    if {"jaccard", "sorensen"} & set(pairwise):
        set_a = F.array_distinct("first_tokens")
        set_b = F.array_distinct("tokens")
        cols["_set_inter"] = F.size(F.array_intersect(set_a, set_b))
        cols["_set_union"] = F.size(F.array_union(set_a, set_b))
        cols["_set_a_n"] = F.size(set_a)
        cols["_set_b_n"] = F.size(set_b)
    if "tfintersection" in pairwise:
        cols["_tf20_inter"] = F.size(
            F.array_intersect("first_top20", "top20"))
    if {"wordcount", "jaccard", "sorensen", "levenshtein", "nlevenshtein",
            "tfintersection", "tf_simhash"} & set(pairwise):
        cols["_first_tokens_bad"] = F.col("first_tokens").isNull()
    return df.withColumns(cols) if cols else df


def _pairwise_score_column(name):
    """JVM-side score expression for one pairwise measure, over the enriched
    frame with first_* columns and the :func:`with_pairwise_scalars` columns
    present.  Returns (score_col, error_col)."""
    inter = F.col("_set_inter")
    union = F.col("_set_union")

    # the token-family gate; only bytecount and raw_simhash, which read
    # the raw page, gate on their own columns
    first_bad = F.col("_first_tokens_bad")
    first_empty = F.col("first_n_tokens") == 0
    row_bad = F.col("tokens").isNull()
    if name == "bytecount":
        score = (F.col("raw_len") / F.col("first_raw_len") - 1).cast("double")
        first_bad = F.col("first_raw_len").isNull()
        first_empty = F.col("first_raw_len") == 0
        row_bad = F.col("raw_len").isNull()
    elif name == "wordcount":
        score = (F.col("n_tokens") / F.col("first_n_tokens") - 1).cast("double")
    elif name == "jaccard":
        score = (F.lit(1.0) - inter / union).cast("double")
    elif name == "sorensen":
        score = (F.lit(1.0) - (F.lit(2.0) * inter)
                 / (F.col("_set_a_n") + F.col("_set_b_n"))).cast("double")
    elif name == "levenshtein":
        # `_lev` computed once upstream and shared with nlevenshtein
        score = F.col("_lev").cast("double")
    elif name == "nlevenshtein":
        longest = F.greatest("first_n_tokens", "n_tokens")
        score = F.when(longest == 0, F.lit(0.0)) \
                 .otherwise(F.col("_lev") / longest).cast("double")
    elif name == "tfintersection":
        score = F.col("_tf20_inter").cast("double")
    elif name == "raw_simhash":
        score = F.bit_count(
            F.col("first_raw_simhash").bitwiseXOR(F.col("raw_simhash"))
        ).cast("double")
        first_bad = F.col("first_raw_simhash").isNull()
        first_empty = F.col("first_raw_len") == 0
        row_bad = F.col("raw_simhash").isNull()
    elif name == "tf_simhash":
        score = F.bit_count(
            F.col("first_tf_simhash").bitwiseXOR(F.col("tf_simhash"))
        ).cast("double")
    else:
        raise ValueError(f"unknown pairwise measure {name}")

    # error precedence mirrors compute_score_across_TimeMap: first-memento
    # problems poison the whole timeline, then per-row problems
    error = (
        F.when(first_bad, F.lit(FIRST_BP_ERROR_MSG))
        .when(first_empty, F.lit(FIRST_EMPTY_MSG))
        .when(row_bad, F.lit(ROW_BP_ERROR_MSG))
    )
    return score, error


def enrich_with_firsts(
    pages: DataFrame,
    need_top20: bool = False,
    need_lev: bool = False,
) -> DataFrame:
    """enrich_pages (text, tokens, both simhashes, and ``top20`` when asked)
    + first-memento anchor columns, and the token Levenshtein to the first
    memento as ``_lev`` when asked.

    The anchors are running-frame window values over the timeline: one
    hash shuffle on urit + per-group sort.  The measure suite builds its
    own enrichment with only the columns its measures read and anchors it
    with the same window.
    """
    df = enrich_pages(pages, ["text", "tokens", "raw_simhash", "tf_simhash"]
                      + (["top20"] if need_top20 else []))
    return _with_anchors(
        df, _anchored_columns(raw_simhash=True, tf_simhash=True,
                              top20=need_top20), need_lev)


def _anchored_columns(raw_simhash, tf_simhash, top20):
    """The enrichment columns the pairwise measures compare with the first
    memento's."""
    return ["raw_len", "tokens", "n_tokens"] + [
        name for name, needed in (("raw_simhash", raw_simhash),
                                  ("tf_simhash", tf_simhash),
                                  ("top20", top20)) if needed]


def _with_anchors(enriched: DataFrame, first_columns, need_lev) -> DataFrame:
    """``first_<column>`` for each of ``first_columns`` (the timeline
    window), plus the token Levenshtein to the first memento as ``_lev``."""
    # one withColumns call: each chained withColumn re-analyzes the whole
    # (already large) plan; the columns are independent, so a single
    # Project is identical and cuts plan-build time
    df = enriched.withColumns({
        f"first_{column}": first_over_timeline(column)
        for column in first_columns
    })
    if need_lev:
        df = df.withColumn(
            "_lev", token_levenshtein_udf(F.col("first_tokens"), F.col("tokens")))
    return df


def score_timemap_measures(
    pages: DataFrame,
    measures=DEFAULT_MEASURES,
    thresholds: dict | None = None,
) -> DataFrame:
    """Long-format scores: one row per (urit, urim, measure).

    Columns: urit, urim, measuretype, measure, comparison_score, tokenized,
    stemmed, removed_boilerplate, topic_status, error_msg.

    The frame is a plan: Spark computes the anchors, Levenshtein and the
    group kernels above the enrichment pin on every action that reads it.
    A caller that reads the scores more than once (say, writes them next
    to :func:`overall_status` of them, or joins the two) pins them first,
    as the CLI's ``detect`` pins its report.
    """
    return _scores_and_enrichment(pages, measures, thresholds,
                                  metadata=False)[0]


def scores_with_metadata(
    pages: DataFrame,
    measures=DEFAULT_MEASURES,
    thresholds: dict | None = None,
) -> tuple:
    """(:func:`score_timemap_measures`, :func:`memento_metadata`) projected
    from ONE enrichment: the metadata columns come from the same pinned
    frame the measures read, so the extract/tokenize/simhash UDFs run once
    for both."""
    scores, enriched = _scores_and_enrichment(pages, measures, thresholds,
                                              metadata=True)
    return scores, _metadata_columns(enriched)


def _scores_and_enrichment(pages, measures, thresholds, metadata):
    measures = list(measures)
    unknown = [m for m in measures if m not in MEASURE_REGISTRY]
    if unknown:
        raise ValueError(f"unsupported measures: {unknown}")
    if not measures:
        raise ValueError("measures must name at least one measure")
    thresholds = {**{m: MEASURE_REGISTRY[m]["threshold"] for m in measures},
                  **(thresholds or {})}

    pairwise = [m for m in measures if m not in _GROUP_KERNELS]
    grouped = [m for m in measures if m in _GROUP_KERNELS]

    need = {"raw_simhash": metadata or "raw_simhash" in pairwise,
            "tf_simhash": "tf_simhash" in pairwise,
            "top20": "tfintersection" in pairwise,
            "tokens_cos": any(GROUP_MEASURES[m][0] == "tokens_cos"
                              for m in grouped)}
    optional = [name for name, needed in need.items() if needed]
    df = enrich_pages(pages, ["text", "tokens"] + optional)
    if bool(pairwise) + bool(grouped) + metadata > 1:
        # more than one consumer (pairwise branch, grouped branch, metadata
        # projection) fans the plan out; without a persist the enrichment
        # UDF would run once per branch (the reference's
        # 12x-repreprocess bug reborn at plan level — SURVEY §4.1).
        # Pinned in the session registry so long-lived sessions can release
        # between batches (session_pins_scope / release_session_pins).
        #
        # The pin holds the enrichment keyed by timeline: the columns its
        # readers read (guide §2.3 — a persist materializes every column
        # past Catalyst's pruning; no reader wants the html payload or the
        # url), hash-partitioned on urit.  The anchor window, the group
        # kernels' groupBy and the metadata projection all read that
        # layout with no exchange of their own once the pin is filled (AQE
        # then knows its partitioning), so the urit shuffle runs once and
        # the Levenshtein UDF and the group kernels run side by side in the
        # stage above the pin.
        from ..session import pin_for_session

        columns = ["urit", "urim", "warc_ts", "raw_len", "tokens",
                   "n_tokens"] + optional
        if grouped:
            # the group kernels read the text's length only
            columns.append(F.length("text").alias("text_len"))
        if metadata:
            columns.append("lang")
        df = pin_for_session(df.select(*columns).repartition("urit"))

    entries = []
    for name in pairwise:
        score, error = _pairwise_score_column(name)
        tokenized, stemmed, removed_bp = MEASURE_REGISTRY[name]["flags"]
        entries.append(
            F.struct(
                F.lit(name).alias("measure"),
                F.when(error.isNull(), score).alias("comparison_score"),
                F.lit(tokenized).alias("tokenized"),
                F.lit(stemmed).alias("stemmed"),
                F.lit(removed_bp).alias("removed_boilerplate"),
                error.alias("error_msg"),
            )
        )

    long_parts = []
    if pairwise:
        anchored = _with_anchors(
            df, _anchored_columns("raw_simhash" in pairwise,
                                  "tf_simhash" in pairwise, need["top20"]),
            need_lev=bool({"levenshtein", "nlevenshtein"} & set(pairwise)))
        long_parts.append(
            with_pairwise_scalars(anchored, pairwise).select(
                "urit", "urim",
                F.explode(F.array(*entries)).alias("entry"),
            ).select(
                "urit", "urim",
                F.lit("timemap measures").alias("measuretype"),
                F.col("entry.measure").alias("measure"),
                F.col("entry.comparison_score").alias("comparison_score"),
                F.col("entry.tokenized").alias("tokenized"),
                F.col("entry.stemmed").alias("stemmed"),
                F.col("entry.removed_boilerplate").alias("removed_boilerplate"),
                F.col("entry.error_msg").alias("error_msg"),
            )
        )

    if grouped:
        long_parts.append(score_group_measures(df, grouped))

    scores = long_parts[0]
    for part in long_parts[1:]:
        scores = scores.unionByName(part)

    return label_scores(scores, thresholds), df


def label_scores(scores: DataFrame, thresholds: dict) -> DataFrame:
    """Per-measure verdict (otmt/measuremodel.py:456-502): direction op from
    the registry; error rows get no status."""
    direction_map = F.create_map(
        *[x for name in MEASURE_REGISTRY
          for x in (F.lit(name), F.lit(MEASURE_REGISTRY[name]["direction"]))]
    )
    threshold_map = F.create_map(
        *[x for name, value in thresholds.items()
          for x in (F.lit(name), F.lit(float(value)))]
    )
    direction = direction_map[F.col("measure")]
    threshold = threshold_map[F.col("measure")]
    off = (
        ((direction == "<") & (F.col("comparison_score") < threshold))
        | ((direction == ">") & (F.col("comparison_score") > threshold))
    )
    return scores.withColumn(
        "topic_status",
        F.when(F.col("error_msg").isNotNull(), F.lit(None).cast("string"))
        .when(off, F.lit("off-topic"))
        .otherwise(F.lit("on-topic")),
    )


def _overall_columns(window=None):
    """The overall verdict columns, as aggregates (``window=None``) or as
    the same aggregates over ``window``."""
    over = (lambda c: c.over(window)) if window is not None else (lambda c: c)
    return [
        F.when(
            over(F.max(F.when(F.col("topic_status") == "off-topic", 1)
                       .otherwise(0))) == 1,
            F.lit("off-topic"),
        )
        .when(
            over(F.count(F.col("topic_status"))) > 0,
            F.lit("on-topic"),
        )
        .alias("overall_topic_status"),
        over(F.max("error_msg")).alias("any_error_msg"),
    ]


def overall_status(scores: DataFrame) -> DataFrame:
    """OR across measures (otmt/measuremodel.py:504-530): off-topic if ANY
    measure voted off-topic; all-error mementos get no overall status."""
    return scores.groupBy("urit", "urim").agg(*_overall_columns())


def with_overall_status(scores: DataFrame) -> DataFrame:
    """``scores`` with :func:`overall_status`'s columns on every row —
    the same values as joining the aggregate back, from ONE read of
    ``scores`` (a window per memento), so a plan built over it runs the
    measure suite once."""
    from pyspark.sql import Window

    return scores.select(
        "*", *_overall_columns(Window.partitionBy("urit", "urim")))


def with_error_kinds(
    scores: DataFrame,
    memento_access: DataFrame | None = None,
    timemap_access: DataFrame | None = None,
) -> DataFrame:
    """Adds the reference's three-way ``error_kind`` taxonomy to the long
    scores frame (otmt/measuremodel.py:247-336), enforcing its exclusivity
    rules:

    - rows whose ``error_msg`` came from measurement are kind "measurement";
    - a memento access error (``memento_access``: urim, error_msg) REPLACES
      any measurement error for that memento (measuremodel.py:278-280)
      and clears any timemap access error for its timemap (:286-289);
    - a timemap access error (``timemap_access``: urit, error_msg) applies to
      every memento of that timemap unless a memento-level access error
      exists there (measuremodel.py:315-336).
    """
    return _with_error_kinds(scores, scores, memento_access, timemap_access)


def _with_error_kinds(scores, scored, memento_access=None,
                      timemap_access=None):
    """:func:`with_error_kinds`, taking the scored mementos from the
    ``urim`` column of ``scored`` (one or more rows per scored memento).
    A caller whose scores run Python (the group kernels) passes a frame
    that does not, so finding the never-scored mementos does not run the
    measures a second time."""
    from pyspark.sql import Window

    from .measures_constants import (
        ERROR_KIND_MEASUREMENT,
        ERROR_KIND_MEMENTO_ACCESS,
        ERROR_KIND_TIMEMAP_ACCESS,
    )

    df = scores.withColumn(
        "error_kind",
        F.when(F.col("error_msg").isNotNull(), F.lit(ERROR_KIND_MEASUREMENT)),
    )

    def _synthetic_rows(keyed, kind):
        """One row per never-scored urit/urim that carries only an access
        error — the reference emits exactly these (its error models are
        populated independently of the score model); every other column of
        the scores schema is NULL."""
        columns = []
        for field in df.schema.fields:
            if field.name in keyed.columns:
                columns.append(F.col(field.name))
            elif field.name == "error_msg":
                columns.append(F.col("error_msg"))
            elif field.name == "error_kind":
                columns.append(F.lit(kind).alias("error_kind"))
            else:
                columns.append(
                    F.lit(None).cast(field.dataType).alias(field.name))
        return keyed.select(*columns)

    if memento_access is not None:
        # ONE error per memento, like the reference's dict-keyed error
        # model: multiple access records for a urim (retries with distinct
        # messages) collapse to the min message — a distinct() would keep
        # one row PER MESSAGE and fan every score row out through the join.
        # Aggregating (not distinct-ing) also keys the synthetic-row frame
        # uniquely per urim (+urit for labeling).
        agg_keys = ["urim"] + (
            ["urit"] if "urit" in memento_access.columns else [])
        ma = memento_access.groupBy(*agg_keys).agg(
            F.min("error_msg").alias("error_msg"))
        ma_join = ma.groupBy("urim").agg(
            F.min("error_msg").alias("_ma_msg"))
        df = (
            df.join(F.broadcast(ma_join), "urim", "left")
            .withColumn(
                "error_kind",
                F.when(F.col("_ma_msg").isNotNull(),
                       F.lit(ERROR_KIND_MEMENTO_ACCESS))
                .otherwise(F.col("error_kind")))
            .withColumn(
                "error_msg",
                F.when(F.col("_ma_msg").isNotNull(), F.col("_ma_msg"))
                .otherwise(F.col("error_msg")))
            .drop("_ma_msg")
        )
        # mementos that failed to download never produced score rows at all —
        # they must still surface as one access-error row each
        missing = ma.join(scored.select("urim").distinct(), "urim",
                          "left_anti")
        df = df.unionByName(
            _synthetic_rows(missing, ERROR_KIND_MEMENTO_ACCESS))
    if timemap_access is not None:
        ta = timemap_access.groupBy("urit").agg(
            F.min("error_msg").alias("_ta_msg"))
        df = df.join(F.broadcast(ta), "urit", "left")
        # a memento access error anywhere in the timemap clears its
        # timemap-level error (reference exclusivity)
        urit_window = Window.partitionBy("urit")
        has_memento_err = (
            F.max(
                F.when(F.col("error_kind") == ERROR_KIND_MEMENTO_ACCESS, 1)
                .otherwise(0)
            ).over(urit_window) == 1
        )
        applies = F.col("_ta_msg").isNotNull() & ~has_memento_err
        df = (
            df.withColumn(
                "error_kind",
                F.when(applies, F.lit(ERROR_KIND_TIMEMAP_ACCESS))
                .otherwise(F.col("error_kind")))
            .withColumn(
                "error_msg",
                F.when(applies, F.col("_ta_msg")).otherwise(F.col("error_msg")))
            .drop("_ta_msg")
        )
        # an unfetchable timemap with NO rows at all in the frame (no scored
        # mementos, no memento-access rows that would clear it) still gets
        # one synthetic row; any existing row for the urit means the error
        # was either already applied by the window or cleared by exclusivity
        missing_tm = (
            ta.withColumnRenamed("_ta_msg", "error_msg")
            .join(df.select("urit").distinct(), "urit", "left_anti")
        )
        df = df.unionByName(
            _synthetic_rows(missing_tm, ERROR_KIND_TIMEMAP_ACCESS))
    return df


def memento_metadata(pages: DataFrame) -> DataFrame:
    """Per-memento metadata table (otmt/metadata_calcluations.py): raw simhash
    value, content length, language passthrough, memento datetime.  Its one
    Python UDF computes the raw simhash alone: no text, no tokens."""
    return _metadata_columns(enrich_pages(pages, ["raw_simhash"]))


def _metadata_columns(enriched: DataFrame) -> DataFrame:
    return enriched.select(
        "urit", "urim",
        F.col("raw_simhash").alias("simhash"),
        F.col("raw_len").alias("content_length"),
        F.col("lang").alias("language"),
        F.col("warc_ts").alias("memento_datetime"),
    )
