"""The bin/ curation chain as DataFrame operators (faithful mode).

Reference dataflow (SURVEY §3.3): detect_off_topic JSON → exclude_duplicates /
slice_by_datetime → cluster_by_simhash → select_high_quality, passing
TSV/JSON files between processes.  Here each stage is a DataFrame transform on
the ``meta`` table (urit, urim, simhash, content_length, memento_datetime) and
the whole chain is one lineage.

Parity quirks preserved deliberately:
- D1 (bin/exclude_duplicates:67-106): previous simhash starts at 0, so the
  first memento is compared against Simhash(0); exact-simhash repeats are
  skipped entirely (don't update prev); distance/64 > threshold ⇒ NON-duplicate.
- D2 (bin/slice_by_datetime:60-116): slice 0 gets exactly one element; the
  trailing partial slice is silently DROPPED (the reference never flushes it).
- D3 (bin/cluster_by_simhash:72-95): DBSCAN(eps=.3, min_samples=2) on a
  1-feature matrix of simhash ints ⇒ clusters are groups of ≥2 IDENTICAL
  values, numbered in order of first appearance within the slice; singletons
  are -1.
- D4/D5 (bin/select_high_quality:44-175): quality = 0.15*category +
  0.45*depth - 0.40*damage (damage service external ⇒ 0); top-1 per
  (slice, cluster) with ties broken by descending (score, urim).
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def consider_only(df: DataFrame, consideration: DataFrame, key: str = "urim",
                  broadcast: bool = True) -> DataFrame:
    """F4 consideration-list semi-filter (bin/*:46-79).

    ``broadcast=True`` (default) forces a broadcast semi-join — the right
    shape for the reference's workflow, where the list is a tool output
    (thousands to millions of urims).  Pass ``broadcast=False`` when the
    list is corpus-sized (e.g. a full on-topic partition of a 10^12-doc
    table): the semi-join then shuffles on the key like any equi-join and
    AQE may still choose to broadcast if the list turns out small.  A
    semi-join keeps each row once however often its key repeats on the
    list side, so the list is not deduplicated first."""
    keys = consideration.select(key)
    if broadcast:
        keys = F.broadcast(keys)
    return df.join(keys, key, "left_semi")


def select_by_language(df: DataFrame, language: str,
                       lang_col: str = "lang") -> DataFrame:
    """F3 — keep rows whose detected language equals ``language``
    (bin/select_by_language:58-74)."""
    return df.filter(F.col(lang_col) == language)


def exclude_duplicates(meta: DataFrame, threshold: float = 0.2,
                       first_seen_skip: bool = False) -> DataFrame:
    """D1 — returns the NON-duplicate rows (bin/exclude_duplicates).

    Input needs: urit, urim, simhash (64-bit value, signed long), and an
    order column ``memento_datetime``.

    The reference tool has TWO control flows and they differ:

    - ``first_seen_skip=False`` (default — the tool run WITHOUT a
      consideration file, bin/exclude_duplicates:95-106): every memento is
      compared to the immediately previous one and ``previous_simhash``
      updates on EVERY row; a simhash value recurring later in the timeline
      (an oscillating page: A, B, A) is re-emitted whenever it differs from
      its immediate predecessor.
    - ``first_seen_skip=True`` (the consideration-file branch, :78-93): a
      simhash value already seen in this timeline is skipped outright
      (``prior_simhashes`` set) and the skipped row does NOT update
      ``previous_simhash`` — so the lag chain runs over first occurrences
      only.  Callers modeling the consideration run should apply
      :func:`consider_only` first, then this with ``first_seen_skip=True``
      (the reference checks membership inside the same loop, which is
      equivalent because non-considered rows touch no state either).
    """
    order = ("memento_datetime", "urim")
    if first_seen_skip:
        seen_window = Window.partitionBy("urit", "simhash").orderBy(*order)
        meta = meta.withColumn(
            "_occurrence", F.row_number().over(seen_window)
        ).filter(F.col("_occurrence") == 1).drop("_occurrence")

    lag_window = Window.partitionBy("urit").orderBy(*order)
    with_prev = meta.withColumn(
        "_prev_simhash", F.lag("simhash", 1, 0).over(lag_window)
    )
    distance = F.bit_count(F.col("simhash").bitwiseXOR(F.col("_prev_simhash")))
    return (
        with_prev.filter(distance / 64 > threshold)
        .drop("_prev_simhash")
    )


def with_global_position(df: DataFrame, order_cols,
                         pos_col: str = "global_position",
                         num_partitions: int | None = None,
                         total_col: str | None = None) -> DataFrame:
    """Distributed dense 0-based rank over a UNIQUE total order — the
    scalable replacement for ``row_number()`` over a single-partition Window.

    Fully LAZY (no jobs at plan-build time — the round-3 eager
    ``localCheckpoint`` variant fired two driver actions per call and
    regressed small-collection latency 2.6x) and nothing funnels the DATA
    through one task:

    1. ``repartitionByRange`` on the order key (partition p holds a
       contiguous key range) + ``sortWithinPartitions``; the layout is
       pinned (``session.pin_for_session``) so the offsets side and the
       output side share one materialization within the first action.
       Re-computation on cache eviction is safe: range boundaries come from
       a deterministically-seeded sample of a deterministic input, so every
       re-execution yields the same layout.
    2. ``monotonically_increasing_id()`` over that layout encodes
       ``(partition_id << 33) + local_row_index`` — the per-partition dense
       rank for free, JVM-side, in row order;
    3. per-partition counts → prefix offsets + grand total, computed IN-PLAN
       on the aggregated side (#partitions rows) ``coalesce``-d to one task
       — a Coalesce on the tiny side, never an Exchange SinglePartition of
       the data — then broadcast-joined back on the decoded partition id.

    ``total_col``: optionally carries count(*) as a column so callers can
    fold downstream arithmetic (slice math) into the same lazy plan instead
    of collecting a driver-side literal.

    The order must be unique (here (memento_datetime, urim) — urim breaks
    ties), which makes the rank independent of range boundary placement.

    Pin release follows the session registry's scope contract: inside a
    ``session.session_pins_scope()`` the layout is released when the block
    exits, so consume the ranking (run its actions) inside the block; a
    pin made outside any scope stays until ``release_session_pins()`` or
    ``clearCache()``.  Building another ranking never releases an earlier
    one, which may not have been consumed yet."""
    from ..session import pin_for_session

    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # The pin is load-bearing, not an optimization: Catalyst does NOT reuse
    # the range exchange across the offsets and output branches (verified:
    # 2 exchanges without it), and two independent executions of
    # repartitionByRange may sample different boundaries when the upstream
    # row order is nondeterministic — the pin is what makes both branches
    # read ONE layout.
    ranged = pin_for_session(
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols))
    local = F.monotonically_increasing_id()
    with_mid = (
        ranged.withColumn("_pid", F.shiftrightunsigned(local, 33))
        .withColumn("_local", local.bitwiseAND(F.lit((1 << 33) - 1)))
    )
    # NOTE: this unpartitioned Window triggers Spark's "No Partition
    # Defined ... moving all data to a single partition" WARNING at
    # runtime.  It is benign BY CONSTRUCTION — do not "fix" it: the window
    # runs on the OFFSETS side only, which is one row per range partition
    # (#shuffle-partitions rows, already coalesced to one task two lines
    # down), never on the data.  The no-single-partition-exchange claim for
    # the DATA path is asserted by tests/test_plan_shape.py.
    by_pid = Window.orderBy("_pid")
    offsets = (
        with_mid.groupBy("_pid").agg(F.count("*").alias("_cnt"))
        .coalesce(1)
        .select(
            "_pid",
            F.coalesce(
                F.sum("_cnt").over(
                    by_pid.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("_offset"),
            F.sum("_cnt").over(
                by_pid.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
            ).alias("_total"),
        )
    )
    out = (
        with_mid.join(F.broadcast(offsets), "_pid")
        .withColumn(pos_col, F.col("_offset") + F.col("_local"))
    )
    extra = [F.col("_total").alias(total_col)] if total_col else []
    return out.select(*[F.col(c) for c in df.columns], F.col(pos_col), *extra)


def slice_by_datetime(meta: DataFrame) -> DataFrame:
    """D2 — adds ``slice_id``; drops the reference's never-flushed tail.

    The global (memento_datetime, urim) rank is computed with the
    distributed two-phase ranking (:func:`with_global_position`) — no
    single-partition sort anywhere — and N rides along as a column
    (``total_col``), so the slice arithmetic
    (bin/slice_by_datetime:60-109, quirks included) folds into the SAME
    lazy plan: building this transform fires zero jobs."""
    indexed = with_global_position(
        meta, ["memento_datetime", "urim"],
        pos_col="global_position", total_col="_n")
    n = F.col("_n")
    pos = F.col("global_position")
    # slice_count = n if n <= 28 else floor(28 + log10(n));  ips = n // sc ≥ 1
    slice_count = F.when(n <= 28, n).otherwise(
        F.floor(F.lit(28.0) + F.log10(n.cast("double"))))
    slice_id = F.when(pos == 0, 0).otherwise(
        F.ceil(pos / F.col("_ips").cast("double")))
    return (
        indexed.withColumn("_sc", slice_count.cast("long"))
        .withColumn("_ips", F.expr("_n div _sc"))  # exact integer division
        .withColumn("slice_id", slice_id.cast("int"))
        # a slice only exists if the reference closed it (i % ips == 0 reached)
        .filter((pos == 0) | (F.col("slice_id").cast("long") * F.col("_ips")
                              <= n - 1))
        .drop("_n", "_sc", "_ips")
    )


def cluster_by_simhash(sliced: DataFrame) -> DataFrame:
    """D3 — adds ``cluster_id`` per slice: equal-simhash groups of ≥2 get
    dense ids in order of first appearance; singletons get -1."""
    group_window = Window.partitionBy("slice_id", "simhash")
    with_group = sliced.withColumn("_group_size", F.count("*").over(group_window)) \
                       .withColumn("_first_pos", F.min("global_position").over(group_window))

    clusters = (
        with_group.filter(F.col("_group_size") >= 2)
        .select("slice_id", "simhash", "_first_pos")
        .distinct()
        .withColumn(
            "cluster_id",
            F.row_number().over(
                Window.partitionBy("slice_id").orderBy("_first_pos")
            ) - 1,
        )
        .drop("_first_pos")
    )
    return (
        with_group.join(clusters, ["slice_id", "simhash"], "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.lit(-1)))
        .drop("_group_size", "_first_pos")
    )


def _category_column(host):
    """Hostname → category weight (bin/select_high_quality:44-79).

    The reference's patterns ('.*t.co.*', '.*redd.it.*', ...) leave the
    dots UNESCAPED — ``.`` is an any-char wildcard there, so e.g.
    'tacoma.com' ('t'+'a'+'co') is categorized as t.co/0.5 by the
    reference.  Preserved verbatim: do NOT escape the dots.

    Each group compiles to ONE alternation regex: the patterns are plain
    literals-plus-dot-wildcards (no metacharacters that alternation could
    rebind), so ``rlike(a)|rlike(b)|…`` ≡ ``rlike("a|b|…")`` — one regex
    evaluation per group per row instead of eight, and an order of
    magnitude fewer Column constructions at plan-build time."""
    def any_match(*patterns):
        return host.rlike("|".join(patterns))

    return (
        F.when(host.isNull(), F.lit(-1.0))
        .when(any_match("twitter", "t.co", "redd.it", "facebook", "fb.me",
                        "plus.google", "wiki", "globalvoicesonline", "fbcdn"),
              0.5)
        .when(any_match("cnn", "bbc", "news", "rosaonline", "aljazeera",
                        "guardian", "USATODAY", "nytimes", "abc", "foxnews",
                        "allvoices", "huffingtonpost"), 0.7)
        .when(any_match("dailymotion", "youtube", "youtu.be"), 0.7)
        .when(any_match("wordpress", "blog"), 0.4)
        .when(any_match("flickr", "flic.kr", "instagram", "twitpic"), 0.6)
        .otherwise(0.0)
    )


def quality_score(df: DataFrame, url_col: str = "url",
                  damage_col=None) -> DataFrame:
    """D4 — ``score = -0.40*damage + 0.15*category + 0.45*depth``
    (bin/select_high_quality:124-126).

    ``damage_col``: optional Column (or column name) supplying the memento
    damage rating.  The reference fetches it from an external HTTP service
    and silently uses 0 when the service is absent
    (bin/select_high_quality:92-120); callers with a damage table join it on
    and pass the column here, which exercises the −0.40 weight.  Default
    None = the service-absent branch (damage 0).

    Category and depth operate on the ORIGINAL URL the reference locates
    INSIDE the URI-M with ``find('http', 10)`` (bin/select_high_quality:
    44-52, 81-90) — quirks preserved verbatim:

    - category parses ``urim[idx:]``; idx = -1 (no embedded 'http' at
      0-based index ≥ 10 — e.g. a PLAIN original URL) slices the LAST
      CHARACTER, whose urlparse has no hostname → the -1 branch;
    - the hostname is LOWERCASED like ``urlparse().hostname``, so the
      reference's case-sensitive 'USATODAY' pattern can never match;
    - depth counts '/' in ``urim[idx+7:-1]`` (drops 'http://' and the
      final character) after first dropping one trailing slash; idx = -1
      degrades to ``urim[6:-1]``, exactly like the reference."""
    url = F.col(url_col)
    # category input: find('http', 10) on the RAW string (no slash strip)
    cat_idx = F.locate("http", url, 11) - 1  # 0-based; locate 0 → -1
    cat_src = (
        F.when(cat_idx >= 0, url.substr(cat_idx + 1, F.length(url)))
        .otherwise(url.substr(F.length(url), F.lit(1)))
    )
    host = F.lower(F.parse_url(cat_src, F.lit("HOST")))

    # depth input: strip one trailing slash FIRST, then the same find
    stripped = F.when(
        url.endswith("/"),
        F.expr(f"substring({url_col}, 1, length({url_col}) - 1)"),
    ).otherwise(url)
    with_cols = df.withColumn("_stripped", stripped)
    d_idx = F.locate("http", F.col("_stripped"), 11) - 1
    # urim[idx+7:-1] in 1-based substring terms: start idx+8, length
    # len-idx-8 — the SAME formula covers idx = -1 (python's [6:-1])
    d_slice = F.col("_stripped").substr(
        d_idx + 8,
        F.greatest(F.length("_stripped") - d_idx - 8, F.lit(0)))
    depth = (
        (F.length(d_slice)
         - F.length(F.regexp_replace(d_slice, "/", ""))) / 10.0
    )
    if damage_col is None:
        damage = F.lit(0.0)
    elif isinstance(damage_col, str):
        damage = F.coalesce(F.col(damage_col), F.lit(0.0))
    else:
        damage = F.coalesce(damage_col, F.lit(0.0))
    return (
        with_cols
        .withColumn("category_score", _category_column(host))
        .withColumn("depth_score", depth)
        .withColumn("damage_score", damage)
        .withColumn(
            "quality",
            -0.40 * F.col("damage_score")
            + 0.15 * F.col("category_score")
            + 0.45 * F.col("depth_score"),
        )
        .drop("_stripped")
    )


def select_representatives(clustered: DataFrame) -> DataFrame:
    """D5 — top-quality memento per (slice, cluster); desc (score, urim)
    tie-break mirrors sorted(..., reverse=True)[0]."""
    window = Window.partitionBy("slice_id", "cluster_id").orderBy(
        F.desc("quality"), F.desc("urim")
    )
    return (
        clustered.withColumn("_rank", F.row_number().over(window))
        .filter(F.col("_rank") == 1)
        .drop("_rank")
    )
