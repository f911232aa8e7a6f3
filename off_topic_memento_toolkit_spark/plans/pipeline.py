"""End-to-end pipelines: off-topic detection (detect_off_topic), the faithful
curation chain, and the resumable dedup-at-scale pipeline.

Physical shapes (SURVEY §3.1/§4.3):
- detect_off_topic: scan → window (one hash shuffle on urit) → kernels
  (pipelined) → labels → overall agg (reuses urit clustering) — a single
  exchange for the whole measure suite.
- dedup: signatures (map-only) → one candidate table of MinHash band and
  SimHash chunk keys → one shuffle on the bucket key, pairs expanded per
  bucket (no join) → verify (pair join) → CC loop (checkpointed per
  iteration) → clusters; every stage is a named checkpoint table so a
  relaunch resumes.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.components import attach_components
from ..operators.curation import (
    cluster_by_simhash,
    exclude_duplicates,
    quality_score,
    select_representatives,
    slice_by_datetime,
)
from ..operators.lsh import candidate_keys, candidate_pairs, minhash_band_table
from ..operators.measures import overall_status, scores_with_metadata
from ..operators.timeline import prepare_pages
from ..operators.verify import verified_pairs_jaccard, verified_pairs_lcs
from .promote import STATE_STAGES


def detect_off_topic(
    pages: DataFrame,
    measures=("cosine",),
    thresholds: dict | None = None,
):
    """The flagship query (bin/detect_off_topic): per-memento scores vs the
    first memento, per-measure labels, the overall OR, and the per-memento
    metadata — scores and metadata from one enrichment.

    ``overall`` reads ``scores``, and each action recomputes the scores
    above the enrichment pin (Levenshtein, the group kernels): a caller
    that reads them more than once, or joins scores with overall, pins
    ``scores`` first (``session.pin_for_session``), as the CLI does with
    its report."""
    scores, meta = scores_with_metadata(pages, measures=measures,
                                        thresholds=thresholds)
    overall = overall_status(scores)
    return {"scores": scores, "overall": overall, "meta": meta}


def offtopic_uri_lists(overall: DataFrame):
    """S12 — on/off-topic URI-M lists (bin/detect_off_topic:136-164)."""
    off = overall.filter(F.col("overall_topic_status") == "off-topic").select("urim")
    on = overall.filter(F.col("overall_topic_status") == "on-topic").select("urim")
    return {"offtopic": off, "ontopic": on}


def story_pipeline(meta: DataFrame, dedup_threshold: float = 0.2) -> DataFrame:
    """Faithful curation chain: exclude duplicates → slice → cluster →
    quality-pick one representative per (slice, cluster)."""
    nondup = exclude_duplicates(meta, threshold=dedup_threshold)
    sliced = slice_by_datetime(nondup)
    clustered = cluster_by_simhash(sliced)
    # reference quality operates on the URI-M string (embedded original URL)
    scored = quality_score(clustered, url_col="urim")
    return select_representatives(scored)


def dedupe_pages(pages: DataFrame, id_cols=("url", "warc_ts"),
                 expensive_scan: bool = False) -> DataFrame:
    """Input-page dedupe that never shuffles the html payload.

    A plain ``dropDuplicates`` would shuffle every row — at corpus scale
    that moves the whole html column through the exchange for a guard
    that usually removes nothing.  Instead: find the DUPLICATED keys with
    a narrow-column aggregation (the scan prunes to the id columns), then
    pass unique-keyed rows through map-side (broadcast anti-join) and
    shuffle only the rows belonging to duplicated keys.  Among conflicting
    duplicates (same key, different payload — a re-crawled page) the kept
    row is arbitrary, matching ``dropDuplicates`` semantics.

    Assumes the duplicate-key set fits a broadcast (duplicates are rare
    in a deduped crawl frontier); a pathological input where most keys
    repeat degrades to ~the plain dropDuplicates cost, not worse.

    ``expensive_scan=True``: the plan above reads the source three times
    (one narrow aggregation + two full scans), which is the right trade
    for column-prunable parquet/Iceberg but TRIPLES the parse cost of a
    non-prunable source (warc: globs re-parse every record per scan) —
    that flag switches to a single-scan ``dropDuplicates`` (one full
    shuffle instead of two extra scans)."""
    if expensive_scan:
        return pages.dropDuplicates(list(id_cols))
    cols = list(id_cols)
    # null-SAFE key matching throughout: dropDuplicates treats NULL keys as
    # equal, so the semi/anti routing must too — a plain equality join would
    # never match a NULL key and duplicated null-keyed rows would pass
    # through the unique branch uncollapsed.  groupBy already groups NULLs;
    # the joins use eqNullSafe (still a broadcast hash join — EqualNullSafe
    # is a valid hash-join key).
    dup_keys = F.broadcast(
        pages.groupBy(*cols).agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1).drop("_c")
        .select(*[F.col(c).alias(f"_dk_{c}") for c in cols]))
    cond = F.lit(True)
    for c in cols:
        cond = cond & pages[c].eqNullSafe(F.col(f"_dk_{c}"))
    unique_part = pages.join(dup_keys, cond, "left_anti")
    collapsed = pages.join(dup_keys, cond, "left_semi").dropDuplicates(cols)
    return unique_part.unionByName(collapsed)


def dedup_docs(pages: DataFrame,
               input_scan_expensive: bool = False) -> DataFrame:
    """The dedup ``docs`` stage, (nid, urim, text, tokens, raw_simhash) —
    built the same way for the batch pipeline and for an ingest increment
    (operators/incremental.py).

    ``nid`` is a deterministic 64-bit surrogate id used through every
    shuffle-heavy stage: pair expansion and CC move 16-byte long pairs
    instead of two ~60-char urim strings (~7x fewer shuffle bytes).  At
    10^12 docs a 64-bit hash collides (birthday ≈ n²/2^65) — swap in the
    128-bit variant (two xxhash64 salts) when deploying at that scale;
    collisions only ever MERGE clusters, never split them.

    Pages are deduped BEFORE the UDFs: a page listed twice (overlapping
    WARC globs, a re-crawled segment) must count once — in every
    bucket-size cap downstream — and must not be extracted/tokenized
    twice.  urim ≡ (url, warc_ts), so this is the nid-dedupe."""
    return prepare_pages(
        dedupe_pages(pages, expensive_scan=input_scan_expensive),
        need_tf_simhash=False,
    ).select(
        F.xxhash64("urim").alias("nid"),
        "urim", "text", "tokens", "raw_simhash",
    )


def dedup_pipeline(
    pages: DataFrame,
    store=None,
    num_perm: int = 128,
    shingle_words: int = 5,
    bands: int = 32,
    min_jaccard: float = 0.8,
    max_hamming: int = 3,
    verify_method: str = "jaccard",
    min_lcs_ratio: float = 0.6,
    cc_small_graph_threshold: int = 1 << 20,
    input_scan_expensive: bool = False,
    state_buckets: int = 32,
) -> DataFrame:
    """Near-duplicate clusters at scale: MinHash-LSH (+ SimHash Hamming-ball)
    candidates → verification → large-star/small-star CC.

    ``store``: optional :class:`..plans.checkpoints.CheckpointStore`; when
    given, each stage becomes a committed, resumable table.  The four
    corpus-state stages an ingest/takedown promote later mutates
    (:data:`.promote.STATE_STAGES`) are written hash-BUCKETED on their
    key (``state_buckets`` buckets) so the promote runs as a row-level
    ``merge`` — rewriting only the touched buckets, never the corpus.  At
    10^12 docs size ``state_buckets`` so one bucket is a few GB.
    """
    # before any stage runs: a store-backed call must not commit stages
    # for a run that cannot finish
    if verify_method not in ("jaccard", "lcs"):
        raise ValueError(f"unknown verify_method {verify_method!r}")
    def stage(name, build):
        if store is None:
            return build()
        # key-clustered layouts for the mutable corpus state; intermediate
        # stages (candidates, CC iterations) are write-once → unbucketed
        return store.run_stage(name, build,
                               bucket_by=STATE_STAGES.get(name),
                               num_buckets=state_buckets)

    docs = stage("docs", lambda: dedup_docs(pages, input_scan_expensive))
    if store is None:
        # downstream stages (minhash bands, simhash chunks, verify join) each
        # traverse docs; without the checkpoint table, cache it so the
        # extract/tokenize/simhash UDF lineage runs once.  Its first reader
        # is the map side of the candidate table's one bucket exchange (the
        # band and the chunk rows), so the pin fills there with no eager
        # job; the verify prune and CC read it after the candidates, behind
        # their broadcast.  Pinned in the session registry, the one place
        # package pins live: an enclosing session_pins_scope releases it on
        # exit, release_session_pins drains it.
        #
        # Project before the pin (guide §2.3): the jaccard verify path never
        # reads `text`, so caching it would materialize the corpus text for
        # nothing — only the LCS verifier needs it.  (The store path keeps
        # the full (nid, urim, text, tokens, raw_simhash) stage contract —
        # incremental/takedown read the committed docs table.)
        from ..session import pin_for_session

        pin_cols = ["nid", "urim", "tokens", "raw_simhash"]
        if verify_method == "lcs":
            pin_cols.insert(2, "text")
        docs = pin_for_session(docs.select(*pin_cols))

    def build_bands():
        # checkpointed as its OWN stage: the band table is the corpus state
        # an incremental ingest (operators/incremental.py) joins new batches
        # against — without it, every increment would re-run the minhash
        # UDF over the whole history
        return minhash_band_table(
            docs, id_col="nid", tokens_col="tokens",
            num_perm=num_perm, shingle_words=shingle_words, bands=bands,
        )

    band_table = stage("bands", build_bands)

    def build_candidates():
        # both channels' keys in one table: one bucket exchange, one pair
        # distinct
        return candidate_pairs(candidate_keys(band_table, docs, max_hamming),
                               max_hamming)

    candidates = stage("candidate_edges", build_candidates)
    if store is None:
        # the verify stage traverses candidates TWICE (endpoint prune +
        # pair join).  With a store that second traversal is a cheap
        # re-read of the committed stage table; without one it would
        # re-run the entire banding/pair-expand lineage — pin the pair
        # frame (narrow: two longs per row) in the session registry like
        # the docs pin above.
        from ..session import pin_for_session

        candidates = pin_for_session(candidates)

    def build_verified():
        # prune the corpus to the pair endpoints before the payload joins —
        # candidates is a materialized stage here, so the prune's second
        # traversal of it is a cheap re-read (see
        # verify.prune_docs_to_pair_endpoints; the incremental path applies
        # the same prune)
        from ..operators.verify import prune_docs_to_pair_endpoints

        pruned_docs = prune_docs_to_pair_endpoints(candidates, docs, "nid")
        if verify_method == "lcs":
            # suffix-array-equivalent longest-common-substring check
            # (north_rule channel; rolling-hash binary search per pair)
            return verified_pairs_lcs(
                candidates, pruned_docs, id_col="nid", text_col="text",
                min_ratio=min_lcs_ratio,
            ).select("id_a", "id_b")
        return verified_pairs_jaccard(
            candidates, pruned_docs, id_col="nid", tokens_col="tokens",
            min_jaccard=min_jaccard,
        ).select("id_a", "id_b")

    verified = stage("verified_edges", build_verified)

    def build_clusters():
        edges = verified.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        cc_writer = None
        if store is not None:
            # MID-LOOP resume (north_rule "resumes mid-pipeline"): each CC
            # iteration is its own committed stage.  On relaunch the loop
            # replays committed iterations as pure reads — the star-step
            # plans built for them are lazy and never execute — and resumes
            # computing at the first uncommitted iteration.
            def cc_writer(df, iteration):
                name = f"cc_iter_{iteration:03d}"
                if store.is_committed(name):
                    return store.read(name)
                return store.write(df, name)

        labeled = attach_components(
            docs.select("nid", "urim"), edges, id_col="nid",
            checkpoint_dir_writer=cc_writer,
            small_graph_threshold=cc_small_graph_threshold,
            # verified edges are canonical unique pairs (candidates are
            # distinct()-ed, verify emits one row per pair) — skip CC's
            # entry distinct, a full shuffle of the edge set at any scale
            assume_distinct=True,
        )
        return labeled.select("urim", "component")

    return stage("clusters", build_clusters)


def pipeline_metrics(root: str) -> list:
    """Per-stage metrics table from the committed markers of the parquet
    checkpoint directory ``root`` (north_rule "per-partition lineage +
    metrics"): one dict per committed stage with
    rows, partitions, snapshot version, commit order, and the min/max
    per-partition row counts (skew visibility)."""
    import glob
    import json
    import os

    out = []
    for marker_path in glob.glob(os.path.join(root, "*._COMMIT.json")):
        with open(marker_path) as fh:
            marker = json.load(fh)
        per_part = [p["rows"] for p in marker.get("per_partition_rows", [])]
        out.append({
            "stage": marker["stage"],
            "run_id": marker.get("run_id"),
            "version": marker.get("version"),
            "rows": marker.get("rows"),
            "partitions": marker.get("partitions"),
            "min_partition_rows": min(per_part) if per_part else None,
            "max_partition_rows": max(per_part) if per_part else None,
            "committed_at_monotonic": marker.get("committed_at_monotonic"),
            "committed_at_unix": marker.get("committed_at_unix"),
        })
    # wall clock first: monotonic restarts at boot, so a resumed-after-reboot
    # run would otherwise sort its later stages before the earlier ones
    out.sort(key=lambda m: (m["committed_at_unix"] or 0,
                            m["committed_at_monotonic"] or 0))
    return out
