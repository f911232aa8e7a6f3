"""Incremental (delta-batch) dedup: fold a NEW crawl increment into an
already-deduplicated corpus without reprocessing history.

The batch pipeline (plans/pipeline.py::dedup_pipeline) recomputes signatures,
candidate pairs, and connected components over the WHOLE corpus.  At 10^12
documents that is exactly what a daily ingest must not do: the increment is
~10^9 docs, the corpus 1000x that.  This module gives the delta path:

1. ``delta_bucket_rows`` + ``lsh.candidate_pairs`` — candidate pairs
   TOUCHING the new batch, computed by pruning the base candidate table
   (the checkpointed bands and the chunks of the stored simhashes) to only
   the buckets the delta collides with (a broadcast semi-join on the
   delta's bucket keys — the base table is scanned once, map-side, and
   everything outside the delta's key space is discarded before any
   shuffle).  ``incremental_candidate_pairs`` is the bands-only form.
   Output semantics are the exact restriction of a full recompute over
   base ∪ new to pairs with ≥1 new endpoint: bucket membership (and
   therefore the hot-bucket cap) is evaluated over base ∪ new per bucket,
   identical to what the full run would see.
2. ``incremental_components`` — merge the new verified edges into the prior
   (id, component) assignment via CONTRACTION: each prior component is one
   node (its label), new edges connect contracted nodes, and connected
   components runs on that contracted graph — whose size is O(delta edges),
   never O(corpus).  Because every prior label is the min member id of its
   component (components.py invariant), the merged label — min over merged
   components' labels — equals the min member id of the merged set: the
   SAME labels a full recompute over (prior star edges ∪ new edges) yields.
   The corpus-sized assignment table is touched by exactly one broadcast
   join (relabel map is O(touched components)) — no corpus shuffle.

Equivalence to full recompute: labels from the incremental path equal a
batch rerun over base ∪ new whenever no delta-touched bucket crosses
``max_bucket_size`` between the two runs (the cap is evaluated over
base ∪ new either way, but a bucket that was UNDER the cap in the base-only
run may exceed it once the delta lands: the batch rerun then drops its
base×base pairs while the prior assignment already contains them).  The
incremental contract is deliberately MONOTONE — prior merges are never
undone — which is the behavior an ingest pipeline wants; the property test
(tests/test_incremental.py) pins both the exact-equivalence case and the
monotonicity.

Scale shape (10^12 corpus, 10^9 delta):
- base bands live in a checkpointed/Iceberg table; the broadcast semi-join
  prunes at the scan,
- one shuffle on the bucket key over pruned-base ∪ new (delta-sized),
- verification joins touch only pair endpoints (delta-sized),
- the CC runs on the contracted graph (delta-sized),
- prior assignments are re-labeled with one broadcast hash join (map-only
  over the corpus table — and since only touched components change, the
  write can be a partition-level upsert/MERGE in the Iceberg store).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import connected_components
from .lsh import (
    BUCKET_KEY,
    band_keys,
    candidate_keys,
    candidate_pairs,
    minhash_band_table,
)
from .verify import prune_docs_to_pair_endpoints, verified_pairs_jaccard


def delta_bucket_rows(
    base_rows: DataFrame,
    new_rows: DataFrame,
    key_cols: list,
) -> DataFrame:
    """The rows a delta-touched bucket holds over base ∪ new: rows are
    (id, *key_cols, *payload); the result adds ``is_new``.

    The base table is pruned to the buckets the delta touches with a
    broadcast semi-join on the delta's bucket keys, so it is scanned once,
    map-side, and everything outside the delta's key space is discarded
    before any shuffle.  Pruning keeps EVERY member of every delta-touched
    bucket, so a bucket count over these rows — the pairing gate's and
    :func:`lsh.dropped_bucket_stats`'s — is identical to a full base ∪ new
    run."""
    new_keys = F.broadcast(new_rows.select(*key_cols).distinct())
    pruned_base = base_rows.join(new_keys, key_cols, "left_semi")
    # a RE-INGESTED id (present in both tables) must count ONCE per bucket:
    # its base rows are dropped entirely (the new rows represent the doc
    # now), otherwise the doubled membership inflates the bucket count and
    # a bucket at the cap boundary is spuriously dropped — silent candidate
    # loss on re-ingest batches.  Delta-sized id set, broadcast like the
    # bucket-key prune.
    new_ids = F.broadcast(new_rows.select("id").distinct())
    pruned_base = pruned_base.join(new_ids, "id", "left_anti")
    return (
        pruned_base.withColumn("is_new", F.lit(False))
        .unionByName(new_rows.withColumn("is_new", F.lit(True)))
    )


def incremental_candidate_pairs(
    base_bands: DataFrame,
    new_bands: DataFrame,
    max_bucket_size: int = 64,
) -> DataFrame:
    """MinHash-LSH candidate pairs with ≥1 endpoint in the new batch:
    :func:`lsh.candidate_pairs` over the :func:`delta_bucket_rows` of both
    sides' band keys.

    ``base_bands`` / ``new_bands``: (id, band, band_hash) as produced by
    lsh.py::minhash_band_table — the base side read back from the
    checkpointed ``bands`` stage table, NOT recomputed.  The cap's
    exclusions are counted by ``lsh.dropped_bucket_stats`` over
    ``delta_bucket_rows(base_bands, new_bands, ["band", "band_hash"])``."""
    return candidate_pairs(
        delta_bucket_rows(band_keys(base_bands), band_keys(new_bands),
                          BUCKET_KEY),
        max_bucket_size=max_bucket_size)


def incremental_components(
    prior_assignments: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame,
    cc_kwargs: dict | None = None,
    with_delta: bool = False,
) -> DataFrame:
    """Fold verified delta edges into a prior (id, component) assignment.

    - ``prior_assignments``: every base doc labeled (singletons label
      themselves — attach_components semantics; labels are component-min
      ids).
    - ``new_edges``: (id_a, id_b) verified pairs touching the delta.
    - ``new_ids``: (id) — every doc in the delta (edge-less delta docs
      become their own singleton components).

    Returns the FULL updated assignment (base ∪ new).  The corpus-sized
    ``prior_assignments`` is touched by exactly one broadcast join against
    the O(touched-components) relabel map; the CC itself runs on the
    contracted component graph, which is O(len(new_edges)).

    ``with_delta=True`` returns ``{"assignments": full, "delta": changed}``
    where ``delta`` is ONLY the rows a row-level state merge must touch:
    base rows whose label actually changed (prior component ∈ the relabel
    map with a different merged label — found by the same broadcast join,
    map-only over the corpus) plus every delta-batch row.  That is what
    makes a promote O(changed) instead of a corpus rewrite."""
    prior_by_id = prior_assignments.select("id", "component")

    # contract: each endpoint → its prior component (itself when unknown,
    # i.e. a delta doc or a base doc the prior table somehow missed).
    # Scale shape: the corpus-sized prior table is first PRUNED to the edge
    # endpoints with a broadcast semi-join (map-only corpus scan — a direct
    # left join from the edges would hash-shuffle the whole prior table,
    # since the left side of a left-outer cannot be broadcast); the pruned
    # lookup is delta-sized and broadcasts into both endpoint joins.
    endpoint_ids = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionByName(new_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched_prior = prior_by_id.join(
        F.broadcast(endpoint_ids), "id", "left_semi")
    contracted = (
        new_edges
        .join(F.broadcast(touched_prior.withColumnRenamed("id", "id_a")
                          .withColumnRenamed("component", "_comp_a")),
              "id_a", "left")
        .join(F.broadcast(touched_prior.withColumnRenamed("id", "id_b")
                          .withColumnRenamed("component", "_comp_b")),
              "id_b", "left")
        .select(
            F.coalesce("_comp_a", "id_a").alias("src"),
            F.coalesce("_comp_b", "id_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    labels = connected_components(contracted, **(cc_kwargs or {}))
    # labels: (id=contracted node, component=merged min).  Contracted nodes
    # are prior component labels and/or delta doc ids.
    relabel = labels.withColumnRenamed("id", "_node").withColumnRenamed(
        "component", "_merged")

    updated_base = (
        prior_assignments.join(
            F.broadcast(relabel),
            prior_assignments["component"] == relabel["_node"], "left")
        .select(
            prior_assignments["id"],
            F.coalesce("_merged", prior_assignments["component"])
            .alias("component"),
        )
    )
    # a re-ingested id (already in the prior assignment) must not be listed
    # twice: the prior branch carries it.  The known-set is found with a
    # broadcast semi-join (map-only pass over the corpus table, delta-sized
    # result), then broadcast back into the anti-join on the delta side.
    known = prior_by_id.select("id").join(
        F.broadcast(new_ids.select("id").distinct()), "id", "left_semi")
    new_assign = (
        new_ids.select("id").distinct()
        .join(F.broadcast(known), "id", "left_anti")
        .join(F.broadcast(relabel), F.col("id") == relabel["_node"], "left")
        .select(
            F.col("id"),
            F.coalesce("_merged", F.col("id")).alias("component"),
        )
    )
    full = updated_base.unionByName(new_assign)
    if not with_delta:
        return full
    # changed base rows: prior label is a contracted node whose merged
    # label differs — same broadcast relabel map, map-only corpus pass
    relabel_diff = relabel.filter(F.col("_node") != F.col("_merged"))
    changed_base = (
        prior_assignments.join(
            F.broadcast(relabel_diff),
            prior_assignments["component"] == relabel_diff["_node"], "inner")
        .select(prior_assignments["id"], F.col("_merged").alias("component"))
    )
    # a re-ingested id's base row may ALSO relabel; it is already in
    # changed_base — new_assign excludes known ids, so no double-listing
    return {"assignments": full,
            "delta": changed_base.unionByName(new_assign)}


def incremental_remove(
    assignments: DataFrame,
    edges: DataFrame,
    removed_ids: DataFrame,
    broadcast_members: bool = True,
    cc_kwargs: dict | None = None,
    with_delta: bool = False,
) -> DataFrame:
    """Takedown: delete documents from a deduped corpus and repair the
    affected clusters — without recomputing anything outside them.

    - ``assignments``: (id, component) — the full corpus labeling.
    - ``edges``: (id_a, id_b) — the checkpointed verified_edges table (the
      evidence the clusters were built from; required because removing a
      BRIDGE document must split its cluster, which labels alone can't
      express).
    - ``removed_ids``: (id) — the documents to take down (assumed small:
      a takedown batch, not a re-crawl).

    Returns the updated (id, component) over corpus ∖ removed — identical
    to a from-scratch rerun over the surviving documents and their edges
    (re-labeled min member id; severed members become singletons or
    smaller clusters as connectivity dictates).

    Scale shape: removed → touched components (broadcast join); touched →
    affected members (broadcast semi-join on component over the corpus
    table — map-only); affected edges found by ONE semi-join on id_a only
    (both endpoints of a verified edge share a component, so testing one
    endpoint is exhaustive); CC re-runs on the affected subgraph, which is
    O(touched cluster sizes); everything else passes through untouched.
    ``broadcast_members=False`` switches the member/edge prunes to shuffle
    semi-joins for pathological mega-cluster takedowns.

    Invariant required of ``edges``: endpoints reference LIVE documents
    only — after a takedown, edges touching the deleted ids must be purged
    from the stored table (the CLI's ``takedown --promote`` does), or a
    later repair could reconnect survivors through a ghost node."""
    def maybe_broadcast(df):
        return F.broadcast(df) if broadcast_members else df

    removed = removed_ids.select("id").distinct()
    touched = (
        assignments.join(F.broadcast(removed), "id", "left_semi")
        .select("component").distinct()
    )
    members = assignments.join(F.broadcast(touched), "component", "left_semi")

    surviving_members = members.join(F.broadcast(removed), "id", "left_anti")
    member_ids = members.select(F.col("id").alias("id_a")).distinct()
    affected_edges = (
        edges.join(maybe_broadcast(member_ids), "id_a", "left_semi")
        .join(F.broadcast(removed.select(F.col("id").alias("id_a"))),
              "id_a", "left_anti")
        .join(F.broadcast(removed.select(F.col("id").alias("id_b"))),
              "id_b", "left_anti")
    )
    relabeled = connected_components(
        affected_edges.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst")),
        **(cc_kwargs or {}))
    repaired = (
        surviving_members.select("id")
        .join(maybe_broadcast(relabeled), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
    untouched = assignments.join(F.broadcast(touched), "component",
                                 "left_anti")
    full = untouched.unionByName(repaired)
    if not with_delta:
        return full
    # the rows a row-level state merge must touch: the repaired members of
    # the affected clusters (upserts; O(touched cluster sizes)) — deletions
    # of the removed ids themselves are the caller's delete_keys
    return {"assignments": full, "delta": repaired}


def incremental_dedup_update(
    base_docs: DataFrame,
    base_bands: DataFrame,
    prior_assignments: DataFrame,
    new_pages: DataFrame,
    store=None,
    num_perm: int = 128,
    shingle_words: int = 5,
    bands: int = 32,
    min_jaccard: float = 0.8,
    max_hamming: int = 3,
    max_bucket_size: int = 64,
    input_scan_expensive: bool = False,
    with_delta: bool = False,
) -> dict:
    """One ingest increment end-to-end: new pages → signatures → delta
    candidate pairs → Jaccard verify → merged assignment.

    ``base_docs``: (nid, urim, text, tokens, ...) — the checkpointed ``docs``
    stage (needed only to verify base-side pair endpoints; the join touches
    pair endpoints, not the corpus).
    ``store``: optional CheckpointStore — each delta stage commits as
    ``inc_<name>`` so a killed ingest resumes (same contract as
    dedup_pipeline).

    Returns {"docs", "bands", "candidates", "verified", "assignments",
    "unpersist"}; the new stage tables are what the NEXT increment uses as
    its base (append bands/docs, replace assignments).  Without a store the
    stage frames are pinned in the session registry
    (``session.pin_for_session``), so they follow its scope contract: a
    ``session_pins_scope()`` around the call releases them on exit, and
    ``release_session_pins()`` drains them.  ``unpersist()`` releases just
    this increment's pins — call it once the returned assignments have been
    materialized (a long-lived session doing many increments would
    otherwise accumulate cached blocks); with a store it is a no-op (stages
    are disk-backed tables, nothing is pinned)."""
    from ..plans.pipeline import dedup_docs
    from ..session import pin_for_session, release_pins

    pinned: list = []

    def stage(name, build):
        # with a store, every stage is a committed table (disk-backed reads
        # downstream); without one, PIN each stage result — the merge
        # traverses the verified edges 3-4 times (endpoint broadcast,
        # contraction join, relabel) and an uncached lineage would re-run
        # the whole delta extract/signature/verify pipeline per traversal
        # (measured 3x slower than a full batch recompute before this pin)
        if store is None:
            pinned.append(pin_for_session(build()))
            return pinned[-1]
        return store.run_stage(name, build)

    # the batch docs stage over the increment: dedupe_pages collapses a
    # page listed twice in one batch BEFORE the UDFs, so it counts once in
    # every bucket-size cap and never duplicates docs/bands on promote
    new_docs = stage("inc_docs",
                     lambda: dedup_docs(new_pages, input_scan_expensive))

    def build_bands():
        return minhash_band_table(
            new_docs, id_col="nid", tokens_col="tokens",
            num_perm=num_perm, shingle_words=shingle_words, bands=bands)

    new_bands = stage("inc_bands", build_bands)

    def build_candidates():
        # the batch candidate table on both sides: the base keys are the
        # stored bands plus the chunks of the stored raw_simhash (cheap
        # column math, map-only), pruned to the delta's buckets
        return candidate_pairs(
            delta_bucket_rows(
                candidate_keys(base_bands, base_docs, max_hamming),
                candidate_keys(new_bands, new_docs, max_hamming),
                BUCKET_KEY),
            max_hamming, max_bucket_size)

    candidates = stage("inc_candidates", build_candidates)

    def build_verified():
        # re-ingest rule, same as the candidate stage (delta_bucket_rows):
        # a nid present in BOTH tables is represented by its NEW row only.
        # Without the anti-join the union carries two token rows per
        # re-ingested nid, and the verify equi-join fans every such pair out
        # — duplicate verified rows (which a promote would insert into the
        # evidence table) and verdicts computed against the STALE base tokens.
        batch_ids = F.broadcast(new_docs.select("nid").distinct())
        all_docs = (
            base_docs.select("nid", "tokens")
            .join(batch_ids, "nid", "left_anti")
            .unionByName(new_docs.select("nid", "tokens"))
        )
        # the batch prune: candidates is a pinned/committed stage here, so
        # the endpoint traversal is a cheap re-read
        all_docs = prune_docs_to_pair_endpoints(candidates, all_docs, "nid")
        return verified_pairs_jaccard(
            candidates, all_docs, id_col="nid", tokens_col="tokens",
            min_jaccard=min_jaccard,
        ).select("id_a", "id_b")

    verified = stage("inc_verified", build_verified)

    both = incremental_components(
        prior_assignments.select(F.col("nid").alias("id"), "component"),
        verified,
        new_docs.select(F.col("nid").alias("id")),
        with_delta=True,
    )
    assignments = stage(
        "inc_assignments",
        lambda: both["assignments"].select(F.col("id").alias("nid"),
                                           "component"))
    out = {
        "docs": new_docs,
        "bands": new_bands,
        "candidates": candidates,
        "verified": verified,
        "assignments": assignments,
        "unpersist": lambda: release_pins(pinned),
    }
    if with_delta:
        # the rows a merge-based promote touches: changed base labels + the
        # whole batch (O(delta), from the same broadcast relabel map);
        # opt-in so a plain ingest doesn't pay the extra stage
        out["assignments_delta"] = stage(
            "inc_assignment_delta",
            lambda: both["delta"].select(F.col("id").alias("nid"),
                                         "component"))
    return out
