"""Corpus maintenance over a dedup checkpoint: ``ingest`` folds a new crawl
batch into the stored corpus state and ``takedown`` deletes pages from it.
Each writes its merged ``(urim, component)`` labels; with ``promote=True``
it then commits the change back to the base checkpoint as one ordered
row-level merge of the four state stages (:data:`STATE_STAGES`).

Also home to the checkpoint's ``params`` stage (the pinned signature
hyperparameters) and the mid-promote crash detector."""

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import IcebergCheckpointStore

# The mutable corpus state: the stages a promote merges, each hash-bucketed
# on its key by dedup_pipeline.  The order is the commit order — docs
# first, clusters last — which _check_promote_consistency relies on.
STATE_STAGES = {
    "docs": ("nid",),
    "bands": ("id",),
    "verified_edges": ("id_a",),
    "clusters": ("urim",),
}

SIG_PARAMS = ("num_perm", "bands", "shingle_words")

# an edge row is identified by its full pair (the bucket key is id_a alone)
_EDGE_KEY = ["id_a", "id_b"]


def stored_params(store) -> dict | None:
    """The signature hyperparameters pinned in ``store``'s ``params``
    stage, or None — with one warning — for a checkpoint built before
    dedup wrote that stage."""
    if not store.is_committed("params"):
        print("warning: base checkpoint has no `params` stage (built by an "
              "older dedup); cannot verify that --num-perm/--bands/"
              "--shingle-words match the stored band table — a base built "
              "with other values finds no base-delta duplicates",
              file=sys.stderr)
        return None
    stored = store.read("params").first()
    return {p: int(stored[p]) for p in SIG_PARAMS}


def write_params(store, params: dict) -> None:
    """Pin the signature hyperparameters into the checkpoint as a one-row
    ``params`` stage (works on both backends): an ingest with mismatched
    --num-perm/--bands/--shingle-words would compute delta band hashes in
    a DIFFERENT space than the stored base table and silently find zero
    base-delta duplicates."""
    if store is None or store.is_committed("params"):
        return
    row = [tuple(int(params[p]) for p in SIG_PARAMS)]
    store.write(
        store.spark.createDataFrame(row, ", ".join(f"{p} int"
                                                   for p in SIG_PARAMS)),
        "params")


def check_params(store, params: dict, command: str) -> None:
    """Refuse signature ``params`` that differ from those pinned in
    ``store``: the delta's band hashes must live in the stored space."""
    stored = stored_params(store)
    if stored is None:
        return
    mismatches = [
        f"--{p.replace('_', '-')} {params[p]} != stored {stored[p]}"
        for p in SIG_PARAMS if int(params[p]) != stored[p]
    ]
    if mismatches:
        raise SystemExit(
            f"{command}: signature parameters do not match the base "
            f"checkpoint's band table ({'; '.join(mismatches)}) — delta "
            f"hashes would live in a different space and find no "
            f"base-delta duplicates; pass the stored values")


def check_base_stages(base, required: list, promote: bool = False) -> None:
    """Refuse a base missing a stage the command reads, before any Spark
    job.  A promote also needs all four state stages, bucketed: it commits
    as row-level merges, and a checkpoint written before dedup bucketed
    its state has no layout to merge into."""
    if promote:
        required = required + [s for s in STATE_STAGES if s not in required]
    for stage in required:
        if not base.is_committed(stage):
            raise SystemExit(
                f"base checkpoint has no committed {stage!r} stage — "
                f"run `dedup --checkpoint-dir` over the corpus first")
    if not promote:
        return
    for stage in STATE_STAGES:
        if not base.marker(stage).get("bucket_by"):
            raise SystemExit(
                f"--promote needs a bucketed base checkpoint, but its "
                f"{stage!r} stage is not bucketed (written before dedup "
                f"bucketed the corpus state) — rebuild it with `dedup "
                f"--checkpoint-dir` over the corpus")


def _check_promote_consistency(store):
    """O(1) mid-promote crash detection: a promote commits docs first and
    clusters last (STATE_STAGES order), so a partial one leaves their row
    counts unequal (each stage commit is atomic; the four-stage sequence
    is not).  A base without docs has nothing to compare."""
    if not store.is_committed("docs"):
        return
    docs_rows = store.marker("docs").get("rows")
    clusters_rows = store.marker("clusters").get("rows")
    if docs_rows is not None and clusters_rows is not None \
            and docs_rows != clusters_rows:
        raise SystemExit(
            f"base checkpoint is mid-promote inconsistent (docs has "
            f"{docs_rows} rows, clusters {clusters_rows}) — a previous "
            f"--promote crashed between stage commits; re-run the "
            f"interrupted ingest/takedown with the SAME batch plus "
            f"--repair to finish it (the re-ingest guards make the retry "
            f"converge)")


def _pin_promote_frames(store, merges: dict) -> dict:
    """Pin EVERY frame a multi-stage promote will merge, BEFORE the first
    merge.  Two Iceberg hazards force this: (a) MERGE INTO a table the
    source plan also scans is self-referencing, with runtime-dependent
    snapshot semantics, and (b) a later merge's plan may scan a table an
    EARLIER merge already changed (Iceberg reads resolve at execution
    time, so e.g. the bands merge would see the post-merge docs table and
    anti-join the whole batch away).  localCheckpoint materializes each
    plan against the PRE-promote state.  The parquet store is immune —
    its read() pins a version directory at call time — so frames pass
    through lazily there."""
    if not isinstance(store, IcebergCheckpointStore):
        return merges
    return {stage: {arg: value.localCheckpoint()
                    if isinstance(value, DataFrame) else value
                    for arg, value in kwargs.items()}
            for stage, kwargs in merges.items()}


def _promote(store, merges: dict) -> None:
    """Commit one promote: ``merges`` maps each state stage to its
    ``store.merge`` arguments.  Each merge rewrites only the buckets its
    keys hash into, so the promote is O(delta), never a corpus rewrite."""
    merges = _pin_promote_frames(store, merges)
    for stage in STATE_STAGES:
        store.merge(stage, **merges[stage])


def ingest(base, new_pages: DataFrame, output: str, inc_store=None,
           num_perm: int = 128, bands: int = 32, shingle_words: int = 5,
           min_jaccard: float = 0.8, input_scan_expensive: bool = False,
           promote: bool = False, repair: bool = False) -> None:
    """Fold ``new_pages`` into the ``base`` checkpoint's corpus: write the
    merged ``(urim, component)`` labels of base ∪ batch to ``output`` and,
    with ``promote``, commit the batch into the base state.

    ``inc_store``: optional store for the increment's own resumable
    stages.  ``repair`` bypasses the mid-promote crash detector when
    re-running the interrupted batch."""
    from ..operators.incremental import incremental_dedup_update

    sig = {"num_perm": num_perm, "bands": bands,
           "shingle_words": shingle_words}
    # the promoted state must stay takedown-ready, so a promote also needs
    # verified_edges: the increment's edges go into the evidence table
    check_base_stages(base, ["docs", "bands", "clusters"], promote)
    check_params(base, sig, "ingest")
    if not repair:
        _check_promote_consistency(base)
    base_docs = base.read("docs")
    base_bands = base.read("bands")
    prior = base.read("clusters").select(
        F.xxhash64("urim").alias("nid"), "component")
    result = incremental_dedup_update(
        base_docs, base_bands, prior, new_pages, store=inc_store, **sig,
        min_jaccard=min_jaccard, input_scan_expensive=input_scan_expensive,
        with_delta=promote)
    # dropDuplicates guards the re-ingest case (a urim present in BOTH
    # base and batch would otherwise fan the join out to duplicate
    # output rows; the assignment itself already lists each id once)
    urims = base_docs.select("nid", "urim").unionByName(
        result["docs"].select("nid", "urim")).dropDuplicates(["nid"])
    result["assignments"].join(urims, "nid").select("urim", "component") \
        .write.mode("overwrite").parquet(output)
    if not promote:
        return
    # same guard for the promoted state: re-ingested ids must not
    # duplicate their docs/bands rows.  Each stage's known set is derived
    # from THAT stage's own table (base ∩ batch ids, found map-only:
    # broadcast semi over the base table, batch-sized result) — NOT from
    # docs alone: a crash between the docs and bands commits leaves the
    # batch present in docs but absent from bands, and a docs-derived
    # guard would make the --repair rerun drop the batch's band rows
    # forever (bands would then silently miss every future near-dup
    # against this batch).  Re-ingest content assumption: urim ≡ (url,
    # warc_ts), so a re-ingested id names the SAME capture and its payload
    # is assumed identical — the promote keeps the base's existing
    # docs/bands rows.  (The increment's own candidate/verify stages use
    # the new rows either way; see operators/incremental.py's re-ingest
    # rule.)  merge(insert_only=True) would drop the same rows, but it
    # picks the buckets to rewrite from the incoming keys: without these
    # guards a re-crawl overlap rewrites buckets where no row changes.
    batch_ids = result["docs"].select("nid").distinct()
    known_doc_ids = base_docs.select("nid").join(
        F.broadcast(batch_ids), "nid", "left_semi")
    known_band_ids = base_bands.select("id").join(
        F.broadcast(batch_ids.withColumnRenamed("nid", "id")),
        "id", "left_semi").distinct()
    _promote(base, {
        "docs": {"changes": result["docs"].join(
            F.broadcast(known_doc_ids), "nid", "left_anti"),
            "insert_only": True},
        "bands": {"changes": result["bands"].join(
            F.broadcast(known_band_ids), "id", "left_anti"),
            "insert_only": True},
        # evidence table too — a later takedown repairs clusters from
        # verified_edges, and without the delta's pairs a takedown inside
        # the merged clusters would silently drop the increment's
        # connectivity.  Insert-if-absent on the full pair: a re-ingested
        # pair may be rediscovered and must not duplicate.
        "verified_edges": {"changes": result["verified"].select(*_EDGE_KEY),
                           "insert_only": True, "on": _EDGE_KEY},
        # changed base labels + the batch — O(delta)
        "clusters": {"changes": result["assignments_delta"]
                     .join(urims, "nid").select("urim", "component")},
    })


def takedown(base, removed_urims: DataFrame, output: str,
             promote: bool = False, repair: bool = False) -> None:
    """Delete the ``removed_urims`` (one ``urim`` column) from the ``base``
    checkpoint's corpus: repair only the clusters that lost members, write
    the surviving ``(urim, component)`` labels to ``output`` and, with
    ``promote``, purge the pages from the base state."""
    from ..operators.incremental import incremental_remove

    # the label repair itself reads only clusters + verified_edges;
    # docs/bands are touched (purged) only under promote
    check_base_stages(base, ["verified_edges", "clusters"], promote)
    if not repair:
        # even a label-only repair reads clusters + verified_edges, which
        # a crashed promote leaves mutually inconsistent (edges
        # referencing nids the stale clusters never assigned)
        _check_promote_consistency(base)
    removed_nids = removed_urims.select(
        F.xxhash64("urim").alias("id")).distinct()
    clusters = base.read("clusters")
    assignments = clusters.select(
        F.xxhash64("urim").alias("id"), "component")
    # a deletion command must not silently no-op: report the match rate,
    # and hard-fail when NOTHING matched (stale list, wrong file, or a
    # formatting issue the trim did not cover)
    n_listed = removed_urims.count()
    n_matched = assignments.join(
        F.broadcast(removed_nids), "id", "left_semi").count()
    if n_listed and not n_matched:
        raise SystemExit(
            f"takedown: 0 of {n_listed} removal entries match any "
            f"document in the base clusters — nothing would be "
            f"deleted; check the list against the corpus URI-Ms")
    print(f"takedown: {n_matched} of {n_listed} removal entries "
          f"matched", file=sys.stderr)
    result = incremental_remove(
        assignments, base.read("verified_edges"), removed_nids,
        with_delta=True)
    id_to_urim = clusters.select(F.xxhash64("urim").alias("id"), "urim")
    result["assignments"].join(id_to_urim, "id").select("urim", "component") \
        .write.mode("overwrite").parquet(output)
    if not promote:
        return
    # the actual deletion: purge the document payloads and signatures, not
    # just the labels.  Dead edges MUST go too: an edge with one deleted
    # endpoint would, in a later takedown's cluster repair, reconnect
    # survivors through a ghost node (incremental_remove assumes the edges
    # table references only live documents).  The dead-edge key set is
    # found map-only (broadcast semi-joins on either endpoint; both
    # endpoints of a verified edge share a component, so the result is
    # takedown-sized); the pair keys then localize the deletes to the id_a
    # buckets.
    edges = base.read("verified_edges")
    dead_edges = (
        edges.join(F.broadcast(removed_nids.withColumnRenamed("id", "id_a")),
                   "id_a", "left_semi")
        .unionByName(edges.join(
            F.broadcast(removed_nids.withColumnRenamed("id", "id_b")),
            "id_b", "left_semi"))
        .select(*_EDGE_KEY).distinct()
    )
    _promote(base, {
        "docs": {"delete_keys": removed_nids.withColumnRenamed("id", "nid")},
        "bands": {"delete_keys": removed_nids},
        "verified_edges": {"delete_keys": dead_edges, "on": _EDGE_KEY},
        # the repaired members' relabels — O(touched clusters)
        "clusters": {"changes": result["delta"].join(id_to_urim, "id")
                     .select("urim", "component"),
                     "delete_keys": removed_urims.select("urim")},
    })
