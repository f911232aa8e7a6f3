"""Incremental (delta-batch) dedup: restriction semantics, cap behavior,
contraction-CC equivalence, monotonicity, and the end-to-end increment
against a full batch recompute (operators/incremental.py)."""

import random

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.components import (
    attach_components,
    connected_components,
)
from off_topic_memento_toolkit_spark.operators.incremental import (
    delta_bucket_rows,
    incremental_candidate_pairs,
    incremental_components,
    incremental_dedup_update,
)
from off_topic_memento_toolkit_spark.operators.lsh import (
    BUCKET_KEY,
    candidate_keys,
    candidate_pairs,
    candidate_pairs_from_buckets,
    chunk_keys,
    dropped_bucket_stats,
    minhash_band_table,
    simhash_candidate_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _band_rows(spark, rows):
    return spark.createDataFrame(rows, "id long, band int, band_hash long")


# --------------------------------------------------------------- candidates

def test_incremental_pairs_are_exact_restriction_of_full(spark):
    """incr(base, new) == full(base ∪ new) ∩ {pairs touching new}: generated
    over real minhash bands of synthetic near-dup token docs."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for i in range(40):
        base_tokens = [rng.choice(vocab) for _ in range(60)]
        docs.append((i, base_tokens))
        if i % 3 == 0:  # a near-dup partner with a small perturbation
            twin = list(base_tokens)
            twin[5] = rng.choice(vocab)
            docs.append((1000 + i, twin))
    df = spark.createDataFrame(docs, "id long, tokens array<string>")
    new_df = df.filter(F.col("id") % 5 == 0)
    base_df = df.subtract(new_df)
    new_ids = {r.id for r in new_df.select("id").collect()}

    bands_all = minhash_band_table(df, id_col="id", tokens_col="tokens")
    bands_base = minhash_band_table(base_df, id_col="id", tokens_col="tokens")
    bands_new = minhash_band_table(new_df, id_col="id", tokens_col="tokens")

    full = _pairs_set(candidate_pairs_from_buckets(bands_all))
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    got = _pairs_set(incremental_candidate_pairs(bands_base, bands_new))
    assert got == expected
    assert expected  # non-vacuous: the twins must collide


def test_incremental_pairs_cap_counts_base_plus_new(spark):
    """The hot-bucket cap sees base ∪ new membership: a bucket under the cap
    on the base side alone but over it once the delta lands is dropped."""
    cap = 4
    # bucket A: 3 base + 2 new = 5 > cap → dropped entirely
    # bucket B: 2 base + 1 new = 3 ≤ cap → all delta-touching pairs
    # bucket C: base-only → contributes nothing (no delta endpoint)
    base = _band_rows(spark, [
        (1, 0, 100), (2, 0, 100), (3, 0, 100),
        (10, 0, 200), (11, 0, 200),
        (20, 0, 300), (21, 0, 300),
    ])
    new = _band_rows(spark, [
        (4, 0, 100), (5, 0, 100),
        (12, 0, 200),
    ])
    got = _pairs_set(incremental_candidate_pairs(base, new, max_bucket_size=cap))
    assert got == {(10, 12), (11, 12)}


def test_incremental_pairs_reingested_id_counts_once(spark):
    """A re-ingested id present in base AND new bands counts ONCE in the
    bucket-cap window: distinct membership {1,2,3,4} == cap survives (the
    superseded base row of id 3 must not inflate the count to 5 and
    spuriously drop the bucket)."""
    base = _band_rows(spark, [(1, 0, 100), (2, 0, 100), (3, 0, 100)])
    new = _band_rows(spark, [(3, 0, 100), (4, 0, 100)])  # 3 re-ingested
    got = _pairs_set(
        incremental_candidate_pairs(base, new, max_bucket_size=4))
    assert got == {(1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}


def _delta_dropped_stats(base, new, cap):
    """lsh.dropped_bucket_stats over the rows the delta pairing gate counts."""
    return dropped_bucket_stats(
        delta_bucket_rows(base, new, ["band", "band_hash"]),
        ["band", "band_hash"], max_bucket_size=cap).first()


def test_incremental_dropped_stats_reingest_not_double_counted(spark):
    """The observability counter applies the same superseding rule: the
    4-distinct-member bucket is NOT reported dropped at cap=4."""
    base = _band_rows(spark, [(1, 0, 100), (2, 0, 100), (3, 0, 100)])
    new = _band_rows(spark, [(3, 0, 100), (4, 0, 100)])
    row = _delta_dropped_stats(base, new, cap=4)
    assert row.dropped_buckets == 0 and row.dropped_rows == 0


def test_incremental_dropped_bucket_stats(spark):
    """The cap's exclusions are observable, counted over base ∪ new
    membership, and only for delta-touched buckets."""
    base = _band_rows(spark, [
        (1, 0, 100), (2, 0, 100), (3, 0, 100),      # +2 new = 5 > 4
        (10, 0, 200), (11, 0, 200),                 # +1 new = 3 ≤ 4
        (20, 0, 300), (21, 0, 300), (22, 0, 300),
        (23, 0, 300), (24, 0, 300),                 # over cap but ALL-BASE
    ])
    new = _band_rows(spark, [(4, 0, 100), (5, 0, 100), (12, 0, 200)])
    row = _delta_dropped_stats(base, new, cap=4)
    assert row.dropped_buckets == 1 and row.dropped_rows == 5


def test_incremental_pairs_all_base_bucket_pruned(spark):
    """Buckets without a delta member never reach the shuffle: the plan
    contains the broadcast semi-join prune."""
    base = _band_rows(spark, [(1, 0, 1), (2, 0, 1), (3, 1, 9), (4, 1, 9)])
    new = _band_rows(spark, [(5, 0, 1)])
    result = incremental_candidate_pairs(base, new)
    assert _pairs_set(result) == {(1, 5), (2, 5)}
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_incremental_simhash_pairs_match_full_restriction(spark):
    rng = random.Random(21)
    vals = []
    for i in range(60):
        v = rng.getrandbits(64)
        vals.append((i, v - (1 << 64) if v >= (1 << 63) else v))
        if i % 4 == 0:  # hamming-1 twin
            tw = vals[-1][1] ^ (1 << rng.randrange(64))
            vals.append((1000 + i, tw))
    df = spark.createDataFrame(vals, "id long, simhash long")
    new_df = df.filter(F.col("id") % 3 == 0)
    base_df = df.subtract(new_df)
    new_ids = {r.id for r in new_df.select("id").collect()}

    full = _pairs_set(simhash_candidate_pairs(
        df, id_col="id", simhash_col="simhash", max_hamming=3))
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    got = _pairs_set(candidate_pairs(delta_bucket_rows(
        chunk_keys(base_df, id_col="id", simhash_col="simhash"),
        chunk_keys(new_df, id_col="id", simhash_col="simhash"),
        BUCKET_KEY), max_hamming=3))
    assert got == expected and expected


def _flip(value, bits):
    """``value`` with the given bit positions flipped, as a signed long."""
    for bit in bits:
        value ^= 1 << bit
    return value - (1 << 64) if value >= 1 << 63 else value


def _chunks16(value):
    return {(c, (value >> (16 * c)) & 0xFFFF) for c in range(4)}


def test_one_key_table_pairs_equal_the_channel_union(spark):
    """One candidate table pairs both channels exactly as the two channel
    functions do: a SimHash-only pair (hamming 2, no shared band) is kept,
    a pair that shares a 16-bit chunk at hamming 8 and no band is not, and
    a pair both channels find is found once — batch, and restricted to
    pairs touching a new id for the delta."""
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(24):
        tokens = [rng.choice(vocab) for _ in range(50)]
        rows.append((i, tokens, _flip(rng.getrandbits(64), ())))
    # 100/101: SimHash only — disjoint vocabularies, hamming 2
    sim = rng.getrandbits(64)
    rows.append((100, [f"a{i}" for i in range(50)], _flip(sim, ())))
    rows.append((101, [f"b{i}" for i in range(50)], _flip(sim, (3, 40))))
    # 200/201: one shared chunk (bits 0-15), hamming 8 — a chunk bucket
    # pair the Hamming check must drop; no shared band
    far = rng.getrandbits(64)
    rows.append((200, [f"c{i}" for i in range(50)], _flip(far, ())))
    rows.append((201, [f"d{i}" for i in range(50)],
                 _flip(far, (17, 21, 33, 37, 49, 53, 60, 62))))
    # 300/301: both channels — equal tokens, hamming 1
    both = rng.getrandbits(64)
    shared = [rng.choice(vocab) for _ in range(50)]
    rows.append((300, shared, _flip(both, ())))
    rows.append((301, shared, _flip(both, (9,))))
    docs = spark.createDataFrame(
        rows, "nid long, tokens array<string>, raw_simhash long")
    bands = minhash_band_table(docs, id_col="nid", tokens_col="tokens")

    band_pairs = _pairs_set(candidate_pairs_from_buckets(bands))
    union = band_pairs | _pairs_set(simhash_candidate_pairs(
        docs, id_col="nid", simhash_col="raw_simhash", max_hamming=3))
    assert (100, 101) in union and (100, 101) not in band_pairs
    assert (300, 301) in union and (300, 301) in band_pairs
    sims = {r[0]: r[2] & ((1 << 64) - 1) for r in rows}
    assert _chunks16(sims[200]) & _chunks16(sims[201])
    assert (200, 201) not in union

    assert _pairs_set(candidate_pairs(candidate_keys(bands, docs))) == union

    is_new = F.col("nid").isin(101, 201, 301) | (F.col("nid") % 4 == 0)
    new_docs, base_docs = docs.filter(is_new), docs.filter(~is_new)
    new_ids = {r.nid for r in new_docs.collect()}
    got = _pairs_set(candidate_pairs(delta_bucket_rows(
        candidate_keys(bands.join(base_docs, bands.id == base_docs.nid,
                                  "left_semi"), base_docs),
        candidate_keys(bands.join(new_docs, bands.id == new_docs.nid,
                                  "left_semi"), new_docs),
        BUCKET_KEY)))
    assert got == {p for p in union if p[0] in new_ids or p[1] in new_ids}


# --------------------------------------------------------------- components

def _cc_dict(df):
    return {r.id: r.component for r in df.collect()}


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_incremental_components_equal_full_recompute(spark, seed):
    """Contraction CC == CC over (prior star edges ∪ new edges), on random
    graphs: base graph → prior labels; delta nodes + mixed edges folded in."""
    rng = random.Random(seed)
    base_nodes = list(range(100))
    delta_nodes = list(range(200, 230))
    base_edges = [(rng.choice(base_nodes), rng.choice(base_nodes))
                  for _ in range(60)]
    mixed = base_nodes + delta_nodes
    new_edges = [(rng.choice(mixed), rng.choice(delta_nodes))
                 for _ in range(40)]

    nodes_df = spark.createDataFrame([(n,) for n in base_nodes], "id long")
    base_edges_df = spark.createDataFrame(base_edges, "src long, dst long")
    prior = attach_components(nodes_df, base_edges_df, id_col="id")

    new_edges_df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in new_edges if a != b],
        "id_a long, id_b long")
    delta_df = spark.createDataFrame([(n,) for n in delta_nodes], "id long")

    got = _cc_dict(incremental_components(prior, new_edges_df, delta_df))

    all_nodes = spark.createDataFrame(
        [(n,) for n in base_nodes + delta_nodes], "id long")
    union_edges = base_edges_df.unionByName(
        new_edges_df.select(F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst")))
    want = _cc_dict(attach_components(all_nodes, union_edges, id_col="id"))
    assert got == want


def test_incremental_components_monotone(spark):
    """Prior merges survive: ids sharing a prior component still share one."""
    prior = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)], "id long, component long")
    new_edges = spark.createDataFrame([(3, 200)], "id_a long, id_b long")
    delta = spark.createDataFrame([(200,), (201,)], "id long")
    got = _cc_dict(incremental_components(prior, new_edges, delta))
    assert got[1] == got[2] and got[3] == got[4]
    assert got[3] == got[200] == 3  # merged set keeps the min label
    assert got[5] == 5 and got[201] == 201  # untouched + edge-less singleton


def test_incremental_components_reingested_id_not_duplicated(spark):
    """A delta id already present in the prior assignment must appear
    exactly once (the prior branch carries it), and self-pairs from a
    both-sides id are dropped in candidate generation."""
    prior = spark.createDataFrame([(1, 1), (2, 1)], "id long, component long")
    new_edges = spark.createDataFrame([(2, 9)], "id_a long, id_b long")
    delta = spark.createDataFrame([(2,), (9,)], "id long")  # 2 re-ingested
    rows = incremental_components(prior, new_edges, delta).collect()
    assert len(rows) == 3  # 1, 2, 9 — no duplicate row for 2
    got = {r.id: r.component for r in rows}
    assert got == {1: 1, 2: 1, 9: 1}

    base = _band_rows(spark, [(5, 0, 1), (6, 0, 1)])
    new = _band_rows(spark, [(5, 0, 1)])  # 5 on both sides
    pairs = _pairs_set(incremental_candidate_pairs(base, new))
    assert pairs == {(5, 6)}  # no (5, 5) self-pair


def test_incremental_components_empty_delta_edges(spark):
    prior = spark.createDataFrame([(1, 1), (2, 1)], "id long, component long")
    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    delta = spark.createDataFrame([(9,)], "id long")
    got = _cc_dict(incremental_components(prior, empty_edges, delta))
    assert got == {1: 1, 2: 1, 9: 9}


def test_streaming_incremental_candidates(spark, tmp_path):
    """Stream-static join channel: an availableNow drain of new pages
    against a static base band table emits exactly the new-vs-base pairs a
    batch equi-join over capped base buckets yields."""
    from off_topic_memento_toolkit_spark.operators.timeline import (
        prepare_pages,
    )
    from off_topic_memento_toolkit_spark.queries import pages_from_documents
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_incremental_candidates,
    )

    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    new_pages = pages.filter(hour % 5 == 0)
    src = str(tmp_path / "stream_src")
    new_pages.write.parquet(src)

    base_docs = prepare_pages(base_pages, need_tf_simhash=False).select(
        F.xxhash64("urim").alias("nid"), "tokens")
    base_bands = minhash_band_table(
        base_docs, id_col="nid", tokens_col="tokens").persist()

    stream = build_streaming_enrichment(spark, src)
    cands = streaming_incremental_candidates(stream, base_bands)
    query = (cands.writeStream.format("memory")
             .queryName("inc_cands").outputMode("append")
             .trigger(availableNow=True).start())
    query.awaitTermination(180)
    got = {(r.id_new, r.id_base)
           for r in spark.sql("select * from inc_cands").collect()}

    # batch twin: new bands equi-joined against ≤cap base buckets
    new_docs = prepare_pages(new_pages, need_tf_simhash=False).select(
        F.xxhash64("urim").alias("nid"), "tokens")
    new_bands = minhash_band_table(
        new_docs, id_col="nid", tokens_col="tokens")
    from pyspark.sql import Window

    bounded = (base_bands.withColumn(
        "_n", F.count("*").over(Window.partitionBy("band", "band_hash")))
        .filter(F.col("_n") <= 64).drop("_n"))
    want = {(r.id_new, r.id_base) for r in
            new_bands.withColumnRenamed("id", "id_new")
            .join(bounded.withColumnRenamed("id", "id_base"),
                  ["band", "band_hash"])
            .filter(F.col("id_new") != F.col("id_base"))
            .select("id_new", "id_base").distinct().collect()}
    assert got == want and want
    base_bands.unpersist()


def test_dedupe_pages_collapses_without_payload_shuffle(spark):
    """Within-batch duplicate pages collapse to one row; the collapse is
    dup-key-targeted (broadcast joins — the html payload of unique-keyed
    rows never crosses an exchange)."""
    from off_topic_memento_toolkit_spark.plans.pipeline import dedupe_pages

    df = spark.createDataFrame(
        [("u1", "2020-01-01 00:00:00", b"a"),
         ("u1", "2020-01-01 00:00:00", b"b"),
         ("u2", "2020-01-01 00:00:00", b"c"),
         ("u1", "2020-01-02 00:00:00", b"d")],
        "url string, warc_ts string, html binary")
    out = dedupe_pages(df)
    assert out.count() == 3
    assert {(r.url, r.warc_ts) for r in out.collect()} == {
        ("u1", "2020-01-01 00:00:00"), ("u2", "2020-01-01 00:00:00"),
        ("u1", "2020-01-02 00:00:00")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the anti/semi prunes broadcast


def test_dedupe_pages_null_keys_collapse(spark):
    """NULL-keyed duplicates collapse exactly like dropDuplicates (the
    semi/anti routing is null-SAFE): rows sharing a (url, NULL) or
    (NULL, NULL) key become one row instead of passing through uncollapsed."""
    from off_topic_memento_toolkit_spark.plans.pipeline import dedupe_pages

    df = spark.createDataFrame(
        [("u1", None, b"a"), ("u1", None, b"b"),
         (None, None, b"c"), (None, None, b"d"),
         ("u2", "2020-01-01 00:00:00", b"e")],
        "url string, warc_ts string, html binary")
    out = dedupe_pages(df)
    assert out.count() == 3
    assert {(r.url, r.warc_ts) for r in out.collect()} == {
        ("u1", None), (None, None), ("u2", "2020-01-01 00:00:00")}
    # equivalence with the single-scan path on the same input
    assert out.count() == df.dropDuplicates(["url", "warc_ts"]).count()


# ----------------------------------------------------------------- takedown

def _attach(spark, nodes, edges):
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id long")
    edges_df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")
    return attach_components(nodes_df, edges_df, id_col="id")


@pytest.mark.parametrize("seed", [5, 41])
def test_incremental_remove_equals_full_recompute(spark, seed):
    from off_topic_memento_toolkit_spark.operators.incremental import (
        incremental_remove,
    )

    rng = random.Random(seed)
    nodes = list(range(80))
    raw = {(min(a, b), max(a, b))
           for a, b in ((rng.choice(nodes), rng.choice(nodes))
                        for _ in range(70)) if a != b}
    edges = sorted(raw)
    removed = sorted(rng.sample(nodes, 12))

    assignments = _attach(spark, nodes, edges)
    edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
    removed_df = spark.createDataFrame([(n,) for n in removed], "id long")
    got = _cc_dict(incremental_remove(assignments, edges_df, removed_df))

    survivors = [n for n in nodes if n not in removed]
    surviving_edges = [(a, b) for a, b in edges
                       if a not in removed and b not in removed]
    want = _cc_dict(_attach(spark, survivors, surviving_edges))
    assert got == want
    assert set(got) == set(survivors)


def test_incremental_remove_shuffle_semi_variant(spark):
    """broadcast_members=False (mega-cluster takedowns) must produce the
    identical repair through shuffle semi-joins."""
    from off_topic_memento_toolkit_spark.operators.incremental import (
        incremental_remove,
    )

    rng = random.Random(13)
    nodes = list(range(60))
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in ((rng.choice(nodes), rng.choice(nodes))
                                 for _ in range(50)) if a != b})
    removed = sorted(rng.sample(nodes, 8))
    assignments = _attach(spark, nodes, [(a, b) for a, b in edges])
    edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
    removed_df = spark.createDataFrame([(n,) for n in removed], "id long")
    via_broadcast = _cc_dict(incremental_remove(
        assignments, edges_df, removed_df, broadcast_members=True))
    via_shuffle = _cc_dict(incremental_remove(
        assignments, edges_df, removed_df, broadcast_members=False))
    assert via_broadcast == via_shuffle


def test_incremental_remove_bridge_splits_cluster(spark):
    from off_topic_memento_toolkit_spark.operators.incremental import (
        incremental_remove,
    )

    # path 1-2-3: removing the bridge (2) must SPLIT {1,2,3} into {1},{3}
    assignments = _attach(spark, [1, 2, 3, 9], [(1, 2), (2, 3)])
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    removed = spark.createDataFrame([(2,)], "id long")
    got = _cc_dict(incremental_remove(assignments, edges, removed))
    assert got == {1: 1, 3: 3, 9: 9}


def test_incremental_remove_min_label_relabels(spark):
    from off_topic_memento_toolkit_spark.operators.incremental import (
        incremental_remove,
    )

    # triangle {1,2,3} labeled 1; removing 1 keeps {2,3} connected → label 2
    assignments = _attach(spark, [1, 2, 3], [(1, 2), (2, 3), (1, 3)])
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                                  "id_a long, id_b long")
    removed = spark.createDataFrame([(1,)], "id long")
    got = _cc_dict(incremental_remove(assignments, edges, removed))
    assert got == {2: 2, 3: 2}


def test_incremental_remove_whole_cluster_and_unknown_id(spark):
    from off_topic_memento_toolkit_spark.operators.incremental import (
        incremental_remove,
    )

    assignments = _attach(spark, [1, 2, 7], [(1, 2)])
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    removed = spark.createDataFrame([(1,), (2,), (999,)], "id long")
    got = _cc_dict(incremental_remove(assignments, edges, removed))
    assert got == {7: 7}


# --------------------------------------------------------------- end-to-end

def test_incremental_update_reingest_verify_uses_new_tokens(spark):
    """The verify stage applies the same re-ingest rule as the candidate
    stage: a nid present in base AND batch is represented by its NEW row
    only.  Two regressions pinned:
    - no duplicate verified rows (the old base∪new union carried two token
      rows per re-ingested nid, fanning the verify equi-join out — and a
      bucketed --promote would insert the duplicates into verified_edges);
    - the verdict is computed against the NEW tokens, not the stale base
      ones (a re-crawled page that drifted below the threshold must not
      stay verified on the strength of its old content)."""
    from off_topic_memento_toolkit_spark.operators.timeline import (
        prepare_pages,
    )

    words = [f"tok{i}" for i in range(100)]
    y_text = " ".join(words)
    x_old = y_text                                  # identical to Y
    x_new = " ".join(words[:80] + [f"new{i}" for i in range(20)])

    def _pages(rows):
        return spark.createDataFrame(
            [(u, t, f"<html><body><p>{body}</p></body></html>".encode(),
              None, "en") for u, t, body in rows],
            "url string, ts long, html binary, text string, lang string",
        ).select("url", F.timestamp_seconds("ts").alias("warc_ts"),
                 "html", "text", "lang")

    base_pages = _pages([("http://x.example/", 1000, x_old),
                         ("http://y.example/", 2000, y_text)])
    # the batch RE-INGESTS x (same url+warc_ts → same urim/nid, new content)
    new_pages = _pages([("http://x.example/", 1000, x_new)])

    base_docs = prepare_pages(base_pages, need_tf_simhash=False).select(
        F.xxhash64("urim").alias("nid"), "urim", "text", "tokens",
        "raw_simhash")
    base_bands = minhash_band_table(base_docs, id_col="nid",
                                    tokens_col="tokens")
    prior = base_docs.select(F.col("nid"), F.col("nid").alias("component"))

    result = incremental_dedup_update(
        base_docs, base_bands, prior, new_pages, min_jaccard=0.9)

    nid_x = base_docs.filter(F.col("urim").contains("x.example")) \
        .first()["nid"]
    nid_y = base_docs.filter(F.col("urim").contains("y.example")) \
        .first()["nid"]
    pair = (min(nid_x, nid_y), max(nid_x, nid_y))

    # the candidate channel must surface the pair (new x still shares 80%
    # of its shingles with y) or the test is vacuous
    assert pair in _pairs_set(result["candidates"])
    verified_rows = [(r.id_a, r.id_b) for r in result["verified"].collect()]
    # no stale-token verdict: new-x vs y token jaccard is 80/120 < 0.9,
    # while the STALE base x row was identical to y and would have passed
    assert pair not in set(verified_rows)
    # no fan-out duplicates from the re-ingested nid
    assert len(verified_rows) == len(set(verified_rows))
    result["unpersist"]()


def test_incremental_update_matches_batch_recompute(spark, tmp_path):
    """Full e2e on sf0.001 pages: base batch deduped, delta folded in via
    incremental_dedup_update == batch dedup_pipeline over base ∪ delta,
    both candidate channels on both sides.  (Exact equivalence holds
    because no delta-touched bucket crosses the cap at this SF — asserted
    inside, over band and chunk buckets.)"""
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
    from off_topic_memento_toolkit_spark.queries import pages_from_documents
    from off_topic_memento_toolkit_spark.session import session_pins_scope

    pages = pages_from_documents(spark, SF_DIR)
    # deterministic split on the embedded doc timestamp (pages carry no
    # doc_id): ~1/5 of rows are the delta
    delta_pred = (F.unix_timestamp("warc_ts") / 3600) % 5 == 0
    new_pages = pages.filter(delta_pred)
    base_pages = pages.filter(~delta_pred)

    def docs_of(df):
        return prepare_pages(df, need_tf_simhash=False).select(
            F.xxhash64("urim").alias("nid"), "urim", "text", "tokens",
            "raw_simhash")

    with session_pins_scope():
        base_docs = docs_of(base_pages).persist()
        base_bands = minhash_band_table(
            base_docs, id_col="nid", tokens_col="tokens").persist()
        # the prior is a batch dedup of the base: both channels
        prior = dedup_pipeline(base_pages).select(
            F.xxhash64("urim").alias("nid"), "component")

        result = incremental_dedup_update(
            base_docs, base_bands, prior, new_pages)
        got = {r.nid: r.component for r in result["assignments"].collect()}

        full = dedup_pipeline(pages)
        want = {r.nid: r.component for r in full.select(
            F.xxhash64("urim").alias("nid"), "component").collect()}
    assert got == want

    # cap-precondition: no band or chunk bucket over the union crosses
    # max_bucket_size
    union_docs = docs_of(pages)
    union_keys = candidate_keys(
        minhash_band_table(union_docs, id_col="nid", tokens_col="tokens"),
        union_docs)
    max_bucket = (union_keys.groupBy(*BUCKET_KEY).count()
                  .agg(F.max("count")).first()[0])
    assert max_bucket <= 64
    base_docs.unpersist()
    base_bands.unpersist()


def test_incremental_update_resumes_from_store(spark, tmp_path):
    """Each inc_* stage commits; a relaunch replays committed stages as
    reads (same CheckpointStore contract as the batch pipeline)."""
    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, SF_DIR)
    delta_pred = (F.unix_timestamp("warc_ts") / 3600) % 5 == 0
    new_pages = pages.filter(delta_pred)
    base_pages = pages.filter(~delta_pred)
    base_docs = prepare_pages(base_pages, need_tf_simhash=False).select(
        F.xxhash64("urim").alias("nid"), "urim", "text", "tokens",
        "raw_simhash")
    base_bands = minhash_band_table(
        base_docs, id_col="nid", tokens_col="tokens")
    prior = base_docs.select(
        F.col("nid"), F.col("nid").alias("component"))

    store = CheckpointStore(spark, str(tmp_path / "inc"), run_id="t")
    first = incremental_dedup_update(
        base_docs, base_bands, prior, new_pages, store=store)
    n_first = first["assignments"].count()
    for name in ("inc_docs", "inc_bands", "inc_candidates", "inc_verified",
                 "inc_assignments"):
        assert store.is_committed(name), name

    second = incremental_dedup_update(
        base_docs, base_bands, prior, new_pages, store=store)
    assert second["assignments"].count() == n_first
