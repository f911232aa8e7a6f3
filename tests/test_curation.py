"""Curation chain (D1-D5) vs a straight-line reimplementation of the bin
scripts' arithmetic (bin/exclude_duplicates, bin/slice_by_datetime,
bin/cluster_by_simhash, bin/select_high_quality) run on the same rows."""

import math
import random
import re
from datetime import datetime, timedelta
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from off_topic_memento_toolkit_spark.operators.curation import (
    cluster_by_simhash,
    consider_only,
    exclude_duplicates,
    quality_score,
    select_representatives,
    slice_by_datetime,
    with_global_position,
)
from off_topic_memento_toolkit_spark.plans.pipeline import story_pipeline
from off_topic_memento_toolkit_spark.session import (
    _SESSION_PINS,
    release_session_pins,
    session_pins_scope,
)

META_SCHEMA = T.StructType([
    T.StructField("urit", T.StringType()),
    T.StructField("urim", T.StringType()),
    T.StructField("simhash", T.LongType()),
    T.StructField("memento_datetime", T.TimestampType()),
])


def _meta_rows():
    rows = []
    base = datetime(2016, 1, 1)
    hashes = [
        0b1111, 0b1111, 0b1010101010101010101,          # dup then drift
        (1 << 62) - 1, 37, 37, 41, 0b1111000011110000,
    ]
    for tl in range(6):
        for m in range(8):
            rows.append((
                f"urit{tl}",
                f"urim{tl}-{m}",
                hashes[(m + tl) % len(hashes)] + tl,
                base + timedelta(days=tl * 50 + m),
            ))
    return rows


def _oracle(rows, threshold=0.2, first_seen_skip=False):
    """Line-for-line port of the bin scripts' control flow.

    ``first_seen_skip`` selects between bin/exclude_duplicates' two
    branches: False = no consideration file (:95-106, prev updates on
    EVERY row), True = the consideration-file branch (:78-93, a repeated
    simhash is skipped and touches no state)."""
    by_urit = {}
    for urit, urim, shash, mdt in rows:
        by_urit.setdefault(urit, []).append((mdt, urim, shash))
    for urit in by_urit:
        by_urit[urit].sort()

    # exclude_duplicates
    nondup = []
    for urit in by_urit:
        prior, prev = [], 0
        for mdt, urim, shash in by_urit[urit]:
            if first_seen_skip:
                if shash in prior:
                    continue
                prior.append(shash)
            if bin(shash ^ prev).count("1") / 64 > threshold:
                nondup.append(urim)
            prev = shash

    # slice_by_datetime
    all_rows = sorted((mdt, urim, shash) for urit, urim, shash, mdt in rows)
    n = len(all_rows)
    slice_count = n if n <= 28 else math.floor(28 + math.log10(n))
    ips = math.floor(n / slice_count)
    slices, current, number = {}, [], 0
    for i, (mdt, urim, shash) in enumerate(all_rows):
        current.append((urim, shash))
        if i % ips == 0:
            slices[number] = current
            number += 1
            current = []

    # cluster_by_simhash (equal-value groups >=2, ordered by first appearance)
    clusters = {}
    for s, members in slices.items():
        first_pos, sizes = {}, {}
        for pos, (urim, shash) in enumerate(members):
            sizes[shash] = sizes.get(shash, 0) + 1
            first_pos.setdefault(shash, pos)
        label_for = {}
        next_label = 0
        for shash in sorted((h for h, c in sizes.items() if c >= 2),
                            key=lambda h: first_pos[h]):
            label_for[shash] = next_label
            next_label += 1
        for urim, shash in members:
            clusters[urim] = (s, label_for.get(shash, -1))

    return set(nondup), slices, clusters


@pytest.fixture(scope="module")
def meta(spark):
    return spark.createDataFrame(_meta_rows(), schema=META_SCHEMA)


def test_exclude_duplicates(spark, meta):
    expected, _, _ = _oracle(_meta_rows())
    got = {r.urim for r in exclude_duplicates(meta).collect()}
    assert got == expected


def test_exclude_duplicates_first_seen_skip(spark, meta):
    """Consideration-branch semantics: repeated simhashes skipped outright."""
    expected, _, _ = _oracle(_meta_rows(), first_seen_skip=True)
    got = {r.urim for r in
           exclude_duplicates(meta, first_seen_skip=True).collect()}
    assert got == expected


def test_exclude_duplicates_oscillating_page(spark):
    """A, B, A with all pairwise distances over threshold: the
    no-consideration reference keeps all three (the second A differs from
    its immediate predecessor B); the consideration branch drops the
    revisit.  The two modes MUST disagree on this input — the regression
    that motivated the mode split."""
    a, b = (1 << 20) - 1, ((1 << 20) - 1) << 30   # 20 bits apart twice over
    base = datetime(2016, 1, 1)
    rows = [("t", f"m{i}", h, base + timedelta(days=i))
            for i, h in enumerate([a, b, a])]
    df = spark.createDataFrame(rows, schema=META_SCHEMA)
    plain = {r.urim for r in exclude_duplicates(df, threshold=0.2).collect()}
    skip = {r.urim for r in
            exclude_duplicates(df, threshold=0.2,
                               first_seen_skip=True).collect()}
    assert plain == {"m0", "m1", "m2"}
    assert skip == {"m0", "m1"}


def test_slice_and_cluster(spark, meta):
    _, slices, clusters = _oracle(_meta_rows())
    expected = {urim: sc for urim, sc in clusters.items()}
    sliced = slice_by_datetime(meta)
    clustered = cluster_by_simhash(sliced)
    got = {r.urim: (r.slice_id, r.cluster_id) for r in clustered.collect()}
    assert got == expected


def _clustered_rows(n_timelines=100, per_timeline=4, seed=7):
    """A few hundred mementos whose simhashes come from a pool of five far
    apart values: every slice holds several clusters, each simhash recurs
    across slices, and a timeline repeating its last value is a
    duplicate.  The urims share three hosts and one path depth, so many
    qualities tie and the urim decides the pick."""
    rng = random.Random(seed)
    pool = [rng.getrandbits(62) for _ in range(5)]
    hosts = ["news.example", "blog.example", "plain.example"]
    base = datetime(2016, 1, 1)
    rows = []
    for tl in range(n_timelines):
        for m in range(per_timeline):
            when = base + timedelta(minutes=rng.randrange(500_000))
            rows.append((
                f"urit{tl}",
                f"from-warc::{when:%Y%m%d%H%M%S}::"
                f"http://{hosts[tl % 3]}/a/p{tl}-{m}",
                rng.choice(pool),
                when,
            ))
    return rows


# bin/select_high_quality:44-79, its unescaped patterns in its order
_CATEGORIES = [
    (("twitter", "t.co", "redd.it", "facebook", "fb.me", "plus.google",
      "wiki", "globalvoicesonline", "fbcdn"), 0.5),
    (("cnn", "bbc", "news", "rosaonline", "aljazeera", "guardian",
      "USATODAY", "nytimes", "abc", "foxnews", "allvoices",
      "huffingtonpost"), 0.7),
    (("dailymotion", "youtube", "youtu.be"), 0.7),
    (("wordpress", "blog"), 0.4),
    (("flickr", "flic.kr", "instagram", "twitpic"), 0.6),
]


def _reference_quality(urim):
    """bin/select_high_quality:44-126 with the damage service absent."""
    host = urlparse(urim[urim.find("http", 10):]).hostname
    category = -1.0 if host is None else next(
        (weight for patterns, weight in _CATEGORIES
         if any(re.search(p, host) for p in patterns)), 0.0)
    stripped = urim[:-1] if urim.endswith("/") else urim
    depth = stripped[stripped.find("http", 10) + 7:-1].count("/") / 10.0
    return -0.40 * 0.0 + 0.15 * category + 0.45 * depth


def _reference_picks(clusters):
    """bin/select_high_quality's pick: per (slice, cluster), the top of
    sorted((score, urim), reverse=True)."""
    members = {}
    for urim, key in clusters.items():
        members.setdefault(key, []).append((_reference_quality(urim), urim))
    return {key: sorted(found, reverse=True)
            for key, found in members.items()}


def test_cluster_by_simhash_many_clusters_per_slice(spark):
    rows = _clustered_rows()
    _, _, expected = _oracle(rows)
    per_slice, slices_of = {}, {}
    shash = {urim: h for _, urim, h, _ in rows}
    for urim, (s, c) in expected.items():
        if c >= 0:
            per_slice.setdefault(s, set()).add(c)
            slices_of.setdefault(shash[urim], set()).add(s)
    # the fixture is what it claims: several clusters in most slices, and
    # clustered simhashes that recur across slices
    assert sum(len(ids) >= 3 for ids in per_slice.values()) >= 10
    assert max(len(s) for s in slices_of.values()) >= 10

    meta = spark.createDataFrame(rows, schema=META_SCHEMA)
    clustered = cluster_by_simhash(slice_by_datetime(meta))
    got = {r.urim: (r.slice_id, r.cluster_id) for r in clustered.collect()}
    assert got == expected


def test_story_representatives_match_reference_pick(spark):
    rows = _clustered_rows()
    nondup, _, _ = _oracle(rows)
    kept = [row for row in rows if row[1] in nondup]
    assert 0 < len(kept) < len(rows)
    _, _, clusters = _oracle(kept)
    ranked = _reference_picks(clusters)
    # urim decides several picks: the best two qualities tie
    assert sum(len(found) > 1 and found[0][0] == found[1][0]
               for found in ranked.values()) >= 10
    expected = {key: found[0][1] for key, found in ranked.items()}

    meta = spark.createDataFrame(rows, schema=META_SCHEMA)
    got = {(r.slice_id, r.cluster_id): r.urim
           for r in story_pipeline(meta).collect()}
    assert got == expected


def test_quality_and_representatives(spark):
    """Reference-faithful D4: category and depth operate on the original
    URL located INSIDE the URI-M with find('http', 10) — a PLAIN original
    URL has no embedded 'http' at index >= 10, so it lands in the -1
    category branch and depth degrades to url[6:-1] slash-counting
    (bin/select_high_quality:44-52,81-90, quirks verbatim)."""
    rows = [
        ("http://news.example/a/b/c/", "u1", 0, 0),
        ("http://blog.example/a", "u2", 0, 0),
        ("http://other.example/x/y", "u3", 0, 0),
    ]
    df = spark.createDataFrame(rows, "url string, urim string, slice_id int, cluster_id int")
    scored = quality_score(df)
    got = {r.urim: r for r in scored.collect()}
    # plain URLs: find('http', 10) = -1 -> category -1 for every row
    for u in ("u1", "u2", "u3"):
        assert got[u].category_score == pytest.approx(-1.0)
    # depth of url[6:-1] (trailing slash dropped first): u1 ->
    # '/news.example/a/b/' = 4 slashes
    assert got["u1"].depth_score == pytest.approx(0.4)
    assert got["u1"].quality == pytest.approx(0.15 * -1.0 + 0.45 * 0.4)
    assert got["u2"].depth_score == pytest.approx(0.2)
    assert got["u3"].depth_score == pytest.approx(0.3)
    top = select_representatives(scored).collect()
    assert len(top) == 1 and top[0].urim == "u1"


def test_quality_embedded_original_url(spark):
    """URI-M-shaped inputs (the reference's actual domain): the category
    hostname comes from the EMBEDDED original URL, and depth counts the
    embedded path's slashes — mirrored against a literal python
    transcription of the reference functions."""
    from urllib.parse import urlparse

    def ref_category(urim):  # bin/select_high_quality:44-79
        original = urim[urim.find("http", 10):]
        host = urlparse(original).hostname
        if host is None:
            return -1.0
        import re as _re
        if _re.search("twitter|t.co|redd.it|facebook|fb.me|plus.google"
                      "|wiki|globalvoicesonline|fbcdn", host):
            return 0.5
        return 0.0

    def ref_depth(urim):  # bin/select_high_quality:81-90
        if urim.endswith("/"):
            urim = urim[:-1]
        idx = urim.find("http", 10)
        return urim[idx + 7:-1].count("/") / 10.0

    urims = [
        "http://archive.example/web/20160101/http://twitter.com/a/b",
        "http://archive.example/web/20160101/http://plain.example/x/",
        "from-warc::20160101000000::http://docs.example/site7",
        "http://nohost.example/only",  # no embedded http -> -1 branch
    ]
    df = spark.createDataFrame([(u, u, 0, 0) for u in urims],
                               "url string, urim string, "
                               "slice_id int, cluster_id int")
    got = {r.urim: r for r in quality_score(df).collect()}
    for u in urims:
        assert got[u].category_score == pytest.approx(ref_category(u)), u
        assert got[u].depth_score == pytest.approx(ref_depth(u)), u
    assert got[urims[0]].category_score == pytest.approx(0.5)  # twitter


def test_quality_damage_hook_changes_representative(spark):
    """D4's −0.40 damage weight (bin/select_high_quality:124-126): a damage
    source joined onto the frame must be able to flip the D5 pick; absent
    damage values coalesce to the reference's service-absent default 0."""
    rows = [
        ("http://news.example/a/b/c/", "u1", 0, 0),
        ("http://blog.example/a", "u2", 0, 0),
        ("http://other.example/x/y", "u3", 0, 0),
    ]
    df = spark.createDataFrame(
        rows, "url string, urim string, slice_id int, cluster_id int")
    # fake damage service: the previous winner u1 is heavily damaged
    damage = spark.createDataFrame(
        [("u1", 0.9)], "urim string, damage double")
    joined = df.join(F.broadcast(damage), "urim", "left")

    scored = quality_score(joined, damage_col="damage")
    got = {r.urim: r for r in scored.collect()}
    assert got["u1"].damage_score == pytest.approx(0.9)
    assert got["u1"].quality == pytest.approx(
        -0.40 * 0.9 + 0.15 * -1.0 + 0.45 * 0.4)
    assert got["u2"].damage_score == 0.0  # null → service-absent default

    top = select_representatives(scored).collect()
    assert len(top) == 1 and top[0].urim != "u1"

    # damage_col=None stays byte-compatible with the default D4 path
    undamaged = {r.urim: r.quality for r in quality_score(df).collect()}
    assert undamaged["u1"] == pytest.approx(0.15 * -1.0 + 0.45 * 0.4)


def _ranking_frame(spark, n, tag):
    return spark.range(n).select(
        F.concat(F.lit(tag), F.format_string("%04d", (F.col("id") * 37) % n))
        .alias("k"))


def _pins_since(earlier):
    return [df for df in _SESSION_PINS if not any(df is e for e in earlier)]


def test_global_position_cache_pool_release(spark):
    """Pinned range layouts accumulate in the session pin registry — a prior
    un-consumed ranking is NEVER released by a later call (premature release
    would let its two branches recompute divergent layouts); draining the
    registry frees everything and already-built results still compute
    correctly afterwards (persist is not lineage truncation)."""
    release_session_pins()
    first = with_global_position(_ranking_frame(spark, 200, "a"), ["k"],
                                 pos_col="pos")
    second = with_global_position(_ranking_frame(spark, 300, "b"), ["k"],
                                  pos_col="pos")
    assert len(_SESSION_PINS) == 2  # nothing released eagerly
    # consume BOTH (first after second was built — the hazard case)
    assert sorted(r.pos for r in second.collect()) == list(range(300))
    assert sorted(r.pos for r in first.collect()) == list(range(200))
    assert release_session_pins() == 2
    assert not _SESSION_PINS
    # released results survive (recompute, not truncation)
    assert sorted(r.pos for r in first.collect()) == list(range(200))


def test_session_pins_scope_releases_ranking_pins(spark):
    """Owner-scoped pins: inside session_pins_scope, the layout pinned by
    with_global_position is unpersisted on scope exit — repeated curation
    batches in a long-lived session hold at most the live generation's pin.
    Results consumed inside the scope are correct, a pin made before the
    scope survives it, and nested scopes release only their own pins."""
    jsc = spark.sparkContext._jsc
    outside = with_global_position(_ranking_frame(spark, 20, "o"), ["k"],
                                   pos_col="pos")
    outside.collect()
    earlier = list(_SESSION_PINS)
    outside_pin = earlier[-1]
    # compared as sets of RDD ids (relative: the shared session may hold
    # other tests' persisted frames, which Spark's cleaner may drop)
    persisted_before = set(jsc.getPersistentRDDs().keySet())

    try:
        for i in range(3):
            with session_pins_scope():
                out = with_global_position(
                    _ranking_frame(spark, 150, f"g{i}"), ["k"],
                    pos_col="pos")
                # consume INSIDE the scope (the owner contract)
                assert sorted(r.pos for r in out.collect()) == \
                    list(range(150))
                # at most the live generation's pin
                assert len(_pins_since(earlier)) == 1
            assert not _pins_since(earlier)  # released on exit
        # storage actually freed, and the earlier pin is still cached
        assert set(jsc.getPersistentRDDs().keySet()) <= persisted_before
        assert outside_pin.storageLevel.useMemory
        assert any(df is outside_pin for df in _SESSION_PINS)

        # nested scopes: the inner one releases only its own pin
        with session_pins_scope():
            with_global_position(_ranking_frame(spark, 10, "n"), ["k"],
                                 pos_col="pos")
            outer_pin = _SESSION_PINS[-1]
            with session_pins_scope():
                with_global_position(_ranking_frame(spark, 12, "m"), ["k"],
                                     pos_col="pos")
                inner_pin = _SESSION_PINS[-1]
                assert len(_pins_since(earlier)) == 2
            assert [id(df) for df in _pins_since(earlier)] == [id(outer_pin)]
            assert not inner_pin.storageLevel.useMemory
            assert outer_pin.storageLevel.useMemory
        assert not _pins_since(earlier)

        # an empty nested scope leaves the outer one releasing what it
        # pins afterwards
        with session_pins_scope():
            with session_pins_scope():
                pass
            with_global_position(_ranking_frame(spark, 10, "e"), ["k"],
                                 pos_col="pos")
            assert len(_pins_since(earlier)) == 1
        assert not _pins_since(earlier)
    finally:
        release_session_pins()


@pytest.mark.parametrize("broadcast", [True, False])
def test_consider_only_duplicate_keys_need_no_aggregate(spark, broadcast):
    """A key listed several times keeps its row once: the semi-join needs
    no distinct over the list, so the plan has no aggregate on that side."""
    rows = spark.range(20).select(
        F.format_string("m%02d", "id").alias("urim"), F.col("id"))
    listed = ["m01", "m03", "m03", "m07", "m07", "m07", "m99"]
    duplicated = spark.createDataFrame([(u,) for u in listed], "urim string")
    unique = spark.createDataFrame([(u,) for u in sorted(set(listed))],
                                   "urim string")

    got = consider_only(rows, duplicated, broadcast=broadcast)
    assert sorted(got.collect()) == sorted(
        consider_only(rows, unique, broadcast=broadcast).collect())
    assert sorted(r.urim for r in got.collect()) == ["m01", "m03", "m07"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan
