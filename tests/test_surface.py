"""Coverage for the remaining operator surface: sinks, collection measures,
checkpoint/resume, streaming batch-equivalence, multimodal plumbing,
link-format parsing, gold datafile, CLI argument parsing, LSI/LDA kernels."""

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.collection import (
    score_collection_measures,
)
from off_topic_memento_toolkit_spark.operators.measures import (
    overall_status,
    memento_metadata,
    score_timemap_measures,
)
from off_topic_memento_toolkit_spark.sources.datagen import (
    PAGES_SCHEMA,
    generate_pages,
    pangram_drift_rows,
)


@pytest.fixture(scope="module")
def drift_pages(spark):
    return spark.createDataFrame(pangram_drift_rows(), schema=PAGES_SCHEMA)


def test_collection_measures(spark, drift_pages):
    scores = score_collection_measures(drift_pages)
    rows = scores.collect()
    assert {r.measure for r in rows} == {"jaccard", "sorensen"}
    assert {r.measuretype for r in rows} == {"collection measures"}
    # every doc's tokens ⊆ global set → jaccard = 1 - |A|/|G| ∈ (0, 1)
    for r in rows:
        assert r.error_msg is None
        assert 0.0 < r.comparison_score < 1.0
        assert r.topic_status in ("on-topic", "off-topic")


def test_json_and_csv_sinks(spark, drift_pages, tmp_path):
    from off_topic_memento_toolkit_spark.sources.sinks import (
        save_as_csv,
        save_as_goldstandard,
        save_as_json,
    )
    scores = score_timemap_measures(drift_pages,
                                    measures=("wordcount", "jaccard"))
    overall = overall_status(scores)
    meta = memento_metadata(drift_pages)

    json_path = str(tmp_path / "out.json")
    save_as_json(scores, overall, json_path, meta=meta)
    with open(json_path) as fh:
        data = json.load(fh)
    urit = next(iter(data))
    urim = next(iter(data[urit]))
    node = data[urit][urim]
    assert "timemap measures" in node
    assert "wordcount" in node["timemap measures"]
    assert "comparison score" in node["timemap measures"]["wordcount"]
    assert "raw memento simhash value" in node
    assert "memento-datetime" in node

    csv_path = str(tmp_path / "out.csv")
    save_as_csv(scores, overall, csv_path, meta=meta)
    with open(csv_path) as fh:
        header = fh.readline().strip().split(",")
    assert header[:4] == ["URI-T", "URI-M", "Error", "Error Message"]

    gold_path = str(tmp_path / "gold.tsv")
    save_as_goldstandard(overall, gold_path)
    with open(gold_path) as fh:
        lines = fh.read().splitlines()
    assert lines[0] == "id\tdate\tURI\tlabel"
    assert all(line.split("\t")[3] in ("0", "1", "ERROR")
               for line in lines[1:])


def test_error_kind_taxonomy_and_sinks(spark, drift_pages, tmp_path):
    """Reference exclusivity (otmt/measuremodel.py:247-336): memento access
    error replaces measurement errors for that memento AND clears the
    timemap-level error; CSV surfaces the three labels mutually exclusively
    (measuremodel.py:681-717); JSON collapses to 'access error' entries."""
    import csv as csvmod
    import glob

    from off_topic_memento_toolkit_spark.operators.measures import (
        with_error_kinds,
    )
    from off_topic_memento_toolkit_spark.sources.sinks import (
        save_as_csv,
        save_as_csv_distributed,
        save_as_json,
    )

    scores = score_timemap_measures(drift_pages,
                                    measures=("wordcount", "jaccard"))
    urits = sorted(r.urit for r in scores.select("urit").distinct().collect())
    urims = {
        u.urit: sorted(r.urim for r in
                       scores.filter(F.col("urit") == u.urit)
                       .select("urim").distinct().collect())
        for u in scores.select("urit").distinct().collect()
    }
    bad_urit = urits[0]
    bad_urim = urims[bad_urit][0]          # memento error inside bad_urit
    ta_urit = urits[1] if len(urits) > 1 else urits[0]

    memento_access = spark.createDataFrame(
        [(bad_urim, "Errors were recorded while attempting to access URI-M")],
        "urim string, error_msg string")
    timemap_access = spark.createDataFrame(
        [(bad_urit, "cleared by the memento error"),
         (ta_urit, "404 Client Error on URI-T")],
        "urit string, error_msg string")

    kinds = with_error_kinds(scores, memento_access, timemap_access)
    got = {(r.urit, r.urim, r.measure): r for r in kinds.collect()}

    # memento access replaces measurement AND clears the timemap error
    for measure in ("wordcount", "jaccard"):
        row = got[(bad_urit, bad_urim, measure)]
        assert row.error_kind == "memento access"
        assert row.error_msg.startswith("Errors were recorded")
    other = urims[bad_urit][1]
    assert got[(bad_urit, other, "wordcount")].error_kind is None
    # the second timemap (no memento error) keeps its access error everywhere
    if ta_urit != bad_urit:
        for urim in urims[ta_urit]:
            assert got[(ta_urit, urim, "jaccard")].error_kind == "timemap access"

    overall = overall_status(scores)
    meta = memento_metadata(drift_pages)

    csv_path = str(tmp_path / "kinds.csv")
    save_as_csv(kinds, overall, csv_path, meta=meta)
    with open(csv_path) as fh:
        records = list(csvmod.DictReader(fh))
    tm_rows = [r for r in records if r["Error"] == "TimeMap Access Error"]
    ma_rows = [r for r in records if r["Error"] == "Memento Access Error"]
    assert len(tm_rows) == 1 and tm_rows[0]["URI-T"] == ta_urit
    assert tm_rows[0]["URI-M"] == ""           # timemap row has no URI-M
    assert len(ma_rows) == 1 and ma_rows[0]["URI-M"] == bad_urim
    # no measurement/score fields on access-error rows
    assert ma_rows[0]["Measurement Name"] == ""
    # clean rows carry type/name/score
    clean = [r for r in records if r["Error"] == ""]
    assert clean and all(r["Measurement Name"] in ("wordcount", "jaccard")
                         for r in clean)

    # distributed variant: same records (semantically) without driver collect
    dist_path = str(tmp_path / "kinds_dist")
    save_as_csv_distributed(kinds, overall, dist_path, meta=meta)
    dist_records = []
    for part in glob.glob(f"{dist_path}/*.csv"):
        with open(part) as fh:
            dist_records.extend(csvmod.DictReader(fh))

    def canon(rec):
        score = rec["Comparison Score"]
        return (rec["URI-T"], rec["URI-M"], rec["Error"], rec["Error Message"],
                rec["Measurement Name"], rec["Topic Status"],
                round(float(score), 9) if score else None)

    assert sorted(map(canon, dist_records)) == sorted(map(canon, records))

    # JSON: access-error collapse + 'measurement error' key name
    json_path = str(tmp_path / "kinds.json")
    save_as_json(kinds, overall, json_path, meta=meta)
    with open(json_path) as fh:
        data = json.load(fh)
    assert data[ta_urit] == {"access error": "404 Client Error on URI-T"}
    assert data[bad_urit][bad_urim] == {
        "access error":
            "Errors were recorded while attempting to access URI-M"}


def test_checkpoint_resume(spark, tmp_path):
    """North-rule resume: kill-after-stage then relaunch must reuse committed
    stages and produce identical clusters."""
    from off_topic_memento_toolkit_spark.plans.checkpoints import CheckpointStore
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline

    pages = generate_pages(spark, n_urls=10, mementos_per_url=4, skew=False,
                           error_rows=False)
    root = str(tmp_path / "ckpt")

    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from pyspark.sql import functions as F

    store1 = CheckpointStore(spark, root, run_id="r1")
    # simulate a kill: run only the first stage (same shape the pipeline writes)
    store1.run_stage("docs", lambda: prepare_pages(
        pages, need_tf_simhash=False,
    ).select(F.xxhash64("urim").alias("nid"),
             "urim", "text", "tokens", "raw_simhash"))
    assert store1.is_committed("docs")
    assert not store1.is_committed("clusters")
    marker = store1.marker("docs")
    assert marker["rows"] > 0 and marker["per_partition_rows"]

    # relaunch: full pipeline resumes from the committed docs stage
    store2 = CheckpointStore(spark, root, run_id="r1")
    clusters = dedup_pipeline(pages, store=store2).collect()
    assert store2.is_committed("clusters")
    assert len(clusters) > 0

    # a third run must be pure reads (results identical)
    store3 = CheckpointStore(spark, root, run_id="r1")
    again = dedup_pipeline(pages, store=store3).collect()
    assert sorted(map(tuple, clusters)) == sorted(map(tuple, again))


def test_streaming_batch_equivalence(spark, drift_pages):
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        streaming_exact_dedup_batch_equivalent,
    )
    out = streaming_exact_dedup_batch_equivalent(drift_pages)
    # drift fixture: all contents distinct → nothing suppressed
    assert out.count() == drift_pages.count()


def test_streaming_smoke(spark, tmp_path):
    """readStream → enrichment → availableNow sink actually runs."""
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_near_dup_suppression,
        write_signatures_stream,
    )
    pages = generate_pages(spark, n_urls=5, mementos_per_url=3, skew=False,
                           error_rows=False)
    src = str(tmp_path / "src")
    pages.write.parquet(src)
    enriched = build_streaming_enrichment(spark, src)
    deduped = streaming_near_dup_suppression(enriched)
    query = write_signatures_stream(
        deduped, str(tmp_path / "sig"), str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sig"))
    assert out.count() > 0
    assert "raw_simhash" in out.columns


def test_multimodal_plumbing(spark):
    from off_topic_memento_toolkit_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        frame_sample_stub,
    )
    rows = [
        ("img-1", "image", b"\x89PNGfakebytes" * 10, "image/png", 64, 64, None),
        ("aud-1", "audio", b"RIFFfakeaudio" * 20, "audio/wav", None, None, 4000),
        ("vid-1", "video", b"\x00\x00ftypfake" * 50, "video/mp4", 320, 240, 3000),
        ("bad-1", "image", None, "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_media_features(media).collect()}
    assert len(feats["img-1"].feature) == 16
    assert feats["img-1"].decode_error is None
    assert feats["bad-1"].feature is None and feats["bad-1"].decode_error
    # determinism
    again = {r.media_id: r for r in extract_media_features(media).collect()}
    assert again["img-1"].feature == feats["img-1"].feature

    frames = frame_sample_stub(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_ts_ms)
    assert sorted(by_id["vid-1"]) == [0, 1000, 2000]


def test_timemap_link_parser(spark):
    from off_topic_memento_toolkit_spark.sources.timemap_links import (
        convert_link_timemap_to_dict,
        parse_timemaps_df,
    )
    body = """<original1>; rel="original",
<timemap1>; rel="self"; type="application/link-format"; from="Tue, 21 Mar 2016 15:45:06 GMT",
<timegate1>; rel="timegate",
<memento11>; rel="first memento"; datetime="Tue, 21 Jan 2016 15:45:06 GMT",
<memento12>; rel="memento"; datetime="Sat, 21 Jan 2017 15:45:06 GMT",
<memento13>; rel="last memento"; datetime="Sun, 21 Jan 2018 15:45:12 GMT"
"""
    parsed = convert_link_timemap_to_dict(body)
    assert parsed["original_uri"] == "original1"
    assert parsed["timegate_uri"] == "timegate1"
    assert parsed["timemap_uri"]["link_format"] == "timemap1"
    assert [m["uri"] for m in parsed["mementos"]["list"]] == [
        "memento11", "memento12", "memento13"]
    assert parsed["mementos"]["first"]["uri"] == "memento11"
    assert parsed["mementos"]["last"]["uri"] == "memento13"
    assert parsed["mementos"]["first"]["datetime"] == datetime(2016, 1, 21, 15, 45, 6)

    df = spark.createDataFrame([("timemap1", body)], "urit string, body string")
    rows = parse_timemaps_df(df).collect()
    assert len(rows) == 3
    assert rows[0].original_uri == "original1"


def test_gold_datafile_roundtrip(spark, tmp_path):
    from off_topic_memento_toolkit_spark.sources.gold_datafile import (
        read_gold_datafile,
    )
    path = str(tmp_path / "gold.tsv")
    with open(path, "w") as fh:
        fh.write("id\tdate\tURI\tlabel\n")
        fh.write("1\t20160121154506\thttp://a.example/x\t1\n")
        fh.write("2\t20170301120000\thttp://b.example/y\t0\n")
    rows = read_gold_datafile(spark, path).orderBy("urit").collect()
    assert rows[0].urit == "datafile-1"
    assert rows[0].memento_datetime == datetime(2016, 1, 21, 15, 45, 6)
    assert rows[1].label == "0"


def test_cli_measure_parsing():
    from off_topic_memento_toolkit_spark.cli import parse_measures
    measures, thresholds = parse_measures("jaccard=0.80,cosine")
    assert measures == ["jaccard", "cosine"]
    assert thresholds == {"jaccard": 0.80}
    with pytest.raises(SystemExit):
        parse_measures("nonsense")


def test_lsi_lda_group_kernels(spark, drift_pages):
    scores = score_timemap_measures(
        drift_pages, measures=("gensim_lsi", "gensim_lda"))
    rows = scores.collect()
    by_measure = {}
    for r in rows:
        assert r.error_msg is None, r
        by_measure.setdefault(r.measure, []).append(r)
    # first memento vs itself ≈ 1.0 for LSI
    for r in by_measure["gensim_lsi"]:
        assert -1.0001 <= r.comparison_score <= 1.0001
    firsts = [r for r in by_measure["gensim_lsi"]
              if r.urim == min(x.urim for x in rows if x.urit == r.urit)]
    assert all(abs(r.comparison_score - 1.0) < 1e-9 for r in firsts)


def test_streaming_stateful_sequential_dedup(spark, tmp_path):
    """applyInPandasWithState D1: the streaming output over one availableNow
    batch equals the batch operator's surviving rows."""
    from off_topic_memento_toolkit_spark.operators.curation import (
        exclude_duplicates,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_sequential_dedup,
    )

    pages = generate_pages(spark, n_urls=8, mementos_per_url=5, skew=False,
                           error_rows=False, dup_rate=0.5)
    src = str(tmp_path / "src")
    pages.write.parquet(src)

    stream = build_streaming_enrichment(spark, src)
    deduped = streaming_sequential_dedup(stream, threshold=0.2)
    out_path = str(tmp_path / "out")
    q = (deduped.writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r.urim for r in spark.read.parquet(out_path).collect()}

    enriched = prepare_pages(pages, need_tf_simhash=False)
    meta = enriched.select(
        F.col("url").alias("urit"), "urim",
        F.col("raw_simhash").alias("simhash"),
        F.col("warc_ts").alias("memento_datetime"))
    want = {r.urim for r in exclude_duplicates(
        meta, threshold=0.2, first_seen_skip=True).collect()}
    assert got == want and len(got) > 0


def test_streaming_stateful_dedup_multi_chunk_group(spark, tmp_path):
    """A url group larger than arrow.maxRecordsPerBatch spans multiple Arrow
    chunks inside one micro-batch; D1 is an order-of-arrival rule, so the
    operator must sort the WHOLE group once, not each chunk independently.
    Shrinks the chunk size to 7, feeds one 60-row url in shuffled file order,
    and asserts parity with the batch D1 operator."""
    from off_topic_memento_toolkit_spark.operators.curation import (
        exclude_duplicates,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_sequential_dedup,
    )

    pages = generate_pages(spark, n_urls=1, mementos_per_url=60, skew=False,
                           error_rows=False, dup_rate=0.5)
    # Write in a shuffled deterministic order so chunk-local sorting would
    # yield a different D1 sequence than the correct global sort.
    shuffled = pages.orderBy(F.xxhash64("url", "warc_ts")).coalesce(1)
    src = str(tmp_path / "src")
    shuffled.write.parquet(src)

    old_cap = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = build_streaming_enrichment(spark, src)
        deduped = streaming_sequential_dedup(stream, threshold=0.2)
        out_path = str(tmp_path / "out")
        q = (deduped.writeStream.format("parquet")
             .option("path", out_path)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {r.urim for r in spark.read.parquet(out_path).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_cap)

    enriched = prepare_pages(pages, need_tf_simhash=False)
    meta = enriched.select(
        F.col("url").alias("urit"), "urim",
        F.col("raw_simhash").alias("simhash"),
        F.col("warc_ts").alias("memento_datetime"))
    want = {r.urim for r in exclude_duplicates(
        meta, threshold=0.2, first_seen_skip=True).collect()}
    assert got == want and len(got) > 0


def test_reference_collection_dir_source(spark, tmp_path):
    """Interop: load the REFERENCE's own test_loaddata fixture (the on-disk
    store otmt/collectionmodel.py:143-234 writes) into engine tables."""
    import zipfile

    from off_topic_memento_toolkit_spark.sources.collection_dir import (
        read_reference_collection,
    )

    fixture = "/root/reference/tests/testdata/test_loaddata.zip"
    if not os.path.exists(fixture):
        pytest.skip("reference fixture absent")
    with zipfile.ZipFile(fixture) as zf:
        zf.extractall(str(tmp_path))
    store = read_reference_collection(spark, str(tmp_path / "test_loaddata"))

    mem = store["mementos"].collect()
    assert len(mem) == 1
    assert mem[0].urim == "testing-storage:memento1"
    assert isinstance(mem[0].html, (bytes, bytearray)) and len(mem[0].html) > 0
    assert mem[0].headers and isinstance(mem[0].headers, dict)

    tms = store["timemaps"].collect()
    assert {r.urit for r in tms} == {"testing-storage:timemap2"}
    assert all(r.original_uri == "http://a.example.org" for r in tms)
    assert len(tms) >= 3  # the fixture timemap lists 3 mementos
    assert all(r.memento_datetime is not None for r in tms)

    errs = store["errors"].collect()
    assert len(errs) == 1 and errs[0].error_msg

    pages = store["pages"]
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 1  # every stored memento becomes a page row


def test_distributed_json_sink(spark, drift_pages, tmp_path):
    from off_topic_memento_toolkit_spark.sources.sinks import (
        save_as_json_distributed,
    )
    scores = score_timemap_measures(drift_pages, measures=("wordcount",))
    overall = overall_status(scores)
    path = str(tmp_path / "jsonl")
    save_as_json_distributed(scores, overall, path)
    back = spark.read.json(path)
    assert back.count() == scores.count()
    cols = set(back.columns)
    assert {"urit", "urim", "measure", "comparison_score",
            "topic_status", "overall_topic_status"} <= cols


def test_streaming_windowed_rates_with_watermark(spark, tmp_path):
    """Watermark + event-time windowed agg over the crawl stream (late-data
    contract); append-mode windows land in the parquet sink."""
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_crawl_rates,
    )

    pages = generate_pages(spark, n_urls=6, mementos_per_url=4, skew=False,
                           error_rows=False)
    src = str(tmp_path / "src")
    pages.write.parquet(src)
    rates = streaming_crawl_rates(
        build_streaming_enrichment(spark, src, watermark="2 hours"),
        window_duration="1 hour")
    q = (rates.writeStream.format("parquet")
         .option("path", str(tmp_path / "rates"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "rates"))
    rows = got.collect()
    # availableNow + watermark: windows older than max_ts - 2h are finalized
    assert len(rows) > 0
    assert all(r.n_pages >= 1 and r.n_distinct_simhash >= 1 for r in rows)
    batch_total = sum(r.n_pages for r in rows)
    assert batch_total <= pages.count()


def test_error_kinds_cover_never_scored_mementos(spark, drift_pages):
    """A memento that failed to download never enters scores, yet must
    surface as exactly one access-error row (the review's finding #1);
    same for a wholly-unfetchable timemap."""
    from off_topic_memento_toolkit_spark.operators.measures import (
        with_error_kinds,
    )

    scores = score_timemap_measures(drift_pages, measures=("wordcount",))
    ma = spark.createDataFrame(
        [("never-downloaded:m1", "ConnectTimeout", "some-timemap:t1")],
        "urim string, error_msg string, urit string")
    ta = spark.createDataFrame(
        [("unfetchable:t9", "404 on the TimeMap itself")],
        "urit string, error_msg string")
    kinds = with_error_kinds(scores, memento_access=ma, timemap_access=ta)
    rows = kinds.collect()
    synth_m = [r for r in rows if r.urim == "never-downloaded:m1"]
    assert len(synth_m) == 1
    assert synth_m[0].error_kind == "memento access"
    assert synth_m[0].urit == "some-timemap:t1"
    assert synth_m[0].measure is None and synth_m[0].comparison_score is None
    synth_t = [r for r in rows if r.urit == "unfetchable:t9"]
    assert len(synth_t) == 1
    assert synth_t[0].error_kind == "timemap access"
    assert synth_t[0].urim is None
    # exclusivity: a memento error in an unfetchable timemap clears it
    ta2 = spark.createDataFrame(
        [("some-timemap:t1", "should be cleared by the memento error")],
        "urit string, error_msg string")
    kinds2 = with_error_kinds(scores, memento_access=ma, timemap_access=ta2)
    t1_rows = [r for r in kinds2.collect() if r.urit == "some-timemap:t1"]
    assert len(t1_rows) == 1 and t1_rows[0].error_kind == "memento access"


def test_multimodal_resize_plumbing(spark):
    from off_topic_memento_toolkit_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_media,
    )
    rows = [
        ("img-1", "image", b"\x89PNGfakebytes" * 64, "image/png", 64, 64, None),
        ("img-2", "image", b"\x89PNGother" * 64, "image/png", 128, 128, None),
        ("bad-1", "image", None, "image/png", 32, 32, None),
        ("bad-2", "image", b"x" * 100, "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r.media_id: r for r in resize_media(media, 32, 32).collect()}
    assert got["img-1"].width == 32 and got["img-1"].height == 32
    assert got["img-1"].resize_error is None
    assert len(got["img-2"].payload) < len(rows[1][2])  # downsampled
    assert got["bad-1"].resize_error and got["bad-1"].payload is None
    assert got["bad-2"].resize_error  # unknown source dims → error row
    # deterministic
    again = {r.media_id: r for r in resize_media(media, 32, 32).collect()}
    assert again["img-1"].payload == got["img-1"].payload


def test_mid_cc_loop_resume(spark, tmp_path):
    """Killing after some CC iterations must resume mid-loop: committed
    cc_iter_* stages are replayed as reads (their commit markers' monotonic
    timestamps prove they were not rewritten)."""
    import glob
    import os as _os

    from off_topic_memento_toolkit_spark.plans.checkpoints import CheckpointStore
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline

    pages = generate_pages(spark, n_urls=10, mementos_per_url=4, skew=False,
                           error_rows=False, dup_rate=0.6)
    root = str(tmp_path / "cc_ckpt")
    store1 = CheckpointStore(spark, root, run_id="r1")
    first = sorted(map(tuple, dedup_pipeline(
        pages, store=store1, cc_small_graph_threshold=0).collect()))

    iter_markers = sorted(glob.glob(f"{root}/cc_iter_*._COMMIT.json"))
    assert iter_markers, "CC iterations were not checkpointed"
    stamps = {m: json.load(open(m))["committed_at_monotonic"]
              for m in iter_markers}

    # simulate a kill right before the final clusters commit
    _os.remove(f"{root}/clusters._COMMIT.json")
    store2 = CheckpointStore(spark, root, run_id="r1")
    again = sorted(map(tuple, dedup_pipeline(
        pages, store=store2, cc_small_graph_threshold=0).collect()))
    assert again == first
    for marker, stamp in stamps.items():
        assert json.load(open(marker))["committed_at_monotonic"] == stamp, \
            f"{marker} was recomputed instead of replayed"


def test_checkpoint_snapshot_isolation_and_time_travel(spark, tmp_path):
    """Iceberg-semantics contract on the versioned store: (1) a reader's
    snapshot survives a concurrent re-commit untouched; (2) a torn write
    (version dir without marker swing) is invisible; (3) old versions stay
    addressable (time travel)."""
    import glob as _glob

    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )

    store = CheckpointStore(spark, str(tmp_path / "snap"), run_id="r1")
    v1_df = spark.range(10).selectExpr("id", "id * 2 AS val")
    store.write(v1_df, "t")
    reader = store.read("t")  # lazy plan pinned to v1's files

    # overwrite with different content — v1 files must not be touched
    store.write(spark.range(3).selectExpr("id", "id * 100 AS val"), "t")
    assert {r.id for r in reader.collect()} == set(range(10))  # isolation
    assert {r.id for r in store.read("t").collect()} == {0, 1, 2}

    # time travel
    assert store.versions("t") == [1, 2]
    assert {r.val for r in store.read("t", version=1).collect()} \
        == {2 * i for i in range(10)}

    # torn write: a version directory without the marker swing is invisible
    torn = str(tmp_path / "snap" / "t" / "v000099")
    spark.range(1).write.parquet(torn)  # no _info.json, no marker update
    assert store.marker("t")["version"] == 2
    assert {r.id for r in store.read("t").collect()} == {0, 1, 2}
    assert 99 not in store.versions("t")
    # and a later commit skips past the orphan (no collision)
    store.write(spark.range(1).selectExpr("id", "id AS val"), "t")
    assert store.marker("t")["version"] == 100
    assert len(_glob.glob(str(tmp_path / "snap" / "t" / "v*"))) == 4


def test_checkpoint_expire_snapshots(spark, tmp_path):
    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )

    store = CheckpointStore(spark, str(tmp_path / "gc"), run_id="r1")
    for i in range(4):
        store.write(spark.range(i + 1).selectExpr("id"), "t")
    # plus an orphan (torn write)
    spark.range(1).write.parquet(str(tmp_path / "gc" / "t" / "v000050"))

    removed = store.expire_snapshots("t", keep=2)
    assert len(removed) == 3  # v1, v2, and the orphan
    assert store.versions("t") == [3, 4]
    assert store.marker("t")["version"] == 4
    assert store.read("t").count() == 4
    assert store.read("t", version=3).count() == 3


def test_streaming_stateful_dedup_state_survives_restart(spark, tmp_path):
    """The D1 seen-set/prev state must persist in the state store ACROSS
    runs: drain batch 1, stop, land new files, drain again with the same
    checkpoint — rows already seen in run 1 stay suppressed, and the
    prev-simhash chain continues rather than resetting to 0."""
    from off_topic_memento_toolkit_spark.operators.curation import (
        exclude_duplicates,
    )
    from off_topic_memento_toolkit_spark.operators.timeline import prepare_pages
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_sequential_dedup,
    )

    pages = generate_pages(spark, n_urls=6, mementos_per_url=8, skew=False,
                           error_rows=False, dup_rate=0.6).cache()
    enriched_all = prepare_pages(pages, need_tf_simhash=False).cache()
    # split by time: first half arrives in run 1, second half in run 2
    cut = enriched_all.selectExpr(
        "percentile(cast(warc_ts as long), 0.5) p").collect()[0].p
    first_half = pages.join(
        enriched_all.filter(F.col("warc_ts").cast("long") <= cut)
        .select("url", "warc_ts"), ["url", "warc_ts"], "left_semi")
    second_half = pages.join(
        enriched_all.filter(F.col("warc_ts").cast("long") > cut)
        .select("url", "warc_ts"), ["url", "warc_ts"], "left_semi")

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = build_streaming_enrichment(spark, src)
        q = (streaming_sequential_dedup(stream, threshold=0.2)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    first_half.write.mode("append").parquet(src)
    drain()
    run1 = {r.urim for r in spark.read.parquet(out).collect()}

    second_half.write.mode("append").parquet(src)
    drain()
    got = {r.urim for r in spark.read.parquet(out).collect()}
    assert run1 <= got

    meta = enriched_all.select(
        F.col("url").alias("urit"), "urim",
        F.col("raw_simhash").alias("simhash"),
        F.col("warc_ts").alias("memento_datetime"))
    want = {r.urim for r in exclude_duplicates(
        meta, threshold=0.2, first_seen_skip=True).collect()}
    assert got == want and len(got) > len(run1) > 0


def test_checkpoint_refuses_legacy_flat_layout(spark, tmp_path):
    """A marker from before the versioned-snapshot format (no 'version'
    key, data in a flat <root>/<stage> dir) is refused, naming the stage
    and the rebuild, not read; versioned stages beside it still read."""
    import json as _json

    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )

    root = str(tmp_path / "legacy")
    os.makedirs(root)
    df = spark.range(7).selectExpr(
        "id", "0 AS _partition_id", "'r0' AS _run_id", "'t' AS _stage")
    df.write.parquet(f"{root}/t")
    with open(f"{root}/t._COMMIT.json", "w") as fh:
        _json.dump({"stage": "t", "run_id": "r0", "rows": 7,
                    "partitions": 1, "per_partition_rows": []}, fh)

    store = CheckpointStore(spark, root, run_id="r1")
    assert store.is_committed("t")
    for read in (lambda: store.read("t"),
                 lambda: store.run_stage("t", lambda: 1 / 0)):
        with pytest.raises(ValueError, match=r"'t'.*dedup --checkpoint-dir"):
            read()
    store.write(spark.range(3).selectExpr("id"), "t2")
    assert store.marker("t2")["version"] == 1
    assert store.read("t2").count() == 3


def test_cli_filter_consideration_lists(spark, tmp_path):
    """The reference's select_by_language / exclude_duplicates bin tools as
    a CLI subcommand emitting one-URI-M-per-line consideration lists."""
    from off_topic_memento_toolkit_spark.cli import main
    from off_topic_memento_toolkit_spark.operators.curation import (
        exclude_duplicates,
    )
    from off_topic_memento_toolkit_spark.operators.measures import (
        memento_metadata,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=6, mementos_per_url=4, skew=False,
                           error_rows=False, dup_rate=0.5)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    out1 = str(tmp_path / "nondups")
    main(["filter", "-i", f"pages:{src}", "-o", out1,
          "--exclude-duplicates"], spark=spark)
    got = {r.value for r in spark.read.text(out1).collect()}
    want = {r.urim for r in exclude_duplicates(
        memento_metadata(spark.read.parquet(src))).collect()}
    assert got == want and got

    # mixed-language copy: every other memento is German
    mixed_src = str(tmp_path / "pages_mixed")
    spark.read.parquet(src).withColumn(
        "lang",
        F.when(F.xxhash64("url", "warc_ts") % 2 == 0, "de").otherwise("en"),
    ).write.parquet(mixed_src)
    out2 = str(tmp_path / "en_only")
    main(["filter", "-i", f"pages:{mixed_src}", "-o", out2, "-l", "en"],
         spark=spark)
    en = {r.value for r in spark.read.text(out2).collect()}
    n_en = spark.read.parquet(mixed_src).filter("lang = 'en'").count()
    n_all = spark.read.parquet(mixed_src).count()
    assert len(en) == n_en and 0 < n_en < n_all

    with pytest.raises(SystemExit):
        main(["filter", "-i", f"pages:{src}", "-o", out2], spark=spark)


def test_cli_consideration_roundtrip(spark, tmp_path):
    """filter → -c loop: the list emitted by `filter --exclude-duplicates`
    restricts `detect` to exactly those mementos (F4 semi-join), matching
    the reference's `-c considered.txt` workflow."""
    import csv

    from off_topic_memento_toolkit_spark.cli import main
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=5, mementos_per_url=4, skew=False,
                           error_rows=False, dup_rate=0.5)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    nondups = str(tmp_path / "nondups")
    main(["filter", "-i", f"pages:{src}", "-o", nondups,
          "--exclude-duplicates"], spark=spark)
    keep = {r.value for r in spark.read.text(nondups).collect()}

    out = str(tmp_path / "scores.csv")
    main(["detect", "-i", f"pages:{src}", "-c", nondups, "-o", out,
          "-ot", "csv", "-tm", "wordcount"], spark=spark)
    with open(out) as fh:
        rows = list(csv.DictReader(fh))
    scored = {r["URI-M"] for r in rows if r["URI-M"]}
    assert scored == keep and scored


def test_partitioned_layout_prunes_and_metrics_surface(spark, tmp_path):
    """SURVEY §4.3 layout: a crawl-day predicate must reach the file listing
    (partition pruning, not scan+filter), and the committed stage markers
    must assemble into a per-stage metrics table with skew visibility."""
    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )
    from off_topic_memento_toolkit_spark.plans.layout import (
        day_slice,
        read_pages_partitioned,
        write_pages_partitioned,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import (
        dedup_pipeline,
        pipeline_metrics,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=6, mementos_per_url=4, skew=False,
                           error_rows=False)
    path = str(tmp_path / "pages_by_day")
    write_pages_partitioned(pages, path)

    table = read_pages_partitioned(spark, path)
    days = sorted(r.crawl_date for r in
                  table.select("crawl_date").distinct().collect())
    assert len(days) > 1
    one_day = day_slice(table, str(days[0]))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "crawl_date" in plan.split("PartitionFilters", 1)[1][:200]
    # the predicate prunes BEFORE I/O: no post-scan Filter on crawl_date
    assert one_day.count() == pages.filter(
        F.to_date("warc_ts") == days[0]).count()

    store = CheckpointStore(spark, str(tmp_path / "ck"), run_id="r1")
    dedup_pipeline(pages, store=store).collect()
    metrics = pipeline_metrics(store.root)
    stages = [m["stage"] for m in metrics]
    assert {"docs", "candidate_edges", "verified_edges", "clusters"} \
        <= set(stages)
    for m in metrics:
        assert m["rows"] >= 0 and m["version"] == 1
        if m["partitions"]:
            assert m["max_partition_rows"] >= m["min_partition_rows"]
    # commit order is the pipeline order
    assert stages.index("docs") < stages.index("verified_edges") \
        < stages.index("clusters")


def test_checkpoint_version_width_roundtrip(spark, tmp_path):
    """Past v999999 the formatter emits 7+ digits; versions()/_next_version
    must parse every width the formatter can produce (format/parse
    mismatch regression)."""
    import os

    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )

    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    wide = store._version_dir("s", 1000000)
    assert wide.endswith("v1000000")  # 7 digits, no truncation
    os.makedirs(wide)
    with open(os.path.join(wide, "_info.json"), "w") as fh:
        fh.write("{}")
    assert store.versions("s") == [1000000]
    assert store._next_version("s") == 1000001


def test_multimodal_real_bmp_codec_to_ann(spark):
    """The non-fake codec path end-to-end: binary BMP column → REAL decode
    (pure-numpy 24-bpp parser) → grid feature → brute-force ANN join.  The
    shifted near-duplicate image must out-rank the unrelated one, and the
    resize hook must round-trip through the real nearest-neighbor BMP
    resizer."""
    import numpy as np

    from off_topic_memento_toolkit_spark.operators.ann import cosine_topk
    from off_topic_memento_toolkit_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        bmp_feature_decode,
        bmp_resize,
        decode_bmp,
        encode_bmp,
        extract_media_features,
        resize_media,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    near = base.copy()
    near[:2] = (near[:2].astype(int) + 12).clip(0, 255).astype(np.uint8)
    other = rng.randint(0, 256, (24, 24, 3), dtype=np.uint8)
    corrupt = b"BM but not really a bitmap"

    rows = [("base", "image", bytearray(encode_bmp(base)), "image/bmp",
             24, 24, None),
            ("near", "image", bytearray(encode_bmp(near)), "image/bmp",
             24, 24, None),
            ("other", "image", bytearray(encode_bmp(other)), "image/bmp",
             24, 24, None),
            ("bad", "image", bytearray(corrupt), "image/bmp",
             24, 24, None)]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    feats = extract_media_features(media, decode_fn=bmp_feature_decode)
    collected = {r.media_id: r for r in feats.collect()}
    assert collected["bad"].decode_error is not None  # error row, no raise
    ok = {mid: r for mid, r in collected.items() if r.decode_error is None}
    assert set(ok) == {"base", "near", "other"}
    # features are the REAL pooled-grayscale vectors, not byte hashes
    expected = bmp_feature_decode(encode_bmp(base))
    assert np.allclose(ok["base"].feature, expected, atol=1e-6)

    vecs = feats.filter(feats.decode_error.isNull()).select(
        feats.media_id.alias("vec_id"), feats.feature.alias("embedding"))
    topk = cosine_topk(vecs, vecs.filter("vec_id = 'base'"), k=2)
    ranked = sorted(((r.rank, r.neighbor_id) for r in topk.collect()))
    assert ranked[0] == (1, "base")      # self-match first
    assert ranked[1] == (2, "near")      # shifted copy beats unrelated

    resized = {r.media_id: r for r in resize_media(
        media, 6, 6, resize_fn=bmp_resize).collect()}
    assert resized["bad"].resize_error is not None
    out = decode_bmp(bytes(resized["base"].payload))
    assert out.shape == (6, 6, 3)
    # nearest-neighbor: every output pixel exists in the source image
    src_pixels = {tuple(p) for p in base.reshape(-1, 3)}
    assert all(tuple(p) in src_pixels for p in out.reshape(-1, 3))


def test_iceberg_checkpoint_contract(spark, tmp_path):
    """The Iceberg catalog backend's snapshot contract — same semantics as
    test_checkpoint_resume (skip committed stages, marker counters, time
    travel, expiry) emitted as catalog tables.  Jar-guarded: the sandbox
    has no Iceberg runtime; on any cluster with
    org.apache.iceberg.spark.SparkCatalog on the classpath this runs."""
    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        IcebergCheckpointStore,
        iceberg_runtime_available,
    )

    if not iceberg_runtime_available(spark):
        pytest.skip("Iceberg runtime jar not on classpath (sandbox-only "
                    "condition; runs on real clusters)")

    spark.conf.set("spark.sql.catalog.otmt_ice",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.otmt_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.otmt_ice.warehouse",
                   str(tmp_path / "warehouse"))

    store = IcebergCheckpointStore(spark, "otmt_ice", namespace="ns1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).selectExpr("id", "id * 2 as v")

    out1 = store.run_stage("stage_a", build)
    assert calls["n"] == 1 and out1.count() == 10

    # resume: a fresh store over the same catalog reads, never recomputes
    store2 = IcebergCheckpointStore(spark, "otmt_ice", namespace="ns1")
    out2 = store2.run_stage("stage_a", build)
    assert calls["n"] == 1
    assert sorted(r.v for r in out2.collect()) == \
        sorted(r.v for r in out1.collect())
    marker = store2.marker("stage_a")
    assert marker["rows"] == 10 and marker["partitions"] >= 1
    assert marker["per_partition_rows"]  # lineage counters present

    v_first = store2.versions("stage_a")[-1]
    # rewrite => new snapshot; the old one stays addressable (time travel)
    store2.write(spark.range(3).selectExpr("id", "id * 3 as v"), "stage_a")
    assert store2.read("stage_a").count() == 3
    assert store2.read("stage_a", version=v_first).count() == 10
    # expiry keeps the current snapshot readable
    store2.expire_snapshots("stage_a", keep=1)
    assert store2.read("stage_a").count() == 3

    # row-level merge (MERGE INTO): bucketed write, upsert + insert-if-
    # absent + delete — same contract the parquet backend proves with its
    # partition-scoped rewrite (tests/test_merge_promote.py)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, val string")
    store2.write(base, "stage_m", bucket_by=["k"], num_buckets=4)
    assert store2.marker("stage_m")["bucket_by"] == ["k"]
    changes = spark.createDataFrame(
        [(3, "UPDATED"), (100, "NEW")], "k long, val string")
    deletes = spark.createDataFrame([(7,)], "k long")
    merged = store2.merge("stage_m", changes=changes, delete_keys=deletes)
    got = {(r.k, r.val) for r in merged.collect()}
    expected = {(i, f"v{i}") for i in range(20) if i not in (3, 7)}
    expected |= {(3, "UPDATED"), (100, "NEW")}
    assert got == expected
    assert store2.marker("stage_m")["rows"] == len(expected)
    ins = store2.merge(
        "stage_m",
        changes=spark.createDataFrame([(3, "SKIP"), (200, "NEW2")],
                                      "k long, val string"),
        insert_only=True)
    got2 = {(r.k, r.val) for r in ins.collect()}
    assert got2 == expected | {(200, "NEW2")}  # key 3 present → skipped
    expected |= {(200, "NEW2")}

    # crash window: a MERGE INTO that lands WITHOUT the marker swing (a
    # merge() killed between its data commit and _commit_marker) must stay
    # invisible — the stage remains committed at the marker's snapshot and
    # read() serves the pre-crash state, never the half-applied live head
    spark.createDataFrame([(3, "TORN")], "k long, val string") \
        .createOrReplaceTempView("_torn_src")
    spark.sql(f"MERGE INTO {store2._table('stage_m')} t USING _torn_src s "
              f"ON t.k = s.k WHEN MATCHED THEN UPDATE SET t.val = s.val")
    spark.catalog.dropTempView("_torn_src")
    assert store2.is_committed("stage_m")
    assert {(r.k, r.val) for r in store2.read("stage_m").collect()} \
        == expected  # (3, "UPDATED") still, not "TORN"
    # the prescribed retry re-runs the same merge and converges: the swing
    # commits a snapshot that INCLUDES the torn mutation's effects only as
    # re-applied by the idempotent retry
    retry = store2.merge(
        "stage_m",
        changes=spark.createDataFrame([(3, "UPDATED")],
                                      "k long, val string"))
    assert {(r.k, r.val) for r in retry.collect()} == expected
    assert {(r.k, r.val) for r in store2.read("stage_m").collect()} \
        == expected


def test_synthesize_bmp_media_fixture(spark):
    """The battery's media fixture generator: deterministic payloads
    (same id → same bytes across runs/partitionings), real decodable BMPs,
    and the corrupt_every ids yield decode-error rows downstream."""
    from off_topic_memento_toolkit_spark.operators.multimodal import (
        bmp_feature_decode,
        decode_bmp,
        extract_media_features,
        synthesize_bmp_media,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = synthesize_bmp_media(docs, corrupt_every=5)
    rows = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows2 = {r.media_id: bytes(r.payload)
             for r in synthesize_bmp_media(
                 docs.repartition(4), corrupt_every=5).collect()}
    assert rows == rows2 and len(rows) == 12
    assert decode_bmp(rows["3"]).shape == (16, 16, 3)
    feats = extract_media_features(media, decode_fn=bmp_feature_decode,
                                   dim=16)
    errs = {r.media_id for r in
            feats.filter(feats.decode_error.isNotNull()).collect()}
    assert errs == {"5", "10"}  # corrupt_every=5, id 0 exempt


def test_bmp_decoder_adversarial_headers():
    """Hostile BMP headers (negative/zero/overflowing dimensions, offset
    past end, truncation) must raise ValueError — mapInPandas turns that
    into an error ROW — never crash or allocate unboundedly; a legitimate
    top-down (negative height) bitmap still decodes."""
    import struct

    import numpy as np

    from off_topic_memento_toolkit_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    payload = encode_bmp(img)
    assert np.array_equal(decode_bmp(payload), img)

    def mutate(buf, off, val):
        buf = bytearray(buf)
        struct.pack_into("<i", buf, off, val)
        return bytes(buf)

    hostile = [b"", b"BM", payload[:53],
               mutate(payload, 18, -5), mutate(payload, 18, 0),
               mutate(payload, 22, 0), mutate(payload, 18, 2 ** 30),
               mutate(payload, 22, 2 ** 30), mutate(payload, 10, 10 ** 9)]
    for case in hostile:
        with pytest.raises(ValueError):
            decode_bmp(case)
    # negative height = top-down row order, a legal variant
    assert decode_bmp(mutate(payload, 22, -4)).shape == (4, 4, 3)


import pytest as _pytest


@_pytest.mark.parametrize(
    "module_name",
    ["submit_scaling_run", "datascale_run", "increment_bench"])
def test_bench_md_marker_block_update(tmp_path, monkeypatch, module_name):
    """Each harness's update_bench_md (now one shared bench_md.make_updater
    implementation) must replace ONLY its marked block, preserve everything
    outside it (including the hand-written analysis after the end marker),
    and insert before the reference baseline on first write."""
    import importlib
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    mod = importlib.import_module(module_name)
    bench_md = importlib.import_module("bench_md")
    monkeypatch.setattr(bench_md, "REPO", str(tmp_path))

    bench = tmp_path / "BENCH.md"
    bench.write_text("# BENCH\n\ntop tables\n\nReference baseline: none\n")
    mod.update_bench_md("FIRST BLOCK")
    text = bench.read_text()
    assert "FIRST BLOCK" in text
    assert text.index("top tables") < text.index(mod.BEGIN)
    assert text.index(mod.END) < text.index("Reference baseline")

    # hand-written analysis outside the markers must survive a re-run
    text = text.replace(mod.END + "\n",
                        mod.END + "\nkeep-this-analysis\n")
    bench.write_text(text)
    mod.update_bench_md("SECOND BLOCK")
    text = bench.read_text()
    assert "SECOND BLOCK" in text and "FIRST BLOCK" not in text
    assert "keep-this-analysis" in text
    assert text.count(mod.BEGIN) == 1 and text.count(mod.END) == 1


def test_pages_sites_knob(spark, monkeypatch):
    """OTMT_PAGES_SITES widens the site modulus for large-SF sweeps (so the
    LSI isometry domain is non-empty when timelines would otherwise be
    1000-deep); unset keeps the 50-site driver contract byte-identical."""
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    sf = "/root/testdata/sf0.01"  # 500 docs
    monkeypatch.delenv("OTMT_PAGES_SITES", raising=False)
    default = pages_from_documents(spark, sf)
    assert default.select("url").distinct().count() == 50

    monkeypatch.setenv("OTMT_PAGES_SITES", "125")
    wide = pages_from_documents(spark, sf)
    assert wide.select("url").distinct().count() == 125
    # same rows, only the url regrouping changes
    assert wide.count() == default.count()


def test_streaming_stateful_dedup_ttl_eviction(spark, tmp_path):
    """Opt-in state TTL bounds the state store's URL COUNT: a url idle past
    state_ttl_hours (event time vs watermark) is evicted, so its exact
    repeat later re-emits — the documented bounded-memory trade.  The
    default (no TTL) keeps exact D1 parity and suppresses the repeat."""
    import datetime

    from off_topic_memento_toolkit_spark.sources.datagen import PAGES_SCHEMA
    from off_topic_memento_toolkit_spark.streaming.ingest import (
        build_streaming_enrichment,
        streaming_sequential_dedup,
    )

    def page(url, ts):
        html = f"<html><body><p>stable text for {url}</p></body></html>"
        return (url, datetime.datetime(*ts), html.encode(), None, "en")

    def drain(name, ttl):
        stream = build_streaming_enrichment(spark, str(tmp_path / "src"))
        q = (streaming_sequential_dedup(stream, threshold=0.2,
                                        state_ttl_hours=ttl)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / f"out{name}"))
             .option("checkpointLocation", str(tmp_path / f"ck{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    def land(*rows):
        spark.createDataFrame(list(rows), PAGES_SCHEMA) \
            .write.mode("append").parquet(str(tmp_path / "src"))

    # batch 1: url A and a watermark-carrier url W
    land(page("http://a.example/", (2016, 1, 1)),
         page("http://w.example/", (2016, 1, 1)))
    drain("ttl", ttl=24.0)
    # batch 2: W advances the watermark far past A's 24h TTL
    land(page("http://w.example/", (2018, 1, 1)))
    drain("ttl", ttl=24.0)
    # batch 3: another W row makes a batch run WITH the advanced watermark,
    # firing A's timeout (a group with no data gets the hasTimedOut call)
    land(page("http://w.example/", (2018, 1, 2)))
    drain("ttl", ttl=24.0)
    # batch 4: A's EXACT repeat (same text -> same simhash) re-emits,
    # because its seen-set was evicted
    land(page("http://a.example/", (2018, 6, 1)))
    drain("ttl", ttl=24.0)
    a_rows = [r for r in spark.read.parquet(
        str(tmp_path / "outttl")).collect() if "a.example" in r.url]
    assert len(a_rows) == 2  # emitted in 2016 AND again after eviction

    # default (no TTL), same landed files in one fresh drain: exact D1
    # parity — the repeat stays suppressed
    drain("none", ttl=None)
    a_rows_none = [r for r in spark.read.parquet(
        str(tmp_path / "outnone")).collect() if "a.example" in r.url]
    assert len(a_rows_none) == 1


def test_cli_filter_consideration_switches_d1_branch(spark, tmp_path):
    """filter -c <list> --exclude-duplicates must (a) restrict to the
    listed mementos and (b) run the reference's consideration-branch D1
    (first-seen simhash skip), not the plain lag rule — the coupling
    bin/exclude_duplicates applies when -c is given."""
    from off_topic_memento_toolkit_spark.cli import main
    from off_topic_memento_toolkit_spark.operators.curation import (
        consider_only,
        exclude_duplicates,
    )
    from off_topic_memento_toolkit_spark.operators.measures import (
        memento_metadata,
    )
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=6, mementos_per_url=5, skew=False,
                           error_rows=False, dup_rate=0.5)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    meta_all = memento_metadata(spark.read.parquet(src))
    # consideration list: a deterministic 2/3 subset of all urims
    listed = meta_all.filter(F.xxhash64("urim") % 3 != 0).select("urim")
    clist = str(tmp_path / "clist")
    listed.write.text(clist)

    out = str(tmp_path / "nondups_c")
    main(["filter", "-i", f"pages:{src}", "-o", out, "-c", clist,
          "--exclude-duplicates"], spark=spark)
    got = {r.value for r in spark.read.text(out).collect()}

    want = {r.urim for r in exclude_duplicates(
        consider_only(meta_all, listed), first_seen_skip=True).collect()}
    assert got == want and got
    # and the restriction really applied: nothing outside the list
    assert got <= {r.urim for r in listed.collect()}
