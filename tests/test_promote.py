"""plans/promote.py — the one promote path: ingest and takedown commit the
corpus state as row-level merges in STATE_STAGES order, and a promote into
a base whose state is not bucketed is refused before anything runs."""

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.cli import main
from off_topic_memento_toolkit_spark.plans.checkpoints import CheckpointStore
from off_topic_memento_toolkit_spark.plans.pipeline import (
    dedup_pipeline,
    pipeline_metrics,
)
from off_topic_memento_toolkit_spark.plans.promote import (
    STATE_STAGES,
    ingest,
    stored_params,
    takedown,
    write_params,
)
from off_topic_memento_toolkit_spark.queries import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


def _clusters(df):
    return {r.urim: r.component for r in df.collect()}


def _split(spark, tmp_path):
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_src, inc_src = str(tmp_path / "b"), str(tmp_path / "i")
    pages.filter(hour % 5 != 0).write.parquet(base_src)
    pages.filter(hour % 5 == 0).write.parquet(inc_src)
    return base_src, inc_src


def _versions(store):
    return {stage: store.marker(stage)["version"] for stage in STATE_STAGES}


def test_promote_refuses_unbucketed_base(spark, tmp_path):
    base_src, inc_src = _split(spark, tmp_path)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)
    # re-commit bands without a bucketed layout
    store.write(store.read("bands"), "bands")
    before = _versions(store)

    with pytest.raises(SystemExit, match="'bands' stage is not bucketed"):
        main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir",
              ck, "-o", str(tmp_path / "m"), "--promote"], spark=spark)
    urims = [r.urim for r in
             spark.read.parquet(str(tmp_path / "c0")).limit(3).collect()]
    rm = tmp_path / "rm.txt"
    rm.write_text("\n".join(urims) + "\n")
    with pytest.raises(SystemExit, match="'bands' stage is not bucketed"):
        main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm),
              "-o", str(tmp_path / "t"), "--promote"], spark=spark)
    assert _versions(store) == before

    # a label-only ingest reads the same base as before
    out = str(tmp_path / "m2")
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", out], spark=spark)
    want = dedup_pipeline(spark.read.parquet(base_src, inc_src))
    assert _clusters(spark.read.parquet(out)) == _clusters(want)
    assert _versions(store) == before


def test_promote_commits_state_stages_in_order(spark, tmp_path):
    """The mid-promote crash detector needs docs committed first and
    clusters last, for ingest and takedown alike."""
    base_src, inc_src = _split(spark, tmp_path)
    ck = str(tmp_path / "ck")
    base = CheckpointStore(spark, ck)
    write_params(base, {"num_perm": 128, "bands": 32, "shingle_words": 5})
    dedup_pipeline(spark.read.parquet(base_src), store=base).collect()

    def state_order():
        return [m["stage"] for m in pipeline_metrics(ck)
                if m["stage"] in STATE_STAGES]

    ingest(base, spark.read.parquet(inc_src), str(tmp_path / "m"),
           promote=True)
    assert set(_versions(base).values()) == {2}
    assert state_order() == list(STATE_STAGES)

    removed = spark.read.parquet(str(tmp_path / "m")).select("urim") \
        .orderBy("urim").limit(5)
    takedown(base, removed, str(tmp_path / "t"), promote=True)
    assert set(_versions(base).values()) == {3}
    assert state_order() == list(STATE_STAGES)
    assert base.marker("docs")["rows"] == base.marker("clusters")["rows"]


def test_stored_params_warns_once_without_params_stage(spark, tmp_path,
                                                       capsys):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    assert stored_params(store) is None
    assert capsys.readouterr().err.count("no `params` stage") == 1
    params = {"num_perm": 64, "bands": 16, "shingle_words": 4}
    write_params(store, params)
    assert stored_params(store) == params
    assert capsys.readouterr().err == ""
