"""get_spark's two start-up defaults: a codegen cache that holds every class
the CLI compiles, so a warm operation compiles nothing, and, on the local
masters it picks itself, a Python worker daemon that imports pyspark from
site-packages instead of Spark's zips."""

import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd

from off_topic_memento_toolkit_spark.session import (
    WORKER_DAEMON,
    release_session_pins,
    session_conf,
)
from off_topic_memento_toolkit_spark.worker_daemon import drop_spark_archives

ALL_MEASURES = ("bytecount,wordcount,jaccard,sorensen,tfintersection=20,"
                "levenshtein=40,nlevenshtein=0.4,raw_simhash,tf_simhash,"
                "cosine,gensim_lsi,gensim_lda")


def _compiled(spark):
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_warm_operations_compile_nothing(spark, tmp_path):
    """The off-topic job (detect with all 12 measures, then story over its
    on-topic list), then dedup, each run twice in one session: the second
    run of each finds every generated class in the codegen cache.  At
    Spark's default cap of 100 the second off-topic run recompiles ~119 of
    its 127 classes."""
    from off_topic_memento_toolkit_spark.cli import main
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    src = str(tmp_path / "pages")
    generate_pages(spark, n_urls=6, mementos_per_url=4, skew=False) \
        .write.parquet(src)
    pages = f"pages:{src}"
    operations = {
        "offtopic": lambda run: [
            ["detect", "-i", pages, "-o", str(tmp_path / f"s{run}"),
             "-ot", "json-dist", "-tm", ALL_MEASURES,
             "--ontopic-list", str(tmp_path / f"on{run}")],
            ["story", "-i", pages, "-c", str(tmp_path / f"on{run}"),
             "-o", str(tmp_path / f"story{run}")]],
        "dedup": lambda run: [
            ["dedup", "-i", pages, "-o", str(tmp_path / f"d{run}")]],
    }
    warm = {}
    for name, argvs in operations.items():
        for run in (1, 2):
            before = _compiled(spark)
            for argv in argvs(run):
                main(argv, spark=spark)
                release_session_pins()
                spark.catalog.clearCache()
            warm[name] = _compiled(spark) - before
    assert warm == {"offtopic": 0, "dedup": 0}


def test_local_workers_import_pyspark_outside_spark_zips(spark):
    """Under the session's local[N] master, a pandas UDF's worker imports
    pyspark from site-packages and keeps no zipimporter in its path cache,
    so the per-task ``importlib.invalidate_caches()`` re-reads no zip."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def origin(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        zips = sum(isinstance(finder, zipimport.zipimporter)
                   for finder in sys.path_importer_cache.values())
        return pd.Series([f"{zips} {pyspark.__file__}"] * len(ids))

    zips, path = spark.range(2).repartition(2) \
        .select(origin("id").alias("o")).first().o.split(" ", 1)
    assert zips == "0"
    assert ".zip" not in path
    assert os.path.dirname(path) == os.path.dirname(
        importlib.util.find_spec("pyspark").origin)


def _spark_zip(path, version):
    """A stand-in pyspark.zip whose version.py says ``version``."""
    with zipfile.ZipFile(path, "w") as archive:
        archive.writestr("pyspark/__init__.py", "")
        archive.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_daemon_keeps_spark_zips_of_another_version(tmp_path, monkeypatch):
    """A zip whose pyspark differs from the installed one stays on the path,
    with its importer; a same-version zip is dropped and evicted."""
    import pyspark

    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    other = _spark_zip(tmp_path / "other.zip", "0.0.1")
    monkeypatch.setattr(sys, "path", [other, site])
    monkeypatch.setitem(sys.path_importer_cache, other,
                        zipimport.zipimporter(other))
    assert drop_spark_archives() == []
    assert sys.path == [other, site]
    assert other in sys.path_importer_cache

    same = _spark_zip(tmp_path / "same.zip", pyspark.__version__)
    monkeypatch.setattr(sys, "path", [same, site])
    monkeypatch.setitem(sys.path_importer_cache, same,
                        zipimport.zipimporter(same))
    assert drop_spark_archives() == [same]
    assert sys.path == [site]
    assert same not in sys.path_importer_cache


def test_daemon_module_only_on_local_masters_get_spark_picks(monkeypatch):
    """The daemon module is set for local/local[N] only: a local-cluster
    master's or a submitted master's workers may not have the package on
    their PYTHONPATH.  The codegen cap holds on every master."""
    key = "spark.python.daemon.module"
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    for master in (None, "local", "local[2]", "local[*]"):
        assert session_conf(master)[1][key] == WORKER_DAEMON
    assert key not in session_conf("local-cluster[2,1,1024]")[1]
    monkeypatch.setenv("SPARK_MASTER", "from-submit")
    master, conf = session_conf()
    assert master is None and key not in conf
    assert int(conf["spark.sql.codegen.cache.maxEntries"]) > 100
