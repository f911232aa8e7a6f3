"""Census of the generated classes each CLI command compiles.

Runs every Spark-backed CLI command twice in one local[4] session whose
codegen cache is effectively unbounded, and prints, per command, the
classes Janino compiled on the first run and on the second.  The first
runs' sum is the number of distinct classes the whole CLI needs in one
session; ``session.CODEGEN_CACHE_ENTRIES`` is sized from it.  The second
column reads 0 when the generated source of a command is stable across
runs, so a cache that holds the census compiles nothing on warm runs.

    python scripts/codegen_census.py [--pages-per-url N]
"""

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from off_topic_memento_toolkit_spark.cli import main  # noqa: E402
from off_topic_memento_toolkit_spark.operators.timeline import (  # noqa: E402
    with_memento_identity,
)
from off_topic_memento_toolkit_spark.session import (  # noqa: E402
    get_spark,
    release_session_pins,
)
from off_topic_memento_toolkit_spark.sources.datagen import (  # noqa: E402
    generate_pages,
)

ALL_MEASURES = ("bytecount,wordcount,jaccard,sorensen,tfintersection=20,"
                "levenshtein=40,nlevenshtein=0.4,raw_simhash,tf_simhash,"
                "cosine,gensim_lsi,gensim_lda")


def compiled(spark):
    """Classes Janino has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def commands(root, pages):
    """(name, argv builder) of every Spark-backed CLI command, in an order
    where each command's inputs exist; ``run`` tags the outputs."""
    base, ck = f"pages:{pages}/base", f"{root}/ck"
    yield "detect", lambda run: [
        "detect", "-i", base, "-o", f"{root}/scores{run}", "-ot", "json-dist",
        "-tm", ALL_MEASURES, "--ontopic-list", f"{root}/ontopic{run}"]
    yield "story", lambda run: [
        "story", "-i", base, "-c", f"{root}/ontopic{run}",
        "-o", f"{root}/story{run}"]
    yield "stats", lambda run: ["stats", "-i", base, "-o", f"{root}/stats{run}"]
    yield "filter", lambda run: [
        "filter", "-i", base, "-o", f"{root}/filter{run}", "-l", "en",
        "--exclude-duplicates"]
    yield "dedup", lambda run: ["dedup", "-i", base, "-o", f"{root}/dedup{run}"]
    yield "dedup --checkpoint-dir", lambda run: [
        "dedup", "-i", base, "-o", f"{root}/cdedup{run}",
        "--checkpoint-dir", f"{ck}{run}"]
    yield "ingest --promote", lambda run: [
        "ingest", "-i", f"pages:{pages}/delta", "--base-checkpoint-dir",
        f"{ck}{run}", "-o", f"{root}/ingest{run}", "--promote"]
    yield "takedown --promote", lambda run: [
        "takedown", "--base-checkpoint-dir", f"{ck}{run}",
        "--remove", f"{root}/remove.txt", "-o", f"{root}/takedown{run}",
        "--promote"]
    for mode in ("dedup", "rates", "signatures", "candidates"):
        yield f"stream {mode}", lambda run, mode=mode: [
            "stream", "-i", f"{pages}/delta", "-o", f"{root}/s{mode}{run}",
            "--checkpoint", f"{root}/sck{mode}{run}", "--mode", mode,
            "--base-checkpoint-dir", f"{ck}{run}", "--once"]


def census(spark, root, pages_per_url):
    pages = generate_pages(spark, n_urls=12, mementos_per_url=pages_per_url)
    pages.filter("hash(url) % 5 != 0").write.parquet(f"{root}/pages/base")
    pages.filter("hash(url) % 5 = 0").write.parquet(f"{root}/pages/delta")
    removed = with_memento_identity(pages).filter("hash(url) % 5 != 0") \
        .select("urim").limit(3).collect()
    with open(f"{root}/remove.txt", "w") as fh:
        fh.write("".join(f"{row.urim}\n" for row in removed))
    rows = []
    for name, argv in commands(root, f"{root}/pages"):
        counts = []
        for run in (1, 2):
            before = compiled(spark)
            main(argv(run), spark=spark)
            release_session_pins()
            spark.catalog.clearCache()
            counts.append(compiled(spark) - before)
        rows.append((name, *counts))
    return rows


def run(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--pages-per-url", type=int, default=6)
    args = parser.parse_args(argv)
    spark = get_spark("codegen-census", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.sql.codegen.cache.maxEntries":
                                  "100000"})
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="codegen-census-")
    try:
        rows = census(spark, root, args.pages_per_url)
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(f"{'command':<24}{'first run':>10}{'second run':>11}")
    for name, first, second in rows:
        print(f"{name:<24}{first:>10}{second:>11}")
    print(f"{'distinct (sum)':<24}{sum(r[1] for r in rows):>10}"
          f"{sum(r[2] for r in rows):>11}")


if __name__ == "__main__":
    run()
