"""north_rule deployment path: the job must run via spark-submit --py-files,
and from any working directory.

Builds the reproducible zip artifact (scripts/package_pyfiles.py), then runs
a REAL ``spark-submit --py-files otmt_spark.zip`` subprocess from an empty
working directory with no PYTHONPATH — the package can only come from the
zip — and drives the detect CLI end-to-end over a pages parquet."""

import csv
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from package_pyfiles import build  # noqa: E402

DRIVER = """\
import sys
from off_topic_memento_toolkit_spark.cli import main
main(sys.argv[1:])
"""


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=4, mementos_per_url=3, skew=False,
                           error_rows=False)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)

    zip_path = build(str(tmp_path / "otmt_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    out_csv = str(tmp_path / "scores.csv")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_MASTER"] = "from-submit"  # get_spark defers to submitted conf
    env["SPARK_DRIVER_MEM"] = "2g"
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(driver),
         "detect", "-i", f"pages:{src}", "-o", out_csv,
         "-ot", "csv", "-tm", "wordcount"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out_csv) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) > 0
    assert {r["Measurement Name"] for r in rows} == {"wordcount"}
    # generate_pages emits the n_urls sites plus fixed drift/tf fixtures
    assert len({r["URI-T"] for r in rows}) >= 4
    assert all(r["Overall Topic Status"] in ("on-topic", "off-topic")
               for r in rows)


WORKER_IMPORT = """\
import sys
sys.path.insert(0, sys.argv[1])
from off_topic_memento_toolkit_spark.functions.udfs import make_enrich_udf
from off_topic_memento_toolkit_spark.session import get_spark
spark = get_spark("outside-checkout", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([(None, "Quick brown foxes")],
                           "html binary, text string")
tokenize = make_enrich_udf(["tokens"])
print(df.select(tokenize("html", "text").tokens.alias("t")).first().t)
spark.stop()
"""


def test_pandas_udf_runs_outside_the_checkout(tmp_path):
    """A driver that puts the package on sys.path at run time, started from
    another directory with no PYTHONPATH: the Python workers must still
    import the package to unpickle its UDFs, a closure-built one here."""
    script = tmp_path / "driver.py"
    script.write_text(WORKER_IMPORT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "quick" in proc.stdout
