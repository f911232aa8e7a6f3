"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values."""

import atexit
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Per-run isolation: this process runs BOTH the Spark queries (which write
# the materialized intermediates) and the DuckDB oracles (which read them),
# so a unique root is safe here — and two concurrent check_oracle runs no
# longer clobber each other's parquet.  The module default stays the stable
# path for harnesses that render oracle SQL in a different process than the
# query runner; an explicit OTMT_MAT_ROOT always wins.
if "OTMT_MAT_ROOT" not in os.environ:
    _mat_root = f"/tmp/otmt_oracle_mat_{os.getpid()}"
    os.environ["OTMT_MAT_ROOT"] = _mat_root
    atexit.register(shutil.rmtree, _mat_root, ignore_errors=True)

import duckdb

import __spark_entry__ as entrymod
from off_topic_memento_toolkit_spark.session import get_spark

SF_DIR = os.environ.get("OTMT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def normalize(rows, columns):
    out = []
    for row in rows:
        values = []
        for c in columns:
            v = row[c]
            if isinstance(v, float):
                v = round(v, 9)
            values.append(repr(v))
        out.append(tuple(values))
    return sorted(out)


def main(only=None):
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entrymod.__dict__["ORACLE_QUERIES"] if False else []:
        pass
    from off_topic_memento_toolkit_spark.queries import TABLES
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:
            failures.append((name, f"SPARK ERROR {exc}"))
            print(f"FAIL {name}: spark error {str(exc)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_df()
        except Exception as exc:
            failures.append((name, f"DUCK ERROR {exc}"))
            print(f"FAIL {name}: duckdb error {str(exc)[:300]}")
            continue
        dcols = list(ddf.columns)
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"columns {scols} vs {dcols}"))
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            continue
        s_norm = normalize([r.asDict() for r in srows], sorted(scols))
        d_norm = normalize(ddf.to_dict("records"), sorted(scols))
        if len(s_norm) != len(d_norm):
            failures.append((name, f"rowcount {len(s_norm)} vs {len(d_norm)}"))
            print(f"FAIL {name}: rowcount {len(s_norm)} vs {len(d_norm)}")
            continue
        if s_norm != d_norm:
            diff = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
            failures.append((name, f"values differ, e.g. {diff[:2]}"))
            print(f"FAIL {name}: values differ; first diffs: {diff[:2]}")
            continue
        print(f"ok   {name}: {len(s_norm)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures")
    for name, why in failures:
        print(" -", name, ":", why[:200])
    return 1 if failures else 0


if __name__ == "__main__":
    only = set(sys.argv[1:]) or None
    sys.exit(main(only))
