"""Result sinks matching the reference's output surfaces (S9-S12).

- :func:`scores_to_nested_dict` / :func:`save_as_json` — the 4-level nested
  JSON shape ``{urit: {urim: {measuretype: {measure: {...}}}}}``
  (otmt/measuremodel.py:532-604): access errors collapse a timemap/memento to
  a single ``"access error"`` entry, measurement errors appear as
  ``"measurement error"`` per measure, metadata keys are emitted only when
  truthy (the reference's ``if self.get_simhash(...)`` guards).
- :func:`save_as_csv` — the flat 14-column CSV (otmt/measuremodel.py:674-742),
  same header order and error labels ("TimeMap Access Error" /
  "Memento Access Error" / "Memento Measurement Error", mutually exclusive
  per measuremodel.py:278-280,315-336).  One deliberate divergence: the
  reference appends ONE row per memento carrying only the LAST measure's
  values (the append sits outside its measure loop — a reference bug); this
  writer emits one row per (memento, measure), which is what the column set
  implies.
- :func:`save_as_csv_distributed` / :func:`save_as_json_distributed` —
  the 100 TB path: ``df.write`` with the same 14-column order / flat record
  shape, no driver collect; access errors collapse to one record per failed
  timemap/memento (:func:`_collapse_access_errors`).  The single-file
  writers above stay for collection-scale parity exports.
- :func:`save_as_goldstandard` — AlNoamany-style TSV (id, date, URI, label)
  with label 1/0/ERROR (otmt/measuremodel.py:606-672).
- :func:`save_uri_list` — plain-text URI-M lists (bin/detect_off_topic:275-293).
- :func:`detect_report` / :data:`REPORT_WRITERS` / :func:`report_overall`
  — the ``detect`` command's path: the writers above, and the URI-M
  lists, read one report frame (scores with their overall verdict and
  metadata) that the caller pins, so the measure suite runs once however
  many outputs are written.  The report collapses its access errors
  itself, and only when it has them (a ``memento_access`` frame): its
  distributed writers write it as it is, so a ``pages:`` report's write
  adds no window or exchange over the report rows.
"""

import csv
import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.measures import _with_error_kinds, with_overall_status
from ..operators.measures_constants import (
    CSV_ERROR_LABELS,
    ERROR_KIND_MEASUREMENT,
    ERROR_KIND_MEMENTO_ACCESS,
    ERROR_KIND_TIMEMAP_ACCESS,
)


def _with_metadata(rows: DataFrame, meta: DataFrame | None) -> DataFrame:
    if meta is not None:
        rows = rows.join(meta, ["urit", "urim"], "left")
    if "error_kind" not in rows.columns:
        rows = rows.withColumn(
            "error_kind",
            F.when(F.col("error_msg").isNotNull(),
                   F.lit(ERROR_KIND_MEASUREMENT)),
        )
    return rows


def _joined(scores: DataFrame, overall: DataFrame,
            meta: DataFrame | None) -> DataFrame:
    return _with_metadata(scores.join(overall, ["urit", "urim"], "left"), meta)


def detect_report(scores: DataFrame, meta: DataFrame,
                  memento_access: DataFrame | None = None) -> DataFrame:
    """The frame every ``detect`` output is written from: the long scores,
    each row carrying its memento's overall verdict (computed over the same
    rows, not joined back from a second read), the error taxonomy of
    :func:`..operators.measures.with_error_kinds` when ``memento_access``
    is given, and the ``meta`` columns.  Same rows and values as the
    frame the ``save_as_*`` writers join from (scores, overall, meta),
    except that with ``memento_access`` the access errors are already
    collapsed to one row per memento, as the distributed writers want
    them (the single-file writers dedupe them anyway).  Pin it before
    writing more than one output from it."""
    report = with_overall_status(scores)
    if memento_access is None:
        # no access errors, so no access-error rows to collapse
        return _with_metadata(report, meta)
    # after the overall columns: the verdicts come from the measured
    # rows, not from the access errors that replace their messages.  The
    # scored mementos are the metadata's rows (one per enriched memento,
    # each of which gets score rows): reading them, not the scores, keeps
    # the group kernels from running a second time for the anti-join
    report = _with_error_kinds(report, meta, memento_access=memento_access)
    return _collapse_access_errors(_with_metadata(report, meta))


def report_overall(report: DataFrame) -> DataFrame:
    """The (urit, urim, overall_topic_status) rows of a
    :func:`detect_report` — one per scored memento, as
    :func:`..operators.measures.overall_status` gives them (rows made for
    never-scored access errors have no measure and are left out)."""
    return (report.filter(F.col("measure").isNotNull())
            .select("urit", "urim", "overall_topic_status").distinct())


def scores_to_nested_dict(scores: DataFrame, overall: DataFrame,
                          meta: DataFrame | None = None) -> dict:
    return _nested_dict(_joined(scores, overall, meta))


def _has_metadata(report: DataFrame) -> bool:
    return "simhash" in report.columns


def _nested_dict(report: DataFrame) -> dict:
    meta_present = _has_metadata(report)
    out: dict = {}
    for row in report.collect():
        kind = row.error_kind
        # access-error mementos whose timemap is unknown (not listed in any
        # loaded timemap) would otherwise nest under a JSON "null" key
        urit_key = row.urit if row.urit is not None else "unknown-timemap"
        if kind == ERROR_KIND_TIMEMAP_ACCESS:
            # reference: the whole timemap collapses to one access-error entry
            out[urit_key] = {"access error": str(row.error_msg)}
            continue
        urit_entry = out.setdefault(urit_key, {})
        if kind == ERROR_KIND_MEMENTO_ACCESS:
            urit_entry[row.urim] = {"access error": str(row.error_msg)}
            continue
        entry = urit_entry.setdefault(row.urim, {})
        mdict = (
            entry.setdefault(row.measuretype, {})
            .setdefault(row.measure, {})
        )
        if kind == ERROR_KIND_MEASUREMENT:
            mdict["measurement error"] = str(row.error_msg)
        else:
            mdict["comparison score"] = row.comparison_score
            mdict["stemmed"] = row.stemmed
            mdict["tokenized"] = row.tokenized
            mdict["removed boilerplate"] = row.removed_boilerplate
            mdict["topic status"] = row.topic_status
            # written per non-error measure, exactly as the reference does
            entry["overall topic status"] = row.overall_topic_status
        if meta_present:
            # truthiness guards mirror measuremodel.py:556-573
            if row.simhash:
                entry["raw memento simhash value"] = row.simhash
            if row.content_length:
                entry["content length"] = row.content_length
            if row.language:
                entry["language"] = row.language
            if row.memento_datetime is not None:
                entry["memento-datetime"] = row.memento_datetime.strftime(
                    "%Y/%m/%d %H:%M:%S GMT")
    return out


def save_as_json(scores: DataFrame, overall: DataFrame, filename: str,
                 meta: DataFrame | None = None) -> None:
    _write_json(_joined(scores, overall, meta), filename)


def _write_json(report: DataFrame, filename: str) -> None:
    with open(filename, "w") as fh:
        json.dump(_nested_dict(report), fh, indent=4)


CSV_FIELDNAMES = [
    "URI-T", "URI-M", "Error", "Error Message", "Content Length", "Simhash",
    "Measurement Type", "Measurement Name", "Comparison Score",
    "Stemmed", "Tokenized", "Removed Boilerplate", "Topic Status",
    "Overall Topic Status",
]


def _csv_records(rows, meta_present: bool):
    """Rows → CSV dicts with the reference's per-kind structure."""
    seen_timemap_errors = set()
    seen_memento_errors = set()
    for row in rows:
        kind = row.error_kind
        if kind == ERROR_KIND_TIMEMAP_ACCESS:
            if row.urit in seen_timemap_errors:
                continue
            seen_timemap_errors.add(row.urit)
            yield {"URI-T": row.urit,
                   "Error": CSV_ERROR_LABELS[kind],
                   "Error Message": row.error_msg}
            continue
        if kind == ERROR_KIND_MEMENTO_ACCESS:
            if row.urim in seen_memento_errors:
                continue
            seen_memento_errors.add(row.urim)
            yield {"URI-T": row.urit, "URI-M": row.urim,
                   "Error": CSV_ERROR_LABELS[kind],
                   "Error Message": row.error_msg}
            continue
        record = {"URI-T": row.urit, "URI-M": row.urim,
                  "Measurement Type": row.measuretype,
                  "Measurement Name": row.measure}
        if kind == ERROR_KIND_MEASUREMENT:
            record["Error"] = CSV_ERROR_LABELS[kind]
            record["Error Message"] = row.error_msg
        else:
            record["Comparison Score"] = row.comparison_score
            record["Stemmed"] = row.stemmed
            record["Tokenized"] = row.tokenized
            record["Removed Boilerplate"] = row.removed_boilerplate
            record["Topic Status"] = row.topic_status
            record["Overall Topic Status"] = row.overall_topic_status
            if meta_present:
                record["Simhash"] = row.simhash
                record["Content Length"] = row.content_length
        yield record


def save_as_csv(scores: DataFrame, overall: DataFrame, filename: str,
                meta: DataFrame | None = None) -> None:
    _write_csv(_joined(scores, overall, meta), filename)


def _write_csv(report: DataFrame, filename: str) -> None:
    rows = report.orderBy("urit", "urim", "measure").collect()
    with open(filename, "w", newline="") as fh:
        writer = csv.DictWriter(fh, fieldnames=CSV_FIELDNAMES)
        writer.writeheader()
        for record in _csv_records(rows, _has_metadata(report)):
            writer.writerow(record)


def save_as_csv_distributed(scores: DataFrame, overall: DataFrame, path: str,
                            meta: DataFrame | None = None) -> None:
    """Scale variant of :func:`save_as_csv`: the same 14 columns in the same
    order, written by the executors (``df.write.csv``) — no driver collect.
    Access-error row collapsing (one row per failed timemap/memento) is done
    relationally with the same exclusivity semantics."""
    _write_csv_distributed(
        _collapse_access_errors(_joined(scores, overall, meta)), path)


def _write_csv_distributed(report: DataFrame, path: str) -> None:
    meta_present = _has_metadata(report)
    kind = F.col("error_kind")
    is_tm = kind == ERROR_KIND_TIMEMAP_ACCESS
    is_ma = kind == ERROR_KIND_MEMENTO_ACCESS
    is_me = kind == ERROR_KIND_MEASUREMENT
    is_err = kind.isNotNull()

    error_label = (
        F.when(is_tm, F.lit(CSV_ERROR_LABELS[ERROR_KIND_TIMEMAP_ACCESS]))
        .when(is_ma, F.lit(CSV_ERROR_LABELS[ERROR_KIND_MEMENTO_ACCESS]))
        .when(is_me, F.lit(CSV_ERROR_LABELS[ERROR_KIND_MEASUREMENT]))
    )
    none_str = F.lit(None).cast("string")
    bool_str = lambda c: F.when(F.col(c), "True").when(~F.col(c), "False")  # noqa: E731
    out = report.select(
        F.col("urit").alias("URI-T"),
        F.when(is_tm, none_str).otherwise(F.col("urim")).alias("URI-M"),
        error_label.alias("Error"),
        F.col("error_msg").alias("Error Message"),
        F.when(~is_err, F.col("content_length").cast("string"))
         .alias("Content Length") if meta_present
        else none_str.alias("Content Length"),
        F.when(~is_err, F.col("simhash").cast("string")).alias("Simhash")
        if meta_present else none_str.alias("Simhash"),
        F.when(is_tm | is_ma, none_str).otherwise(F.col("measuretype"))
         .alias("Measurement Type"),
        F.when(is_tm | is_ma, none_str).otherwise(F.col("measure"))
         .alias("Measurement Name"),
        F.when(~is_err, F.col("comparison_score").cast("string"))
         .alias("Comparison Score"),
        F.when(~is_err, bool_str("stemmed")).alias("Stemmed"),
        F.when(~is_err, bool_str("tokenized")).alias("Tokenized"),
        F.when(~is_err, bool_str("removed_boilerplate"))
         .alias("Removed Boilerplate"),
        F.when(~is_err, F.col("topic_status")).alias("Topic Status"),
        F.when(~is_err, F.col("overall_topic_status"))
         .alias("Overall Topic Status"),
    )
    out.write.mode("overwrite").option("header", True).csv(path)


def _collapse_access_errors(joined: DataFrame) -> DataFrame:
    """One row per access-errored timemap/memento (instead of one per
    measure), clean rows untouched — applied by both distributed sinks'
    ``save_as_*`` wrappers and by :func:`detect_report` when it has access
    errors, so record multiplicities agree with the single-file exports.

    Reads ``joined`` ONCE: a row number per (error kind, timemap or memento
    key) keeps the first row of each access error, and every other row
    passes whatever its number (a union of a clean and an error branch
    would run the whole upstream plan twice)."""
    kind = F.col("error_kind")
    is_tm = kind == ERROR_KIND_TIMEMAP_ACCESS
    is_ma = kind == ERROR_KIND_MEMENTO_ACCESS
    # null-safe: clean rows have a NULL kind, and ~(NULL == x) is NULL,
    # which a filter drops — coalesce to keep them
    is_access = F.coalesce(is_tm | is_ma, F.lit(False))
    dedup_key = F.when(is_tm, F.col("urit")).otherwise(F.col("urim"))
    first = Window.partitionBy(kind, dedup_key).orderBy("urim", "measure")
    return (
        joined.withColumn("_n", F.row_number().over(first))
        .filter(~is_access | (F.col("_n") == 1))
        .drop("_n")
    )


def save_as_json_distributed(scores: DataFrame, overall: DataFrame, path: str,
                             meta: DataFrame | None = None) -> None:
    """Scale variant of the JSON export: flat JSONL records (one per
    memento-measure; access errors collapsed to one record per failed
    timemap/memento, same as the CSV variant) written by the executors.
    The 4-level nested single-file shape remains the driver-side parity
    export."""
    _write_json_distributed(
        _collapse_access_errors(_joined(scores, overall, meta)), path)


def _write_json_distributed(report: DataFrame, path: str) -> None:
    report.write.mode("overwrite").json(path)


def save_as_goldstandard(overall: DataFrame, filename: str) -> None:
    """TSV (id, date, URI, label); date sliced out of the URI-M
    (otmt/measuremodel.py:632-637 slices the 14-digit archive timestamp)."""
    rows = overall.orderBy("urit", "urim").collect()
    urit_ids: dict = {}
    with open(filename, "w", newline="") as fh:
        writer = csv.DictWriter(fh, fieldnames=["id", "date", "URI", "label"],
                                delimiter="\t")
        writer.writeheader()
        for row in rows:
            urit_ids.setdefault(row.urit, len(urit_ids) + 1)
            urim = row.urim
            # from-warc::{ts}::{url} → ts (ingest synthesis, timeline.py)
            parts = urim.split("::")
            date = parts[1] if len(parts) >= 3 else ""
            if row.overall_topic_status == "on-topic":
                label = "1"
            elif row.overall_topic_status == "off-topic":
                label = "0"
            else:
                label = "ERROR"
            writer.writerow({"id": urit_ids[row.urit], "date": date,
                             "URI": urim, "label": label})


def save_uri_list(overall: DataFrame, status: str, path: str) -> None:
    """S12 — one URI-M per line for the given overall status; distributed
    write (driver never materializes the list)."""
    (
        overall.filter(F.col("overall_topic_status") == status)
        .select("urim")
        .write.mode("overwrite").text(path)
    )


# detect's output types (``-ot``), each written from a detect_report
REPORT_WRITERS = {
    "json": _write_json,
    "csv": _write_csv,
    "goldstandard": lambda report, path: save_as_goldstandard(
        report_overall(report), path),
    "csv-dist": _write_csv_distributed,
    "json-dist": _write_json_distributed,
}
