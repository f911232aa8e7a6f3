"""Shared constants between measures.py and groupkernels.py (no import cycle)."""

from pyspark.sql import types as T

# otmt/timemap_measures.py:158-159,168
FIRST_BP_ERROR_MSG = (
    "Boilerplate removal error with first memento in TimeMap, "
    "cannot effectively compare memento content"
)
FIRST_EMPTY_MSG = (
    "After processing content, the first memento in TimeMap is now empty, "
    "cannot effectively compare memento content"
)
ROW_BP_ERROR_MSG = "Boilerplate could not be removed from memento"

# otmt/measuremodel.py:247-336 — three mutually exclusive error classes;
# CSV labels from measuremodel.py:681-717
ERROR_KIND_MEASUREMENT = "measurement"
ERROR_KIND_MEMENTO_ACCESS = "memento access"
ERROR_KIND_TIMEMAP_ACCESS = "timemap access"

CSV_ERROR_LABELS = {
    ERROR_KIND_TIMEMAP_ACCESS: "TimeMap Access Error",
    ERROR_KIND_MEMENTO_ACCESS: "Memento Access Error",
    ERROR_KIND_MEASUREMENT: "Memento Measurement Error",
}

GROUP_SCORES_SCHEMA = T.StructType([
    T.StructField("urit", T.StringType()),
    T.StructField("urim", T.StringType()),
    T.StructField("measuretype", T.StringType()),
    T.StructField("measure", T.StringType()),
    T.StructField("comparison_score", T.DoubleType()),
    T.StructField("tokenized", T.BooleanType()),
    T.StructField("stemmed", T.BooleanType()),
    T.StructField("removed_boilerplate", T.BooleanType()),
    T.StructField("error_msg", T.StringType()),
])
