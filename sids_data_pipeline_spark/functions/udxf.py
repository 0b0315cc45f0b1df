"""User-defined extended functions: the engine's real UDTF / UDAF surface
(SURVEY.md §2a "UDF / UDAF / UDTF surface").

The reference's extension points are process-level function chains
(reference ``pipeline/processing/__main__.py:13-17``); the Spark
equivalents are function-level. Besides the pandas scalar UDFs
(zonal kernel) and applyInPandas/mapInPandas group kernels (as-of
join) used throughout, this module exercises the remaining
two extension classes as first-class, catalog-registered operators:

- :class:`SentenceSplit` — a **Python UDTF**
  (``pyspark.sql.functions.udtf``): one document row → many sentence
  rows via a LATERAL join, the table-function shape
  (SELECT t.* FROM docs d, LATERAL sentences(d.doc_id, d.text) t).
- :func:`geo_mean` — a **grouped-agg pandas UDF** (the Python UDAF
  form): geometric mean over a group, computed on the sorted value
  array so the float reduction is deterministic under repartitioning.

Both are deterministic and mirrored by the DuckDB oracle, so even the
UDTF/UDAF surface gets the full value-hash check.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Sentence boundary: terminal punctuation + whitespace. The whitespace
# class is spelled EXPLICITLY (the PII-pattern policy, operators/
# text.py): Python re's Unicode \s includes \x0b/\xa0 that DuckDB
# RE2's ASCII \s does not, so \s itself would diverge on exotic
# whitespace. No lookbehind, so RE2 compiles the same pattern.
SENTENCE_WS = " \t\n\r\f"
SENTENCE_SPLIT_RE = rf"[.!?][{SENTENCE_WS}]+"


# DataType objects (not DDL strings): string types are parsed through
# the active SparkContext, which does not exist at import time.
_SENTENCE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sentence_idx", IntegerType()),
        StructField("sentence", StringType()),
    ]
)


@udtf(returnType=_SENTENCE_SCHEMA)
class SentenceSplit:
    """UDTF: (doc_id, text) → one row per non-blank sentence.

    ``sentence_idx`` numbers ALL split segments (blank ones included,
    then filtered), so indices are stable whether or not a document
    contains empty segments — and match the oracle's 1-based unnest
    position minus one.
    """

    def eval(self, doc_id, text):  # noqa: ANN001 — signature fixed by UDTF protocol
        if text is None:
            return
        for i, s in enumerate(re.split(SENTENCE_SPLIT_RE, text)):
            if s.strip(SENTENCE_WS):
                yield doc_id, i, s


def register_udtfs(spark: SparkSession) -> None:
    """Register the engine's table functions in the session catalog
    (idempotent — re-registration replaces)."""
    spark.udtf.register("sentences", SentenceSplit)


@pandas_udf(LongType())
def group_size(v: pd.Series) -> int:
    """Grouped-agg pandas count. Spark forbids mixing grouped-agg pandas
    UDFs with JVM aggregates in one ``agg`` (INVALID_PANDAS_UDF_PLACEMENT),
    so a UDAF-based plan carries its own count."""
    return len(v)


@pandas_udf(DoubleType())
def geo_mean(v: pd.Series) -> float:
    """Grouped-agg pandas UDF: geometric mean of a positive column.

    Values are sorted before the log-mean so the IEEE-754 reduction
    order — and therefore the result — is identical for any shuffle
    layout (the determinism policy of plans/base.py applied to a UDAF).
    """
    a = np.sort(v.to_numpy(dtype="float64"))
    return float(np.exp(np.mean(np.log(a))))
