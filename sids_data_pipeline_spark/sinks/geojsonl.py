"""GeoJSONL sink (K1 — SURVEY.md §2a).

The reference exports the stats-joined view as newline-delimited GeoJSON
via ogr2ogr GeoJSONSeq (reference ``pipeline/processing/vector.py:29-37``:
``SELECT geom, fid, mean`` view → ``{v}_{r}.geojsonl``). Here the export
is a DataFrame write: geometry decodes WKB → GeoJSON inside an
Arrow-batched pandas UDF (executor-side, streaming batches — never a
driver collect), properties serialize JVM-side via ``to_json``, and the
text writer shards across partitions like any Spark output. The Entry-1
pipeline builds the same lines inside its per-pair Arrow task
(:func:`arrow_feature_lines`).
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sids_data_pipeline_spark.functions import geo


def _feature_line(wkb: bytes | None, props: dict) -> str:
    """One compact GeoJSON feature line (compact separators mirror the
    reference's json.dump(separators=(',',':')) utility,
    pipeline/processing/utils.py:17-19)."""
    if wkb is None:
        # GeoJSON allows a null geometry (RFC 7946 §3.2) — emit it
        # rather than crashing the write on a geometry-less row
        feat = {"type": "Feature", "geometry": None, "properties": props}
        return json.dumps(feat, separators=(",", ":"), sort_keys=True)
    # the ONE serialization lives in geo.geojson_feature — the oracle's
    # geometry_json_len math depends on it exactly
    return geo.geojson_feature(bytes(wkb), props)


@F.pandas_udf(StringType())
def _feature_udf(wkb: pd.Series, props_json: pd.Series) -> pd.Series:
    return pd.Series(
        [_feature_line(b, json.loads(pj) if pj else {}) for b, pj in zip(wkb, props_json)]
    )


def arrow_feature_lines(table, property_cols: tuple[str, ...]) -> list[str]:
    """:func:`to_geojsonl`'s lines for the rows of a ``pyarrow.Table``
    with WKB in ``geometry``, built without Spark: null properties stay,
    and a non-finite float becomes the string Spark's ``to_json`` writes
    for it."""
    def prop(v):
        if isinstance(v, float) and not math.isfinite(v):
            return "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
        return v

    return [
        _feature_line(r["geometry"], {c: prop(r[c]) for c in property_cols})
        for r in table.to_pylist()
    ]


def to_geojsonl(
    df: DataFrame,
    geometry_col: str = "geometry",
    property_cols: tuple[str, ...] = ("fid", "mean"),
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DataFrame → DataFrame of GeoJSON feature lines (column ``value``)
    plus any ``keep_cols`` carried through verbatim — e.g. a pair_key so
    MANY exports write in ONE partitioned job."""
    # keep null properties (a zone with no pixels exports "mean": null,
    # the LEFT-join semantics of the reference's view)
    props = F.to_json(
        F.struct(*[F.col(c) for c in property_cols]),
        {"ignoreNullFields": "false"},
    )
    return df.select(
        *[F.col(c) for c in keep_cols],
        _feature_udf(F.col(geometry_col), props).alias("value"),
    )


def write_geojsonl(
    df: DataFrame,
    path: str,
    geometry_col: str = "geometry",
    property_cols: tuple[str, ...] = ("fid", "mean"),
    mode: str = "overwrite",
) -> None:
    """Write features as JSON-lines text (one feature per line, sharded
    by partition; readers treat the directory as one logical file)."""
    to_geojsonl(df, geometry_col, property_cols).write.mode(mode).text(path)


def read_geojsonl(spark, path: str) -> DataFrame:
    """Read a GeoJSONL directory back as (geometry json-string, properties
    map) — the round-trip used by tests and downstream tiling."""
    raw = spark.read.text(path)
    return raw.select(
        F.get_json_object("value", "$.geometry").alias("geometry_json"),
        F.get_json_object("value", "$.properties").alias("properties_json"),
    )
