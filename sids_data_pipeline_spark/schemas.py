"""Explicit schemas for every table the engine touches.

The reference's schema system is implicit — Python dicts plus whatever
GDAL/PostGIS infer from source files (reference
``pipeline/processing/data.py:12-23``). The engine replaces that with fixed
StructTypes so Parquet scans get exact column pruning and the optimizer
never falls back to schema inference at scale.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Relational test tables (driver-generated, TESTDATA.md) -----------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# --- Geospatial canonical tables (SURVEY.md §1.1) ---------------------------
# The ingested form of the reference's GeoTIFF rasters: long-format pixels
# (reference raster2pgsql 128x128 tiling, pipeline/processing/inputs.py:27,
# becomes Parquet partitioning/row groups).

PIXELS = T.StructType(
    [
        T.StructField("raster_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("val", T.DoubleType()),
    ]
)

# The ingested form of the reference's GeoPackage vectors (ogr2ogr import,
# pipeline/processing/inputs.py:46-62): WKB geometry, EPSG:4326, fid key.

ZONES = T.StructType(
    [
        T.StructField("vector_id", T.StringType()),
        T.StructField("fid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("geometry", T.BinaryType()),
    ]
)

# Multimodal assets: opaque binary payload + typed metadata (EXT E4).
ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)
