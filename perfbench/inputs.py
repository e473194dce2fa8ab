"""Seeded benchmark inputs, written under the run's work directory.

Every table is a pure function of (row id, seed) through the engine's
own generators in ``sql_engine_triangle_spark.fixtures.generate``
where one exists, so the same ``--seed`` gives the same bytes. Sizes
follow the sf0.1 fixture (600k lineitem, 150k orders, 15k customers,
20k parts, 1k suppliers) and the 1x corpora of
``scripts/scale_stress.py`` (5 000 documents, 2 000 vectors).

Tables are written as one parquet file each, like the fixtures, with
timestamps stored as TIMESTAMP_NTZ so DuckDB (the oracle) and Spark
read the same wall-clock values.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_triangle_spark.fixtures import generate as G

SF01_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "part": 20_000,
    "supplier": 1_000,
}
N_DOCS = 5_000
N_VECS = 2_000

# The raw CSV layout of the reference ELT (tests/test_ingest.py uses the
# same 14 columns).
RAW_COLS = [
    "uuid_string", "price_string", "time", "postcode", "a", "b", "c",
    "addr1", "addr2", "street", "locality", "town", "district", "county",
]
_TYPE_CODE = {"terraced": "T", "semi-detached": "S", "detached": "D", "flat": "F", "other": "O"}
_DURATION_CODE = {"freehold": "F", "leasehold": "L", "unknown": "U"}


def _u(key: Column, seed: int, salt: int) -> Column:
    """Deterministic uniform(0, 1) from (key, seed, salt)."""
    return (F.pmod(F.xxhash64(key, F.lit(seed), F.lit(salt)), F.lit(1_000_000)) + 0.5) / 1e6


def _ntz(df: DataFrame) -> DataFrame:
    """Store timestamps without a zone, as the fixture parquet does."""
    return df.select(
        *[
            F.col(c).cast("timestamp_ntz").alias(c) if t == "timestamp" else F.col(c)
            for c, t in df.dtypes
        ]
    )


def region(spark: SparkSession) -> DataFrame:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return spark.createDataFrame(list(enumerate(names)), "r_regionkey int, r_name string")


def nation(spark: SparkSession) -> DataFrame:
    return spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("n_regionkey"),
    )


def supplier(spark: SparkSession, n: int, seed: int) -> DataFrame:
    k = F.col("id")
    return spark.range(n).select(
        k.alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.lpad(k.cast("string"), 9, "0")).alias("s_name"),
        F.floor(_u(k, seed, 1) * 25).cast("int").alias("s_nationkey"),
        F.round(_u(k, seed, 2) * 11000.0 - 1000.0, 2).alias("s_acctbal"),
    )


def lineitem(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """Independent uniform columns over the fixture's own domains
    (order/part/supplier keys, 1..50 quantities, 2-dp prices, 11
    discounts, 9 tax rates, A/N/R x F/O flags, 2 499 ship days)."""
    k = F.col("id")
    return spark.range(n).select(
        F.floor(_u(k, seed, 1) * SF01_ROWS["orders"]).cast("long").alias("l_orderkey"),
        F.floor(_u(k, seed, 2) * SF01_ROWS["part"]).cast("long").alias("l_partkey"),
        F.floor(_u(k, seed, 3) * SF01_ROWS["supplier"]).cast("long").alias("l_suppkey"),
        (F.floor(_u(k, seed, 4) * 7) + 1).cast("int").alias("l_linenumber"),
        (F.floor(_u(k, seed, 5) * 50) + 1).cast("double").alias("l_quantity"),
        F.round(_u(k, seed, 6) * 104_100.0 + 900.0, 2).alias("l_extendedprice"),
        (F.floor(_u(k, seed, 7) * 11) / 100.0).alias("l_discount"),
        (F.floor(_u(k, seed, 8) * 9) / 100.0).alias("l_tax"),
        F.element_at(F.array(*map(F.lit, "ANR")), (F.floor(_u(k, seed, 9) * 3) + 1).cast("int"))
        .alias("l_returnflag"),
        F.when(_u(k, seed, 10) < 0.5, "F").otherwise("O").alias("l_linestatus"),
        (
            F.lit("1995-01-02 00:00:00").cast("timestamp")
            + F.make_interval(days=F.floor(_u(k, seed, 11) * 2499).cast("int"))
        ).alias("l_shipdate"),
    )


def table_frames(spark: SparkSession, names: list[str], seed: int) -> dict[str, DataFrame]:
    """The named sf0.1-shaped tables as lazy frames."""
    makers = {
        "region": lambda: region(spark),
        "nation": lambda: nation(spark),
        "supplier": lambda: supplier(spark, SF01_ROWS["supplier"], seed),
        "part": lambda: G.part_like(spark, SF01_ROWS["part"], seed=seed),
        "lineitem": lambda: lineitem(spark, SF01_ROWS["lineitem"], seed),
        "documents": lambda: G.documents(spark, N_DOCS, seed=seed),
        "embeddings": lambda: G.embeddings(spark, N_VECS, seed=seed),
    }
    out: dict[str, DataFrame] = {}
    if {"orders", "customer"} & set(names):
        out.update(G.orders_customer_like(spark, SF01_ROWS["orders"], seed=seed))
    for name in names:
        if name not in out:
            out[name] = makers[name]()
    return {n: out[n] for n in names}


def write_tables(spark: SparkSession, sf_dir: str, names: list[str], seed: int) -> None:
    """Write each table as ``<sf_dir>/<name>.parquet`` holding one file
    (one single-task job per table, submitted concurrently)."""

    def write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        _ntz(df).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf_dir, f"{name}.parquet"))

    frames = table_frames(spark, names, seed)
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(write, frames.items()))


def write_property_csv(
    spark: SparkSession, path: str, n_rows: int, n_bad: int, seed: int
) -> None:
    """One CSV file (header + ``n_rows`` good lines + ``n_bad``
    malformed lines at seeded positions) in the reference's raw
    property-sales layout, from ``generate.property_sales``. A malformed
    line carries the unterminated quote of tests/test_ingest.py's BAD_ROW.
    ``addr1`` carries a unique row key ("r<id>"), the merge key downstream."""
    ps = G.property_sales(spark, n_rows, seed=seed).withColumn("_id", F.monotonically_increasing_id())

    def code(col: str, mapping: dict[str, str]) -> Column:
        expr = None
        for k, v in mapping.items():
            expr = F.when(F.col(col) == k, v) if expr is None else expr.when(F.col(col) == k, v)
        return expr

    fields = [
        F.concat(F.lit("u"), F.col("_id").cast("string")),
        F.col("price").cast("string"),
        F.date_format("date", "yyyy-MM-dd"),
        F.concat_ws(" ", "postcode1", "postcode2"),
        code("type", _TYPE_CODE),
        F.when(F.col("is_new"), "Y").otherwise("N"),
        code("duration", _DURATION_CODE),
        F.concat(F.lit("r"), F.col("_id").cast("string")),
        F.col("addr2"), F.col("street"), F.col("locality"), F.col("town"),
        F.col("district"), F.coalesce(F.col("county"), F.lit("")),
    ]
    line = F.concat_ws(",", *[F.concat(F.lit('"'), f, F.lit('"')) for f in fields])
    # Lines are laid out in a seeded hash order, so the malformed ones
    # land at seeded positions among the good ones.
    good = ps.select(F.xxhash64("_id", F.lit(seed)).alias("pos"), line.alias("value"))
    bad = spark.range(n_bad).select(
        F.xxhash64("id", F.lit(seed), F.lit("bad")).alias("pos"),
        F.concat(F.lit('"bad'), F.col("id").cast("string"), F.lit('","oops"unterminated,"notadate"'))
        .alias("value"),
    )
    header = spark.createDataFrame([(-(2**63), ",".join(RAW_COLS))], "pos long, value string")
    (
        header.unionByName(good).unionByName(bad)
        .orderBy("pos").select("value")
        .coalesce(1).write.mode("overwrite").text(path)
    )
