"""The benchmark's three workloads, each a list of checked operations.

A workload generates its inputs from the seed (``prepare``), names the
tables its catalog warm-up loads, and yields the operations of one pass.
Every ``Op`` splits into ``build`` (construct the result; eager jobs the
builder runs land here), ``execute`` (the action the user waits for) and
an untimed ``check`` that returns an error message or ``None``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import threading
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import inputs

OLAP_REFERENCE = [
    "q1_agg_by_type",
    "q2_town_month_rollup",
    "q3_yoy_window",
    "q4_top_nations_percentiles",
    "q4_approx_sketch",
]
CURATION = [
    "pipeline_corpus_build_cc",
    "eval_bm25_mrr_recall",
    "sim_ivfpq_adc_topk",
    "pipeline_multimodal_corpus_build",
    "dedup_semantic_arrow",
    "dedup_minhash_lsh",
    "text_tokenize_bpe",
]
OLAP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CURATION_TABLES = ["documents", "embeddings"]

# q4_approx_sketch has no exact oracle: its counts are exact, its median
# must fall inside the exact [p45, p55] band and its HLL++ distinct count
# within 15% (3 sigma) of the exact one -- the bounds the engine's own
# q4_approx_percentiles validation entry states.
Q4_SKETCH_BOUNDS_SQL = """
SELECT n_name AS nation, count(*) AS cnt,
       quantile_cont(l_extendedprice, 0.45) AS lo,
       quantile_cont(l_extendedprice, 0.55) AS hi,
       count(DISTINCT l_partkey) AS uniq
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def load_matcher() -> Callable[[Any, Any], str | None]:
    """The oracle matcher of scripts/driver_check.py: its tolerant value
    match, then its strict driver-hash match."""
    spec = importlib.util.spec_from_file_location(
        "driver_check", os.path.join("scripts", "driver_check.py")
    )
    dc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dc)
    return lambda got, want: dc.values_match(got, want) or dc.strict_driver_match(got, want)


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    # The result is a DataFrame whose Catalyst planning the traced run
    # can force as its own phase before ``execute``.
    plannable: bool = False


def to_pandas(df):
    return df.toPandas()


def duck_views(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 3")  # leave the Spark warm-up pass a core
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    return con


class RegistryWorkload:
    """Registry entries over seeded tables, each checked against its
    DuckDB oracle; every pass runs every entry once in a seeded order."""

    def __init__(self, entries: list[str], tables: list[str], work: str, seed: int):
        self.entries, self.tables = entries, tables
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        self._expected: dict[str, Any] = {}
        self._oracle_thread: threading.Thread | None = None
        self._oracle_error: Exception | None = None

    def prepare(self, spark: SparkSession) -> None:
        inputs.write_tables(spark, self.sf_dir, self.tables, self.seed)
        self._match = load_matcher()
        # The oracles run in DuckDB beside the (untimed) warm-up pass.
        self._oracle_thread = threading.Thread(target=self._run_oracles, daemon=True)
        self._oracle_thread.start()

    def _run_oracles(self) -> None:
        from sql_engine_triangle_spark.queries import registry

        try:
            con = duck_views(self.sf_dir, self.tables)
            for name in self.entries:
                sql = registry.get(name).oracle
                if name == "q4_approx_sketch":
                    sql = Q4_SKETCH_BOUNDS_SQL
                self._expected[name] = con.execute(sql).fetchdf()
            con.close()
        except Exception as e:  # surfaced by every check
            self._oracle_error = e

    def ready(self) -> None:
        """Wait for the oracles computed beside the warm-up pass."""
        if self._oracle_thread is not None:
            self._oracle_thread.join()
            self._oracle_thread = None

    def _expected_for(self, name: str):
        self.ready()
        if self._oracle_error is not None:
            raise RuntimeError(f"oracle set-up failed: {self._oracle_error!r}")
        return self._expected[name]

    def _check(self, name: str, got) -> str | None:
        want = self._expected_for(name)
        if name == "q4_approx_sketch":
            return check_sketch(got, want)
        return self._match(got, want)

    def pass_ops(self, spark: SparkSession, k: int) -> list[Op]:
        from sql_engine_triangle_spark.queries import registry

        order = random.Random(self.seed * 1_000_003 + k).sample(self.entries, len(self.entries))
        ops = []
        for name in order:
            fn = registry.get(name).fn
            ops.append(
                Op(
                    name=name,
                    build=lambda fn=fn: fn(spark, self.sf_dir),
                    execute=to_pandas,
                    check=lambda got, name=name: self._check(name, got),
                    plannable=True,
                )
            )
        return ops

    def end_pass(self, k: int) -> dict:
        return {}


def check_sketch(got, want) -> str | None:
    g = got.set_index("nation").sort_index()
    w = want.set_index("nation").sort_index()
    if list(g.index) != list(w.index):
        return f"nations {list(g.index)} vs {list(w.index)}"
    for nation, row in g.iterrows():
        ref = w.loc[nation]
        if int(row.cnt) != int(ref.cnt):
            return f"{nation}: cnt {row.cnt} vs {ref.cnt}"
        if not ref.lo <= row.p50_approx <= ref.hi:
            return f"{nation}: p50 {row.p50_approx} outside [{ref.lo}, {ref.hi}]"
        if abs(row.uniq_parts - ref.uniq) > 0.15 * ref.uniq:
            return f"{nation}: uniq {row.uniq_parts} vs exact {ref.uniq}"
    return None


# ---------------------------------------------------------------------------
# ingest_maintain: writes beside reads
# ---------------------------------------------------------------------------

CSV_ROWS = 150_000
UPDATE_PERMILLE, DELETE_PERMILLE, INSERT_PERMILLE = 20, 5, 5
PROBE_DUPS = 50  # planted exact duplicates per side (corpus / appended batch)
PROBE_ID_BASE = 10_000_000


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class IngestMaintain:
    """One pass is one maintenance cycle over a seeded CSV:
    ingest -> merge -> compact -> index -> append -> probe -> readback."""

    tables = ["documents"]

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "sf")
        self.csv = os.path.join(work, "sales_csv")
        rng = random.Random(seed)
        self.n_bad = rng.randint(100, 900)  # within the default bad-row budget
        self.year = rng.randint(1996, 2024)

    def prepare(self, spark: SparkSession) -> None:
        from sql_engine_triangle_spark.sources import ingest

        inputs.write_tables(spark, self.sf_dir, self.tables, self.seed)
        inputs.write_property_csv(spark, self.csv, CSV_ROWS, self.n_bad, self.seed)
        self.csv_bytes = sum(
            os.path.getsize(os.path.join(self.csv, n))
            for n in os.listdir(self.csv)
            if not n.startswith((".", "_"))
        )
        # Ground truth for the ingest invariants, from a full parse (the
        # CSV reader's column pruning would skip the malformed tokens).
        spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
        try:
            raw = ingest.read_csv_tolerant(spark, self.csv, inputs.RAW_COLS)
            row = raw.agg(
                F.count("uuid_string").alias("read"),
                F.count(F.when(F.col("_corrupt_record").isNotNull(), F.col("uuid_string"))).alias("bad"),
            ).head()
        finally:
            spark.conf.unset("spark.sql.csv.parser.columnPruning.enabled")
        self.rows_read, self.bad_rows = row.read, row.bad
        if self.bad_rows != self.n_bad:
            raise RuntimeError(f"CSV parse flags {self.bad_rows} malformed lines; planted {self.n_bad}")
        if self.rows_read != CSV_ROWS + self.n_bad:
            raise RuntimeError(f"CSV parse reads {self.rows_read} lines; wrote {CSV_ROWS + self.n_bad}")
        self._plant_duplicates(spark)

    def pass_ops(self, spark: SparkSession, k: int) -> list[Op]:
        from sql_engine_triangle_spark.operators import dedup, merge
        from sql_engine_triangle_spark.sources import ingest, maintenance

        cyc = os.path.join(self.work, f"cycle{k}")
        base, snap, compact, index = (os.path.join(cyc, d) for d in ("base", "snap", "compact", "index"))
        salt = self.seed * 1_000_003 + k
        sort_cols = ["postcode1", "postcode2"]

        def built_ingest():
            raw = ingest.read_csv_tolerant(spark, self.csv, inputs.RAW_COLS)
            clean = ingest.enforce_bad_row_budget(raw, ingest.BadRowBudget())
            typed = ingest.typed_projection(clean)
            return typed.withColumn("month", ingest.month_col(F.col("date")))

        def check_ingest(_):
            n = spark.read.parquet(base).count()
            if n + self.bad_rows != self.rows_read:
                return f"rows read {self.rows_read} != written {n} + bad {self.bad_rows}"
            return None

        def batches():
            """The base snapshot, its bucket per key, and the seeded update
            (2%), delete (0.5%) and insert (0.5%) batches."""
            b = spark.read.parquet(base)
            bucket = F.pmod(F.xxhash64("addr1", F.lit(salt)), F.lit(1000))
            lo, hi = UPDATE_PERMILLE, UPDATE_PERMILLE + DELETE_PERMILLE
            is_del = (bucket >= lo) & (bucket < hi)
            is_ins = (bucket >= hi) & (bucket < hi + INSERT_PERMILLE)
            upd = b.filter(bucket < lo).withColumn("price", F.col("price") + 1)
            ins = b.filter(is_ins).withColumn("addr1", F.concat(F.lit("n"), F.col("addr1")))
            return b, upd, b.filter(is_del).select("addr1"), ins, is_del, is_ins

        def built_merge():
            b, upd, dels, ins, _, _ = batches()
            return merge.merge_upsert(b, upd.unionByName(ins), "addr1", dels)

        def check_merge(_):
            b, _, _, _, is_del, is_ins = batches()
            n_base, n_del, n_ins = b.agg(
                F.count("*"), F.count(F.when(is_del, 1)), F.count(F.when(is_ins, 1))
            ).head()
            want = n_base + n_ins - n_del
            n = spark.read.parquet(snap).count()
            return None if n == want else f"merged rows {n} != base + inserts - deletes = {want}"

        def fingerprint(path):
            df = spark.read.parquet(path)
            h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
            return tuple(df.agg(F.count("*"), F.sum(h.cast("decimal(38,0)"))).head())

        def check_compact(_):
            a, b = fingerprint(snap), fingerprint(compact)
            return None if a == b else f"compaction changed the row set: {a} vs {b}"

        def check_probe(got):
            found = set(zip(got.doc_new.astype(int), got.doc_corpus.astype(int)))
            missed = self.planted - found
            return f"probe missed {len(missed)} planted duplicates, e.g. {sorted(missed)[:3]}" if missed else None

        def built_readback():
            return (
                spark.read.parquet(compact)
                .filter(F.year("date") == self.year)
                .groupBy("town")
                .agg(F.count("*").alias("n"), F.sum("price").alias("revenue"))
            )

        def check_readback(got):
            con = duckdb.connect()
            try:
                want = con.execute(
                    f"SELECT town, count(*) AS n, sum(price) AS revenue "
                    f"FROM read_parquet('{compact}/*.parquet') "
                    f"WHERE year(date) = {self.year} GROUP BY town"
                ).fetchdf()
            finally:
                con.close()
            g = {r.town: (int(r.n), int(r.revenue)) for r in got.itertuples()}
            w = {r.town: (int(r.n), int(r.revenue)) for r in want.itertuples()}
            return None if g == w else f"read-back {len(g)} towns differ from DuckDB's {len(w)}"

        return [
            Op("ingest", built_ingest,
               lambda df: ingest.write_partitioned(df, base, sort_cols=sort_cols), check_ingest),
            Op("merge", built_merge,
               lambda df: ingest.write_partitioned(df, snap, sort_cols=sort_cols), check_merge),
            Op("compact", lambda: None,
               lambda _: maintenance.compact_table(spark, snap, compact, sort_cols=["date"]),
               check_compact),
            Op("index", lambda: self._docs(spark, corpus=True),
               lambda df: dedup.write_minhash_index(df, index), lambda _: None),
            Op("append", lambda: self._docs(spark, corpus=False),
               lambda df: dedup.write_minhash_index(df, index, mode="append"), lambda _: None),
            Op("probe", lambda: spark.createDataFrame(self.incoming, "doc_id long, text string"),
               lambda df: dedup.probe_minhash_index(spark, df, index).toPandas(), check_probe),
            Op("readback", built_readback, to_pandas, check_readback, plannable=True),
        ]

    def _docs(self, spark: SparkSession, corpus: bool):
        """The indexed corpus (80% of the documents) or the appended batch."""
        from sql_engine_triangle_spark.catalog import load_table

        bucket = F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(100))
        docs = load_table(spark, self.sf_dir, "documents")
        return docs.filter(bucket < 80 if corpus else bucket >= 80)

    def _plant_duplicates(self, spark: SparkSession) -> None:
        """Exact copies, under fresh ids, of PROBE_DUPS corpus documents and
        PROBE_DUPS appended documents: the probe batch and its answer."""
        rank = F.xxhash64("doc_id", F.lit(self.seed), F.lit("dup"))
        picks = [
            r
            for side in (True, False)
            for r in self._docs(spark, side).orderBy(rank).limit(PROBE_DUPS).collect()
        ]
        self.incoming = [(PROBE_ID_BASE + i, r.text) for i, r in enumerate(picks)]
        self.planted = {(PROBE_ID_BASE + i, r.doc_id) for i, r in enumerate(picks)}

    def end_pass(self, k: int) -> dict:
        """Bytes and files the cycle wrote; then free its directory."""
        cyc = os.path.join(self.work, f"cycle{k}")
        files, size = tree_stats(cyc)
        shutil.rmtree(cyc, ignore_errors=True)
        return {"files_written": files, "bytes_written": size}

    def ready(self) -> None:
        pass


def make(name: str, work: str, seed: int):
    if name == "olap_queries":
        from sql_engine_triangle_spark.queries import registry

        tpch = sorted(n for n in registry.names() if n.startswith("tpch_"))
        return RegistryWorkload(OLAP_REFERENCE + tpch, OLAP_TABLES, work, seed)
    if name == "curation_pipeline":
        return RegistryWorkload(CURATION, CURATION_TABLES, work, seed)
    if name == "ingest_maintain":
        return IngestMaintain(work, seed)
    raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")


WORKLOADS = ("olap_queries", "curation_pipeline", "ingest_maintain")
