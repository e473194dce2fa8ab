"""Degenerate-input hardening: operators must behave sanely on empty
frames, single rows, and empty strings — the failure modes that only
show up in production partitions (empty file splits, freshly-created
tables, blank documents)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_engine_triangle_spark.operators import dedup, textops
from sql_engine_triangle_spark.operators.merge import merge_upsert


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_merge_empty_updates_is_identity(spark):
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, v double, s string"
    )
    empty = base.filter(F.lit(False))
    out = merge_upsert(base, empty, "k").orderBy("k").collect()
    assert [(r.k, r.v, r.s) for r in out] == [(1, 10.0, "a"), (2, 20.0, "b")]


def test_merge_empty_base_inserts_all(spark):
    base = spark.createDataFrame([], "k long, v double, s string")
    upd = spark.createDataFrame([(5, 1.0, "x")], "k long, v double, s string")
    out = merge_upsert(base, upd, "k").collect()
    assert [(r.k, r.v, r.s) for r in out] == [(5, 1.0, "x")]


def test_merge_explicit_null_update_nulls_out(spark):
    """ANSI MERGE UPDATE SET col = NULL: a matched update row that
    carries NULL in a non-key column must null the base value, not
    silently keep it (the coalesce form's bug)."""
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], "k long, v double, s string"
    )
    upd = spark.createDataFrame([(1, None, "z")], "k long, v double, s string")
    out = {r.k: (r.v, r.s) for r in merge_upsert(base, upd, "k").collect()}
    assert out[1] == (None, "z")
    assert out[2] == (20.0, "b")


def test_merge_delete_everything(spark):
    base = spark.createDataFrame([(1, 1.0, "a")], "k long, v double, s string")
    out = merge_upsert(base, base.filter(F.lit(False)), "k", deletes=base)
    assert out.count() == 0


def test_dedup_pairs_on_empty_and_single(spark):
    assert dedup.ngram_jaccard_pairs(_docs(spark, [])).count() == 0
    assert dedup.containment_pairs(_docs(spark, [(1, "a b c d")])).count() == 0
    assert dedup.minhash_lsh_pairs(_docs(spark, [(1, "a b c d")])).count() == 0


def test_minhash_candidate_filtered_verify_equivalent(spark):
    """The scale-path verify (shingle sets collected only for candidate
    docs) must emit exactly the same pairs as the default full verify."""
    from sql_engine_triangle_spark.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    base = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    filt = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.9, candidate_filtered_verify=True
        ).collect()
    }
    assert base == filt
    assert base, "fixture should contain >=0.9 pairs"


def test_textops_on_empty_and_blank_strings(spark):
    df = _docs(spark, [(1, ""), (2, "   "), (3, "one two three")])
    out = df.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n"),
        textops.punct_ratio(F.col("text")).alias("pr"),
    ).orderBy("doc_id").collect()
    # blank docs must not crash and must not report negative/null counts
    assert all(r.n >= 0 for r in out)
    assert all(r.pr is not None and 0.0 <= r.pr <= 1.0 for r in out)
    assert out[2].n == 3


def test_exact_dedup_all_identical(spark):
    df = _docs(spark, [(i, "same text") for i in range(5)])
    groups = dedup.exact_hash_groups(df).collect()
    assert len(groups) == 1
    assert groups[0].dup_cnt == 5
    assert groups[0].keep_id == 0


def test_connected_components_star_empty_and_singleton(spark):
    from sql_engine_triangle_spark.operators.graph import connected_components_star

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(empty).count() == 0
    # self-loop only: filtered out, graph empty
    selfloop = spark.createDataFrame([(1, 1)], "doc_a long, doc_b long")
    assert connected_components_star(selfloop).count() == 0


def test_knn_join_arrow_singleton_clusters_emit_nothing(spark):
    """A cluster with one vector has no within-cluster neighbors, so
    it emits zero rows. With k equal to the row count every vector
    seeds its own cluster and the whole result is empty."""
    from sql_engine_triangle_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], "x") for i in range(4)],
        "vec_id long, embedding array<float>, label string",
    )
    assert similarity.knn_join_arrow(emb, k=4, n_neighbors=3).count() == 0


def test_semantic_dedup_arrow_all_identical_keeps_first(spark):
    """All-identical embeddings: one cluster, everything a dup of the
    earliest id — only vec_id 0 survives."""
    from sql_engine_triangle_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0], "x") for i in range(6)],
        "vec_id long, embedding array<float>, label string",
    )
    res = similarity.semantic_dedup_arrow(emb, k=2, eps=0.9).toPandas()
    assert list(res.sort_values("vec_id")["keep"]) == [True] + [False] * 5


def test_salted_join_empty_sides(spark):
    from sql_engine_triangle_spark.operators.skew import salted_join

    left = spark.createDataFrame([], "event_id long, user_id long, value double")
    right = spark.createDataFrame([(1, "A")], "user_id long, seg string")
    assert salted_join(left, right, on="user_id", left_unique_col="event_id").count() == 0


def test_partsupp_generator_tiny_supplier_pool(spark):
    """n_suppliers < 4 must raise: the stride offsets collapse mod
    n_suppliers and (ps_partkey, ps_suppkey) stops being a primary
    key, so the generator fails loudly instead of silently emitting
    a non-PK table (ADVICE r5 fix; the 4-offer multiplicity
    invariant always holds for accepted inputs)."""
    import pytest as _pytest

    from sql_engine_triangle_spark.fixtures.generate import partsupp

    with _pytest.raises(ValueError, match="n_suppliers"):
        partsupp(spark, 5, 2)
    # Smallest accepted pool: PK invariant holds.
    ps = partsupp(spark, 5, 4).toPandas()
    assert len(ps) == 20
    assert not ps.duplicated(["ps_partkey", "ps_suppkey"]).any()
