"""Bit-identity gates for the round-11 vectorized similarity kernels.

The blocked all-pairs scorer and the Arrow LSH bucketizer replace
interpreted higher-order-function folds with NumPy loops that accumulate
dimension by dimension in the same left-to-right IEEE-754 order — these
tests pin that the replacement is BIT-identical to the expression forms it
replaced (the expression forms stay in the tree as the executable spec:
vectors.dot / similarity._tables_expr).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.catalog import load_table
from e2e_etl_pipeline_spark.functions.rounding import stable_round
from e2e_etl_pipeline_spark.functions.vectors import dot
from e2e_etl_pipeline_spark.operators import similarity as sim


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


@pytest.fixture(scope="module")
def em(spark, sf_dir):
    return sim.filter_modal_dim(load_table(spark, sf_dir, "embeddings"))


def _hof_pairs(em, threshold: float):
    a = sim.with_vector_norm(em).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
    )
    b = sim.with_vector_norm(em).select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "id_a",
            "id_b",
            (dot("va", "vb") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(stable_round(F.col("cosine"), 4) >= threshold)
    )


@pytest.mark.parametrize("threshold", [0.4, 0.0])
def test_blocked_cosine_pairs_bit_identical_to_hof(em, threshold):
    ref = {(r.id_a, r.id_b): r.cosine for r in _hof_pairs(em, threshold).collect()}
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.blocked_cosine_pairs(em, threshold).collect()
    }
    assert set(got) == set(ref)
    assert all(_bits(got[k]) == _bits(ref[k]) for k in ref)


def test_blocked_cosine_pairs_more_blocks_than_rows(spark):
    # Two rows: on a session with 4+ task slots (3+ blocks) most block
    # pairs are empty on one side.
    few = spark.range(2).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") + 1).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
    )
    rows = sim.blocked_cosine_pairs(few, threshold=0.0).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(0, 1)}


def test_block_counts_follow_parallelism(spark):
    p = spark.sparkContext.defaultParallelism
    assert sim._parallelism(spark) == p
    for n in (1, 2, 3, 4, 6, 7, 8, 32, 33, p):
        b = sim._pair_blocks(n)
        assert (b - 1) * b // 2 < n <= b * (b + 1) // 2
    assert sim._pair_blocks(32) == 8  # 36 block-pair groups


def test_blocked_cosine_pairs_excludes_zero_norm_and_null_id(spark):
    f = F.lit(0.0).cast("float")
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 1.0]),
        (3, [0.0, 0.0]),  # zero norm — never pairs
        (None, [1.0, 1.0]),  # NULL id — never pairs
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in sim.blocked_cosine_pairs(df, -1.0).collect()}
    assert got == {(1, 2)}
    _ = f


def test_arrow_bucketizer_matches_tables_expr(em, spark):
    """Bucket ids from the NumPy kernel must equal the interpreted
    expression form (the SQL-literal oracles embed the same algebra)."""
    n_planes, n_tables, seed = 5, 12, 42
    base = em.groupBy("vec_id").agg(F.min("embedding").alias("embedding"))
    dim = base.select(F.size("embedding")).first()[0]
    planes = sim._hyperplanes(dim, n_planes, n_tables, seed)
    planes_df = spark.createDataFrame(
        [(planes.tolist(),)], "_tensor array<array<array<double>>>"
    )
    ref_rows = (
        base.crossJoin(F.broadcast(planes_df))
        .select(
            "vec_id", F.explode(sim._tables_expr("embedding", n_planes)).alias("t")
        )
        .select("vec_id", "t.table_id", "t.bucket")
        .collect()
    )
    ref = {(r.vec_id, r.table_id): r.bucket for r in ref_rows}
    got_rows = base.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).mapInArrow(
        sim._lsh_bucketizer("q_vec", n_planes, n_tables, seed, dim=None),
        "q_id long, table_id int, bucket bigint",
    )
    got = {(r.q_id, r.table_id): r.bucket for r in got_rows.collect()}
    assert got == ref


def test_arrow_bucketizer_mismatched_dim_buckets_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0] * 5), (3, None)],
        "vec_id long, embedding array<float>",
    )
    out = df.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).mapInArrow(
        sim._lsh_bucketizer("q_vec", 4, 2, 42, dim=2),
        "q_id long, table_id int, bucket bigint",
    )
    rows = out.collect()
    # every row appears once per table; off-dimension and NULL vectors
    # land in bucket 0 of every table (the zip_with-pads-NULL semantics)
    assert len(rows) == 6
    assert all(r.bucket == 0 for r in rows if r.q_id in (2, 3))
    assert any(r.bucket != 0 for r in rows if r.q_id == 1)


# ---------------------------------------------------------------------------
# brute_force_topk Arrow kernel vs the retained expression spec (round 12)
# ---------------------------------------------------------------------------


def _topk_key(rows, with_label=False):
    out = []
    for r in rows:
        t = (
            r.query_id,
            r.neighbor_id,
            _bits(r.cosine),
            r.rank,
        )
        if with_label:
            t += (r.label,)
        out.append(t)
    return sorted(out)


def test_brute_force_topk_bit_identical_on_corpus(em):
    queries = em.where(F.col("vec_id") < 20)
    ref = _topk_key(sim.brute_force_topk_expr(em, queries, k=10).collect())
    got = _topk_key(sim.brute_force_topk(em, queries, k=10).collect())
    assert ref == got
    reff = _topk_key(
        sim.brute_force_topk_expr(em, queries, k=5, match_on="label").collect(),
        with_label=True,
    )
    gotf = _topk_key(
        sim.brute_force_topk(em, queries, k=5, match_on="label").collect(),
        with_label=True,
    )
    assert reff == gotf


@pytest.fixture(scope="module")
def edge_corpus(spark):
    rows = [
        (1, [1.0, 2.0], 1),  # normal
        (2, [3.0, -1.0], 1),  # normal
        (3, [0.0, 0.0], 2),  # zero norm -> NULL cosine
        (4, None, 1),  # NULL vector -> NULL cosine
        (5, [1.0, None], 1),  # NULL element -> NULL cosine
        (6, [1.0, 2.0, 3.0], 1),  # ragged length -> NULL cosine pairs
        (None, [9.0, 9.0], 1),  # NULL id -> never pairs
        (2, [3.0, -1.0], 1),  # duplicated id row (pk-variant shape)
        (7, [float("nan"), 1.0], 1),  # NaN element -> NaN cosine, ranks first
        (8, [2.0, 1.0], None),  # NULL label -> dropped under match_on
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


@pytest.mark.parametrize("k", [2, 10])
@pytest.mark.parametrize("match_on", [None, "label"])
def test_brute_force_topk_edge_parity(edge_corpus, k, match_on):
    """NULL vectors/elements/ids/labels, zero norms, NaN elements, ragged
    lengths and duplicated ids must all come out EXACTLY as the expression
    path emits them (same rows, bit-identical cosines, same ranks)."""
    q = edge_corpus.where(
        (F.col("vec_id") < 6) | F.col("vec_id").isNull()
    )
    ref = _topk_key(
        sim.brute_force_topk_expr(
            edge_corpus, q, k=k, match_on=match_on
        ).collect(),
        with_label=match_on is not None,
    )
    got = _topk_key(
        sim.brute_force_topk(edge_corpus, q, k=k, match_on=match_on).collect(),
        with_label=match_on is not None,
    )
    assert ref == got


def test_brute_force_topk_more_blocks_than_rows(edge_corpus):
    # Normal, zero-norm and NaN corpus rows: on a session with 4+ task
    # slots (one block each) most blocks hold no corpus row.
    small = edge_corpus.where(F.col("vec_id").isin(1, 3, 7))
    q = edge_corpus.where(F.col("vec_id") < 6)
    ref = _topk_key(sim.brute_force_topk_expr(small, q, k=3).collect())
    got = _topk_key(sim.brute_force_topk(small, q, k=3).collect())
    assert ref == got


def test_brute_force_topk_int64_labels_above_2_53(spark):
    """int64 metadata must compare in its own dtype: with a NULL label on
    the query side, a float64 route makes 2^53 and 2^53 + 1 equal."""
    big = 2**53
    rows = [
        (1, [1.0, 0.0], big),
        (2, [1.0, 1.0], big + 1),
        (3, [0.0, 1.0], big),
        (4, [1.0, 2.0], big + 1),
        (5, [2.0, 1.0], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label bigint"
    )
    ref = _topk_key(
        sim.brute_force_topk_expr(df, df, k=3, match_on="label").collect(),
        with_label=True,
    )
    got = _topk_key(
        sim.brute_force_topk(df, df, k=3, match_on="label").collect(),
        with_label=True,
    )
    assert {(r[0], r[1]) for r in ref} == {(1, 3), (3, 1), (2, 4), (4, 2)}
    assert ref == got


def test_brute_force_topk_empty_sides(edge_corpus):
    empty = edge_corpus.where(F.lit(False))
    assert sim.brute_force_topk(empty, edge_corpus, k=3).count() == 0
    assert sim.brute_force_topk(edge_corpus, empty, k=3).count() == 0
