"""Invariants for the kNN graph, curriculum ordering, and the
frequent-token sketch that the oracle hash can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgebot_spark.registry import load
from knowledgebot_spark.tables import read_table


def _q(name):
    return load()[name].fn


def test_knn_graph_block_local_and_k_bounded(spark, sf_dir):
    """Every vector gets at most k=3 neighbors, ranks are 1..3 dense,
    neighbors stay inside the vector's block (label), and scores are
    non-increasing in rank."""
    rows = _q("llm_knn_graph")(spark, sf_dir).collect()
    lab = {
        r.vec_id: r.label
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    by_vec: dict = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r)
        assert lab[r.vec_id] == lab[r.nbr_id]
        assert r.nbr_id != r.vec_id
    for vid, nbrs in by_vec.items():
        nbrs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in nbrs] == list(range(1, len(nbrs) + 1))
        assert len(nbrs) <= 3
        scores = [r.score for r in nbrs]
        assert scores == sorted(scores, reverse=True)


def test_knn_graph_is_equi_join(spark, sf_dir):
    """The block join must plan as an equi-join on label — never a
    Cartesian/BNLJ (the catalog-wide invariant, asserted locally too)."""
    plan = _q("llm_knn_graph")(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_partition_and_stage_bounds(spark, sf_dir):
    """Stages are 1..4 per source; within a (source, stage) cell positions
    are dense from 1; every document appears exactly once; and stage
    boundaries respect length order (max n_chars of stage s <= min
    n_chars of stage s+1 per source, modulo doc_id tiebreaks on equal
    lengths)."""
    rows = _q("llm_curriculum_order")(spark, sf_dir).collect()
    docs = read_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    cells: dict = {}
    for r in rows:
        assert 1 <= r.stage <= 4
        cells.setdefault((r.source, r.stage), []).append(r.pos_in_stage)
    for pos in cells.values():
        assert sorted(pos) == list(range(1, len(pos) + 1))
    # the actual curriculum invariant: stages are length-ordered per source
    # (ties may straddle a boundary, hence <=)
    n_chars = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    bounds: dict = {}
    for r in rows:
        lo, hi = bounds.get((r.source, r.stage), (float("inf"), float("-inf")))
        c = n_chars[r.doc_id]
        bounds[(r.source, r.stage)] = (min(lo, c), max(hi, c))
    for (source, stage), (_, hi) in bounds.items():
        nxt = bounds.get((source, stage + 1))
        if nxt is not None:
            assert hi <= nxt[0], (source, stage)


def test_freq_tokens_sketch_matches_exact_groupby(spark, sf_dir):
    """With maxItemsTracked above the corpus vocabulary the sketch is
    exact: its top-15 equals the exact groupBy top-15 under the same
    (count desc, token) order."""
    rows = _q("llm_freq_tokens_sketch")(spark, sf_dir).collect()
    d = read_table(spark, sf_dir, "documents")
    exact = (
        d.select(F.explode(F.split("text", " ")).alias("raw"))
        .select(F.lower("raw").alias("token"))
        .filter(F.length("token") >= 3)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(15)
        .collect()
    )
    assert [(r.token, r.n) for r in rows] == [(r.token, r.n) for r in exact]


def test_cosine_zero_vector_scores_null_not_abort(spark):
    """An all-zero embedding is legal input; under Spark 4's default ANSI
    mode a plain /0 would abort the whole job — cosine must yield NULL
    (excluded from every top-k) instead."""
    from knowledgebot_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [0.0] * 4, [1.0, 2.0, 3.0, 4.0]), (2, [2.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )

    def cos(frame, *args):
        return {r.id: r.cos for r in frame.select("id", sim.cosine_col(*args).alias("cos")).collect()}

    normed = df.withColumn("na", F.expr(sim.norm_expr("a"))).withColumn(
        "nb", F.expr(sim.norm_expr("b"))
    )
    one = sim.array_literal([1.0, 0.0, 0.0, 0.0])
    # default norms, precomputed norm columns (pairwise joins) and a
    # spliced array_literal query operand (literal-query search)
    for rows in (cos(df, "a", "b"), cos(normed, "a", "b", "na", "nb"), cos(df, "a", one)):
        assert rows[1] is None
        assert abs(rows[2] - 1.0) < 1e-12
    assert set(cos(df, "b", sim.array_literal([0.0] * 4)).values()) == {None}


def test_embedding_drift_identical_cohorts_score_one(spark, tmp_path):
    """Two identical cohorts (same vectors at even and odd ids) have
    identical centroids, so drift cosine is exactly 1.0 per label."""
    from knowledgebot_spark.registry import load as _load

    d = str(tmp_path / "drift")
    vecs = []
    for i in range(10):
        v = [float((i * 7 + j) % 5 + 1) for j in range(8)]
        vecs.append((2 * i, v, i % 2))      # even id -> half 0
        vecs.append((2 * i + 1, v, i % 2))  # same vector at odd id -> half 1
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    rows = _load()["llm_embedding_drift"].fn(spark, d).collect()
    assert len(rows) == 2
    assert all(r.centroid_cosine == 1.0 for r in rows)
