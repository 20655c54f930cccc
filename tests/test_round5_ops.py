"""Round-5 operators: SemDeDup conservation/composition laws, DSIR
target-affinity laws, and the gated-hash contracts of the upgraded MLlib
queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def catalog():
    from knowledgebot_spark.registry import load

    return load()


def test_semdedup_conservation_and_kmeans_agreement(spark, sf_dir, catalog):
    sem = catalog["llm_semdedup"].fn(spark, sf_dir).collect()
    # kept + dropped == members, per cluster
    for r in sem:
        assert r.n_kept + r.n_dropped == r.n_members
        assert r.n_dropped >= 0 and r.n_kept >= 1
    # membership partition agrees with the composed k-means query exactly
    km = {
        r.cluster_id: r.n_members
        for r in catalog["llm_kmeans_embeddings"].fn(spark, sf_dir).collect()
    }
    assert {r.cluster_id: r.n_members for r in sem} == km
    # every embedding is in exactly one cluster
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n_members for r in sem) == n_vecs


def test_semdedup_drops_planted_duplicate(spark, sf_dir, catalog):
    """A vector duplicated verbatim lands in the same cluster cell as its
    original (identical distances, adjacent ids) and must be dropped at
    any tau <= 1.0: verified through the operator's own pair machinery by
    checking a cosine-1.0 pair is produced for a cloned id."""
    import knowledgebot_spark.queries_llm as q
    from knowledgebot_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.orderBy("vec_id").limit(1).select("embedding").first().embedding
    clone_id = e.agg(F.max("vec_id")).first()[0] + 1
    # direct pair check: clone vs original scores 1.0 under the operator's
    # cosine (the semdedup drop predicate at any tau)
    pair = spark.createDataFrame(
        [(0, base, clone_id, base)], "id_a long, ea array<float>, id_b long, eb array<float>"
    ).withColumn(
        "cos",
        F.round(
            sim.cosine_col("ea", "eb", sim.norm_expr("ea"), sim.norm_expr("eb")),
            6,
        ),
    )
    assert pair.first().cos == 1.0
    assert q._SEMDEDUP_TAU <= 1.0


def test_dsir_prefers_target_language(spark, sf_dir, catalog):
    """Mean DSIR score of target-language docs must exceed the
    non-target mean (the scorer's whole purpose), and the top-20 are
    deterministic across re-runs."""
    import knowledgebot_spark.queries_llm as q

    # recompute the per-doc scores (the registered query emits top-20;
    # the law needs the full distribution) by lifting the limit
    top1 = catalog["llm_dsir_score"].fn(spark, sf_dir)
    rows1 = top1.collect()
    rows2 = catalog["llm_dsir_score"].fn(spark, sf_dir).collect()
    assert rows1 == rows2
    assert len(rows1) == q._DSIR_TOPK
    # full-distribution law via a one-off rebuild with the same pieces
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tb = (
        d.select(
            "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % q._DSIR_BUCKETS
            ).alias("b"),
        )
    )
    tgt = (
        tb.filter(F.col("lang") == q._DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    raw = tb.groupBy("b").agg(F.count("*").alias("cr"))
    tot = tb.agg(
        F.sum(F.when(F.col("lang") == q._DSIR_TARGET_LANG, 1).otherwise(0))
        .cast("bigint")
        .alias("tt"),
        F.count("*").cast("bigint").alias("tr"),
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
        * 1.0
        / (F.col("tt") + q._DSIR_BUCKETS)
    ) / ((F.col("cr") + 1) * 1.0 / (F.col("tr") + q._DSIR_BUCKETS))
    scored = (
        tb.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.avg(F.log(ratio)).alias("s"))
    )
    means = {
        r.is_t: r.m
        for r in scored.groupBy(
            (F.col("lang") == q._DSIR_TARGET_LANG).alias("is_t")
        )
        .agg(F.avg("s").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_mllib_gates_are_booleans_and_true(spark, sf_dir, catalog):
    """The r05 gated-hash contracts: each upgraded MLlib query emits its
    quality gates as TRUE on the test data (a recall/exactness regression
    flips them and fails the oracle hash)."""
    row = catalog["llm_dedup_minhash_mllib"].fn(spark, sf_dir).first()
    assert row.mllib_recall_ge_0_9 is True and row.n_exact_pairs >= 0
    rows = catalog["llm_sim_brp_mllib"].fn(spark, sf_dir).collect()
    assert len(rows) == 10 and all(r.brp_recall_ge_0_7 for r in rows)
    ivf = catalog["llm_sim_ivf"].fn(spark, sf_dir).first()
    assert ivf.ivf_scores_exact is True and ivf.ivf_recall_ge_0_3 is True
    assert ivf.n_ivf == 10


def test_neardup_gate_converges_across_batches(spark, sf_dir, tmp_path):
    """Batch-boundary invariance of the streaming near-dup gate: splitting
    the corpus into 3 in-order micro-batches must produce exactly the
    one-shot dominance-rule result (blocked iff ANY smaller doc_id shares
    a band bucket) — the append-only ledger join is what this exercises."""
    import os
    import shutil

    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.queries_streaming import stream_neardup_gate
    from knowledgebot_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    tmp_sf = str(tmp_path / "sfnd")
    dest = f"{tmp_sf}/documents.parquet"
    os.makedirs(dest)
    slices = [
        docs.filter(F.col("doc_id") < cuts[0]),
        docs.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        docs.filter(F.col("doc_id") >= cuts[1]),
    ]
    for i, sl in enumerate(slices):
        stage = str(tmp_path / f"slice{i}")
        sl.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        shutil.copy(f"{stage}/{part}", f"{dest}/part-{i:05d}.parquet")

    os.environ["KB_STREAM_MAX_FILES"] = "1"
    try:
        got = {
            r.source: (r.n_seen, r.n_kept, r.n_blocked)
            for r in stream_neardup_gate(spark, tmp_sf).collect()
        }
    finally:
        del os.environ["KB_STREAM_MAX_FILES"]

    hashed = docs.select("doc_id", F.expr(dd.shingle_hash_expr("text")).alias("sh"))
    bands = dd.lsh_bands(dd.with_minhash(hashed, shingles_col="sh"), "doc_id")
    blocked = (
        bands.select("band", "bv", F.col("doc_id").alias("id_a"))
        .join(bands, ["band", "bv"])
        .filter(F.col("id_a") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("b", F.lit(True))
    )
    want = {
        r.source: (r.n_seen, r.n_kept, r.n_blocked)
        for r in docs.join(blocked, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_seen"),
            F.sum(F.when(F.col("b").isNull(), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0)).alias("n_blocked"),
        )
        .collect()
    }
    assert got == want
    assert sum(v[2] for v in got.values()) > 0, "fixture has no near-dups"


# --- round-5 TPC-H shapes (Q4 / Q13 / Q18 / Q22) ------------------------------


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_order_priority_check_semi_join_plan(spark, sf_dir, catalog):
    """Q4's EXISTS must plan as ONE left-semi pass over lineitem (the
    lateness predicate riding as the join residual), with the quarter
    filter pushed to the orders scan."""
    df = catalog["rel_order_priority_check"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan
    # orders + lineitem scanned once each (formatted explain prints every
    # scan node twice: tree line + details block)
    assert plan.count("Scan parquet") == 4
    assert "PushedFilters" in plan
    rows = df.collect()
    # every priority bucket, counts positive, sorted output
    assert [r.o_orderpriority for r in rows] == sorted(r.o_orderpriority for r in rows)
    assert all(r.order_count > 0 for r in rows)


def test_customer_order_distribution_conservation(spark, sf_dir, catalog):
    """Q13: the distribution must partition ALL customers (sum of custdist
    == |customer|) and keep the zero-order bucket when the residual filter
    excludes a customer's every order."""
    rows = catalog["rel_customer_order_distribution"].fn(spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust
    # left-join semantics: order counts weighted by custdist reproduce the
    # non-urgent order total
    n_orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .count()
    )
    assert sum(r.c_count * r.custdist for r in rows) == n_orders


def test_large_volume_customers_threshold_and_topk_plan(spark, sf_dir, catalog):
    df = catalog["rel_large_volume_customers"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # top-100, never a global sort
    assert "BroadcastHashJoin" in plan  # customer dim broadcast
    rows = df.collect()
    assert all(r.total_qty > 300 for r in rows)
    prices = [r.totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_idle_customer_balance_anti_join(spark, sf_dir, catalog):
    """Q22: LEFT ANTI on custkey; every surviving customer is above the
    positive-balance average and absent from recent orders."""
    df = catalog["rel_idle_customer_balance"].fn(spark, sf_dir)
    assert "LeftAnti" in _plan(df)
    rows = df.collect()
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    recent = {
        r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
        .collect()
    }
    expected = (
        cust.filter(F.col("c_acctbal") > avg_pos)
        .filter(~F.col("c_custkey").isin(recent) if recent else F.lit(True))
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    assert {r.c_nationkey: r.numcust for r in rows} == {
        r.c_nationkey: r["count"] for r in expected
    }


# --- BPE merge learning (round 5) ---------------------------------------------


def test_bpe_merge_learn_laws(spark, sf_dir, catalog):
    """3-iteration greedy BPE training: (a) step-1 equals the standalone
    one-iteration miner's argmax exactly, (b) weighted pair counts are
    monotone non-increasing across steps (a merge only removes other
    pairs' occurrences; pairs born of the merge are bounded by its own
    count), (c) each learned merge is a non-trivial concatenation."""
    rows = catalog["llm_bpe_merge_learn"].fn(spark, sf_dir).collect()
    assert [r.merge_step for r in rows] == [1, 2, 3]
    top1 = catalog["llm_bpe_merge_candidates"].fn(spark, sf_dir).first()
    assert rows[0].merged == (
        top1.pair.replace(" ", "") if " " in top1.pair else top1.pair
    )
    assert rows[0].n == top1.n
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r.merged) >= 2 for r in rows)


def test_bpe_merge_fold_semantics(spark):
    """The double-space replace IS the canonical left-to-right BPE fold:
    an odd run 'aaa' merges only its first pair, an even run 'aaaa'
    merges both — pinned on a tiny synthetic vocab via the same seg ->
    replace expressions the query uses."""
    df = spark.createDataFrame([("aaa",), ("aaaa",), ("bab",)], ["w"])
    seg = df.select(
        F.expr(
            "concat('  ', array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), '  '), '  ')"
        ).alias("seg")
    )
    merged = seg.select(
        F.split(
            F.trim(F.replace(F.col("seg"), F.lit(" a  a "), F.lit(" aa "))), "  "
        ).alias("toks")
    )
    got = {tuple(r.toks) for r in merged.collect()}
    assert got == {("aa", "a"), ("aa", "aa"), ("b", "a", "b")}


def test_cm_heavy_hitters_laws(spark, sf_dir, catalog):
    """Count-Min contract: reported set == exact over-threshold set
    (recomputed), all three sketch gates TRUE, output ranked."""
    rows = catalog["rel_cm_heavy_hitters"].fn(spark, sf_dir).collect()
    assert rows, "threshold should yield heavy hitters on the zipfy bigrams"
    assert all(
        r.cm_detected and r.cm_no_underestimate and r.cm_within_bound for r in rows
    )
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    # recompute the exact heavy-hitter set independently
    import knowledgebot_spark.queries_relational as qr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        F.filter(F.split(F.trim(F.lower("text")), " "), lambda x: x != "").alias("t")
    )
    big = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i ->"
                " concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("s")
    )
    total = big.count()
    exact = {
        r.s: r.c
        for r in big.groupBy("s").agg(F.count("*").alias("c")).collect()
        if r.c > qr._CM_PHI * total
    }
    assert {r.bigram: r.n for r in rows} == exact


def test_knn_triangles_brute_force_parity(spark, sf_dir, catalog):
    """Triangle census laws + exact parity with a driver-side brute force
    over the (small at test scale) symmetrized edge list."""
    row = catalog["llm_knn_triangles"].fn(spark, sf_dir).first()
    edges = {
        (min(r.vec_id, r.nbr_id), max(r.vec_id, r.nbr_id))
        for r in catalog["llm_knn_graph"].fn(spark, sf_dir).collect()
    }
    verts = {x for e in edges for x in e}
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = sum(
        1
        for u, v in edges
        for w in adj[u] & adj[v]
        if w > v  # u < v < w: count each triangle once
    )
    wedges = sum(len(a) * (len(a) - 1) // 2 for a in adj.values())
    assert row.n_vertices == len(verts)
    assert row.n_edges == len(edges)
    assert row.n_wedges == wedges
    assert row.n_triangles == tri
    assert row.closure_e6 == (3 * tri * 1000000) // max(wedges, 1)
    assert 0 <= row.closure_e6 <= 1000000
    assert 3 * row.n_triangles <= row.n_wedges


# --- seeded-synthetic known-answer pins for the round-5 ops -------------------


@pytest.fixture(scope="module")
def synth_docs_dir(spark, tmp_path_factory):
    """A constructed corpus with hand-computable BPE merges, bigram heavy
    hitters, and kNN triangles: 'aaab' x 60, 'abab' x 30, 'zq' x 10 plus a
    repeated two-word phrase."""
    d = str(tmp_path_factory.mktemp("synth"))
    docs = []
    did = 0
    for text, n in [
        ("aaab aaab", 30),       # 60 'aaab' words
        ("abab", 30),            # 30 'abab'
        ("zq", 10),
        ("alpha beta", 25),      # dominant bigram 'alpha beta'
        ("beta gamma", 5),
    ]:
        for _ in range(n):
            docs.append((did, text, "en", f"src{did % 3}", len(text)))
            did += 1
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    return d


def test_bpe_merge_learn_known_answer(spark, synth_docs_dir, catalog):
    """Hand-computed greedy BPE on the constructed vocab:
    word freqs: aaab=60, abab=30, zq=10, alpha=25, beta=30, gamma=5.
    Pair counts, iter 1: (a,a)=60x2(from aaab)... compute: aaab -> pairs
    aa,aa? chars a,a,a,b -> (a,a),(a,a),(a,b): aa=120, ab=60;
    abab -> (a,b),(b,a),(a,b): ab=60, ba=30; alpha: al,lp,ph,ha 25 each;
    beta: be,et,ta 30 each; gamma: ga,am,mm,ma 5 each; zq: 10.
    ab total = 120?  aaab gives ab 60 + abab gives ab 60 = 120 == aa 120;
    tie 'a a' vs 'a b' -> lexicographic 'a a' wins (pair asc).
    Merge 1 = 'aa' (n=120).
    Re-segment: aaab -> aa,a,b (left-to-right); abab unchanged.
    Iter 2 pairs: aaab: (aa,a)=60,(a,b)=60; abab: ab=60,ba=30; beta trio 30;
    'a b' total = 60+60 = 120 -> merge 2 = 'ab' (n=120).
    Iter 3: aaab -> aa,ab: (aa,ab)=60; abab -> ab,ab: (ab,ab)=30; alpha 25s;
    beta 30s; merge 3 = 'aaab' from pair (aa,ab)=60.
    """
    rows = catalog["llm_bpe_merge_learn"].fn(spark, synth_docs_dir).collect()
    got = [(r.merge_step, r.merged, r.n) for r in rows]
    assert got == [(1, "aa", 120), (2, "ab", 120), (3, "aaab", 60)]


def test_cm_heavy_hitters_planted(spark, synth_docs_dir, catalog):
    """The planted dominant bigram must be reported with its exact count
    and every sketch gate TRUE: 'alpha beta' appears 25 times out of 95
    bigrams total (aaab aaab x30, alpha beta x25, beta gamma x5)."""
    rows = catalog["rel_cm_heavy_hitters"].fn(spark, synth_docs_dir).collect()
    by_bigram = {r.bigram: r for r in rows}
    assert by_bigram["alpha beta"].n == 25
    assert by_bigram["aaab aaab"].n == 30
    assert by_bigram["beta gamma"].n == 5
    assert all(
        r.cm_detected and r.cm_no_underestimate and r.cm_within_bound for r in rows
    )


@pytest.fixture(scope="module")
def synth_vec_dir(spark, tmp_path_factory):
    """Embeddings with a known triangle structure inside one (label, sub)
    cell: 4 vectors where 0-1-2 are mutually closest (a planted clique)
    and 3 is far from everything but still in the cell."""
    import math

    d = str(tmp_path_factory.mktemp("synthvec"))
    def vec(theta):
        v = [0.0] * 64
        v[0] = math.cos(theta)
        v[1] = math.sin(theta)
        return v
    rows = [
        (0, vec(0.00), 1),
        (1, vec(0.01), 1),
        (2, vec(0.02), 1),
        (3, vec(2.50), 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    return d


def test_knn_triangles_planted_clique(spark, synth_vec_dir, catalog):
    """With k=3 over 4 cell-mates every vector lists the other three, so
    the symmetrized graph is K4: 6 edges, 4*C(3,2)=12 wedges, 4 triangles,
    closure = 3*4/12 = exactly 1.0 (1000000 in e6 units)."""
    row = catalog["llm_knn_triangles"].fn(spark, synth_vec_dir).first()
    assert (
        row.n_vertices,
        row.n_edges,
        row.n_wedges,
        row.n_triangles,
        row.closure_e6,
    ) == (4, 6, 12, 4, 1000000)
