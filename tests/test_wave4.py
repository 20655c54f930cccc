"""Semantic invariants for the wave-4 ops: deterministic k-means,
LSH-blocked hard-negative mining, weighted sampling, Pareto share,
MAD outliers, and last-touch attribution.  Each test pins a law the
DuckDB oracle's value-hash alone would not explain (conservation,
monotonicity, bias direction, bound properties)."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgebot_spark.tables import read_table


def test_kmeans_partitions_the_corpus(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _KM_K, llm_kmeans_embeddings

    out = llm_kmeans_embeddings(spark, sf_dir).collect()
    total = read_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in out) == total, "clusters must partition"
    assert all(0 <= r.cluster_id < _KM_K for r in out)
    assert all(r.inertia_q >= 0 for r in out)
    assert len(out) >= 2, "degenerate single-cluster fit on spread data"


def test_kmeans_iteration_reduces_inertia(spark, sf_dir):
    """Lloyd's algorithm law: assigning to the UPDATED centroids cannot
    raise total inertia vs scoring the same assignment against the init
    centroids.  Recomputed here independently via the init-centroid
    distances (quantized space, same fixed-point math as the query)."""
    from knowledgebot_spark.queries_llm import _KM_K, _KM_SCALE, llm_kmeans_embeddings

    e = read_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE} + 0.5) AS BIGINT))"
        ).alias("qv"),
    )
    cents0 = (
        q.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("c"))
        .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
    )
    d0 = F.expr(
        "array_sort(transform(cents, s -> struct("
        "aggregate(zip_with(qv, s.c, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS d, s.cid AS cid)))[0].d"
    )
    inertia0 = (
        q.crossJoin(F.broadcast(cents0)).agg(F.sum(d0).alias("i")).collect()[0].i
    )
    inertia2 = sum(
        r.inertia_q for r in llm_kmeans_embeddings(spark, sf_dir).collect()
    )
    assert inertia2 <= inertia0, "an extra Lloyd iteration must not raise inertia"


def test_hard_negatives_are_cross_label_and_ranked(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _HN_K, llm_hard_negatives

    out = llm_hard_negatives(spark, sf_dir)
    labels = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = labels.withColumnRenamed("vec_id", "anchor_id").withColumnRenamed(
        "label", "la"
    )
    lb = labels.withColumnRenamed("vec_id", "neg_id").withColumnRenamed(
        "label", "lb"
    )
    joined = out.join(la, "anchor_id").join(lb, "neg_id").collect()
    assert joined, "no hard negatives mined"
    assert all(r.la != r.lb for r in joined), "a same-label pair leaked through"
    assert all(1 <= r.rank <= _HN_K for r in joined)
    assert all(r.cos <= 1.0001 for r in joined)
    # ranks are contiguous from 1 per anchor (a window law, but also the
    # consumer contract: rank 2 implies a rank-1 row exists)
    by_anchor: dict[int, list[int]] = {}
    for r in joined:
        by_anchor.setdefault(r.anchor_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_anchor.values())


def test_weighted_sample_is_deterministic_and_length_biased(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _WS_K, llm_weighted_sample

    a = llm_weighted_sample(spark, sf_dir).collect()
    b = llm_weighted_sample(spark, sf_dir).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    docs = read_table(spark, sf_dir, "documents")
    assert len(a) == min(_WS_K, docs.count())
    corpus_avg = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_avg = sum(r.n_chars for r in a) / len(a)
    assert sample_avg > corpus_avg, (
        "length-weighted draw must overrepresent long documents "
        f"(sample {sample_avg:.1f} <= corpus {corpus_avg:.1f})"
    )


def test_pareto_share_monotone_head(spark, sf_dir):
    from knowledgebot_spark.queries_relational import rel_pareto_share

    rows = sorted(rel_pareto_share(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert rows[0].rank == 1
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    shares = [r.cum_share for r in rows]
    assert all(x <= y for x, y in zip(shares, shares[1:])), "cum_share not monotone"
    revs = [r.rev_e4 for r in rows]
    assert all(x >= y for x, y in zip(revs, revs[1:])), "head not revenue-sorted"
    n_parts = (
        read_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert len(rows) < n_parts, "the 80% head must exclude the tail"


def test_mad_outliers_bounds(spark, sf_dir):
    from knowledgebot_spark.queries_events import rel_mad_outliers

    out = rel_mad_outliers(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.mad >= 0
        assert 0 <= r.n_outliers <= r.n
        # MAD's 50% breakdown point: the |v - med| > 3*MAD cut can never
        # flag half the data or more (over half would drag MAD itself up)
        assert r.outlier_pct < 0.5


def test_attribution_conserves_purchases(spark, sf_dir):
    from knowledgebot_spark.queries_events import rel_last_touch_attribution

    out = rel_last_touch_attribution(spark, sf_dir).collect()
    n_purchases = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.n_purchases for r in out) == n_purchases
    allowed = {"0_none", "1_lt1m", "2_1to5m", "3_5to30m", "4_30mto2h", "5_ge2h"}
    assert {r.delay_bucket for r in out} <= allowed
    for r in out:
        assert r.n_users <= r.n_purchases


def test_pmi_collocations_shape_laws(spark, sf_dir):
    from knowledgebot_spark.queries_llm import (
        _PMI_MIN_CODF,
        _PMI_TOPK,
        llm_pmi_collocations,
    )

    out = llm_pmi_collocations(spark, sf_dir).collect()
    assert 0 < len(out) <= _PMI_TOPK
    for r in out:
        assert r.ta < r.tb, "pair not canonicalized"
        assert r.codf >= _PMI_MIN_CODF
        assert r.pmi == r.pmi, "NaN pmi"
    pmis = [r.pmi for r in out]
    assert pmis == sorted(pmis, reverse=True), "not ranked by pmi"


def test_text_normalize_composes_and_shrinks(spark, sf_dir):
    from knowledgebot_spark.queries_llm import llm_text_normalize

    out = llm_text_normalize(spark, sf_dir).collect()
    assert out
    for r in out:
        # NFC composition (-1), BEL strip (-1), two double-space collapses
        # (-2), trailing strip (-1): the suffix alone shrinks by >= 5
        assert r.norm_len <= r.raw_len - 5
        # the cleaned decoration is exactly the last 8 codepoints
        assert r.tail == " café xy", repr(r.tail)


def test_cuped_preserves_pooled_mean(spark, sf_dir):
    """CUPED law: the adjustment y - theta*(x - E[x]) is mean-zero over
    the POOLED population, so the user-weighted grand means of y and
    y_adj must agree (variance shrinks, the point estimate must not
    move)."""
    from knowledgebot_spark.queries_events import rel_cuped_experiment
    from knowledgebot_spark.tables import read_table

    out = rel_cuped_experiment(spark, sf_dir).collect()
    assert {r.variant for r in out} == {0, 1}
    n_users = read_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in out) == n_users
    pooled_y = sum(r.n_users * r.mean_y for r in out)
    pooled_adj = sum(r.n_users * r.mean_y_adj for r in out)
    assert abs(pooled_y - pooled_adj) < max(1e-3 * abs(pooled_y), 1e-3)
    for r in out:
        assert r.var_reduction > -0.05, "adjustment should not inflate variance"


def test_seasonal_decomposition_identity(spark, sf_dir):
    """Additive decomposition law, exact by fixed-point construction:
    y == trend + seasonal + resid at 4dp for every hour."""
    from knowledgebot_spark.queries_events import rel_seasonal_decompose

    out = rel_seasonal_decompose(spark, sf_dir).collect()
    n_hours = (
        read_table(spark, sf_dir, "events")
        .select(F.date_trunc("hour", "ts"))
        .distinct()
        .count()
    )
    assert len(out) == n_hours
    for r in out:
        assert abs(r.y - (r.trend + r.seasonal + r.resid)) < 1e-9


def test_sorted_neighborhood_pairs(spark, sf_dir):
    from knowledgebot_spark.queries_llm import (
        _SNM_JACCARD,
        llm_dedup_sorted_neighborhood,
    )

    out = llm_dedup_sorted_neighborhood(spark, sf_dir).collect()
    assert out, "synthetic corpus contains near-dups; SNM must find some"
    for r in out:
        assert r.id_a < r.id_b, "pair not canonicalized"
        assert _SNM_JACCARD <= r.jaccard <= 1.0


def test_pq_partitions_every_subspace(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _PQ_CODES, _PQ_SUB, llm_embed_pq

    out = llm_embed_pq(spark, sf_dir).collect()
    corpus = read_table(spark, sf_dir, "embeddings").count()
    by_s: dict[int, int] = {}
    for r in out:
        assert 0 <= r.s < _PQ_SUB
        assert 0 <= r.code < _PQ_CODES
        assert r.sq_err >= 0
        by_s[r.s] = by_s.get(r.s, 0) + r.n
    assert set(by_s) == set(range(_PQ_SUB)), "a subspace vanished"
    assert all(v == corpus for v in by_s.values()), (
        "every vector must receive exactly one code per subspace"
    )


def test_equi_depth_buckets_are_balanced(spark, sf_dir):
    """Equi-depth law: 16 buckets over a continuous column each hold
    ~1/16 of the rows (within 2x tolerance for interpolation ties), the
    value ranges tile without overlap, and counts conserve."""
    from knowledgebot_spark.queries_relational import (
        _EQD_BUCKETS,
        rel_equi_depth_histogram,
    )

    rows = sorted(
        rel_equi_depth_histogram(spark, sf_dir).collect(), key=lambda r: r.bucket
    )
    total = read_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_rows for r in rows) == total
    assert [r.bucket for r in rows] == list(range(1, _EQD_BUCKETS + 1))
    expected = total / _EQD_BUCKETS
    for r in rows:
        assert expected / 2 <= r.n_rows <= expected * 2, (
            f"bucket {r.bucket} holds {r.n_rows}, expected ~{expected:.0f}"
        )
    for lo_r, hi_r in zip(rows, rows[1:]):
        assert lo_r.hi <= hi_r.lo, "bucket value ranges overlap"


def test_pattern_detect_counts_within_sessions(spark, sf_dir):
    from knowledgebot_spark.queries_events import _PATTERNS, rel_pattern_detect

    out = rel_pattern_detect(spark, sf_dir).collect()
    assert {r.pattern for r in out} == {name for name, _ in _PATTERNS}
    totals = {r.total_sessions for r in out}
    assert len(totals) == 1, "all rows report the same session universe"
    for r in out:
        assert 0 <= r.n_sessions <= r.total_sessions
        assert abs(r.share - r.n_sessions / r.total_sessions) < 1e-5


def test_minhash_calibration_is_conservative(spark, sf_dir):
    """The histogram must cover every LSH candidate pair exactly once,
    and most mass should sit in the low-error buckets (8 hashes estimate
    Jaccard within ~0.35 for the vast majority of candidates)."""
    from knowledgebot_spark.operators import dedup as dd
    from knowledgebot_spark.queries_llm import llm_dedup_calibration
    from knowledgebot_spark.tables import read_spread

    out = llm_dedup_calibration(spark, sf_dir).collect()
    assert out
    docs = read_spread(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    n_cand = dd.candidate_pairs(
        dd.lsh_bands(dd.with_minhash(hashed), "doc_id"), "doc_id"
    ).count()
    assert sum(r.n_pairs for r in out) == n_cand
    low = sum(r.n_pairs for r in out if r.err_bucket <= 3)
    assert low / n_cand > 0.5, "estimator is mostly within 0.4 of truth"


def test_stream_anti_dedup_matches_batch_gate(spark, sf_dir):
    """The streaming ledger-join gate must pass exactly the records a
    batch anti-join passes: counts conserve against the processed-set
    complement."""
    from knowledgebot_spark.queries_streaming import stream_anti_dedup

    out = stream_anti_dedup(spark, sf_dir).collect()
    ev = read_table(spark, sf_dir, "events")
    expected = ev.filter(F.col("event_id") % 7 != 0).count()
    assert sum(r.n_new for r in out) == expected
    assert expected < ev.count(), "the gate must actually drop something"


def test_bpe_merge_candidates_shape(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _BPE_TOPK, llm_bpe_merge_candidates

    out = llm_bpe_merge_candidates(spark, sf_dir).collect()
    assert len(out) == _BPE_TOPK
    assert all(len(r.pair) == 2 for r in out), "merge candidates are bigrams"
    ns = [r.n for r in out]
    assert ns == sorted(ns, reverse=True) and ns[-1] > 0


def test_mmr_greedy_laws(spark, sf_dir):
    """MMR invariants: rank 1 is the pure-relevance argmax; the greedy
    objective is non-increasing (each later pick maximizes over a
    shrinking candidate set with a growing penalty); no duplicates."""
    from knowledgebot_spark.queries_llm import _MMR_K, llm_mmr_rerank

    out = sorted(llm_mmr_rerank(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in out] == list(range(1, _MMR_K + 1))
    assert len({r.vec_id for r in out}) == _MMR_K, "a document selected twice"
    assert out[0].rel == max(r.rel for r in out), "rank 1 must be argmax rel"
    mmrs = [r.mmr for r in out]
    assert all(a >= b - 1e-9 for a, b in zip(mmrs, mmrs[1:])), (
        "greedy MMR objective must be non-increasing"
    )


def test_training_triplets_compose_sources(spark, sf_dir):
    """Triplet laws: the positive is same-label, the negative is
    cross-label, ids are distinct, and every anchor appears at most
    once (rank-1 of each source)."""
    from knowledgebot_spark.queries_llm import llm_training_triplets

    out = llm_training_triplets(spark, sf_dir).collect()
    assert out, "corpus must yield triplets"
    labels = {
        r.vec_id: r.label
        for r in read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    anchors = [r.anchor_id for r in out]
    assert len(anchors) == len(set(anchors)), "anchor emitted twice"
    for r in out:
        assert labels[r.anchor_id] == labels[r.pos_id], "positive crosses labels"
        assert labels[r.anchor_id] != labels[r.neg_id], "negative shares label"
        assert len({r.anchor_id, r.pos_id, r.neg_id}) == 3
        assert abs(r.margin - round(r.pos_cos - r.neg_cos, 6)) < 1e-9


def test_kcenter_covering_radius_shrinks(spark, sf_dir):
    """FPS laws: dmin (the covering radius captured at each pick) is
    non-increasing from rank 2 on — each greedy pick is the farthest
    remaining point, so later maxima cannot exceed earlier ones; picks
    are distinct and the seed is vec_id 0."""
    from knowledgebot_spark.queries_llm import _KC_K, llm_coreset_kcenter

    out = sorted(llm_coreset_kcenter(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in out] == list(range(1, _KC_K + 1))
    assert out[0].vec_id == 0 and out[0].dmin == 0
    assert len({r.vec_id for r in out}) == _KC_K
    radii = [r.dmin for r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), (
        "covering radius must be non-increasing"
    )
    assert all(d > 0 for d in radii)


def test_dedup_overlap_report_conserves_pairs(spark, sf_dir):
    """The overlap partition must cover the union of all detector pair
    sets exactly once, and at least one combo shows single-detector
    recall (the reason the family exists)."""
    from knowledgebot_spark.queries_llm import (
        llm_dedup_minhash,
        llm_dedup_ngram,
        llm_dedup_overlap_report,
        llm_dedup_simhash,
        llm_dedup_sorted_neighborhood,
    )

    out = llm_dedup_overlap_report(spark, sf_dir).collect()
    union_pairs = set()
    for fn in (
        llm_dedup_minhash,
        llm_dedup_ngram,
        llm_dedup_simhash,
        llm_dedup_sorted_neighborhood,
    ):
        union_pairs |= {(r.id_a, r.id_b) for r in fn(spark, sf_dir).collect()}
    assert sum(r.n_pairs for r in out) == len(union_pairs)
    assert any("+" not in r.detectors for r in out), (
        "some pair should be found by exactly one detector"
    )
    for r in out:
        assert r.detectors == "+".join(sorted(r.detectors.split("+")))


def test_dedup_overlap_report_releases_its_checkpoints(spark, sf_dir):
    """The four per-detector local checkpoints are freed once the report
    is built: repeated calls in one session hold no more persisted RDDs."""
    from knowledgebot_spark.queries_llm import llm_dedup_overlap_report

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for _ in range(2):
        llm_dedup_overlap_report(spark, sf_dir).collect()
    assert persisted().size() <= before


def test_rolling_wau_recomputes_brute_force(spark, sf_dir):
    """WAU law: for sampled days, the trailing-7-day distinct-user count
    must equal a brute-force filter over the raw log."""
    import datetime

    from knowledgebot_spark.queries_events import rel_rolling_wau

    out = {r.win_day: r.wau for r in rel_rolling_wau(spark, sf_dir).collect()}
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    )
    for win_day in sorted(out)[7:10]:
        hi = datetime.date.fromisoformat(win_day)
        lo = hi - datetime.timedelta(days=6)
        brute = (
            ev.filter((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi)))
            .select("user_id")
            .distinct()
            .count()
        )
        assert out[win_day] == brute, win_day


def test_k_anonymity_partitions_rows(spark, sf_dir):
    from knowledgebot_spark.queries_events import rel_k_anonymity

    out = rel_k_anonymity(spark, sf_dir).collect()
    total = read_table(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in out) == total
    assert {r.status for r in out} <= {"violating", "anonymous"}
    for r in out:
        if r.status == "violating":
            assert r.max_group < 5
        else:
            assert r.min_group >= 5


def test_cusum_closed_form_matches_recursion(spark, sf_dir):
    """The prefix closed form S_t - min(0, min_{j<t} S_j) must equal the
    textbook recursion s_t = max(0, s_{t-1} + y_t) replayed in Python
    over the same daily series."""
    from knowledgebot_spark.queries_events import rel_cusum_changepoint

    out = sorted(rel_cusum_changepoint(spark, sf_dir).collect(), key=lambda r: r.day)
    daily = {
        r.day: r.n
        for r in read_table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    ns = [daily[r.day] for r in out]
    nd = len(ns)
    mu_e4 = math.floor(sum(ns) * 10000.0 / nd + 0.5)
    s = 0
    for r, n in zip(out, ns):
        s = max(0, s + n * 10000 - mu_e4)
        assert abs(r.cusum - s / 10000.0) < 1e-6, r.day
        assert r.cusum >= 0


import math  # noqa: E402  (used by the recursion replay above)


def test_source_gini_bounds_and_shares(spark, sf_dir):
    from knowledgebot_spark.queries_llm import llm_dataset_card, llm_source_gini

    ginis = llm_source_gini(spark, sf_dir).collect()
    assert ginis
    for r in ginis:
        assert 0 <= r.gini < 1, f"{r.source}: gini {r.gini} out of range"
    card = llm_dataset_card(spark, sf_dir).collect()
    shares = [r.value for r in card if r.key == "token_share"]
    assert abs(sum(shares) - 1.0) < 1e-4, "source token shares must sum to 1"
    doc_shares = [r.value for r in card if r.key == "doc_share"]
    assert abs(sum(doc_shares) - 1.0) < 1e-4, "lang doc shares must sum to 1"
    n_docs = next(r.value for r in card if r.key == "n_docs" and r.section == "corpus")
    src_docs = sum(r.value for r in card if r.key == "n_docs" and r.section != "corpus")
    assert n_docs == src_docs, "per-source doc counts must partition the corpus"


def test_scan_binary_recovers_nation(spark, sf_dir):
    from knowledgebot_spark.queries_formats import rel_scan_binary

    out = rel_scan_binary(spark, sf_dir).collect()
    nation = read_table(spark, sf_dir, "nation")
    assert sum(r.n_nations for r in out) == nation.count()
    regions = {r.n_regionkey for r in out}
    want = {r.n_regionkey for r in nation.select("n_regionkey").distinct().collect()}
    assert regions == want


def test_index_delta_partitions_both_populations(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _IXD_SPLIT, llm_index_delta

    out = llm_index_delta(spark, sf_dir).collect()
    e = read_table(spark, sf_dir, "embeddings")
    n_inc = e.filter(F.col("vec_id") < _IXD_SPLIT).count()
    n_idx = e.filter(F.col("vec_id") >= _IXD_SPLIT).count()
    assert sum(r.n_incoming for r in out) == n_inc
    assert sum(r.n_indexed for r in out) == n_idx
    for r in out:
        assert r.needs_rebalance == (r.n_incoming * 4 > r.n_indexed)


def test_observation_metrics_on_spine(spark, sf_dir):
    """Spark's Observation API — in-flight pipeline observability: row
    counts and sums collected as a side effect of ONE execution, no
    second job.  This is how a 100 TB ingest reports progress without
    re-scanning (the metrics ride the action), so the API surface gets a
    pinned test alongside the query catalog."""
    from pyspark.sql import Observation

    from knowledgebot_spark.registry import load

    obs = Observation("spine_metrics")
    df = load()["kb_extract_blocks"].fn(spark, sf_dir)
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum(F.length("content")).alias("bytes")
    )
    n = observed.count()
    got = obs.get
    assert got["rows"] == n
    assert got["bytes"] > 0


def test_time_constrained_funnel_is_subset(spark, sf_dir):
    """Decay-window law: the 1-hour-constrained funnel can never reach
    MORE users at any stage than the unconstrained funnel, and stages
    shrink monotonically within it."""
    from knowledgebot_spark.queries_events import rel_funnel_time_constrained
    from knowledgebot_spark.queries_relational import rel_funnel_conversion

    tc = rel_funnel_time_constrained(spark, sf_dir).collect()[0]
    un = rel_funnel_conversion(spark, sf_dir).collect()[0]
    assert tc.n_view == un.n_view, "stage 1 has no prior stage to decay from"
    assert tc.n_click_1h <= un.n_view_click
    assert tc.n_purchase_1h <= un.n_view_click_purchase
    assert tc.n_view >= tc.n_click_1h >= tc.n_purchase_1h


def test_embedding_health_dimensions_consistent(spark, sf_dir):
    from knowledgebot_spark.queries_llm import llm_embedding_health

    r = llm_embedding_health(spark, sf_dir).collect()[0]
    total = read_table(spark, sf_dir, "embeddings").count()
    assert r.n_vectors == total
    assert r.n_dims_seen == 1, "mixed embedding dimensions in the corpus"
    assert 0 <= r.n_zero <= total
    assert r.min_norm <= r.median_norm <= r.max_norm


def test_dup_matrix_conserves_pairs(spark, sf_dir):
    from knowledgebot_spark.queries_llm import (
        llm_dedup_minhash,
        llm_dup_matrix_by_source,
    )

    out = llm_dup_matrix_by_source(spark, sf_dir).collect()
    n_pairs = llm_dedup_minhash(spark, sf_dir).count()
    assert sum(r.n_pairs for r in out) == n_pairs
    for r in out:
        assert r.source_a <= r.source_b, "matrix cell not canonicalized"
        assert 0 <= r.avg_jaccard_e4 <= 10000  # exact e4 fixed-point mean


def test_returned_customers_plan_and_laws(spark, sf_dir):
    """Q10 shape: the returnflag filter reaches the lineitem scan, dims
    broadcast, and the top-20 is TakeOrdered — plus rank determinism."""
    from knowledgebot_spark.queries_relational import rel_returned_customers

    df = rel_returned_customers(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == 20
    revs = [r.rev_e4 for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_volume_shipping_excludes_domestic(spark, sf_dir):
    from knowledgebot_spark.queries_relational import rel_volume_shipping

    out = rel_volume_shipping(spark, sf_dir).collect()
    assert out
    assert all(r.supp_nation != r.cust_nation for r in out), "domestic flow leaked"
    assert all(r.volume_e4 > 0 for r in out)


def test_media_dedup_agrees_with_exact_text_dup(spark, sf_dir):
    """Binary-digest dedup must find at least every FULL-text duplicate
    pair (identical text => identical utf-8 bytes => identical md5)."""
    from knowledgebot_spark.queries_llm import llm_media_dedup

    out = llm_media_dedup(spark, sf_dir).collect()
    docs = read_table(spark, sf_dir, "documents")
    full_dup_docs = (
        docs.groupBy("text").count().filter(F.col("count") > 1).collect()
    )
    expected_groups = len(full_dup_docs)
    assert len(out) == expected_groups
    assert all(r.n_copies > 1 and r.bytes_reclaimed > 0 for r in out)


def test_lm_perplexity_scores_heldout_only(spark, sf_dir):
    """LM-scoring discipline: every scored doc is in the held-out md5
    range, nll values are positive (probabilities < 1 after smoothing),
    and ranked descending."""
    from knowledgebot_spark.queries_llm import _LM_TOPK, llm_lm_perplexity

    out = llm_lm_perplexity(spark, sf_dir).collect()
    assert 0 < len(out) <= _LM_TOPK
    import hashlib

    for r in out:
        h2 = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
        assert h2 >= "cc", f"doc {r.doc_id} is in the TRAIN split"
        assert r.nll > 0
    nlls = [r.nll for r in out]
    assert nlls == sorted(nlls, reverse=True)


def test_bm25_scores_only_term_matches(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _BM25_TERMS, llm_bm25_search

    out = llm_bm25_search(spark, sf_dir).collect()
    assert out
    docs = {
        r.doc_id: r.text
        for r in read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for r in out:
        toks = set(docs[r.doc_id].lower().split(" "))
        assert toks & set(_BM25_TERMS), f"doc {r.doc_id} matches no query term"
        assert r.score > 0
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_fusion_laws(spark, sf_dir):
    """RRF laws: every fused id comes from one of the source lists, the
    score is exactly the sum of its reciprocal-rank terms, and a
    both-lists document always beats a single-list document whose ranks
    are no better."""
    from knowledgebot_spark.queries_llm import _RRF_K, llm_hybrid_fusion

    out = llm_hybrid_fusion(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.dense_rank is not None or r.lexical_rank is not None
        want = 0.0
        if r.dense_rank is not None:
            want += 1.0 / (_RRF_K + r.dense_rank)
        if r.lexical_rank is not None:
            want += 1.0 / (_RRF_K + r.lexical_rank)
        assert abs(r.rrf - round(want, 6)) < 1e-9
    both = [r for r in out if r.dense_rank and r.lexical_rank]
    single = [r for r in out if not (r.dense_rank and r.lexical_rank)]
    if both and single:
        assert max(r.rrf for r in both) > max(r.rrf for r in single)


def test_query_expansion_excludes_query_terms(spark, sf_dir):
    from knowledgebot_spark.queries_llm import (
        _BM25_TERMS,
        _QE_FEEDBACK,
        _QE_TOPK,
        llm_query_expansion,
    )

    out = llm_query_expansion(spark, sf_dir).collect()
    assert 0 < len(out) <= _QE_TOPK
    for r in out:
        assert r.term not in _BM25_TERMS, "query term leaked into expansion"
        assert r.weight > 0
        assert 1 <= r.n_docs <= _QE_FEEDBACK
    ws = [r.weight for r in out]
    assert ws == sorted(ws, reverse=True)


def test_threshold_sweep_reverse_cumulative(spark, sf_dir):
    from knowledgebot_spark.queries_llm import (
        llm_dedup_minhash,
        llm_dedup_threshold_sweep,
    )

    out = sorted(
        llm_dedup_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: -r.jaccard_bin,
    )
    total = llm_dedup_minhash(spark, sf_dir).count()
    running = 0
    for r in out:
        running += r.n_pairs
        assert r.n_pairs_at_or_above == running
    assert running == total, "sweep must partition the verified pairs"


def test_context_assembly_budget_rule(spark, sf_dir):
    """Greedy first-fit laws: positions are a contiguous prefix of the
    fused ranking, every admitted doc STARTS under the budget, and no
    following doc could have been admitted."""
    from knowledgebot_spark.queries_llm import _CTX_BUDGET, llm_context_assembly

    out = sorted(llm_context_assembly(spark, sf_dir).collect(), key=lambda r: r.pos)
    assert out
    assert [r.pos for r in out] == list(range(1, len(out) + 1)), "not a prefix"
    for r in out:
        assert r.cum_tokens - r.n_tokens < _CTX_BUDGET
    assert out[-1].cum_tokens >= _CTX_BUDGET or len(out) == 10, (
        "budget not exhausted yet the walk stopped early"
    )


def test_benford_counts_partition_prices(spark, sf_dir):
    from knowledgebot_spark.queries_relational import rel_benford_screen

    out = rel_benford_screen(spark, sf_dir).collect()
    total = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice") >= 1)
        .count()
    )
    assert sum(r.observed for r in out) == total
    assert {r.digit for r in out} <= set(range(1, 10))
    assert abs(sum(r.expected for r in out) - total) < 1.0
    for r in out:
        assert r.chi2_term >= 0


def test_release_manifest_is_reproducible_and_conserves(spark, sf_dir):
    from knowledgebot_spark.queries_corpus import llm_release_manifest

    a = {r.shard: r for r in llm_release_manifest(spark, sf_dir).collect()}
    b = {r.shard: r for r in llm_release_manifest(spark, sf_dir).collect()}
    assert set(a) == set(b)
    for s in a:
        assert a[s].shard_checksum == b[s].shard_checksum, "manifest not stable"
    total = read_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in a.values()) == total
    assert len({r.shard_checksum for r in a.values()}) == len(a), (
        "two shards share a checksum — hash chain broken"
    )


def test_cdc_materialize_converges_across_batches(spark, sf_dir, tmp_path):
    """Cross-batch LWW law: splitting the log into 3 micro-batches (via
    KB_STREAM_MAX_FILES=1 on a 3-file staging) must converge to exactly
    the batch-computed per-user latest state — the version-merge path is
    what this exercises; a single AvailableNow batch never runs it."""
    import os

    from knowledgebot_spark.queries_streaming import stream_cdc_materialize

    ev = read_table(spark, sf_dir, "events")
    tmp_sf = str(tmp_path / "sfcdc")
    ev.repartition(3).write.parquet(f"{tmp_sf}/events.parquet")
    os.environ["KB_STREAM_MAX_FILES"] = "1"
    try:
        got = {
            r.user_id: (r.last_ts, r.last_type, r.last_value)
            for r in stream_cdc_materialize(spark, tmp_sf).collect()
        }
    finally:
        del os.environ["KB_STREAM_MAX_FILES"]
    w_latest = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
                    "user_id"
                ).orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    want = {
        r.user_id: (
            r.last_ts,
            r.event_type,
            round(r.value, 2),
        )
        for r in w_latest.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "event_type",
            "value",
        ).collect()
    }
    assert got == want


def test_heatmap_covers_grid_and_conserves(spark, sf_dir):
    from knowledgebot_spark.queries_events import rel_activity_heatmap

    out = rel_activity_heatmap(spark, sf_dir).collect()
    total = read_table(spark, sf_dir, "events").count()
    assert sum(r.n for r in out) == total
    for r in out:
        assert 1 <= r.dow <= 7 and 0 <= r.hod <= 23
        assert r.n_users <= r.n


def test_new_vs_returning_accounting(spark, sf_dir):
    """Growth-accounting laws: summed new_users over all days equals the
    total user population (everyone is new exactly once), and per-day
    new + returning equals that day's distinct actives."""
    from knowledgebot_spark.queries_events import rel_new_vs_returning

    out = {r.day: r for r in rel_new_vs_returning(spark, sf_dir).collect()}
    ev = read_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.new_users for r in out.values()) == n_users
    dau = {
        r.day: r.n
        for r in ev.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for day, r in out.items():
        assert r.new_users + r.returning_users == dau[day], day


def test_retention_decay_fit_sanity(spark, sf_dir):
    """Fit sanity on synthetic NON-decaying activity (everyone active
    daily): the slope must be near zero — |slope| << ln(2), i.e. nothing
    resembling a real halving-scale decay — and the day-30 projection
    must stay a plausible rate.  (Real logs fit negative slopes; the
    synthetic flatness is itself the fixture's known answer.)"""
    from knowledgebot_spark.queries_events import rel_retention_decay_fit

    r = rel_retention_decay_fit(spark, sf_dir).collect()[0]
    assert r.n_points >= 14, "fewer rate points than offsets"
    assert abs(r.decay_slope) < 0.05, "flat synthetic activity fitted a decay"
    assert 0 < r.projected_day30_rate < 1.5


def test_embedding_dim_variance_profile(spark, sf_dir):
    from knowledgebot_spark.operators import similarity as sim
    from knowledgebot_spark.queries_llm import llm_embedding_dim_variance

    out = llm_embedding_dim_variance(spark, sf_dir).collect()
    assert len(out) == sim.EMBED_DIM
    assert {r.dim for r in out} == set(range(1, sim.EMBED_DIM + 1))
    for r in out:
        assert r.variance >= 0
        assert r.is_dead == (r.variance < 0.0001) or r.variance == 0.0001
    assert not all(r.is_dead for r in out), "the whole space cannot be dead"


def test_abc_classes_partition_and_order(spark, sf_dir):
    from knowledgebot_spark.queries_relational import (
        rel_abc_classification,
        rel_pareto_share,
    )

    out = {r.abc: r for r in rel_abc_classification(spark, sf_dir).collect()}
    assert set(out) == {"A", "B", "C"}
    n_parts = (
        read_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r.n_parts for r in out.values()) == n_parts
    total = sum(r.class_rev_e4 for r in out.values())
    # A carries ~80% of revenue and is the smallest class by count
    assert out["A"].class_rev_e4 / total > 0.7
    assert out["A"].n_parts == rel_pareto_share(spark, sf_dir).count(), (
        "class A must be exactly the Pareto 80% head"
    )


def test_oov_curve_is_monotone(spark, sf_dir):
    from knowledgebot_spark.queries_llm import _OOV_SIZES, llm_oov_curve

    out = sorted(llm_oov_curve(spark, sf_dir).collect(), key=lambda r: r.vocab_size)
    assert [r.vocab_size for r in out] == sorted(_OOV_SIZES)
    rates = [r.oov_rate for r in out]
    assert rates == sorted(rates, reverse=True), "bigger vocab cannot raise OOV"
    totals = {r.total for r in out}
    assert len(totals) == 1
    for r in out:
        assert 0 <= r.oov_tokens <= r.total
