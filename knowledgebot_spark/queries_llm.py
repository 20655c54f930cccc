"""LLM-data-pipeline query catalog (north star: dedup, similarity search,
text analysis, multimodal columns, chunk/embed/enrich) over the
``documents`` and ``embeddings`` tables.

Where both sides need the same generated expression (simhash bit sums,
hyperplane literals), the SQL is built by the same Python loop that builds
the Spark plan — parity by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knowledgebot_spark.operators import chunker as ck
from knowledgebot_spark.operators import dedup as dd
from knowledgebot_spark.operators import embedding as em
from knowledgebot_spark.operators import multimodal as mm
from knowledgebot_spark.operators import similarity as sim
from knowledgebot_spark.operators import text_analysis as ta
from knowledgebot_spark.registry import register
from knowledgebot_spark.tables import read_spread as _ts
from knowledgebot_spark.tables import read_table as _t

# DuckDB equivalent of operators.dedup.shingle_expr
_DUCK_SHINGLES = (
    "list_distinct([array_to_string(tk[i:i+2], ' ') "
    "for i in generate_series(1, greatest(len(tk) - 2, 1))])"
)
_DUCK_DOCS_CTE = f"""
WITH docs AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS s
  FROM (SELECT doc_id, str_split(lower(text), ' ') tk FROM documents)
)"""


# --- dedup -------------------------------------------------------------------

@register(
    "llm_dedup_exact",
    sql="""
SELECT dup_key, n_copies, keeper_id FROM (
  SELECT md5(array_to_string(str_split(lower(text), ' ')[1:8], ' ')) AS dup_key,
         count(*) AS n_copies, min(doc_id) AS keeper_id
  FROM documents GROUP BY 1
) WHERE n_copies > 1
""",
    tags=("dedup", "exact"),
)
def llm_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on a normalized content key (first 8 words) — hash
    groupBy, the dropDuplicates scale pattern."""
    d = _t(spark, sf, "documents")
    key = F.expr("md5(array_join(slice(split(lower(text), ' '), 1, 8), ' '))")
    return dd.exact_dup_groups(d, "doc_id", key)


def _duck_minhash_cols() -> str:
    # same affine-permutation family as operators.dedup: v = hashed shingle,
    # h_k = (a_k*v + b_k) mod 2^48
    return ", ".join(
        f"list_min([(x * {dd.MINHASH_A[k]} + {dd.MINHASH_B[k]}) % {dd.MINHASH_M} "
        f"for x in hs]) AS m{k}"
        for k in range(dd.N_HASHES)
    )


def _duck_shingle_hashes() -> str:
    # DuckDB twin of dedup.shingle_hash_expr (hh is a real CTE column, so
    # the comprehension references it without re-evaluation)
    c1, c2, c3 = dd.SHINGLE_C
    return (
        f"[(hh[i] * {c1} + hh[i + 1] * {c2} + hh[i + 2] * {c3}) % {dd.MINHASH_M} "
        f"for i in generate_series(1, greatest(len(hh) - {dd.SHINGLE_WORDS + 1}, 1))]"
    )


def _duck_bands() -> str:
    n_bands = dd.N_HASHES // dd.ROWS_PER_BAND
    parts = []
    for b in range(n_bands):
        cols = " || ':' || ".join(
            f"m{b * dd.ROWS_PER_BAND + r}::VARCHAR" for r in range(dd.ROWS_PER_BAND)
        )
        parts.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bv FROM mh")
    return " UNION ALL ".join(parts)


@register(
    "llm_dedup_minhash",
    sql=_DUCK_DOCS_CTE
    + f"""
, hashed AS (
  SELECT doc_id,
    list_concat(list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT),
                [0, 0]::BIGINT[]) AS hh
  FROM (SELECT doc_id, str_split(lower(text), ' ') tk FROM documents)
)
, hs_t AS (SELECT doc_id, {_duck_shingle_hashes()} AS hs FROM hashed)
, mh AS (SELECT doc_id, {_duck_minhash_cols()} FROM hs_t)
, bands AS ({_duck_bands()})
, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
  round(len(list_filter(da.s, x -> list_contains(db.s, x)))::DOUBLE /
        (len(da.s) + len(db.s) - len(list_filter(da.s, x -> list_contains(db.s, x)))), 4) AS jaccard
FROM cand c JOIN docs da ON da.doc_id = c.id_a JOIN docs db ON db.doc_id = c.id_b
""",
    tags=("dedup", "minhash-lsh"),
)
def llm_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash LSH near-dup: shingle -> affine-permutation signature ->
    banded bucket join -> exact-Jaccard verify.  Never all-pairs.  The
    signature path skips array_distinct (min over multiset == min over
    set); the verify path keeps distinct shingles for exact Jaccard."""
    docs = _ts(spark, sf, "documents")
    hashed = docs.select(
        "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    signed = dd.with_minhash(hashed)
    bands = dd.lsh_bands(signed, "doc_id")
    pairs = dd.candidate_pairs(bands, "doc_id")
    return dd.jaccard_verify(pairs, dd.with_shingles(docs, "text"), "doc_id")


@register(
    "llm_dedup_ngram",
    sql=_DUCK_DOCS_CTE.replace("WITH docs AS", "WITH base AS")
    .replace("SELECT doc_id,", "SELECT doc_id, lang, n_chars,", 1)
    .replace(
        "FROM (SELECT doc_id, str_split(lower(text), ' ') tk FROM documents)",
        "FROM (SELECT doc_id, lang, n_chars, str_split(lower(text), ' ') tk FROM documents)",
    )
    + f"""
, d0 AS (SELECT doc_id, lang, n_chars // 100 AS blk, s FROM base)
, d AS (SELECT *, (row_number() OVER (PARTITION BY lang, blk ORDER BY doc_id) - 1) // {dd.BLOCK_CAP} AS sub FROM d0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE /
        (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))), 4) AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk AND a.sub = b.sub AND a.doc_id < b.doc_id
WHERE len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE /
      (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.06
""",
    tags=("dedup", "ngram-jaccard"),
)
def llm_dedup_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard inside cheap blocking keys (lang, length
    bucket) — the blocked-pairwise pattern for when LSH recall is not
    enough.  Blocks are capped at BLOCK_CAP members via deterministic
    sub-blocking (dedup.with_sub_block), so per-sub-block pair fan-out is
    bounded regardless of corpus size; dedup.block_cap_report surfaces what
    the cap drops."""
    d = dd.with_sub_block(
        dd.with_shingles(_t(spark, sf, "documents"), "text").select(
            "doc_id", "lang", F.expr("n_chars div 100").alias("blk"), "shingles"
        ),
        ["lang", "blk"],
        "doc_id",
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), "lang", "blk", "sub",
        F.col("shingles").alias("sh_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), "lang", "blk", "sub",
        F.col("shingles").alias("sh_b"),
    )
    joined = a.join(b, ["lang", "blk", "sub"]).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        joined.withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= 0.06)
        .select("id_a", "id_b", F.round("jaccard_raw", 4).alias("jaccard"))
    )


def _duck_simhash_sql() -> str:
    # shares SIMHASH_BITS/SIMHASH_BLOCKS with operators.dedup — parity by
    # construction.  Token hash = first 15 md5 hex chars (60 bits, BIGINT),
    # 60 bit sums, 5 disjoint 12-bit bands (pigeonhole-exhaustive for
    # hamming <= 4; 12-bit keys keep bucket population sub-linear in the
    # corpus — see dedup.SIMHASH_BLOCKS).
    hv = "('0x' || substr(md5(tk), 1, 15))::BIGINT"
    bit_terms = []
    for j in range(dd.SIMHASH_BITS):
        bitsum = (
            f"list_reduce(list_transform(t, tk -> CASE WHEN ({hv} >> {j}) & 1 = 1 "
            f"THEN 1 ELSE -1 END), (a, b) -> a + b)"
        )
        bit_terms.append(
            f"((CASE WHEN ({bitsum}) > 0 THEN 1 ELSE 0 END)::BIGINT << {j})"
        )
    combine = " + ".join(bit_terms)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS blk, (simhash >> {off}) & {(1 << width) - 1} AS bv FROM sh"
        for i, (off, width) in enumerate(dd.SIMHASH_BLOCKS)
    )
    return f"""
WITH toks AS (SELECT doc_id, str_split(lower(coalesce(text, '')), ' ') t FROM documents),
sh AS (SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM toks),
bands AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dd.SIMHASH_MAX_HAMMING}
"""


@register("llm_dedup_simhash", sql=_duck_simhash_sql(), tags=("dedup", "simhash"))
def llm_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: 60-bit signatures, disjoint 12-bit-block bucket
    join (pigeonhole-exhaustive for Hamming <= 4), never all-pairs."""
    d = dd.with_simhash(_t(spark, sf, "documents"), "text")  # not spread: measured slower
    pairs = dd.simhash_near_pairs(d.select("doc_id", "simhash"), "doc_id", 4)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_DUCK_COS = (
    "list_reduce(list_transform(a.embedding, (x, i) -> x::DOUBLE * b.embedding[i]::DOUBLE), (p, q) -> p + q)"
    " / (sqrt(list_reduce(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE), (p, q) -> p + q))"
    " * sqrt(list_reduce(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE), (p, q) -> p + q)))"
)


@register(
    "llm_dedup_embedding",
    sql=f"""
WITH e AS (
  SELECT *, (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {dd.BLOCK_CAP} AS sub
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_DUCK_COS}, 4) AS cos
FROM e a JOIN e b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
WHERE {_DUCK_COS} >= 0.3
""",
    tags=("dedup", "embedding-cosine"),
)
def llm_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked on the label column (at 100 TB
    the block key is an LSH/IVF bucket — see llm_sim_lsh/llm_sim_ivf for
    those bucketings).  Label blocks are capped at BLOCK_CAP members via
    deterministic sub-blocking so a hot label cannot explode the pairwise
    join."""
    e = dd.with_sub_block(
        _t(spark, sf, "embeddings"), ["label"], "vec_id"
    ).withColumn("nrm", F.expr(sim.norm_expr("embedding")))
    a = e.select(
        F.col("vec_id").alias("id_a"),
        "label",
        "sub",
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        "label",
        "sub",
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    joined = a.join(b, ["label", "sub"]).filter(F.col("id_a") < F.col("id_b"))
    cos = sim.cosine_col("va", "vb", "na", "nb")
    return (
        joined.withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.3)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cos"))
    )


# --- similarity search (Q1/Q2) ----------------------------------------------

@register(
    "llm_sim_bruteforce",
    sql=f"""
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id, round({_DUCK_COS}, 6) AS score
FROM embeddings a, b
WHERE a.vec_id <> 0
ORDER BY score DESC, a.vec_id
LIMIT 10
""",
    tags=("search", "Q1"),
)
def llm_sim_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Q1 exact top-k: brute-force cosine against the vec_id=0 query
    vector; TakeOrderedAndProject, query side broadcast."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return sim.topk_cosine(e.filter(F.col("vec_id") != 0), q, k=10)


@register(
    "llm_sim_filtered",
    sql=f"""
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id, a.label, round({_DUCK_COS}, 6) AS score
FROM embeddings a, b
WHERE a.label = 3
ORDER BY score DESC, a.vec_id
LIMIT 5
""",
    tags=("search", "Q2"),
)
def llm_sim_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Q2: metadata filter BEFORE scoring (predicate-first, then top-k)."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    top = sim.topk_cosine(e.filter(F.col("label") == 3), q, k=5)
    # every candidate passed the filter, so its label is the constant
    return top.select("vec_id", F.lit(3).alias("label"), "score")


def _duck_bucket(vec: str, planes: list[list[float]] | None = None) -> str:
    planes = planes if planes is not None else sim.hyperplanes()
    bits = []
    for k, plane in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        d = (
            f"list_reduce(list_transform({vec}, (x, i) -> x::DOUBLE * ({lit}::DOUBLE[])[i]), "
            "(p, q) -> p + q)"
        )
        bits.append(f"(CASE WHEN ({d}) >= 0 THEN 1 ELSE 0 END << {k})")
    return "CAST(" + " + ".join(bits) + " AS INT)"


@register(
    "llm_sim_lsh",
    sql=f"""
WITH b AS (SELECT embedding, {_duck_bucket('embedding')} AS bkt FROM embeddings WHERE vec_id = 0),
c AS (SELECT a.vec_id, a.embedding, {_duck_bucket('a.embedding')} AS bkt FROM embeddings a)
SELECT c.vec_id, round({_DUCK_COS.replace('a.embedding', 'c.embedding')}, 6) AS score
FROM c, b
WHERE c.bkt = b.bkt AND c.vec_id <> 0
ORDER BY score DESC, c.vec_id
LIMIT 5
""",
    tags=("search", "ann-lsh"),
)
def llm_sim_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via random-hyperplane LSH: score only the query's signature
    bucket (the 100 TB scale path — bucket-pruned scan, not a full pass)."""
    planes = sim.hyperplanes()
    e = _t(spark, sf, "embeddings").withColumn(
        "bkt", F.expr(sim.bucket_expr("embedding", planes))
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("bkt").alias("qbkt")
    )
    cands = e.join(F.broadcast(q), e.bkt == q.qbkt, "left_semi").filter(
        F.col("vec_id") != 0
    )
    return sim.topk_cosine(cands, q.select("qvec"), k=5)


# --- text analysis -----------------------------------------------------------

_DUCK_TOKS = "str_split(lower(text), ' ')"
_DUCK_STOP_EN = "['the', 'a', 'and', 'of', 'to', 'in']"


@register(
    "llm_text_stats",
    sql=f"""
SELECT doc_id,
  CAST(len({_DUCK_TOKS}) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct({_DUCK_TOKS})) AS INTEGER) AS n_distinct_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INTEGER) AS n_bpe_tokens,
  round(list_reduce(list_transform({_DUCK_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
        / len({_DUCK_TOKS}), 6) AS avg_token_len,
  round(len(list_filter({_DUCK_TOKS}, t -> list_contains({_DUCK_STOP_EN}, t)))::DOUBLE
        / len({_DUCK_TOKS}), 6) AS stopword_ratio
FROM documents
""",
    tags=("text", "token-count"),
)
def llm_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = ta.with_token_stats(_t(spark, sf, "documents"), "text")
    return d.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "n_bpe_tokens",
        "avg_token_len",
        "stopword_ratio",
    )


@register(
    "llm_text_quality",
    sql=f"""
WITH s AS (
  SELECT source,
    round(list_reduce(list_transform({_DUCK_TOKS}, t -> length(t)), (a, b) -> a + b)::DOUBLE
          / len({_DUCK_TOKS}), 6) AS avg_token_len,
    round(len(list_filter({_DUCK_TOKS}, t -> list_contains({_DUCK_STOP_EN}, t)))::DOUBLE
          / len({_DUCK_TOKS}), 6) AS stopword_ratio,
    len({_DUCK_TOKS}) AS n_tokens
  FROM documents
), q AS (
  SELECT source, round(0.4 * stopword_ratio + 0.3 * least(avg_token_len / 8.0, 1.0)
       + 0.3 * least(n_tokens / 256.0, 1.0), 6) AS quality
  FROM s
)
SELECT source, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality,
  round(min(quality), 6) AS min_quality, round(max(quality), 6) AS max_quality
FROM q GROUP BY source
""",
    tags=("text", "quality"),
)
def llm_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = ta.with_quality(ta.with_token_stats(_t(spark, sf, "documents"), "text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
    )


@register(
    "llm_text_langid",
    sql=f"""
WITH p AS (
  SELECT lang,
    len(list_filter({_DUCK_TOKS}, t -> list_contains({_DUCK_STOP_EN}, t))) AS en,
    len(list_filter({_DUCK_TOKS}, t -> list_contains(['der', 'die', 'das', 'und', 'zu'], t))) AS de,
    len(list_filter({_DUCK_TOKS}, t -> list_contains(['el', 'la', 'los', 'y', 'de'], t))) AS es
  FROM documents
)
SELECT lang,
  CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
       WHEN de >= es AND de > 0 THEN 'de'
       WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred,
  count(*) AS n
FROM p GROUP BY 1, 2
""",
    tags=("text", "lang-id"),
)
def llm_text_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = ta.with_langid(_t(spark, sf, "documents"), "text")
    return d.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


@register(
    "llm_text_fingerprint",
    sql=f"""
SELECT doc_id,
  md5(array_to_string({_DUCK_TOKS.replace('lower(text)', 'lower(trim(text))')}, ' ')) AS content_md5,
  list_min([md5(x) for x in {_DUCK_SHINGLES.replace('tk', _DUCK_TOKS)}]) AS winnow_fp
FROM documents
""",
    tags=("text", "fingerprint"),
)
def llm_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = ta.with_fingerprint(_t(spark, sf, "documents"), "text")
    return d.select("doc_id", "content_md5", "winnow_fp")


# --- chunk / enrich / embed (U1-U4) ------------------------------------------

@register(
    "kb_chunker",
    sql="""
SELECT doc_id, CAST(t.pos - 1 AS INTEGER) AS chunk_pos, t.cw AS chunk_text,
  CAST(len(str_split(t.cw, ' ')) AS INTEGER) AS n_window_tokens
FROM (
  SELECT doc_id, [array_to_string(tk[s:s+19], ' ') for s in generate_series(1, len(tk), 15)] AS w
  FROM (SELECT doc_id, str_split(text, ' ') tk FROM documents)
),
LATERAL (SELECT unnest(w) AS cw, generate_subscripts(w, 1) AS pos) t
""",
    tags=("U1", "chunker"),
)
def kb_chunker(spark: SparkSession, sf: str) -> DataFrame:
    """U1 token-window chunker: size 20, overlap 5 (reference defaults,
    TextProcessor.py:36-37), tail partial kept, JVM built-in path."""
    d = ck.chunk_windows(_ts(spark, sf, "documents"), "text", chunk_size=20, overlap=5)
    return d.select(
        "doc_id",
        "chunk_pos",
        "chunk_text",
        F.size(F.split("chunk_text", " ")).alias("n_window_tokens"),
    )


@register(
    "kb_keywords",
    sql="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM documents
), counted AS (
  SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, tok, n, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rn
  FROM counted
)
SELECT doc_id, string_agg(tok, ', ' ORDER BY rn) AS keywords
FROM ranked WHERE rn <= 5 GROUP BY doc_id
""",
    tags=("U2", "A4", "keywords"),
)
def kb_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """U2 deterministic keywords: term-frequency top-5 (ties broken
    alphabetically) — the LLM-off default the oracle requires
    (LLMService.py:118-134 is the optional LLM variant; A4 trim = rn<=5)."""
    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    counted = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("tok"))
    ranked = counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("rn", "tok"))), lambda s: s["tok"]),
            ", ",
        ).alias("keywords")
    )


@register(
    "kb_summary",
    sql="""
SELECT doc_id,
  array_to_string(str_split(text, ' ')[1:25], ' ') AS summary,
  CAST(least(len(str_split(text, ' ')), 25) AS INTEGER) AS n_summary_words
FROM documents
""",
    tags=("U3", "summary"),
)
def kb_summary(spark: SparkSession, sf: str) -> DataFrame:
    """U3 deterministic summary: 25-word truncation (LLM-off default;
    max_length semantics of LLMService.py:137-151)."""
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 25), " ").alias("summary"),
        F.least(F.size(toks), F.lit(25)).alias("n_summary_words"),
    )


@register(
    "kb_enrich_llm_stub",
    sql="""
WITH tok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
), firsts AS (
  SELECT doc_id, tok, min(ord) AS first_ord
  FROM tok WHERE tok <> '' GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, tok,
    row_number() OVER (PARTITION BY doc_id ORDER BY first_ord) AS rn
  FROM firsts
), kw AS (
  SELECT doc_id, string_agg(tok, ', ' ORDER BY rn) AS keywords
  FROM ranked WHERE rn <= 5 GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(kw.keywords, '') AS keywords,
  array_to_string(str_split(d.text, ' ')[1:25], ' ') AS summary
FROM documents d LEFT JOIN kw USING (doc_id)
""",
    tags=("U2", "U3", "llm", "mapInPandas"),
)
def kb_enrich_llm_stub(spark: SparkSession, sf: str) -> DataFrame:
    """External-LLM enrichment machinery (``operators/llm_enrich.py``:
    mapInPandas -> endpoint batches -> bounded thread pool -> retry) run
    against the deterministic stub endpoint, so the full enable_llm=True
    code path sits behind the driver's correctness gate.  Stub semantics:
    keywords = first 5 distinct tokens in appearance order, summary =
    25-word truncation (LLMService.py:118-151 result shapes)."""
    from knowledgebot_spark.operators import llm_enrich as le

    d = _t(spark, sf, "documents")
    return le.enrich_documents(
        d,
        le.DeterministicStubClient,
        le.LLMEnrichConfig(top_n=5, max_words=25, batch_size=16, max_concurrency=4),
    )


@register(
    "kb_embed",
    sql="""
SELECT doc_id, CAST(j AS INTEGER) AS dim_idx,
  (list_reduce(list_transform(tk, t -> ('0x' || substr(md5(t || ':' || CAST(j AS STRING)), 1, 8))::BIGINT % 1000),
        (a, b) -> a + b) * 1000) // len(tk) AS value_micro
FROM (SELECT doc_id, str_split(coalesce(text, '') , ' ') tk FROM documents),
     (SELECT unnest(generate_series(0, 15)) AS j)
""",
    tags=("U4", "embedding"),
)
def kb_embed(spark: SparkSession, sf: str) -> DataFrame:
    """U4 deterministic hash embedder in exact integer micro-units (the
    float variant, a Spark expression over the same ``token_component_col``,
    is ``operators.embedding.with_embedding``).

    Formulated as ONE token explode with 16 codegen'd md5 component
    columns per token row -> per-doc partial+final agg of 16 sums -> a
    16-row stack, rather than a higher-order aggregate() lambda (HOF
    lambdas run interpreted per element, which made this the slowest
    headline query) or a token x dim double explode (16x the rows through
    Generate for the same hash count).  The shuffle carries 16 partial
    sums + a count per doc; everything row-wise is whole-stage codegen."""
    d = _ts(spark, sf, "documents")
    # coalesce: explode(split(NULL)) would DROP a null-text doc entirely,
    # while the oracle's cross join emits its 16 dim rows; '' embeds as the
    # single empty token on both sides.
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("t"),
    )

    per_tok = toks.select(
        "doc_id",
        *[em.token_component_col("t", j).alias(f"c{j}") for j in range(16)],
    )
    sums = per_tok.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(f"c{j}").alias(f"s{j}") for j in range(16)],
    )
    stack_args = ", ".join(f"{j}, (s{j} * 1000) div n" for j in range(16))
    return sums.selectExpr(
        "doc_id",
        f"stack(16, {stack_args}) AS (dim_idx, value_micro)",
    )


# --- multimodal --------------------------------------------------------------

@register(
    "llm_multimodal_meta",
    sql="""
SELECT doc_id AS asset_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(strlen(text) AS INTEGER) AS byte_len,
  md5(text) AS content_md5,
  CAST((doc_id * 37) % 640 + 1 AS INTEGER) AS width,
  CAST((doc_id * 53) % 480 + 1 AS INTEGER) AS height
FROM documents
""",
    tags=("multimodal", "mapInPandas"),
)
def llm_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas: md5/byte-length
    computed from real payload bytes in Arrow batches; decode dimensions
    from the deterministic stub (real decoder is the documented swap
    point)."""
    assets = mm.to_media_assets(_t(spark, sf, "documents"))
    return mm.decode_meta(assets, deterministic_fake=True)


@register(
    "llm_multimodal_frames",
    sql="""
SELECT asset_id, media_type, duration_ms,
  CAST(t.pos - 1 AS INTEGER) AS frame_no, t.v AS frame_ts_ms
FROM (
  SELECT doc_id AS asset_id,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
    CAST((doc_id * 997) % 10000 + 1000 AS BIGINT) AS duration_ms
  FROM documents
),
LATERAL (SELECT unnest(generate_series(0, duration_ms, 1000)) AS v,
                generate_subscripts(generate_series(0, duration_ms, 1000), 1) AS pos) t
""",
    tags=("multimodal", "frame-sample"),
)
def llm_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame timestamp."""
    assets = mm.to_media_assets(_t(spark, sf, "documents")).drop("payload")
    return mm.frame_sample_indices(assets, every_ms=1000)


# --- TF-IDF text analysis (U2's principled form; SQL-expressible) ------------

@register(
    "llm_tfidf_topterm",
    sql="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term AS top_term, tfidf AS top_tfidf FROM ranked WHERE rn = 1
""",
    tags=("text", "tfidf", "U2"),
)
def llm_tfidf_topterm(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF scoring with smoothed IDF ln((N+1)/(df+1)): the top term per
    document.  The df table is tiny relative to the corpus (vocabulary) and
    broadcasts; tf aggregates map-side.  N is a broadcast one-row aggregate
    folded into the plan (the DuckDB oracle's ``n`` CTE), NOT a driver-side
    ``count()`` — building this DataFrame triggers no Spark job.  This is
    the deterministic, oracle-checkable form of U2's keyword scoring (MLlib
    CountVectorizer/IDF produce the same ranking; see tests/test_mllib.py)."""
    d = _t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.col("tfidf").alias("top_tfidf"))
    )


# --- MLlib LSH variants (fitted-model scale path; seeded => run-stable, but
# --- model internals are not SQL-reproducible).  Each emits a GATED-HASH
# --- contract (the rel_approx_distinct pattern): exact, SQL-reproducible
# --- values plus booleans asserting the approximate mechanism's quality
# --- against the registered exact twin — so a recall/exactness regression
# --- FAILS the driver hash gate instead of hiding behind rows-only. -----------


def _duck_minhash_mllib_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    mh = _REGISTRY["llm_dedup_minhash"].sql
    return f"""
WITH det AS ({mh})
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, TRUE AS mllib_recall_ge_0_9
FROM det WHERE jaccard >= 0.8
"""


@register(
    "llm_dedup_minhash_mllib",
    sql=_duck_minhash_mllib_sql(),
    tags=("dedup", "mllib", "MinHashLSH"),
)
def llm_dedup_minhash_mllib(spark: SparkSession, sf: str) -> DataFrame:
    """MLlib MinHashLSH over binary token-presence vectors
    (approxSimilarityJoin at Jaccard distance <= 0.2, numHashTables=8,
    seeded), cross-validated in-query against the deterministic banded
    MinHash twin (llm_dedup_minhash): emits the exact count of
    high-similarity pairs the deterministic detector finds (jaccard >=
    0.8) and a boolean asserting MLlib's candidate join recovers >= 90%
    of them.  The two detectors block independently (token-presence
    signatures vs shingle-hash bands), so the recall gate is a real
    cross-check, hash-checkable by the driver (measured recall: 100% at
    sf0.001 and sf0.01).  Raw pair output remains available via
    tests/test_mllib.py."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    d = _t(spark, sf, "documents").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks")
    )
    cv = CountVectorizer(
        inputCol="toks", outputCol="features", binary=True, minDF=1.0
    ).fit(d)
    feats = cv.transform(d).select("doc_id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    pairs = lsh.approxSimilarityJoin(feats, feats, 0.2, distCol="jaccard_dist")
    ml = pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("id_a"),
        F.col("datasetB.doc_id").alias("id_b"),
        F.lit(1).alias("hit"),
    )
    import knowledgebot_spark.queries_llm as _self

    det = (
        _self.llm_dedup_minhash(spark, sf)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    return det.join(ml, ["id_a", "id_b"], "left").agg(
        F.count("*").cast("bigint").alias("n_exact_pairs"),
        (
            F.coalesce(F.sum("hit"), F.lit(0)) >= 0.9 * F.count("*")
        ).alias("mllib_recall_ge_0_9"),
    )


_DUCK_EUCLID = (
    "sqrt(list_reduce(list_transform(a.embedding, "
    "(x, i) -> (x::DOUBLE - b.embedding[i]::DOUBLE) * (x::DOUBLE - b.embedding[i]::DOUBLE)), "
    "(p, q) -> p + q))"
)

_SPARK_EUCLID = (
    "sqrt(aggregate(zip_with(embedding, qvec, "
    "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
    "CAST(0 AS DOUBLE), (a, v) -> a + v))"
)


@register(
    "llm_sim_brp_mllib",
    sql=f"""
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id, round({_DUCK_EUCLID}, 6) AS distance, TRUE AS brp_recall_ge_0_7
FROM embeddings a, b
WHERE a.vec_id <> 0
ORDER BY distance, a.vec_id
LIMIT 10
""",
    tags=("search", "mllib", "BRP-LSH"),
)
def llm_sim_brp_mllib(spark: SparkSession, sf: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ANN (approxNearestNeighbors for
    vec_id 0's embedding, k=10 euclidean, 4 hash tables, seeded), gated
    against the exact answer in-query: emits the exact brute-force
    euclidean top-10 (SQL-reproducible; left-to-right double fold matches
    the DuckDB oracle bit-for-bit) plus a boolean asserting BRP recovered
    >= 7 of the 10 true neighbors (measured: 10/10 at sf0.001, 9/10 at
    sf0.01).  An LSH recall collapse now fails the driver hash gate."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("distance", F.round(F.expr(_SPARK_EUCLID), 6))
        .select("vec_id", "distance")
        .orderBy("distance", "vec_id")
        .limit(10)
    )
    ev = e.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    ).fit(ev)
    qvec = ev.filter(F.col("vec_id") == 0).first().features
    nn = brp.approxNearestNeighbors(ev.filter(F.col("vec_id") != 0), qvec, 10)
    gate = exact.join(nn.select("vec_id"), "vec_id").agg(
        (F.count("*") >= 7).alias("brp_recall_ge_0_7")
    )
    return exact.crossJoin(F.broadcast(gate))


@register(
    "llm_sim_ivf",
    sql=f"""
WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
bf AS (
  SELECT a.vec_id, round({_DUCK_COS}, 6) AS score
  FROM embeddings a, b
  WHERE a.vec_id <> 0
  ORDER BY score DESC, a.vec_id
  LIMIT 10
)
SELECT
  CAST((SELECT vec_id FROM bf ORDER BY score DESC, vec_id LIMIT 1) AS BIGINT) AS bf_top1_vec_id,
  (SELECT score FROM bf ORDER BY score DESC, vec_id LIMIT 1) AS bf_top1_score,
  CAST(10 AS BIGINT) AS n_ivf,
  TRUE AS ivf_scores_exact,
  TRUE AS ivf_recall_ge_0_3
""",
    tags=("search", "ann-ivf", "mllib-kmeans"),
)
def llm_sim_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN (see similarity.ivf_topk: seeded KMeans cells over
    normalized vectors, nprobe=4 of nlist=16, exact cosine inside probed
    cells), gated against the exact brute-force twin in-query.  Emits the
    SQL-reproducible bruteforce top-1 (id + score) plus three gates:
    result count, "every IVF score equals the independently-computed
    exact cosine for that id at 6dp" (catches scoring drift), and
    "IVF recovers >= 3 of the true top-10" — the honest floor: with
    nprobe/nlist = 1/4 of cells probed, measured recall is 4/10 at
    sf0.001 and 10/10 at sf0.01 (recall rises with corpus density; the
    planted-cluster tests pin the high-recall regime).  KMeans cell
    assignments stay non-SQL-reproducible, but quality regressions now
    fail the driver hash gate."""
    e = _t(spark, sf, "embeddings")
    ivf = sim.ivf_topk(e, k=10, nlist=16, nprobe=4)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    bf = sim.topk_cosine(e.filter(F.col("vec_id") != 0), q, k=10)
    top1 = bf.orderBy(F.desc("score"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").cast("bigint").alias("bf_top1_vec_id"),
        F.col("score").alias("bf_top1_score"),
    )
    n_row = ivf.agg(F.count("*").cast("bigint").alias("n_ivf"))
    # independent exact rescoring of IVF's returned ids (prenorm cosine path)
    rescored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q.withColumn("qn", F.expr(sim.norm_expr("qvec")))))
        .withColumn(
            "exact_score",
            F.round(sim.cosine_col("embedding", "qvec", nb="qn"), 6),
        )
        .select("vec_id", "exact_score")
    )
    # coalesce to false: every() skips nulls, so an IVF row whose vec_id is
    # absent from the rescoring relation (invalid id) must FAIL the gate,
    # not be silently ignored
    match_row = ivf.join(rescored, "vec_id", "left").agg(
        F.every(
            F.coalesce(F.col("score") == F.col("exact_score"), F.lit(False))
        ).alias("ivf_scores_exact")
    )
    recall_row = bf.join(ivf.select("vec_id"), "vec_id").agg(
        (F.count("*") >= 3).alias("ivf_recall_ge_0_3")
    )
    return (
        top1.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(match_row))
        .crossJoin(F.broadcast(recall_row))
    )


# --- training-pipeline extras: sampling, packing, corpus filtering -----------

@register(
    "llm_sample_stratified",
    sql="""
WITH split AS (
  SELECT doc_id, lang, n_chars,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
  FROM documents
)
SELECT lang,
  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM split GROUP BY 1, 2
""",
    tags=("sampling", "train-val-test"),
)
def llm_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash-bucket each doc_id
    (md5 first 4 hex chars % 100 -> 80/10/10) so the split is stable across
    runs, engines, and cluster sizes — no RNG, no sampleBy seed coupling.
    Embarrassingly parallel (per-row hash + one agg shuffle); at 100 TB the
    same expression assigns splits in-scan.  Reported stratified by lang."""
    d = _t(spark, sf, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@register(
    "llm_pack_sequences",
    sql="""
WITH toks AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS n_tokens FROM documents
), packed AS (
  SELECT source, doc_id, n_tokens,
    CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512 AS BIGINT) AS pack_id
  FROM toks
)
SELECT source, pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY 1, 2
""",
    tags=("packing", "pretraining"),
)
def llm_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents in
    deterministic (source, doc_id) order and cut at a 512-token budget —
    pack_id = floor(tokens-before-this-doc / budget), the streaming
    concat-and-split formulation (no bin-packing search).  Runs as ONE
    window cumsum partitioned by source + one agg: both shuffles are on
    bounded keys, so 1000 sources pack in parallel; at 100 TB the partition
    key is (source, shard) to bound per-partition row counts."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).cast("bigint"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
    )


@register(
    "llm_corpus_filter",
    sql="""
WITH scored AS (
  SELECT doc_id,
    len(str_split(text, ' ')) AS n_tokens,
    n_chars,
    round(len(list_filter(str_split(lower(text), ' '),
                          t -> t IN ('the', 'a'))) * 1.0
          / greatest(len(str_split(text, ' ')), 1), 4) AS stop_ratio,
    round(n_chars * 1.0 / greatest(len(str_split(text, ' ')), 1), 4) AS mean_tok_len
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, stop_ratio, mean_tok_len,
  CASE
    WHEN n_tokens < 10 THEN 'too_short'
    WHEN n_tokens > 100000 THEN 'too_long'
    WHEN mean_tok_len > 12 THEN 'tokens_too_long'
    WHEN stop_ratio = 0 THEN 'no_stopwords'
    ELSE 'keep'
  END AS verdict
FROM scored
""",
    tags=("quality", "corpus-filter"),
)
def llm_corpus_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus filter: per-document keep/reject with the FIRST
    failing rule as the verdict (short/long docs, over-long mean token
    length, zero-stopword gibberish).  Pure JVM expressions in one
    projection — no shuffle at all until a consumer aggregates; the
    filter itself is a map-side predicate at any scale.  Complements
    llm_text_quality (continuous score) with the reject decision."""
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_ratio = F.round(
        F.size(F.filter(F.split(F.lower("text"), " "), lambda t: t.isin("the", "a")))
        / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    mean_tok_len = F.round(F.col("n_chars") / F.greatest(n_tokens, F.lit(1)), 4)
    verdict = (
        F.when(n_tokens < 10, "too_short")
        .when(n_tokens > 100000, "too_long")
        .when(mean_tok_len > 12, "tokens_too_long")
        .when(stop_ratio == 0, "no_stopwords")
        .otherwise("keep")
    )
    return d.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        verdict.alias("verdict"),
    )


@register(
    "llm_embed_quantize",
    sql="""
WITH scaled AS (
  SELECT label,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m,
    embedding
  FROM embeddings
), quant AS (
  SELECT label,
    list_transform(
      embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) / nullif(m, 0) * 127 + 0.5) AS BIGINT)
    ) AS q
  FROM scaled
)
SELECT label,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT)) AS BIGINT)
    AS sum_abs_q,
  CAST(min(list_min(q)) AS BIGINT) AS min_q,
  CAST(max(list_max(q)) AS BIGINT) AS max_q
FROM quant GROUP BY label
""",
    tags=("embedding", "quantization"),
)
def llm_embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 embedding quantization (max-abs scaling) — the storage-
    reduction pass a 100 TB embedding store runs before indexing (float32
    -> int8 is 4x smaller; IVF/LSH recall is scale-invariant).  Max-abs
    scaling is chosen over L2 because max() is order-independent, so the
    quantized codes are bit-identical across engines (no float summation
    anywhere before the integer domain) — every output column is exact.
    Per-row array math, no shuffle except the final label rollup."""
    d = _t(spark, sf, "embeddings")
    scaled = d.select(
        "label",
        "embedding",
        F.expr(
            "array_max(transform(embedding, x -> abs(cast(x as double))))"
        ).alias("m"),
    )
    quant = scaled.select(
        "label",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            " / nullif(m, 0d) * 127d + 0.5d) as bigint))"
        ).alias("q"),
    )
    return quant.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum(
            F.expr("aggregate(q, 0L, (a, v) -> a + abs(v))")
        ).cast("bigint").alias("sum_abs_q"),
        F.min(F.array_min("q")).cast("bigint").alias("min_q"),
        F.max(F.array_max("q")).cast("bigint").alias("max_q"),
    )


@register(
    "llm_inverted_index",
    sql="""
WITH pairs AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term FROM documents
  ) WHERE length(term) > 0
)
SELECT term,
  CAST(count(*) AS BIGINT) AS df,
  array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',') AS postings
FROM pairs GROUP BY term HAVING count(*) >= 5
""",
    tags=("text", "inverted-index"),
)
def llm_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus inverted index: term -> document frequency + sorted posting
    list.  Explode-distinct-groupBy — one shuffle keyed by term.  Postings
    are truncated to the first 20 doc ids (the ``df`` column keeps the true
    frequency, so nothing is silently lost); a production index shards the
    full lists by (term, bucket) instead of capping.  The df >= 5 floor
    drops the long hapax tail, and stop-word-grade hot terms are exactly
    the skewed keys rel_salted_agg's salting pattern handles — here the
    per-term payload after the distinct is just doc ids, so the reduce
    side stays small even for hot terms."""
    d = _t(spark, sf, "documents")
    pairs = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .distinct()
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


# --- corpus n-gram counts -----------------------------------------------------

@register(
    "llm_ngram_counts",
    sql="""
WITH tok AS (SELECT str_split(lower(text), ' ') AS tk FROM documents),
big AS (
  SELECT tk[i] || ' ' || tk[i + 1] AS bigram
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) t
  WHERE len(tk) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM big GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 50
""",
    tags=("text", "ngram-counts"),
)
def llm_ngram_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-50 bigram counts — the canonical "count n-grams over
    the whole crawl" job.  transform-over-sequence builds bigrams inside the
    row (no self-join), explode+groupBy is one shuffle keyed by bigram with
    map-side partial counts, and the top-50 is TakeOrderedAndProject (no
    global sort).  Tie-broken by (n DESC, bigram) so the cut is
    deterministic."""
    d = _t(spark, sf, "documents")
    bigrams = (
        d.select(F.split(F.lower("text"), " ").alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


# --- quality-signal ensemble --------------------------------------------------

@register(
    "llm_quality_ensemble",
    sql="""
WITH scored AS (
  SELECT doc_id,
    round(0.5 * least(n_chars / 2000.0, 1.0)
        + 0.5 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 / greatest(length(text), 1)), 6) AS quality
  FROM documents
), bucketed AS (
  SELECT quality, ntile(10) OVER (ORDER BY quality, doc_id) AS decile FROM scored
)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
  round(min(quality), 6) AS min_q, round(max(quality), 6) AS max_q
FROM bucketed GROUP BY decile
""",
    tags=("text", "quality", "ensemble"),
)
def llm_quality_ensemble(spark: SparkSession, sf: str) -> DataFrame:
    """Ensemble quality score (length signal + alphabetic-ratio signal,
    equal weights) bucketed into deciles — the shape of every
    classifier-based corpus filter: score per doc (embarrassingly
    parallel), then a quantile cut to pick the keep set.  ntile is ordered
    by (quality, doc_id) so bucket assignment is deterministic, and runs
    as a DISTRIBUTED exact ntile (operators/ranking.py: range-partition +
    partition-offset arithmetic) — no single-partition corpus window
    anywhere in the plan, identical values to the window formulation."""
    from knowledgebot_spark.operators import ranking as rk

    d = _t(spark, sf, "documents")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    scored = d.select(
        "doc_id",
        F.round(
            0.5 * F.least(F.col("n_chars") / 2000.0, F.lit(1.0)) + 0.5 * alpha_ratio,
            6,
        ).alias("quality"),
    )
    bucketed = rk.with_global_ntile(
        scored, [F.col("quality").asc(), F.col("doc_id").asc()], 10, out="decile"
    ).select("quality", "decile")
    return bucketed.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"),
    )


# --- corpus length histogram --------------------------------------------------

@register(
    "llm_length_histogram",
    sql="""
SELECT CAST(floor(log2(greatest(n_chars, 1))) AS INTEGER) AS bucket_log2,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(n_chars) AS BIGINT) AS min_chars,
  CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY 1
""",
    tags=("text", "histogram", "corpus-stats"),
)
def llm_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the first diagnostic every
    corpus build runs.  A fixed, data-independent bucket function means the
    histogram is a plain hash agg (mergeable partials, ~60 buckets total
    regardless of corpus size) — never a sort and never a collect; floor/
    log2 on integers is exact in IEEE doubles so both engines agree."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy(
            F.floor(F.log2(F.greatest("n_chars", F.lit(1))))
            .cast("int")
            .alias("bucket_log2")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# --- Zipf fit over term frequencies -------------------------------------------

@register(
    "llm_zipf_slope",
    sql="""
WITH tf AS (
  SELECT term, count(*) AS freq FROM (
    SELECT unnest(str_split(lower(text), ' ')) AS term FROM documents
  ) WHERE length(term) > 0 GROUP BY term
), ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rnk FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
  round(regr_slope(ln(freq), ln(rnk)), 3) AS zipf_slope,
  round(regr_r2(ln(freq), ln(rnk)), 3) AS fit_r2
FROM ranked WHERE rnk <= 1000
""",
    tags=("text", "zipf", "corpus-stats"),
)
def llm_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit: regress log(freq) on log(rank) over the top-1000
    terms — a one-number corpus health check (natural text slopes ~ -1;
    boilerplate-heavy or synthetic corpora drift off).  The explode+count
    shuffles on term with map-side partials; the rank window runs over the
    VOCABULARY (orders of magnitude smaller than the corpus — the docstring
    caveat on single-partition windows does not bite, and at 100 TB the
    top-1000 cut happens via TakeOrdered before ranking)."""
    d = _t(spark, sf, "documents")
    tf = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    ranked = tf.select(
        "freq",
        F.row_number().over(Window.orderBy(F.desc("freq"), "term")).alias("rnk"),
    ).filter(F.col("rnk") <= 1000)
    lf, lr = F.log("freq"), F.log("rnk")
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 3).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 3).alias("fit_r2"),
    )


# --- multimodal: audio windowing + image resize planning ----------------------

_DUCK_SR = "CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END"


@register(
    "llm_multimodal_audio",
    sql=f"""
WITH a AS (
  SELECT doc_id AS asset_id,
    CAST({_DUCK_SR} AS INTEGER) AS sample_rate,
    CAST((doc_id * 7919) % 200000 + {_DUCK_SR} AS BIGINT) AS n_samples
  FROM documents
)
SELECT asset_id, sample_rate, n_samples,
  CAST(t.pos - 1 AS INTEGER) AS window_no,
  CAST(t.v AS BIGINT) AS start_sample,
  CAST(t.v + sample_rate AS BIGINT) AS end_sample
FROM a, LATERAL (
  SELECT unnest(generate_series(0, n_samples - sample_rate, sample_rate // 2)) AS v,
         generate_subscripts(generate_series(0, n_samples - sample_rate, sample_rate // 2), 1) AS pos
) t
""",
    tags=("multimodal", "audio", "windowing"),
)
def llm_multimodal_audio(spark: SparkSession, sf: str) -> DataFrame:
    """Audio analysis-window plumbing: 1-second windows, 50% hop, from
    typed metadata (operators/multimodal.audio_window_indices); the PCM
    decode is the documented stub seam."""
    assets = mm.to_media_assets(_t(spark, sf, "documents")).drop("payload")
    return mm.audio_window_indices(assets)


@register(
    "llm_multimodal_resize",
    sql="""
SELECT doc_id AS asset_id, width, height,
  CAST(greatest(floor(width * 224.0 / greatest(width, height) + 0.5), 1) AS INTEGER) AS target_w,
  CAST(greatest(floor(height * 224.0 / greatest(width, height) + 0.5), 1) AS INTEGER) AS target_h
FROM (
  SELECT doc_id,
    CAST((doc_id * 37) % 640 + 1 AS INTEGER) AS width,
    CAST((doc_id * 53) % 480 + 1 AS INTEGER) AS height
  FROM documents
)
""",
    tags=("multimodal", "image", "resize"),
)
def llm_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Aspect-preserving resize planning (max side 224) over decoded image
    dimensions (operators/multimodal.resize_targets) — relational planning
    of the UDF stage's batch shapes; the pixel resample is the stub seam."""
    meta = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.expr("CAST((doc_id * 37) % 640 + 1 AS INT)").alias("width"),
        F.expr("CAST((doc_id * 53) % 480 + 1 AS INT)").alias("height"),
    )
    return mm.resize_targets(meta, max_side=224)


# --- deterministic train/val/test split ---------------------------------------

@register(
    "llm_train_val_split",
    sql="""
WITH assigned AS (
  SELECT doc_id,
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS min_id,
  CAST(max(doc_id) AS BIGINT) AS max_id
FROM assigned GROUP BY split
""",
    tags=("sampling", "split", "training-data"),
)
def llm_train_val_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split by hashing the
    DOCUMENT ID (md5 hex prefix thresholds: 'cc' = 204/256 ~ 79.7%,
    'e6' = 230/256 ~ 89.8%) — the reproducible-split pattern every corpus
    build needs: membership is a pure function of the id, so re-runs,
    backfills, and incremental additions never migrate a document across
    splits (no global shuffle, no stored assignment table).  Spark md5 and
    DuckDB md5 agree byte-for-byte, making the assignment itself
    oracle-verified."""
    d = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    assigned = d.select(
        "doc_id",
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# --- token-budget greedy selection --------------------------------------------

@register(
    "llm_token_budget",
    sql="""
WITH scored AS (
  SELECT doc_id,
    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    round(least(n_chars / 2000.0, 1.0), 6) AS quality
  FROM documents
), ranked AS (
  SELECT doc_id, n_tokens, quality,
    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, n_tokens, quality, cum_tokens
FROM ranked WHERE cum_tokens <= 20000
""",
    tags=("sampling", "token-budget", "training-data"),
)
def llm_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy token-budget selection: take documents in descending quality
    order until the cumulative token count hits the budget — how a curation
    pass fills a fixed training-token allowance with the best material.
    Deterministic order (quality DESC, doc_id).  The running sum is a
    DISTRIBUTED exact global cumsum (operators/ranking.py: range-partition
    + per-partition offsets, one corpus shuffle, no single-partition
    window) — identical values to the window formulation at any scale."""
    from knowledgebot_spark.operators import ranking as rk

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.round(F.least(F.col("n_chars") / 2000.0, F.lit(1.0)), 6).alias("quality"),
    )
    ranked = rk.with_global_cumsum(
        scored,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        F.col("n_tokens"),
        out="cum_tokens",
    )
    return ranked.filter(F.col("cum_tokens") <= 20000).select(
        "doc_id", "n_tokens", "quality", "cum_tokens"
    )


# --- temperature-scaled source mixing -----------------------------------------

@register(
    "llm_source_mixing",
    sql="""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts),
powed AS (
  SELECT source, n_docs, pow(n_docs * 1.0 / tot.total, 0.7) AS p_alpha
  FROM counts CROSS JOIN tot
), z AS (SELECT sum(p_alpha) AS norm FROM powed)
SELECT source, n_docs,
  round(n_docs * 1.0 / (SELECT total FROM tot), 6) AS p_raw,
  round(p_alpha / z.norm, 6) AS p_mixed
FROM powed CROSS JOIN z
""",
    tags=("sampling", "mixing", "training-data"),
)
def llm_source_mixing(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source mixing weights, p_i^alpha / sum(p_j^alpha)
    with alpha = 0.7 — the standard recipe for up-sampling tail
    sources/languages in a training mix.  Every scalar (total, norm) is a
    broadcast one-row aggregate folded into the plan via crossJoin, never a
    driver-side collect; the per-source table is dimension-sized, so all
    joins broadcast."""
    d = _t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    powed = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total",
        F.pow(F.col("n_docs") / F.col("total"), 0.7).alias("p_alpha"),
    )
    z = powed.agg(F.sum("p_alpha").alias("norm"))
    return powed.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("p_raw"),
        F.round(F.col("p_alpha") / F.col("norm"), 6).alias("p_mixed"),
    )


# --- per-document token entropy -----------------------------------------------

@register(
    "llm_word_entropy",
    sql="""
WITH tok AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term FROM documents
), tc AS (
  SELECT doc_id, term, count(*) AS c FROM tok WHERE length(term) > 0 GROUP BY 1, 2
), tot AS (SELECT doc_id, sum(c) AS n FROM tc GROUP BY 1)
SELECT tc.doc_id, CAST(any_value(tot.n) AS BIGINT) AS n_tokens,
  round(-sum((c * 1.0 / tot.n) * ln(c * 1.0 / tot.n)), 4) AS entropy
FROM tc JOIN tot ON tc.doc_id = tot.doc_id
GROUP BY tc.doc_id
""",
    tags=("text", "entropy", "quality"),
)
def llm_word_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document unigram (word) Shannon entropy — the cheap perplexity
    proxy: highly repetitive or template documents score low and get
    filtered.  Two shuffles, both keyed by doc_id (term counts aggregate
    map-side first); the totals join is doc_id-co-partitioned with the
    groupBy so no extra exchange.  All JVM built-ins — no UDF in the
    scoring path."""
    d = _t(spark, sf, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    tot = tc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tc.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("n")).cast("bigint").alias("n_tokens"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


# --- cross-shard duplicate accounting -----------------------------------------

@register(
    "llm_dedup_cross_shard",
    sql="""
WITH keyed AS (
  SELECT DISTINCT
    md5(array_to_string(str_split(lower(text), ' ')[1:8], ' ')) AS dup_key,
    source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared_keys
FROM keyed a JOIN keyed b ON a.dup_key = b.dup_key AND a.source < b.source
GROUP BY a.source, b.source
""",
    tags=("dedup", "cross-shard", "training-data"),
)
def llm_dedup_cross_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-shard duplicate accounting: for every pair of sources, how
    many normalized content keys they share — the report that decides
    which corpus overlaps which before a global dedup pass.  The self-join
    runs on the DISTINCT (key, source) projection, so per-key fan-out is
    bounded by the number of sources (a handful), never by document
    multiplicity; the a < b predicate keeps each pair once."""
    d = _t(spark, sf, "documents")
    keyed = d.select(
        F.expr("md5(array_join(slice(split(lower(text), ' '), 1, 8), ' '))").alias(
            "dup_key"
        ),
        "source",
    ).distinct()
    a = keyed.select(F.col("dup_key"), F.col("source").alias("source_a"))
    b = keyed.select(F.col("dup_key"), F.col("source").alias("source_b"))
    return (
        a.join(b, "dup_key")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_keys"))
    )


# --- vocabulary coverage / OOV accounting -------------------------------------

@register(
    "llm_vocab_coverage",
    sql="""
WITH tok AS (
  SELECT source, unnest(str_split(lower(text), ' ')) AS term FROM documents
),
nz AS (SELECT source, term FROM tok WHERE length(term) > 0),
vocab AS (
  SELECT term FROM nz GROUP BY term ORDER BY count(*) DESC, term LIMIT 20
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
    AS oov_rate
FROM nz LEFT JOIN vocab v USING (term)
GROUP BY source
""",
    tags=("text", "vocab", "tokenizer-design", "training-data"),
)
def llm_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-design diagnostic: induce a top-K frequency vocabulary
    over the whole corpus, then report per-source token counts and
    out-of-vocabulary rate — the measurement that decides vocab size and
    flags sources a fixed vocab would shred into bytes.  The vocab is ONE
    hash agg + TakeOrderedAndProject (top-K, never a global sort) and is
    broadcast into the coverage join, so the token stream is scanned
    without any shuffle-by-term on the big side; per-source stats are a
    second map-side-combined hash agg.  Tie-broken by (count DESC, term)
    so the vocab cut is deterministic across engines."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.length("term") > 0)
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(20)
        .select("term")
    )
    return (
        toks.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.isnull("in_vocab").cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.isnull("in_vocab").cast("long")) / F.count("*"), 6
            ).alias("oov_rate"),
        )
    )


# --- incremental (CDC-shaped) near-dup gate vs an existing corpus -------------

@register(
    "llm_dedup_incremental",
    sql="""
WITH tok AS (
  SELECT doc_id, source, str_split(lower(text), ' ') AS tk FROM documents
),
sh AS (
  SELECT doc_id, source,
    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS g
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk) - 4)) AS i) t
  WHERE len(tk) >= 5
),
corpus AS (SELECT DISTINCT g FROM sh WHERE source SIMILAR TO 'src[0-9]'),
inc AS (SELECT doc_id, source, g FROM sh WHERE source SIMILAR TO 'src1[0-9]'),
cov AS (
  SELECT i.doc_id, i.source, count(*) AS total,
    sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM inc i LEFT JOIN corpus c USING (g)
  GROUP BY i.doc_id, i.source
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN hit * 1.0 / total >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup,
  CAST(sum(CASE WHEN hit * 1.0 / total >= 0.8 THEN 0 ELSE 1 END) AS BIGINT)
    AS n_kept
FROM cov GROUP BY source
""",
    tags=("dedup", "incremental", "cdc", "training-data"),
)
def llm_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus ingestion gate: an incoming batch (sources
    src10..src19) is deduped AGAINST the existing corpus (src0..src9)
    without re-deduping the corpus itself — the CDC shape every recurring
    crawl ingest runs, where the corpus is orders of magnitude larger than
    the increment.  A doc is a duplicate when >= 80% of its 5-gram word
    shingles already exist corpus-side (Dolma/C4-style segment coverage,
    robust to small edits where an exact hash is not).  The only shuffle
    on the corpus side is the DISTINCT shingle projection — at 100 TB that
    set is precomputed once and reused per increment (or replaced by a
    bloom filter for the first pass); the join is shingle-keyed hash
    equi-join, never doc x doc."""
    d = _t(spark, sf, "documents")
    sh = (
        d.select(
            "doc_id", "source", F.split(F.lower("text"), " ").alias("tk")
        )
        .filter(F.size("tk") >= 5)  # sequence(1, n) descends for n < 1
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 4), "
                    "i -> array_join(slice(tk, i, 5), ' '))"
                )
            ).alias("g"),
        )
    )
    corpus = (
        sh.filter(F.col("source").rlike("^src[0-9]$"))
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    inc = sh.filter(F.col("source").rlike("^src1[0-9]$"))
    cov = (
        inc.join(corpus, "g", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.coalesce("hit", F.lit(0)).cast("long")).alias("hit_n"),
        )
    )
    is_dup = F.col("hit_n") / F.col("total") >= 0.8
    return cov.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(is_dup.cast("long")).alias("n_dup"),
        F.sum((~is_dup).cast("long")).alias("n_kept"),
    )


# --- per-source quantile quality filter ---------------------------------------

@register(
    "llm_quality_filter_quantile",
    sql="""
WITH scored AS (
  SELECT doc_id, source,
    round(0.5 * least(n_chars / 2000.0, 1.0)
        + 0.5 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 / greatest(length(text), 1)), 6) AS quality
  FROM documents
),
ranked AS (
  SELECT source, quality,
    percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
  FROM scored
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN pr >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  round(min(CASE WHEN pr >= 0.2 THEN quality END), 6) AS min_kept_quality
FROM ranked GROUP BY source
""",
    tags=("text", "quality", "quantile-filter", "training-data"),
)
def llm_quality_filter_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quantile quality filter: drop each source's bottom 20%
    by quality score rather than applying one global threshold — the
    stratified cut that keeps a low-resource source from being wiped out
    by a filter tuned on the dominant source.  percent_rank partitions by
    source (bounded partitions, no whole-corpus window) ordered by
    (quality, doc_id) so the cut is deterministic under ties; at 100 TB
    the same stratified cut swaps to per-source approx_percentile
    thresholds (see rel_approx_percentile) without changing the output
    contract."""
    d = _t(spark, sf, "documents")
    alpha_ratio = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    scored = d.select(
        "doc_id",
        "source",
        F.round(
            0.5 * F.least(F.col("n_chars") / 2000.0, F.lit(1.0)) + 0.5 * alpha_ratio,
            6,
        ).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    ranked = scored.select(
        "source", "quality", F.percent_rank().over(w).alias("pr")
    )
    kept = F.col("pr") >= 0.2
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.round(F.min(F.when(kept, F.col("quality"))), 6).alias(
            "min_kept_quality"
        ),
    )


# --- kNN graph construction ---------------------------------------------------

@register(
    "llm_knn_graph",
    sql=f"""
WITH e AS (
  SELECT *, (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {dd.BLOCK_CAP} AS sub
  FROM embeddings
)
SELECT vec_id, nbr_id, CAST(rnk AS INTEGER) AS rnk, score
FROM (
  SELECT a.vec_id, b.vec_id AS nbr_id, round({_DUCK_COS}, 6) AS score,
    row_number() OVER (
      PARTITION BY a.vec_id ORDER BY round({_DUCK_COS}, 6) DESC, b.vec_id
    ) AS rnk
  FROM e a JOIN e b
    ON a.label = b.label AND a.sub = b.sub AND a.vec_id <> b.vec_id
  WHERE {_DUCK_COS} IS NOT NULL
)
WHERE rnk <= 3
""",
    tags=("search", "knn-graph", "ann"),
)
def llm_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """k-nearest-neighbor graph over the embedding corpus (k=3), blocked
    by the IVF-style partition key (``label``) and capped at
    ``BLOCK_CAP=64``-member deterministic sub-blocks (same scheme as
    llm_dedup_embedding): exact cosine ranking runs only INSIDE each
    (label, sub) cell, so the join is a plain equi-join — never an
    all-pairs product — and per-cell work is <= 64² regardless of corpus
    size.  Without the cap, block population grows with the corpus and
    per-block pairs grow QUADRATICALLY (measured: the uncapped variant
    blew past 10 minutes at the 10× stress while the capped one runs in
    ~1 s) — the cap is what turns blocked-kNN into a linear scale-out.
    The kNN graph is the backbone structure for graph-based ANN
    (HNSW/NN-descent seeds), dedup-cluster refinement, and
    semantic-neighborhood curation; at production scale the cells come
    from a real IVF partitioner (more centroids, same plan shape).

    Ranking state is a 3-row heap per vector via row_number over
    cell-local windows.  Scores fold left-to-right in doubles —
    bit-identical to the DuckDB oracle."""
    e = dd.with_sub_block(
        _t(spark, sf, "embeddings"), ["label"], "vec_id"
    ).withColumn("nrm", F.expr(sim.norm_expr("embedding")))
    a = e.select(
        F.col("vec_id"),
        F.col("label"),
        F.col("sub"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label"),
        F.col("sub"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, ["label", "sub"]).filter(F.col("vec_id") != F.col("nbr_id"))
    # NULL scores (zero-norm pairs) must be dropped BEFORE ranking:
    # row_number would otherwise promote arbitrary NULLS-LAST rows into the
    # k=3 cut as phantom edges (and feed them to PageRank as real mass).
    # Norms are precomputed per vector (cosine_col's na/nb): bit-identical
    # scores, one interpreted fold per pair instead of three.
    scored = pairs.withColumn(
        "score", F.round(sim.cosine_col("va", "vb", "na", "nb"), 6)
    ).filter(F.col("score").isNotNull())
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("vec_id", "nbr_id", F.col("rnk").cast("int"), "score")
    )


# --- kNN-graph triangle census ------------------------------------------------


def _duck_knn_triangles_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    knn = _REGISTRY["llm_knn_graph"].sql
    return f"""
WITH knn AS ({knn}),
ed AS (
  SELECT DISTINCT least(vec_id, nbr_id) AS u, greatest(vec_id, nbr_id) AS v
  FROM knn
),
deg AS (
  SELECT x, count(*) AS d FROM (
    SELECT u AS x FROM ed UNION ALL SELECT v AS x FROM ed
  ) GROUP BY x
),
tri AS (
  SELECT count(*) AS t
  FROM ed e1
  JOIN ed e2 ON e1.v = e2.u
  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT
  CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
  CAST((SELECT count(*) FROM ed) AS BIGINT) AS n_edges,
  CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
  CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
  CAST((3 * (SELECT t FROM tri) * 1000000)
       // greatest((SELECT sum(d * (d - 1) // 2) FROM deg), 1) AS BIGINT)
    AS closure_e6
"""


@register(
    "llm_knn_triangles",
    sql=_duck_knn_triangles_sql(),
    tags=("graph", "triangles", "clustering-coefficient"),
)
def llm_knn_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the kNN graph —
    the classic distributed graph kernel (how clumped is embedding
    space?), composed over the REGISTERED llm_knn_graph detector so the
    census audits the production graph.  High closure means neighborhoods
    are mutually similar (dense semantic clusters — dedup candidates);
    low closure means the kNN edges are hub-dominated.

    Formulation: symmetrize the directed k=3 edges to unordered (u < v)
    pairs, then count each triangle a<b<c exactly once by the two-hop
    equi-join (a,b)⋈(b,c) checked against (a,c) — the edge-ordering trick
    that makes wedge inflation impossible.  Wedges come from degrees
    (sum d*(d-1)/2), never materialized.  The closure ratio is exact e6
    fixed-point integer math (3T*1e6 div W, round-free).

    Scale: the edge list is <= k rows per vertex (k=3 directed), so both
    joins are vertex-keyed equi-joins over a linear-size relation;
    per-vertex degree is bounded by the kNN cell cap, so the two-hop
    join output is bounded by sum(deg^2) — linear in vertices with the
    BLOCK_CAP=64 cells.  The symmetrized edge list is localCheckpoint-ed
    once for its four consumers (degrees, edge count, both join sides)."""
    import knowledgebot_spark.queries_llm as _self

    knn = _self.llm_knn_graph(spark, sf)
    ed = (
        knn.select(
            F.least("vec_id", "nbr_id").alias("u"),
            F.greatest("vec_id", "nbr_id").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        ed.select(F.col("u").alias("x"))
        .unionAll(ed.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    wed = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    e1 = ed.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = ed.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = ed.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    ne = ed.agg(F.count("*").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "(3 * n_triangles * 1000000) div greatest(n_wedges, 1)"
            ).alias("closure_e6"),
        )
    )


# --- curriculum ordering ------------------------------------------------------

@register(
    "llm_curriculum_order",
    sql="""
WITH staged AS (
  SELECT doc_id, source,
    ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS stage
  FROM documents
)
SELECT doc_id, source, CAST(stage AS INTEGER) AS stage,
  CAST(row_number() OVER (
    PARTITION BY source, stage ORDER BY doc_id
  ) AS INTEGER) AS pos_in_stage
FROM staged
""",
    tags=("training-data", "curriculum", "ordering"),
)
def llm_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum ordering for training: stage documents easiest-first
    (shortest quartile -> longest quartile) WITHIN each source, then
    position them inside their (source, stage) cell.  A trainer streams
    stage 1 across all sources before stage 2 — per-source staging stops
    one verbose source from monopolizing the early curriculum.

    Scale: both windows partition by source (bounded, never the whole
    corpus); emitting (stage, pos_in_stage) instead of a global rank is
    deliberate — a single global row_number would force a one-partition
    window, whereas the (stage, source, pos) tuple IS a total order a
    downstream reader can merge-sort shard-locally, same pattern as
    llm_global_shuffle's sharded order key."""
    d = _t(spark, sf, "documents")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    staged = d.select(
        "doc_id", "source", F.ntile(4).over(ws).cast("int").alias("stage")
    )
    wp = Window.partitionBy("source", "stage").orderBy("doc_id")
    return staged.withColumn(
        "pos_in_stage", F.row_number().over(wp).cast("int")
    )


# --- sketched frequent tokens -------------------------------------------------

@register(
    "llm_freq_tokens_sketch",
    sql="""
WITH tok AS (
  SELECT lower(t.tok) AS token
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE length(lower(t.tok)) >= 3
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM tok GROUP BY token
ORDER BY n DESC, token LIMIT 15
""",
    tags=("text", "sketch", "frequent-items"),
)
def llm_freq_tokens_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide frequent tokens via the approx_top_k sketch (Spark
    4.1): one pass, mergeable per-partition sketches, no full
    token->count shuffle.  maxItemsTracked is sized above the corpus
    vocabulary so the sketch is exact here and the DuckDB oracle can be
    the plain exact top-15; at true 100 TB vocab the same plan degrades
    gracefully to approximate counts with a bounded-memory guarantee
    (the classic Misra-Gries / SpaceSaving trade), which is the entire
    point of shipping the sketch instead of the exact groupBy.

    The sketch emits top-50, then we re-rank (n DESC, token) and cut to
    15 so boundary ties resolve identically to the oracle."""
    d = _t(spark, sf, "documents")
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("raw")
    ).select(F.lower("raw").alias("token")).filter(F.length("token") >= 3)
    sk = tok.agg(F.expr("approx_top_k(token, 50, 200000)").alias("items"))
    items = sk.select(F.explode("items").alias("it")).select(
        F.col("it.item").alias("token"), F.col("it.count").alias("n")
    )
    return items.orderBy(F.desc("n"), "token").limit(15)


# --- PageRank over the kNN graph ----------------------------------------------

# The kNN edge list as a reusable SQL fragment (same capped sub-blocking as
# llm_knn_graph's oracle): directed vec_id -> nbr_id, k=3 per vector.
_DUCK_KNN_EDGES = f"""
  SELECT vec_id AS src, nbr_id AS dst
  FROM (
    SELECT a.vec_id, b.vec_id AS nbr_id,
      row_number() OVER (
        PARTITION BY a.vec_id ORDER BY round({{_DUCK_COS}}, 6) DESC, b.vec_id
      ) AS rnk
    FROM se a JOIN se b
      ON a.label = b.label AND a.sub = b.sub AND a.vec_id <> b.vec_id
  ) WHERE rnk <= 3
"""


def _duck_pagerank_sql(iters: int, damping: float) -> str:
    """Unrolled power iteration as chained CTEs (DuckDB has no mutable
    state; fixed iteration count keeps it ANSI-expressible, same approach
    as rel_recursive_cte's bounded recursion)."""
    edges = _DUCK_KNN_EDGES.format(_DUCK_COS=_DUCK_COS)
    sql = f"""
WITH se AS (
  SELECT *, (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {dd.BLOCK_CAP} AS sub
  FROM embeddings
), edges AS ({edges}),
nodes AS (SELECT vec_id AS v FROM embeddings),
n_total AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT v, 1.0 / (SELECT n FROM n_total) AS r FROM nodes)
"""
    prev = "r0"
    for i in range(1, iters + 1):
        sql += f""", r{i} AS (
  SELECT n.v,
    (1.0 - {damping}) / (SELECT n FROM n_total)
    + {damping} * coalesce(sum(p.r / o.d), 0.0) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.v
  LEFT JOIN {prev} p ON p.v = e.src
  LEFT JOIN outdeg o ON o.src = e.src
  GROUP BY n.v
)"""
        prev = f"r{i}"
    sql += f"""
SELECT v AS vec_id, round(r, 8) AS rank
FROM {prev}
ORDER BY round(r, 8) DESC, v LIMIT 20
"""
    return sql


@register(
    "llm_pagerank_knn",
    sql=_duck_pagerank_sql(3, 0.85),
    tags=("graph", "pagerank", "iterative"),
)
def llm_pagerank_knn(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled power iterations) over the
    capped kNN graph — graph centrality for corpus curation: a document
    whose embedding sits in many neighbors' top-3 lists is a semantic hub
    (candidate for dedup-cluster exemplars or coreset selection).

    Iterative algorithms on Spark are unrolled joins: each iteration is
    edges ⋈ ranks grouped by dst — one shuffle per iteration keyed by
    vertex id, the same plan Pregel-style systems lower to.  The rank
    vector is |V| rows (tiny next to the edge list) so AQE broadcasts it
    as the graph grows; dangling mass is dropped (simplified PageRank —
    documented, matched exactly by the oracle).  A fixed iteration count
    is the production norm (GraphX's staticPageRank); convergence-driven
    loops just add a driver-side delta check between iterations.

    The DuckDB oracle unrolls the same three iterations as chained CTEs.

    The edge list is ``localCheckpoint``-ed before the iterations: it is
    referenced once per unrolled iteration (plus the out-degree agg), and
    without the checkpoint each reference re-executes the capped-cell
    cosine join — the single expensive stage — 4x.  Checkpointed, the
    kNN join runs exactly once; the edge list (<= 3|V| rows) is the same
    thing GraphX materializes between Pregel supersteps."""
    import knowledgebot_spark.queries_llm as _self

    edges = (
        _self.llm_knn_graph(spark, sf)
        .select(F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst"))
        .localCheckpoint(eager=True)
    )
    bare = _t(spark, sf, "embeddings").select(F.col("vec_id").alias("v"))
    # Graph size as a broadcast 1-row scalar (the catalog's no-driver-collect
    # discipline): building this query launches zero jobs.
    n_df = bare.agg(F.count("*").alias("n_total"))
    nodes = bare.crossJoin(F.broadcast(n_df))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("d"))
    contrib_src = edges.join(outdeg, "src")
    damping = 0.85
    ranks = nodes.select("v", (F.lit(1.0) / F.col("n_total")).alias("r"))
    for _ in range(3):
        contribs = (
            contrib_src.join(ranks, contrib_src["src"] == ranks["v"])
            .select(F.col("dst"), (F.col("r") / F.col("d")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(contribs, nodes["v"] == contribs["dst"], "left")
            .select(
                "v",
                (
                    F.lit(1.0 - damping) / F.col("n_total")
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return (
        ranks.select("v", F.round("r", 8).alias("rank"))
        .withColumnRenamed("v", "vec_id")
        .orderBy(F.desc("rank"), "vec_id")
        .limit(20)
    )


# --- end-to-end RAG search (chunk -> embed -> top-k) in one plan --------------

def _query_embedding_micro(query: str, dim: int = 16) -> list[int]:
    """Driver-side constant: the deterministic hash embedding of a literal
    query string in exact integer micro-units (same formula as kb_embed —
    a constant folded from a constant, not data pulled to the driver)."""
    toks = query.split(" ")
    return [
        sum(em._token_component(t, j) for t in toks) * 1000 // len(toks)
        for j in range(dim)
    ]


_RAG_QUERY = "spark hash join vector"
_RAG_DIM = 16


@register(
    "kb_rag_search",
    sql=f"""
WITH chunks AS (
  SELECT doc_id, CAST(t.pos - 1 AS INTEGER) AS chunk_pos,
    str_split(t.cw, ' ') AS ctk
  FROM (
    SELECT doc_id, [array_to_string(tk[s:s+19], ' ') for s in generate_series(1, len(tk), 15)] AS w
    FROM (SELECT doc_id, str_split(text, ' ') tk FROM documents)
  ),
  LATERAL (SELECT unnest(w) AS cw, generate_subscripts(w, 1) AS pos) t
), embedded AS (
  SELECT doc_id, chunk_pos,
    list_transform(range({_RAG_DIM}), j ->
      (list_reduce(list_transform(ctk, t ->
         ('0x' || substr(md5(t || ':' || CAST(j AS STRING)), 1, 8))::BIGINT % 1000),
       (a, b) -> a + b) * 1000) // len(ctk)
    ) AS emb
  FROM chunks
), scored AS (
  SELECT doc_id, chunk_pos,
    round(
      list_reduce(list_transform(range({_RAG_DIM}), j ->
        CAST(emb[j + 1] AS DOUBLE) * ({{qvec}}::DOUBLE[])[j + 1]), (a, b) -> a + b)
      / (sqrt(list_reduce(list_transform(emb, x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b))
         * sqrt(list_reduce(list_transform({{qvec}}::DOUBLE[], x -> x * x), (a, b) -> a + b))),
      6) AS score
  FROM embedded
)
SELECT doc_id, chunk_pos, score FROM scored
ORDER BY score DESC, doc_id, chunk_pos LIMIT 5
""".replace("{qvec}", str(_query_embedding_micro(_RAG_QUERY))),
    tags=("rag", "e2e", "U1", "U4", "Q1"),
)
def kb_rag_search(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's ingest+search lifecycle (chunk -> embed -> semantic
    top-k; KnowledgeBot ingest + VectorDatabase.search) composed as ONE
    Catalyst plan — no intermediate materialization between stages, so
    the optimizer sees chunking, the 16-way md5 embedding, scoring, and
    the top-5 TakeOrdered as a single pipeline.  The query vector is a
    constant folded from a literal string with the same hash formula
    (broadcast literal, zero driver data movement).

    Exact integer micro-unit embeddings end-to-end (the kb_embed
    discipline) make the whole composition hash-checkable: the DuckDB
    oracle restates all three stages over the same parquet.  At 100 TB
    this is the plan shape an ingest job runs per partition — one scan,
    pipelined codegen stages, a single per-chunk shuffle for the window
    agg, and a top-k merge."""
    chunks = ck.chunk_windows(
        _ts(spark, sf, "documents"), "text", chunk_size=20, overlap=5
    )
    toks = chunks.select(
        "doc_id", "chunk_pos", F.explode(F.split("chunk_text", " ")).alias("t")
    )

    per_tok = toks.select(
        "doc_id",
        "chunk_pos",
        *[em.token_component_col("t", j).alias(f"c{j}") for j in range(_RAG_DIM)],
    )
    sums = per_tok.groupBy("doc_id", "chunk_pos").agg(
        F.count("*").alias("n"),
        *[F.sum(f"c{j}").alias(f"s{j}") for j in range(_RAG_DIM)],
    )
    emb_expr = "array(" + ", ".join(
        f"(s{j} * 1000) div n" for j in range(_RAG_DIM)
    ) + ")"
    qlit = sim.array_literal(_query_embedding_micro(_RAG_QUERY))
    scored = sums.select(
        "doc_id",
        "chunk_pos",
        F.round(sim.cosine_col(emb_expr, qlit), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), "doc_id", "chunk_pos").limit(5)


# --- n-gram novelty (memorization / repetition across ingestion order) --------

@register(
    "llm_ngram_novelty",
    sql="""
WITH grams AS (
  SELECT doc_id, tk[s] || ' ' || tk[s+1] || ' ' || tk[s+2] AS g
  FROM (SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS s)
  WHERE len(tk) >= 3
), dedup AS (
  SELECT DISTINCT doc_id, g FROM grams
), first_seen AS (
  SELECT g, min(doc_id) AS first_doc FROM dedup GROUP BY g
)
SELECT d.doc_id,
  CAST(count(*) AS BIGINT) AS n_grams,
  CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  round(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) * 1.0
        / count(*), 4) AS novelty
FROM dedup d JOIN first_seen f ON d.g = f.g
GROUP BY d.doc_id
""",
    tags=("text", "novelty", "training-data"),
)
def llm_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 3-gram novelty in ingestion order (doc_id): the share
    of a document's distinct trigrams that NO earlier document contains.
    Novelty collapsing toward 0 over a crawl is the standard signal of
    template/boilerplate saturation — what you measure to decide when
    dedup must tighten (complements llm_repetition, which is
    WITHIN-document).

    Shape: explode -> distinct (doc, gram) -> min(doc_id) per gram (the
    first-seen owner) -> join back and count.  Every shuffle is keyed by
    the gram hash; min() is the associative partial-agg trick that makes
    "who saw it first" a one-pass group-by instead of a self-join over
    history — at 100 TB first_seen is the corpus's gram dictionary,
    built once and incrementally maintainable (cf. llm_dedup_incremental).
    """
    d = _ts(spark, sf, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("tk")).filter(
        F.size("tk") >= 3
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(tk) - 3), "
                "s -> concat_ws(' ', tk[s], tk[s+1], tk[s+2]))"
            )
        ).alias("g"),
    ).distinct()
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(first_seen, "g")
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(novel).alias("n_novel"),
        F.round(F.sum(novel) / F.count("*"), 4).alias("novelty"),
    )


# --- embedding distribution drift ---------------------------------------------

@register(
    "llm_embedding_drift",
    sql="""
WITH comps AS (
  SELECT label, vec_id % 2 AS half, u.dim - 1 AS pos, CAST(u.x AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS dim) u
), cent AS (
  SELECT label, half, pos, avg(x) AS c
  FROM comps GROUP BY label, half, pos
), paired AS (
  SELECT a.label, a.pos, a.c AS ca, b.c AS cb
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
), folded AS (
  SELECT label,
    sum(ca * cb) AS dot, sum(ca * ca) AS na, sum(cb * cb) AS nb
  FROM paired GROUP BY label
)
SELECT label,
  round(dot / (sqrt(na) * sqrt(nb)), 6) AS centroid_cosine
FROM folded
""",
    tags=("embedding", "drift", "monitoring", "training-data"),
)
def llm_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding distribution drift: split each label's vectors into two
    cohorts (vec_id parity — stand-in for before/after snapshots), take
    the per-cohort centroid, and report the cosine between centroids.
    Near 1.0 = the population is stable; a drop flags distribution shift
    (crawl drift, a source going stale, an embedding-model change) — the
    monitoring op a training pipeline runs per ingestion batch before
    trusting similarity thresholds tuned on the old distribution.

    Shape: posexplode to (label, half, dim) components, ONE avg hash agg
    (the centroid is a per-dimension mean — no vector state, plain
    columnar partial aggs), then the cosine folds over |labels| x dim
    rows.  Unlike the pairwise ops there is no join against the corpus at
    all: cost is one scan + one agg regardless of vector count, which is
    why centroid drift is the FIRST drift check you run at 100 TB (KS
    tests per dimension and sliced Wasserstein come later, same plan
    shape with different moments).  Summation-order caveat: per-dimension
    avg() is order-dependent in floats, so the oracle gate rounds at 6dp
    after a double fold — cross-engine agreement verified by the hash.
    """
    e = _t(spark, sf, "embeddings")
    comps = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = comps.groupBy("label", "half", "pos").agg(F.avg("x").alias("c"))
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("cb")
    )
    paired = a.join(b, ["label", "pos"])
    folded = paired.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sum(F.col("ca") * F.col("ca")).alias("na"),
        F.sum(F.col("cb") * F.col("cb")).alias("nb"),
    )
    return folded.select(
        "label",
        F.round(
            F.try_divide(F.col("dot"), F.sqrt("na") * F.sqrt("nb")), 6
        ).alias("centroid_cosine"),
    )


# --- deterministic k-means over embeddings (wave 4) ---------------------------

_KM_K = 4  # clusters
_KM_SCALE = 1000  # fixed-point quantization: exact integer first-pass math


def _duck_kmeans_cte() -> str:
    """WITH-body (q/c0/a1/m/c1/a2 chain) of the two deterministic Lloyd
    iterations — shared verbatim by the llm_kmeans_embeddings oracle and
    the llm_semdedup oracle, so the cluster-assignment contract cannot
    drift between the two.  The per-dimension centroid sums are generated
    by the same Python loop that generates the Spark aggregate columns —
    parity by construction, and the sums are exact BIGINTs so no float
    summation order can diverge between engines."""
    dims = sim.EMBED_DIM
    sums = ", ".join(f"sum(qv[{i + 1}]) AS s{i}" for i in range(dims))
    means = ", ".join(f"s{i}::DOUBLE / n" for i in range(dims))
    d_int = (
        "list_reduce(list_transform(q.qv, (x, i) -> (x - c0.c[i]) * (x - c0.c[i])), "
        "(p, s) -> p + s)"
    )
    d_dbl = (
        "list_reduce(list_transform(q.qv, (x, i) -> "
        "(x::DOUBLE - c1.c[i]) * (x::DOUBLE - c1.c[i])), (p, s) -> p + s)"
    )
    return f"""q AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(x::DOUBLE * {_KM_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, qv AS c FROM q WHERE vec_id < {_KM_K}
), a1 AS (
  SELECT vec_id, qv, cid FROM (
    SELECT q.vec_id, q.qv, c0.cid,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_int}, c0.cid) AS rn
    FROM q CROSS JOIN c0
  ) WHERE rn = 1
), m AS (
  SELECT cid, count(*) AS n, {sums} FROM a1 GROUP BY cid
), c1 AS (
  SELECT cid, [{means}] AS c FROM m
), a2 AS (
  SELECT vec_id, cid, di FROM (
    SELECT q.vec_id, c1.cid,
      CAST(floor({d_dbl} + 0.5) AS BIGINT) AS di,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_dbl}, c1.cid) AS rn
    FROM q CROSS JOIN c1
  ) WHERE rn = 1
)"""


def _duck_kmeans_sql() -> str:
    return f"""
WITH {_duck_kmeans_cte()}
SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
  CAST(sum(di) AS BIGINT) AS inertia_q
FROM a2 GROUP BY cid
"""


@register(
    "llm_kmeans_embeddings",
    sql=_duck_kmeans_sql(),
    tags=("clustering", "kmeans", "iterative", "training-data"),
)
def llm_kmeans_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Two deterministic Lloyd iterations of k-means (k=4) over the
    embedding corpus, expressed entirely in DataFrame ops — the topic/
    domain-clustering stage a corpus-mixing pipeline runs before sampling
    (cluster-balanced mixing, semantic coverage audits).  Init centroids
    are the k lowest vec_ids, so the run is reproducible (MLlib's KMeans
    draws random init and cannot be oracled; llm_sim_ivf uses it where
    recall, not identity, is the contract).

    Determinism across engines: embeddings quantize to fixed-point
    BIGINTs (floor(x*1000+.5)), making iteration-1 distances and the
    centroid-update sums EXACT integers — no float summation-order drift
    through any shuffle.  Updated centroids are exact-integer sums over
    exact counts, so the division is bit-identical in both engines, and
    iteration-2 distances fold sequentially over the 64 dims in array
    order (Spark ``aggregate`` and DuckDB ``list_reduce`` are both left
    folds) — bit-identical doubles, finally re-quantized per row before
    the inertia sum so the output hash compares integers only.

    Scale shape (100 TB): each iteration is one narrow map over the
    corpus (argmin against k broadcast centroids — the 1-row collect_list
    crossJoin is the same broadcast-scalar pattern as llm_source_mixing)
    plus one map-side-combinable hash agg of 64 integer sum columns keyed
    by cluster id; nothing shuffles the vectors themselves, state is
    O(k x dim), and more iterations append identical stages linearly.
    """
    return (
        _kmeans_assign2(spark, sf)
        .select(F.col("cid").alias("cluster_id"), "di")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), F.sum("di").alias("inertia_q"))
    )


def _sq_dist_bigint(a: str, b: str) -> str:
    """Exact squared Euclidean distance between two BIGINT-quantized
    vector expressions, as a left-to-right SQL fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _kmeans_assign2(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, cid, di) after the two deterministic Lloyd iterations —
    the Spark twin of the ``_duck_kmeans_cte`` a2 relation, shared by
    llm_kmeans_embeddings and llm_semdedup."""
    dims = sim.EMBED_DIM
    e = _t(spark, sf, "embeddings")
    qv = F.expr(
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE} + 0.5) AS BIGINT))"
    )
    q = e.select("vec_id", qv.alias("qv"))

    cents0 = (
        q.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("c"))
        .agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
    )
    best1 = F.expr(
        "array_sort(transform(cents, s -> struct("
        f"{_sq_dist_bigint('qv', 's.c')} AS d, s.cid AS cid)))[0].cid"
    )
    a1 = q.crossJoin(F.broadcast(cents0)).select("vec_id", "qv", best1.alias("cid"))

    m = a1.groupBy("cid").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dims)],
    )
    c1 = m.select(
        "cid",
        F.array(*[F.col(f"s{i}") / F.col("n") for i in range(dims)]).alias("c"),
    )
    cents1 = c1.agg(F.collect_list(F.struct("cid", "c")).alias("cents"))

    best2 = F.expr(
        "array_sort(transform(cents, s -> struct("
        "aggregate(zip_with(qv, s.c, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d, s.cid AS cid)))[0]"
    )
    a2 = q.crossJoin(F.broadcast(cents1)).select("vec_id", best2.alias("best"))
    return a2.select(
        "vec_id",
        F.col("best.cid").alias("cid"),
        F.expr("CAST(floor(best.d + 0.5) AS BIGINT)").alias("di"),
    )


# --- hard-negative mining (wave 4) --------------------------------------------

_HN_PLANES = 4  # 2^4 LSH buckets: wide cells -> rich candidate sets
_HN_K = 3


def _duck_hard_negatives_sql() -> str:
    bucket = _duck_bucket("embedding", sim.hyperplanes(n=_HN_PLANES))
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding,
    {bucket} AS bkt
  FROM embeddings
), s AS (
  SELECT *, (row_number() OVER (PARTITION BY bkt ORDER BY vec_id) - 1) // {dd.BLOCK_CAP} AS sub
  FROM e
), ranked AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id, {_DUCK_COS} AS cos_raw,
    row_number() OVER (PARTITION BY a.vec_id ORDER BY {_DUCK_COS} DESC, b.vec_id) AS rank
  FROM s a JOIN s b
    ON a.bkt = b.bkt AND a.sub = b.sub AND a.label <> b.label
)
SELECT anchor_id, neg_id, CAST(rank AS INTEGER) AS rank, round(cos_raw, 4) AS cos
FROM ranked WHERE rank <= {_HN_K}
"""


@register(
    "llm_hard_negatives",
    sql=_duck_hard_negatives_sql(),
    tags=("similarity", "hard-negatives", "contrastive", "training-data"),
)
def llm_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    anchor vector, the top-3 most-similar vectors with a DIFFERENT label
    — near in embedding space but semantically distinct, exactly the
    negatives that sharpen a retriever.  Candidates come from the
    anchor's random-hyperplane LSH bucket (4 planes -> 16 wide cells), so
    "near" is geometric, not label-driven, and the pairing is a plain
    equi-join on (bucket, sub-block) — never all-pairs.  Hot buckets are
    capped at BLOCK_CAP members by the same deterministic sub-blocking as
    llm_dedup_embedding.

    Scale shape: bucket assignment is a narrow map (plane dots fold
    in-row); the join shuffles on the bucket key with bounded block
    fan-out (<= cap^2 pairs per block); the per-anchor top-3 is a window
    over bucket-local candidates only.  Plane count is the knob: each
    extra plane halves expected cell population, trading candidate recall
    for join volume — at 100 TB you add planes, not machines.
    """
    planes = sim.hyperplanes(n=_HN_PLANES)
    e = _t(spark, sf, "embeddings").withColumn(
        "bkt", F.expr(sim.bucket_expr("embedding", planes))
    )
    e = dd.with_sub_block(e, ["bkt"], "vec_id").withColumn(
        "nrm", F.expr(sim.norm_expr("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("la"),
        "bkt",
        "sub",
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("lb"),
        "bkt",
        "sub",
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, ["bkt", "sub"])
        .filter(F.col("la") != F.col("lb"))
        .withColumn("cos_raw", sim.cosine_col("va", "vb", "na", "nb"))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_raw"), F.asc("neg_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "anchor_id",
            "neg_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_raw", 4).alias("cos"),
        )
    )


# --- deterministic weighted corpus sampling (wave 4) --------------------------

_WS_K = 50


@register(
    "llm_weighted_sample",
    sql=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    round(pow(
      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
        / 4294967296.0,
      1.0 / greatest(n_chars::DOUBLE, 1.0)), 6) AS priority
  FROM documents
)
SELECT doc_id, source, n_chars, priority
FROM keyed ORDER BY priority DESC, doc_id LIMIT {_WS_K}
""",
    tags=("sampling", "weighted", "training-data"),
)
def llm_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement, deterministically: the
    Efraimidis-Spirakis priority u^(1/w) with u derived from md5(doc_id)
    instead of a PRNG, w = document length.  P(selected) is proportional
    to weight, yet membership is a pure function of the id — re-runs and
    backfills reproduce the same sample (the llm_train_val_split
    property, extended from uniform to weighted draws).  The length
    weighting is the common "sample by token mass, not doc count" corpus
    draw.

    Scale shape: priority is a narrow per-row map (md5 + pow, all
    JVM-side); top-50 plans as TakeOrderedAndProject — per-partition
    heaps, no global sort, no shuffle of the corpus.  Priorities are
    rounded to 6dp BEFORE ranking with a doc_id tie-break, so ties are
    engine-stable; the residual risk is a last-ulp pow() difference
    (Java Math.pow vs libm) landing EXACTLY on a 6dp half-boundary,
    which rounding cannot absorb — never observed across the oracle
    gate's runs.  If it ever flakes, derive the priority from fixed-point
    ln-space comparison instead (quantize ln(u)/w to integer micros).
    """
    d = _t(spark, sf, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4294967296.0)
    w = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.pow(u, F.lit(1.0) / w), 6).alias("priority"),
    )
    return keyed.orderBy(F.desc("priority"), F.asc("doc_id")).limit(_WS_K)


# --- PMI collocations (wave 5) ------------------------------------------------

_PMI_VOCAB = 100
_PMI_MIN_CODF = 5
_PMI_TOPK = 50


@register(
    "llm_pmi_collocations",
    sql=f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(list_distinct(str_split(lower(text), ' '))) AS tok
    FROM documents
  ) WHERE tok <> ''
), dftok AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok
), vocab AS (
  SELECT tok, df FROM dftok ORDER BY df DESC, tok LIMIT {_PMI_VOCAB}
), vt AS (
  SELECT t.doc_id, t.tok, v.df FROM toks t JOIN vocab v USING (tok)
), pairs AS (
  SELECT a.tok AS ta, b.tok AS tb, a.df AS dfa, b.df AS dfb,
    CAST(count(*) AS BIGINT) AS codf
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {_PMI_MIN_CODF}
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT ta, tb, codf,
  round(ln(codf * n_docs * 1.0 / (dfa * dfb)), 6) AS pmi
FROM pairs CROSS JOIN n
ORDER BY pmi DESC, ta, tb LIMIT {_PMI_TOPK}
""",
    tags=("corpus-stats", "collocations", "pmi", "training-data"),
)
def llm_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise mutual information over document-level token
    co-occurrence: which token pairs appear together far more often than
    chance — collocation mining, the corpus-statistics input to phrase
    vocabularies, template detection, and topic drift checks.

    The all-pairs explosion is tamed the standard way: pairs are formed
    only WITHIN the top-100 vocabulary (TakeOrdered over the document-
    frequency agg, then a broadcast semi-join prunes the token stream
    before the doc-keyed self-join), so per-document fan-out is bounded
    by |vocab| choose 2 regardless of document length, and the pair agg
    is map-side combinable on (ta, tb).  N arrives as a 1-row broadcast
    scalar (the llm_tfidf_topterm pattern).  PMI rounds to 6dp BEFORE the
    top-50 ranking (ln differs in the last ulp across libms; the (ta, tb)
    tie-break keeps rounded ties deterministic).
    """
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok"),
    ).filter(F.col("tok") != "")
    dftok = toks.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = dftok.orderBy(F.desc("df"), F.asc("tok")).limit(_PMI_VOCAB)
    vt = toks.join(F.broadcast(vocab), "tok")
    a = vt.select("doc_id", F.col("tok").alias("ta"), F.col("df").alias("dfa"))
    b = vt.select("doc_id", F.col("tok").alias("tb"), F.col("df").alias("dfb"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(F.count("*").alias("codf"))
        .filter(F.col("codf") >= _PMI_MIN_CODF)
    )
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "ta",
            "tb",
            "codf",
            F.round(
                F.log(
                    F.col("codf") * F.col("n_docs") / (F.col("dfa") * F.col("dfb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("ta"), F.asc("tb"))
        .limit(_PMI_TOPK)
    )


# --- Unicode NFC text normalization (wave 5) ----------------------------------

# decoration appended to every document so the normalizer has real work on
# the ASCII-only testdata: doubled spaces, a decomposed e + U+0301 (must
# NFC-compose to U+00E9), a tab, and a BEL control char
_NFC_DECOR = "  cafe\u0301\tx\u0007y  "


@register(
    "llm_text_normalize",
    sql="""
SELECT doc_id,
  CAST(length(deco) AS BIGINT) AS raw_len,
  CAST(length(norm) AS BIGINT) AS norm_len,
  right(norm, 8) AS tail
FROM (
  SELECT doc_id, deco,
    trim(regexp_replace(regexp_replace(nfc_normalize(deco),
      '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'), '[\\t\\n\\f\\r ]+', ' ', 'g'))
      AS norm
  FROM (
    SELECT doc_id,
      text || '  cafe' || chr(769) || chr(9) || 'x' || chr(7) || 'y  ' AS deco
    FROM documents
  )
)
""",
    tags=("text", "normalization", "unicode", "udf-surface"),
)
def llm_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-aware text normalization (NFC compose + control strip +
    whitespace collapse) as an Arrow-batched pandas UDF — the cleaning
    stage that makes visually-identical strings identical BYTES before
    any dedup key or tokenizer sees them.  The testdata is pure ASCII, so
    every document is decorated with a fixed mixed-form suffix (decomposed
    accent, tab, BEL, doubled spaces) that the normalizer must fix; the
    DuckDB oracle re-derives the same pipeline via nfc_normalize + RE2 —
    a true cross-engine check of the Unicode semantics, not a fixture
    replay.

    Scale shape: one narrow string column through ArrowEval (never
    row-at-a-time BatchEval); everything before and after stays in
    whole-stage codegen, and output lengths are codepoint counts in both
    engines.
    """
    from knowledgebot_spark.operators.text_analysis import nfc_clean_udf

    d = _t(spark, sf, "documents")
    deco = d.select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_DECOR)).alias("deco")
    )
    clean = nfc_clean_udf()
    normed = deco.select(
        "doc_id", "deco", clean(F.col("deco")).alias("norm")
    )
    return normed.select(
        "doc_id",
        F.length("deco").cast("long").alias("raw_len"),
        F.length("norm").cast("long").alias("norm_len"),
        F.expr("right(norm, 8)").alias("tail"),
    )


# --- sorted-neighborhood dedup (wave 6) ---------------------------------------

_SNM_W = 2  # compare each record to its W predecessors in sort order
_SNM_JACCARD = 0.5


@register(
    "llm_dedup_sorted_neighborhood",
    sql=f"""
WITH d AS (
  SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS toks,
    array_to_string(str_split(lower(text), ' ')[1:3], ' ') AS skey,
    str_split(lower(text), ' ')[1] AS blk
  FROM documents
), lagged AS (
  SELECT doc_id, toks,
    lag(doc_id, 1) OVER w AS id1, lag(toks, 1) OVER w AS tk1,
    lag(doc_id, 2) OVER w AS id2, lag(toks, 2) OVER w AS tk2
  FROM d WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)
), pairs AS (
  SELECT doc_id AS a, id1 AS b, toks AS ta, tk1 AS tb FROM lagged
    WHERE id1 IS NOT NULL
  UNION ALL
  SELECT doc_id, id2, toks, tk2 FROM lagged WHERE id2 IS NOT NULL
), scored AS (
  SELECT least(a, b) AS id_a, greatest(a, b) AS id_b,
    round(len(list_intersect(ta, tb)) * 1.0
      / len(list_distinct(ta || tb)), 4) AS jaccard
  FROM pairs
)
SELECT DISTINCT id_a, id_b, jaccard FROM scored WHERE jaccard >= {_SNM_JACCARD}
""",
    tags=("dedup", "sorted-neighborhood", "training-data"),
)
def llm_dedup_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection: records sort by a
    normalized key (first three words), and each record is compared ONLY
    to its 2 predecessors in that order — the classic record-linkage
    blocking alternative to hashing (MinHash misses reordered shingles;
    SNM misses differing prefixes; production dedup runs both and unions
    the pair lists, which is why the catalog carries the full family).

    Shape: no pair JOIN at all — the neighborhood compare is lag()
    columns inside one window partitioned by the first word, so candidate
    volume is exactly W rows per record by construction.  At 100 TB the
    sort is a range-partitioned shuffle on (blk, skey) and the lag frames
    never cross partitions; Jaccard is exact integer set math per row
    (array_intersect/union sizes), no float drift to gate.
    """
    d = _t(spark, sf, "documents")
    spl = F.split(F.lower("text"), " ")
    base = d.select(
        "doc_id",
        F.array_distinct(spl).alias("toks"),
        F.array_join(F.slice(spl, 1, 3), " ").alias("skey"),
        F.element_at(spl, 1).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("skey", "doc_id")
    lagged = base.select(
        "doc_id",
        "toks",
        *[
            c
            for j in range(1, _SNM_W + 1)
            for c in (
                F.lag("doc_id", j).over(w).alias(f"id{j}"),
                F.lag("toks", j).over(w).alias(f"tk{j}"),
            )
        ],
    )
    parts = [
        lagged.filter(F.col(f"id{j}").isNotNull()).select(
            F.col("doc_id").alias("a"),
            F.col(f"id{j}").alias("b"),
            F.col("toks").alias("ta"),
            F.col(f"tk{j}").alias("tb"),
        )
        for j in range(1, _SNM_W + 1)
    ]
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionAll(p)
    scored = pairs.select(
        F.least("a", "b").alias("id_a"),
        F.greatest("a", "b").alias("id_b"),
        F.round(
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")),
            4,
        ).alias("jaccard"),
    )
    return scored.filter(F.col("jaccard") >= _SNM_JACCARD).distinct()


# --- product quantization for embeddings (wave 6) -----------------------------

_PQ_SUB = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (8 x 8 = EMBED_DIM)
_PQ_CODES = 16  # codebook entries per subspace


def _duck_pq_sql() -> str:
    d_expr = (
        "list_reduce(list_transform(a.sv, (x, i) -> "
        "(x - b.sv[i]) * (x - b.sv[i])), (p, s2) -> p + s2)"
    )
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), subs AS (
  SELECT vec_id, gs.s,
    qv[(gs.s * {_PQ_SUBDIM} + 1):(gs.s * {_PQ_SUBDIM} + {_PQ_SUBDIM})] AS sv
  FROM q CROSS JOIN generate_series(0, {_PQ_SUB - 1}) gs(s)
), cb AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, s, sv FROM subs
  WHERE vec_id < {_PQ_CODES}
), assigned AS (
  SELECT vec_id, s, cid, d FROM (
    SELECT a.vec_id, a.s, b.cid, {d_expr} AS d,
      row_number() OVER (PARTITION BY a.vec_id, a.s
        ORDER BY {d_expr}, b.cid) AS rn
    FROM subs a JOIN cb b ON a.s = b.s
  ) WHERE rn = 1
)
SELECT s, cid AS code, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(d) AS BIGINT) AS sq_err
FROM assigned GROUP BY s, cid
"""


@register(
    "llm_embed_pq",
    sql=_duck_pq_sql(),
    tags=("embedding", "quantization", "ann", "training-data"),
)
def llm_embed_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization of the embedding corpus — the ANN-index
    compression that makes billion-vector search fit in memory: the
    64-dim space splits into 8 subspaces of 8 dims, each subvector snaps
    to its nearest of 16 codebook entries, and a vector becomes 8 bytes
    of codes.  Output is the per-(subspace, code) population and summed
    quantization error — the codebook-balance/distortion report an index
    build emits.  Codebook entries are the first {{16}} vectors'
    subvectors (deterministic, like llm_kmeans_embeddings' init; a
    production build would Lloyd-iterate each subspace codebook with the
    same machinery).

    Determinism: the same fixed-point BIGINT quantization as
    llm_kmeans_embeddings — every distance is exact integer math, so
    assignment and the error sums cannot drift between engines.

    Shape: subvector explosion is a narrow in-row posexplode (corpus x 8
    rows, no shuffle); the codebook is 128 tiny rows broadcast through an
    equi-join on the subspace id; assignment is an in-row argmin fold;
    the report aggregates to 8 x 16 rows keyed by (s, code).  Nothing
    pairwise, nothing resorted — linear in corpus size.
    """
    e = _t(spark, sf, "embeddings")
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )
    q = e.select("vec_id", qv.alias("qv"))
    sub_arrays = F.array(
        *[
            F.slice("qv", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
            for s in range(_PQ_SUB)
        ]
    )
    subs = q.select(
        "vec_id", F.posexplode(sub_arrays).alias("s", "sv")
    )
    cb = (
        subs.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").cast("int").alias("cid"), "s", "sv")
        .groupBy("s")
        .agg(F.collect_list(F.struct("cid", "sv")).alias("cents"))
    )
    best = F.expr(
        "array_sort(transform(cents, c -> struct("
        f"{_sq_dist_bigint('sv', 'c.sv')} AS d, c.cid AS cid)))[0]"
    )
    assigned = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", best.alias("best")
    )
    return (
        assigned.select("s", F.col("best.cid").alias("code"), F.col("best.d").alias("d"))
        .groupBy("s", "code")
        .agg(F.count("*").alias("n"), F.sum("d").alias("sq_err"))
    )


# --- minhash estimator calibration (wave 7) -----------------------------------

def _duck_calibration_sql() -> str:
    eq_sum = " + ".join(
        f"CAST(a.m{k} = b.m{k} AS INTEGER)" for k in range(dd.N_HASHES)
    )
    inter = "len(list_filter(da.s, x -> list_contains(db.s, x)))"
    return (
        _DUCK_DOCS_CTE
        + f"""
, hashed AS (
  SELECT doc_id,
    list_concat(list_transform(tk, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT),
                [0, 0]::BIGINT[]) AS hh
  FROM (SELECT doc_id, str_split(lower(text), ' ') tk FROM documents)
)
, hs_t AS (SELECT doc_id, {_duck_shingle_hashes()} AS hs FROM hashed)
, mh AS (SELECT doc_id, {_duck_minhash_cols()} FROM hs_t)
, bands AS ({_duck_bands()})
, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
, est AS (
  SELECT c.id_a, c.id_b, ({eq_sum}) / {dd.N_HASHES}.0 AS est
  FROM cand c JOIN mh a ON a.doc_id = c.id_a JOIN mh b ON b.doc_id = c.id_b
)
, ex AS (
  SELECT e.id_a, e.id_b, e.est,
    {inter}::DOUBLE / (len(da.s) + len(db.s) - {inter}) AS exact
  FROM est e JOIN docs da ON da.doc_id = e.id_a
    JOIN docs db ON db.doc_id = e.id_b
)
SELECT CAST(least(floor(abs(est - exact) * 10), 9) AS INTEGER) AS err_bucket,
  CAST(count(*) AS BIGINT) AS n_pairs,
  round(avg(est), 4) AS avg_est, round(avg(exact), 4) AS avg_exact
FROM ex GROUP BY 1
"""
    )


@register(
    "llm_dedup_calibration",
    sql=_duck_calibration_sql(),
    tags=("dedup", "minhash", "calibration", "methodology"),
)
def llm_dedup_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    compare the signature-based Jaccard ESTIMATE (matching components /
    {8}) against the exact shingle-set Jaccard, and histogram the
    absolute error in 0.1-wide buckets with per-bucket mean estimate vs
    truth.  The methodology query a dedup pipeline runs before trusting
    its thresholds — it tells you whether 8 hashes are enough for YOUR
    corpus, or the near-dup cut needs the exact-verify stage.

    Shape: reuses the production signature path end-to-end (explode ->
    map-side min-agg signatures -> banded bucket join), so the calibrated
    object is the real estimator, not a replica; the exact side touches
    only candidate pairs (LSH-bounded, never all-pairs).  The estimate is
    a k/8 rational and the exact ratio is integer set math, so bucket
    assignment floors identical doubles in both engines — no float gate
    needed anywhere.
    """
    docs = _ts(spark, sf, "documents")
    hashed = docs.select(
        "doc_id", F.expr(dd.shingle_hash_expr("text")).alias("shingles")
    )
    signed = dd.with_minhash(hashed)
    bands = dd.lsh_bands(signed, "doc_id")
    pairs = dd.candidate_pairs(bands, "doc_id")
    a = signed.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{k}").alias(f"am{k}") for k in range(dd.N_HASHES)],
    )
    b = signed.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{k}").alias(f"bm{k}") for k in range(dd.N_HASHES)],
    )
    matches = sum(
        (F.col(f"am{k}") == F.col(f"bm{k}")).cast("int")
        for k in range(dd.N_HASHES)
    )
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(dd.N_HASHES))).alias("est"))
    )
    sh = dd.with_shingles(docs, "text")
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    ex = (
        est.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "est", (inter / union).alias("exact"))
    )
    err_bucket = F.least(
        F.floor(F.abs(F.col("est") - F.col("exact")) * 10), F.lit(9)
    ).cast("int")
    return ex.groupBy(err_bucket.alias("err_bucket")).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("est"), 4).alias("avg_est"),
        F.round(F.avg("exact"), 4).alias("avg_exact"),
    )


# --- BPE merge-candidate mining (wave 7) --------------------------------------

_BPE_TOPK = 20


@register(
    "llm_bpe_merge_candidates",
    sql=f"""
WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
), bi AS (
  SELECT freq, unnest([w[i:i+1] for i in generate_series(1, length(w) - 1)])
    AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM bi GROUP BY pair
ORDER BY n DESC, pair LIMIT {_BPE_TOPK}
""",
    tags=("tokenizer", "bpe", "training-data"),
)
def llm_bpe_merge_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """One iteration of BPE tokenizer TRAINING as a distributed query:
    count every adjacent symbol pair across the corpus weighted by word
    frequency and rank the top merge candidates — exactly the statistic
    the BPE training loop greedily consumes (the vendored decoder in
    operators/bpe.py APPLIES learned merges; this query is how those
    merges get LEARNED at corpus scale).

    Shape: the corpus collapses to the word-frequency table first (one
    hash agg — the vocabulary is tiny next to the token stream), pair
    extraction is an in-row transform over each word's character
    sequence, and the candidate ranking is a map-side-combinable integer
    agg + TakeOrdered.  A full training run iterates: re-tokenize with
    the chosen merge, recount, pick again — each iteration this same
    plan over a shrinking symbol sequence, the standard distributed-BPE
    formulation.  All-integer outputs, nothing to gate.
    """
    d = _t(spark, sf, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    bigrams = words.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        bigrams.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


# --- BPE merge LEARNING: k unrolled greedy iterations (round 5) ---------------

_BPE_LEARN_ITERS = 3


def _bpe_learn_sql() -> str:
    """Unrolled DuckDB twin of llm_bpe_merge_learn: seg{r} -> pairs{r} ->
    best{r} -> seg{r+1}.  Pairs unnest ONCE as 't1 t2' strings and split
    with split_part (the one-unnest-per-SELECT DuckDB rule); tokens never
    contain spaces, so the join/split round-trip is lossless."""
    parts = [
        """
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
), seg1 AS (
  SELECT freq,
    '  ' || array_to_string([w[i:i] for i in generate_series(1, length(w))],
                            '  ') || '  ' AS seg
  FROM words
)"""
    ]
    for r in range(1, _BPE_LEARN_ITERS + 1):
        parts.append(
            f"""
, pairs{r} AS (
  SELECT freq, unnest([toks[i] || ' ' || toks[i + 1]
      for i in generate_series(1, len(toks) - 1)]) AS pair
  FROM (SELECT freq, str_split(trim(seg), '  ') AS toks FROM seg{r})
  WHERE len(toks) >= 2
), best{r} AS (
  SELECT split_part(pair, ' ', 1) AS t1, split_part(pair, ' ', 2) AS t2,
    CAST(sum(freq) AS BIGINT) AS n
  FROM pairs{r} GROUP BY pair ORDER BY n DESC, pair LIMIT 1
)"""
        )
        if r < _BPE_LEARN_ITERS:
            parts.append(
                f"""
, seg{r + 1} AS (
  SELECT s.freq, replace(s.seg, ' ' || b.t1 || '  ' || b.t2 || ' ',
                         ' ' || b.t1 || b.t2 || ' ') AS seg
  FROM seg{r} s, best{r} b
)"""
            )
    union = " UNION ALL ".join(
        f"SELECT {r} AS merge_step, t1 || t2 AS merged, n FROM best{r}"
        for r in range(1, _BPE_LEARN_ITERS + 1)
    )
    return "WITH " + "".join(parts) + "\n" + union + "\nORDER BY merge_step"


@register(
    "llm_bpe_merge_learn",
    sql=_bpe_learn_sql(),
    tags=("tokenizer", "bpe", "training-data", "iterative"),
)
def llm_bpe_merge_learn(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training, 3 greedy merge iterations end-to-end:
    llm_bpe_merge_candidates mines ONE iteration's statistics; this query
    closes the loop — pick the argmax pair, RE-SEGMENT the vocabulary by
    applying the merge, recount, pick again.  Output: the learned merge
    table (step, merged token, weighted pair count), exactly what
    operators/bpe.py consumes as its ranked merge list.

    Segmentations are strings with DOUBLE-space token boundaries
    ('  ab  c  ' for tokens [ab, c]), so one literal, non-overlapping,
    left-to-right replace(' t1  t2 ' -> ' t1t2 ') IS canonical greedy BPE
    merging — each match consumes one boundary space on either side,
    preserving the double-space invariant, and overlapping runs ('a a a')
    merge left-to-right exactly like the textbook fold.  Both engines
    scan replace() identically, so the twin stays byte-equal.

    Scale shape: the corpus-sized shuffle is the ONE word-frequency hash
    agg; it is localCheckpoint-ed (vocab-sized) so the unrolled stages
    never re-scan documents.  Each iteration is then a vocab-sized in-row
    transform + a map-side-combinable integer agg + a 1-row TakeOrdered
    argmax, localCheckpoint-ed and crossJoined back as a broadcast scalar
    (the MMR/coreset pick discipline).  The monotone law n1 >= n2 >= n3
    (a merge can only remove occurrences of other pairs, and pairs born
    from the merge are bounded by its count) is asserted in tests."""
    d = _t(spark, sf, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=True)
    )
    seg = words.select(
        "freq",
        F.expr(
            "concat('  ', array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), '  '), '  ')"
        ).alias("seg"),
    )
    bests = []
    for r in range(1, _BPE_LEARN_ITERS + 1):
        pairs = (
            seg.select("freq", F.split(F.trim(F.col("seg")), "  ").alias("toks"))
            .filter(F.size("toks") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(toks) - 1), i ->"
                        " concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                    )
                ).alias("pair"),
            )
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select(
                F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("t1"),
                F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("t2"),
                "n",
            )
            .localCheckpoint(eager=True)
        )
        bests.append(best)
        if r < _BPE_LEARN_ITERS:
            seg = seg.crossJoin(F.broadcast(best)).select(
                "freq",
                F.replace(
                    F.col("seg"),
                    F.concat(
                        F.lit(" "), F.col("t1"), F.lit("  "), F.col("t2"), F.lit(" ")
                    ),
                    F.concat(F.lit(" "), F.col("t1"), F.col("t2"), F.lit(" ")),
                ).alias("seg"),
            )
    out = bests[0].select(
        F.lit(1).alias("merge_step"),
        F.concat("t1", "t2").alias("merged"),
        "n",
    )
    for r, b in enumerate(bests[1:], 2):
        out = out.unionAll(
            b.select(
                F.lit(r).alias("merge_step"),
                F.concat("t1", "t2").alias("merged"),
                "n",
            )
        )
    return out.orderBy("merge_step")


# --- MMR diversity re-ranking (wave 8) ----------------------------------------

_MMR_LAMBDA = 0.7
_MMR_MU = 0.3  # 1 - lambda as an exact shared literal (Python 1-0.7 != 0.3 in doubles)
_MMR_POOL = 20
_MMR_K = 5


def _duck_mmr_sql() -> str:
    def cos(x: str, y: str) -> str:
        return _DUCK_COS.replace("a.embedding", x).replace("b.embedding", y)

    stages = []
    sel_union = "SELECT vec_id FROM s1"
    final = ["SELECT rank, vec_id, rel, mmr FROM s1"]
    for r in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, r))
        stages.append(f"""
p{r} AS (
  SELECT p.vec_id, p.embedding, p.rel,
    max({cos("p.embedding", "s.embedding")}) AS ms
  FROM pool p JOIN ({prev}) s ON true
  WHERE p.vec_id NOT IN ({sel_union})
  GROUP BY p.vec_id, p.embedding, p.rel
), s{r} AS (
  SELECT vec_id, embedding, rel, {r} AS rank,
    round({_MMR_LAMBDA} * rel - {_MMR_MU} * ms, 6) AS mmr
  FROM p{r}
  ORDER BY {_MMR_LAMBDA} * rel - {_MMR_MU} * ms DESC, vec_id
  LIMIT 1
)""")
        sel_union += f" UNION ALL SELECT vec_id FROM s{r}"
        final.append(f"SELECT rank, vec_id, rel, mmr FROM s{r}")
    return f"""
WITH qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
pool AS (
  SELECT a.vec_id, a.embedding,
    round({cos("a.embedding", "b.embedding")}, 6) AS rel
  FROM embeddings a, qv b WHERE a.vec_id <> 0
  ORDER BY rel DESC, a.vec_id LIMIT {_MMR_POOL}
),
s1 AS (
  SELECT vec_id, embedding, rel, 1 AS rank,
    round({_MMR_LAMBDA} * rel, 6) AS mmr
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1
){"".join("," + s for s in stages)}
{" UNION ALL ".join(final)}
"""


@register(
    "llm_mmr_rerank",
    sql=_duck_mmr_sql(),
    tags=("search", "mmr", "diversity", "rag"),
)
def llm_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the RAG serving-side
    diversity pass: from the top-20 cosine candidates for the query
    vector, greedily select 5 maximizing lambda*relevance -
    (1-lambda)*max-similarity-to-already-selected (lambda=0.7), so the
    context window gets relevant AND mutually non-redundant passages
    instead of five near-duplicates of the best hit.

    Greedy selection is inherently sequential, so like
    llm_kmeans_embeddings the iterations UNROLL into the plan: each of
    the 5 stages is an anti-join (drop selected) + a tiny broadcast
    nested-loop against the <=4 selected rows + a 1-row TakeOrdered
    argmax.  The 20-row pool and each 1-row pick are
    ``localCheckpoint``-ed (the llm_coreset_kcenter fix): without that,
    stage r's plan embeds the corpus top-20 scan once per prior stage
    and the greedy unroll recomputes it combinatorially; with it, the
    corpus is scanned exactly once and every later stage runs over
    checkpointed 20-row data.  At 100 TB the pool feeds from the
    IVF/LSH path instead, same stages after.  Argmax compares raw
    doubles built from round-6 relevances and bit-reproducible cosine
    folds, ties broken by vec_id — deterministic in both engines.
    """
    lam = _MMR_LAMBDA
    e = _t(spark, sf, "embeddings")
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qvec"))
        .withColumn("qn", F.expr(sim.norm_expr("qvec")))
    )
    base = e.filter(F.col("vec_id") != 0).withColumn(
        "nrm", F.expr(sim.norm_expr("embedding"))
    )
    scored = base.crossJoin(F.broadcast(q)).withColumn(
        "rel",
        F.round(sim.cosine_col("embedding", "qvec", "nrm", "qn"), 6),
    )
    pool = (
        scored.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .select("vec_id", "embedding", "nrm", "rel")
        .localCheckpoint(eager=True)
    )
    first = (
        pool.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "rel",
            F.lit(1).alias("rank"),
            F.round(F.lit(lam) * F.col("rel"), 6).alias("mmr"),
        )
        .localCheckpoint(eager=True)
    )
    picks = [first]
    for r in range(2, _MMR_K + 1):
        prev = picks[0]
        for p in picks[1:]:
            prev = prev.unionAll(p)
        sel = prev.select(
            F.col("vec_id").alias("s_id"),
            F.col("embedding").alias("s_emb"),
            F.col("nrm").alias("s_nrm"),
        )
        remaining = pool.join(
            sel.select(F.col("s_id").alias("vec_id")), "vec_id", "left_anti"
        )
        sims = (
            remaining.crossJoin(F.broadcast(sel))
            .withColumn(
                "sim",
                sim.cosine_col("embedding", "s_emb", "nrm", "s_nrm"),
            )
            .groupBy("vec_id")
            .agg(
                F.max("sim").alias("ms"),
                F.first("rel").alias("rel"),
                F.first("embedding").alias("embedding"),
                F.first("nrm").alias("nrm"),
            )
        )
        score = F.lit(lam) * F.col("rel") - F.lit(_MMR_MU) * F.col("ms")
        picks.append(
            sims.withColumn("score", score)
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select(
                "vec_id",
                "embedding",
                "nrm",
                "rel",
                F.lit(r).alias("rank"),
                F.round("score", 6).alias("mmr"),
            )
            .localCheckpoint(eager=True)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select("rank", "vec_id", "rel", "mmr")


# --- contrastive training-triplet assembly (wave 8) ---------------------------

def _duck_triplets_sql() -> str:
    # compose the REGISTERED oracles of the two source queries as CTEs —
    # the triplet oracle is by construction the join of the production
    # definitions, not a re-derivation that could drift (both are already
    # registered by the time this module-tail builder runs)
    from knowledgebot_spark.registry import _REGISTRY

    knn = _REGISTRY["llm_knn_graph"].sql
    hn = _REGISTRY["llm_hard_negatives"].sql
    return f"""
WITH knn AS ({knn}), hn AS ({hn})
SELECT k.vec_id AS anchor_id, k.nbr_id AS pos_id, h.neg_id,
  k.score AS pos_cos, h.cos AS neg_cos,
  round(k.score - h.cos, 6) AS margin
FROM knn k JOIN hn h ON h.anchor_id = k.vec_id
WHERE k.rnk = 1 AND h.rank = 1
"""


@register(
    "llm_training_triplets",
    sql=_duck_triplets_sql(),
    tags=("contrastive", "triplets", "training-data"),
)
def llm_training_triplets(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive training-triplet assembly: for every anchor that has
    both, pair its nearest SAME-label neighbor (the rank-1 kNN edge —
    llm_knn_graph blocks by label, so its edges are same-label by
    construction) as the positive with its nearest CROSS-label LSH
    neighbor (rank-1 from llm_hard_negatives) as the negative, emitting
    (anchor, positive, negative, margin) — the dataset a triplet-loss /
    InfoNCE retriever trains on, with the margin column feeding curriculum
    ordering (small-margin triplets are the hard ones).

    Built by composing the two production queries and joining on the
    anchor — and the oracle composes their REGISTERED SQL the same way,
    so the triplet contract can never drift from its sources.  Scale
    shape inherits from the sources (both capped-block equi-joins); the
    final join keys on anchor_id with rank-1 filters pushed below it.
    """
    import knowledgebot_spark.queries_llm as _self

    pos = (
        _self.llm_knn_graph(spark, sf)
        .filter(F.col("rnk") == 1)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("nbr_id").alias("pos_id"),
            F.col("score").alias("pos_cos"),
        )
    )
    neg = (
        _self.llm_hard_negatives(spark, sf)
        .filter(F.col("rank") == 1)
        .select("anchor_id", "neg_id", F.col("cos").alias("neg_cos"))
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        "pos_cos",
        "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


# --- k-center coreset selection (wave 8) --------------------------------------

_KC_K = 5


def _duck_kcenter_sql() -> str:
    d_expr = (
        "list_reduce(list_transform(r.qv, (x, i) -> "
        "(x - s.qv[i]) * (x - s.qv[i])), (p, s2) -> p + s2)"
    )
    stages = []
    sel_union = "SELECT vec_id, qv FROM s1"
    final = ["SELECT 1 AS rank, vec_id, CAST(0 AS BIGINT) AS dmin FROM s1"]
    for r in range(2, _KC_K + 1):
        stages.append(f"""
p{r} AS (
  SELECT r.vec_id, r.qv, min({d_expr}) AS dmin
  FROM q r JOIN ({sel_union}) s ON true
  WHERE r.vec_id NOT IN (SELECT vec_id FROM ({sel_union}))
  GROUP BY r.vec_id, r.qv
), s{r} AS (
  SELECT vec_id, qv, dmin FROM p{r} ORDER BY dmin DESC, vec_id LIMIT 1
)""")
        sel_union += f" UNION ALL SELECT vec_id, qv FROM s{r}"
        final.append(f"SELECT {r} AS rank, vec_id, dmin FROM s{r}")
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), s1 AS (SELECT vec_id, qv FROM q WHERE vec_id = 0)
{"".join("," + s for s in stages)}
{" UNION ALL ".join(final)}
"""


@register(
    "llm_coreset_kcenter",
    sql=_duck_kcenter_sql(),
    tags=("coreset", "kcenter", "sampling", "training-data"),
)
def llm_coreset_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point sampling): seed
    with vec_id 0, then repeatedly pick the vector FARTHEST from the
    selected set (max over candidates of min distance to any pick) — the
    classic 2-approximation to the k-center cover, used for coreset /
    active-learning selection and as kmeans++-style seeding; each pick's
    ``dmin`` is the covering radius the selection just reduced.

    Like llm_mmr_rerank the greedy loop unrolls into plan stages, but
    here each stage SCANS THE CORPUS (anti-join + <=4-row broadcast +
    per-row min-fold + 1-row TakeOrdered).  Each 1-row pick is
    ``localCheckpoint``-ed before the next stage builds on it — without
    that, pick r's plan would embed the full lineage of picks 2..r-1
    (each a corpus aggregate) and the schedule would silently recompute
    ~O(k^2/2) corpus scans; with it, k selections cost exactly k linear
    passes, the textbook FPS schedule, with nothing pairwise.  Distances
    are the same fixed-point BIGINT quantization as llm_kmeans_embeddings
    — every comparison is exact integer math end-to-end, no float gate
    anywhere in the query.
    """
    e = _t(spark, sf, "embeddings")
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )
    q = e.select("vec_id", qv.alias("qv"))
    first = q.filter(F.col("vec_id") == 0).select(
        "vec_id", "qv", F.lit(1).alias("rank"), F.lit(0).cast("long").alias("dmin")
    )
    picks = [first.localCheckpoint(eager=True)]
    dist = F.expr(_sq_dist_bigint("qv", "s_qv"))
    for r in range(2, _KC_K + 1):
        prev = picks[0]
        for p in picks[1:]:
            prev = prev.unionAll(p)
        sel = prev.select(
            F.col("vec_id").alias("s_id"), F.col("qv").alias("s_qv")
        )
        rem = q.join(
            sel.select(F.col("s_id").alias("vec_id")), "vec_id", "left_anti"
        )
        dists = (
            rem.crossJoin(F.broadcast(sel))
            .withColumn("d", dist)
            .groupBy("vec_id")
            .agg(F.min("d").alias("dmin"), F.first("qv").alias("qv"))
        )
        picks.append(
            dists.orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "qv", F.lit(r).alias("rank"), F.col("dmin"))
            .localCheckpoint(eager=True)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select("rank", "vec_id", "dmin")


# --- dedup-detector overlap report (wave 8) -----------------------------------

def _duck_dedup_overlap_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    srcs = {
        "minhash": _REGISTRY["llm_dedup_minhash"].sql,
        "ngram": _REGISTRY["llm_dedup_ngram"].sql,
        "simhash": _REGISTRY["llm_dedup_simhash"].sql,
        "snm": _REGISTRY["llm_dedup_sorted_neighborhood"].sql,
    }
    ctes = ", ".join(f"{name} AS ({sql})" for name, sql in srcs.items())
    tagged = " UNION ".join(
        f"SELECT id_a, id_b, '{name}' AS d FROM {name}" for name in srcs
    )
    return f"""
WITH {ctes},
tagged AS ({tagged}),
combos AS (
  SELECT id_a, id_b,
    array_to_string(list_sort(list(DISTINCT d)), '+') AS detectors
  FROM tagged GROUP BY id_a, id_b
)
SELECT detectors, CAST(count(*) AS BIGINT) AS n_pairs
FROM combos GROUP BY detectors
"""


@register(
    "llm_dedup_overlap_report",
    sql=_duck_dedup_overlap_sql(),
    tags=("dedup", "overlap", "methodology"),
)
def llm_dedup_overlap_report(spark: SparkSession, sf: str) -> DataFrame:
    """Detector-overlap report across the text-dedup family: every pair
    flagged by MinHash-LSH, blocked n-gram Jaccard, SimHash, or
    sorted-neighborhood, grouped by WHICH combination of detectors found
    it.  This is the audit that justifies running several detectors —
    each blocks differently (signature buckets / length-lang blocks /
    bit-pigeonholes / sort order), so their recall sets only partially
    overlap, and a pair found by one detector alone is exactly the
    recall the others would have missed.

    Composes the four PRODUCTION queries (and their registered oracles as
    CTEs — the llm_training_triplets pattern), so the report audits the
    real detectors, not replicas.  Scale shape inherits from the sources;
    the overlap agg keys on the pair id, map-side combinable.

    Round-14 (guide §2.6, VERDICT r13 #4): the four detectors are
    materialized CONCURRENTLY from driver threads into per-detector
    localCheckpoints, then unioned for the (tiny) pair-keyed overlap agg.
    The one declarative 1,400-op composed plan already ran the four stage
    graphs concurrently, but Catalyst analyzed/optimized it single-
    threaded on the driver, re-paid per invocation — four ~350-op plans
    analyzed in parallel threads replace it (A/B evidence in
    OPTIMIZATION_r14.md; checkpoint-per-detector WITHOUT threads was
    rejected in round 13 because it serialized the detectors' execution).
    The per-thread ``setJobDescription`` assumes pinned-thread mode
    (``PYSPARK_PIN_THREAD``, on by default since Spark 3.2), where each
    Python thread owns its JVM thread's local properties; with it off,
    the threads share them and can overwrite each other's (and the
    caller's) job description.  Each checkpoint is
    pair-rows only (id_a, id_b) — detector tags are constants attached
    after materialization, and every pair set is orders of magnitude
    smaller than the corpus that produced it, so the held intermediate is
    the decision set, not data (guide §8's lightweight-proxy rule).
    """
    from concurrent.futures import ThreadPoolExecutor

    import knowledgebot_spark.queries_llm as _self

    detectors = [
        ("minhash", _self.llm_dedup_minhash),
        ("ngram", _self.llm_dedup_ngram),
        ("simhash", _self.llm_dedup_simhash),
        ("snm", _self.llm_dedup_sorted_neighborhood),
    ]

    def _materialize(item):
        name, fn = item
        sc = spark.sparkContext
        # per-thread only in pinned-thread mode (PYSPARK_PIN_THREAD, default)
        sc.setJobDescription(f"overlap_report: {name}")
        try:
            # eager localCheckpoint: runs this detector's jobs NOW, on
            # this thread, concurrently with its three siblings
            return (
                name,
                fn(spark, sf).select("id_a", "id_b").localCheckpoint(),
            )
        finally:
            sc.setJobDescription(None)

    # 4 driver threads = 4 concurrent jobs; FIFO scheduling back-fills
    # each detector's straggler tail with the next one's tasks (§2.6)
    with ThreadPoolExecutor(max_workers=len(detectors)) as pool:
        ckpts = list(pool.map(_materialize, detectors))
    parts = [df.withColumn("d", F.lit(name)) for name, df in ckpts]
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    combos = tagged.groupBy("id_a", "id_b").agg(
        F.array_join(F.array_sort(F.collect_set("d")), "+").alias("detectors")
    )
    # The report (one row per detector combination, at most 15) is
    # collected so the four checkpoints can be released.  Unpersisting a
    # DataFrame does not free its local checkpoint: the checkpointed RDD
    # under its LogicalRDD has to be unpersisted.
    report = combos.groupBy("detectors").agg(F.count("*").alias("n_pairs")).toArrow()
    for _, df in ckpts:
        df._jdf.logicalPlan().rdd().unpersist(False)
    return spark.createDataFrame(report)


# --- per-source token-mass Gini (wave 9) --------------------------------------

@register(
    "llm_source_gini",
    sql="""
WITH sized AS (
  SELECT source, doc_id, CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS tk
  FROM documents
), ranked AS (
  SELECT source, tk,
    row_number() OVER (PARTITION BY source ORDER BY tk, doc_id) AS i
  FROM sized
), agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(tk) AS BIGINT) AS total_tk,
    CAST(sum(i * tk) AS BIGINT) AS weighted
  FROM ranked GROUP BY source
)
SELECT source, n, total_tk,
  round(2.0 * weighted / (n * total_tk) - (n + 1.0) / n, 6) AS gini
FROM agg
""",
    tags=("corpus-stats", "gini", "training-data"),
)
def llm_source_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of token mass across documents, per source: 0 =
    every document contributes equally, ->1 = a few giants carry the
    source.  The mixture-balance diagnostic behind sampling decisions —
    a high-Gini source needs llm_weighted_sample's by-token-mass draw
    (or document splitting) before its token share means anything.

    Uses the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending-sorted counts; within equal counts the doc_id tie-break is
    irrelevant to the sum (equal x across a tied block makes sum(i*x)
    order-invariant), so the statistic is exact integer math until the
    final division.  Shape: one per-source window (partition-bounded, no
    global sort) and one hash agg; output is |sources| rows.
    """
    d = _t(spark, sf, "documents")
    sized = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("tk"),
    )
    w = Window.partitionBy("source").orderBy("tk", "doc_id")
    ranked = sized.select(
        "source", "tk", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("tk").alias("total_tk"),
        F.sum(F.col("i") * F.col("tk")).alias("weighted"),
    )
    return agg.select(
        "source",
        "n",
        "total_tk",
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total_tk"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# --- dataset card summary (wave 9) --------------------------------------------

@register(
    "llm_dataset_card",
    sql="""
WITH sized AS (
  SELECT source, lang, n_chars,
    CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS tk
  FROM documents
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tk) AS BIGINT) AS n_tokens,
    CAST(sum(n_chars) AS BIGINT) AS n_chars,
    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM sized
)
SELECT 'corpus' AS section, 'n_docs' AS key, n_docs * 1.0 AS value FROM totals
UNION ALL SELECT 'corpus', 'n_tokens', n_tokens * 1.0 FROM totals
UNION ALL SELECT 'corpus', 'n_chars', n_chars * 1.0 FROM totals
UNION ALL SELECT 'corpus', 'n_sources', n_sources * 1.0 FROM totals
UNION ALL SELECT 'corpus', 'n_langs', n_langs * 1.0 FROM totals
UNION ALL
SELECT 'source:' || source, 'n_docs', count(*) * 1.0 FROM sized GROUP BY source
UNION ALL
SELECT 'source:' || s.source, 'token_share',
  round(sum(s.tk) * 1.0 / t.n_tokens, 6)
FROM sized s CROSS JOIN totals t GROUP BY s.source, t.n_tokens
UNION ALL
SELECT 'lang:' || lang, 'doc_share',
  round(count(*) * 1.0 / max(t.n_docs), 6)
FROM sized CROSS JOIN totals t GROUP BY lang
""",
    tags=("corpus-stats", "dataset-card", "reporting"),
)
def llm_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card summary — the one-query report a corpus release
    ships: corpus totals (docs/tokens/chars/source/language counts),
    per-source document counts and token shares, per-language document
    shares, as a long skinny (section, key, value) table that downstream
    tooling renders directly.

    Shape: ONE narrow scan feeds every branch (the sized CTE computes
    token counts once); totals are a 1-row aggregate broadcast into the
    share branches (the llm_tfidf_topterm scalar pattern); output
    cardinality is 5 + 2|sources| + |langs| regardless of corpus size.
    Counts stay exact integers widened to double; shares round at 6dp
    over exact-integer ratios.
    """
    d = _t(spark, sf, "documents")
    sized = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("tk"),
    )
    totals = sized.agg(
        F.count("*").alias("n_docs"),
        F.sum("tk").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
    )
    corpus = totals.selectExpr(
        "stack(5, 'n_docs', n_docs * 1.0, 'n_tokens', n_tokens * 1.0, "
        "'n_chars', n_chars * 1.0, 'n_sources', n_sources * 1.0, "
        "'n_langs', n_langs * 1.0) AS (key, value)"
    ).select(F.lit("corpus").alias("section"), "key", "value")
    src_docs = sized.groupBy("source").agg(F.count("*").alias("c")).select(
        F.concat(F.lit("source:"), F.col("source")).alias("section"),
        F.lit("n_docs").alias("key"),
        (F.col("c") * 1.0).alias("value"),
    )
    src_share = (
        sized.crossJoin(F.broadcast(totals.select("n_tokens")))
        .groupBy("source", "n_tokens")
        .agg(F.sum("tk").alias("stk"))
        .select(
            F.concat(F.lit("source:"), F.col("source")).alias("section"),
            F.lit("token_share").alias("key"),
            F.round(F.col("stk") * 1.0 / F.col("n_tokens"), 6).alias("value"),
        )
    )
    lang_share = (
        sized.crossJoin(F.broadcast(totals.select("n_docs")))
        .groupBy("lang")
        .agg(F.count("*").alias("c"), F.max("n_docs").alias("nd"))
        .select(
            F.concat(F.lit("lang:"), F.col("lang")).alias("section"),
            F.lit("doc_share").alias("key"),
            F.round(F.col("c") * 1.0 / F.col("nd"), 6).alias("value"),
        )
    )
    return corpus.unionByName(src_docs).unionByName(src_share).unionByName(
        lang_share
    )


# --- incremental ANN-index maintenance delta (wave 9) -------------------------

_IXD_SPLIT = 100  # vec_id < 100 = incoming batch; >= 100 = indexed corpus


def _duck_index_delta_sql() -> str:
    d_int = (
        "list_reduce(list_transform(q.qv, (x, i) -> (x - c.c[i]) * (x - c.c[i])), "
        "(p, s) -> p + s)"
    )
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor(x::DOUBLE * 1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), c AS (
  SELECT CAST(vec_id - {_IXD_SPLIT} AS INTEGER) AS cell, qv AS c FROM q
  WHERE vec_id >= {_IXD_SPLIT} AND vec_id < {_IXD_SPLIT + 4}
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_int}, c.cell) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn = 1
), split AS (
  SELECT cell,
    CAST(sum(CASE WHEN vec_id >= {_IXD_SPLIT} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_indexed,
    CAST(sum(CASE WHEN vec_id < {_IXD_SPLIT} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_incoming
  FROM assigned GROUP BY cell
)
SELECT cell, n_indexed, n_incoming,
  round(n_incoming * 1.0 / n_indexed, 4) AS growth,
  n_incoming * 4 > n_indexed AS needs_rebalance
FROM split
"""


@register(
    "llm_index_delta",
    sql=_duck_index_delta_sql(),
    tags=("ann", "index-maintenance", "incremental"),
)
def llm_index_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ANN-index maintenance report: assign an INCOMING batch
    of vectors (a deterministic id slice standing in for the CDC feed) to
    the existing IVF cells and report per-cell growth — the planning
    query an index pipeline runs to decide which cells to rebuild or
    split before search quality degrades (a cell absorbing >25% new mass
    gets flagged).  The llm_dedup_incremental posture applied to the
    vector index: the indexed corpus is never re-clustered, only the
    delta is assigned.

    Cell centroids are an existing-corpus id slice (deterministic, the
    llm_kmeans_embeddings init convention); assignment is the same
    fixed-point BIGINT argmin — exact integer math, broadcast centroids,
    one narrow pass over indexed + incoming vectors.
    """
    e = _t(spark, sf, "embeddings")
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
    )
    q = e.select("vec_id", qv.alias("qv"))
    cents = (
        q.filter(
            (F.col("vec_id") >= _IXD_SPLIT) & (F.col("vec_id") < _IXD_SPLIT + 4)
        )
        .select(
            (F.col("vec_id") - _IXD_SPLIT).cast("int").alias("cell"),
            F.col("qv").alias("c"),
        )
        .agg(F.collect_list(F.struct("cell", "c")).alias("cents"))
    )
    best = F.expr(
        "array_sort(transform(cents, s -> struct("
        f"{_sq_dist_bigint('qv', 's.c')} AS d, s.cell AS cell)))[0].cell"
    )
    assigned = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", best.alias("cell")
    )
    split = assigned.groupBy("cell").agg(
        F.sum((F.col("vec_id") >= _IXD_SPLIT).cast("long")).alias("n_indexed"),
        F.sum((F.col("vec_id") < _IXD_SPLIT).cast("long")).alias("n_incoming"),
    )
    return split.select(
        "cell",
        "n_indexed",
        "n_incoming",
        F.round(F.col("n_incoming") / F.col("n_indexed"), 4).alias("growth"),
        (F.col("n_incoming") * 4 > F.col("n_indexed")).alias("needs_rebalance"),
    )


# --- embedding norm health check (wave 9) -------------------------------------

@register(
    "llm_embedding_health",
    sql="""
WITH norms AS (
  SELECT vec_id, label,
    sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
      (p, s) -> p + s)) AS nrm,
    len(embedding) AS dim
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
  CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_seen,
  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
  round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
  round(quantile_cont(nrm, 0.5), 6) AS median_norm
FROM norms
""",
    tags=("embedding", "health", "monitoring"),
)
def llm_embedding_health(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-table health check: vector count, dimension consistency
    (n_dims_seen must be 1 — mixed dims silently break every dot
    product), zero-norm count (they NULL out of cosine ranking), and the
    norm distribution (min/median/max) — collapse of the norm spread is
    the classic symptom of a broken embedding export, and similarity
    thresholds tuned on one norm regime are wrong in another.  The
    pre-flight every index build runs before llm_index_delta ever
    assigns a cell.

    Shape: one narrow scan, one aggregate; the norm fold is the same
    left-to-right double fold as the similarity operators so the numbers
    here describe EXACTLY what the search path will see.  Exact median
    via percentile (both engines interpolate identically); at 100 TB use
    the KLL path.
    """
    e = _t(spark, sf, "embeddings")
    norms = e.select(
        "vec_id",
        F.expr(sim.norm_expr("embedding")).alias("nrm"),
        F.size("embedding").alias("dim"),
    )
    return norms.agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("dim").alias("n_dims_seen"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.expr("percentile(nrm, 0.5)"), 6).alias("median_norm"),
    )


# --- cross-source duplication matrix (wave 9) ---------------------------------

def _duck_dup_matrix_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    mh = _REGISTRY["llm_dedup_minhash"].sql
    return f"""
WITH pairs AS ({mh})
SELECT least(da.source, db.source) AS source_a,
  greatest(da.source, db.source) AS source_b,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST((2 * sum(CAST(round(p.jaccard * 10000) AS BIGINT)) + count(*))
       // (2 * count(*)) AS BIGINT) AS avg_jaccard_e4
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
GROUP BY 1, 2
"""


@register(
    "llm_dup_matrix_by_source",
    sql=_duck_dup_matrix_sql(),
    tags=("dedup", "provenance", "reporting"),
)
def llm_dup_matrix_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash near-dup pairs grouped by
    the (unordered) source pair, with mean Jaccard — the provenance
    report that tells you WHICH sources mirror each other (a high
    off-diagonal cell means two crawls overlap and one should be dropped
    or down-weighted before training; the diagonal is within-source
    redundancy).  Composes the REGISTERED llm_dedup_minhash oracle as a
    CTE, the llm_training_triplets pattern, so the matrix audits the
    production detector.

    Shape: the pair list is LSH-bounded; two broadcast joins attach
    source labels; output is |sources|^2/2 rows.
    """
    import knowledgebot_spark.queries_llm as _self

    pairs = _self.llm_dedup_minhash(spark, sf)
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    da = docs.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
    )
    db = docs.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 10000).cast("bigint")).alias(
                "sum_e4"
            ),
        )
        # exact integer round-half-up mean in 1e-4 units: a double
        # avg()+round(4) flipped half-boundary cells at sf0.1 (summation
        # order differs between engines); (2s+n) div 2n is order-free
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.expr("(2 * sum_e4 + n_pairs) div (2 * n_pairs)").alias(
                "avg_jaccard_e4"
            ),
        )
    )


# --- binary media dedup (wave 9) ----------------------------------------------

@register(
    "llm_media_dedup",
    sql="""
SELECT md5(text) AS content_md5,
  CAST(count(*) AS BIGINT) AS n_copies,
  CAST(min(doc_id) AS BIGINT) AS keeper_id,
  CAST((count(*) - 1) * min(strlen(text)) AS BIGINT) AS bytes_reclaimed
FROM documents GROUP BY md5(text)
HAVING count(*) > 1
""",
    tags=("dedup", "multimodal", "binary"),
)
def llm_media_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup over BINARY media payloads: group assets by the md5 of
    their raw bytes, keep the lowest asset id, report the storage each
    duplicate group would reclaim — the llm_dedup_exact pattern extended
    to the opaque-binary modality (a media lake dedups on content digest
    before any decode; identical bytes are identical media regardless of
    filename or metadata).

    Spark's md5 hashes the binary column directly in the JVM; the oracle
    hashes the text the payload was encoded from (to_media_assets stores
    utf-8 bytes), so the digest equality is itself cross-engine-verified.
    Shape: one hash agg keyed by digest — map-side combinable, identical
    to exact dedup at any scale.
    """
    from knowledgebot_spark.operators import multimodal as mm

    assets = mm.to_media_assets(_t(spark, sf, "documents"))
    return (
        assets.groupBy(F.md5("payload").alias("content_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("asset_id").alias("keeper_id"),
            ((F.count("*") - 1) * F.min(F.length("payload")))
            .cast("long")
            .alias("bytes_reclaimed"),
        )
        .filter(F.col("n_copies") > 1)
    )


# --- packing efficiency report (wave 9) ---------------------------------------

def _duck_pack_efficiency_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    packs = _REGISTRY["llm_pack_sequences"].sql
    return f"""
WITH packs AS ({packs})
SELECT CAST(least(pack_tokens * 10 // 512, 14) AS INTEGER) AS fill_decile,
  CAST(count(*) AS BIGINT) AS n_packs,
  CAST(sum(n_docs) AS BIGINT) AS n_docs,
  CAST(sum(pack_tokens) AS BIGINT) AS tokens
FROM packs GROUP BY 1
"""


@register(
    "llm_pack_efficiency",
    sql=_duck_pack_efficiency_sql(),
    tags=("packing", "efficiency", "reporting"),
)
def llm_pack_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-efficiency report over llm_pack_sequences' output: packs
    histogrammed by fill decile relative to the 512-token budget (the
    streaming-concat scheme assigns each document to the pack where it
    STARTS, so tail packs under-fill and long documents overflow their
    pack — deciles above 10/10 are the overflow mass).  This ratio is
    the batch-utilization number that decides whether the packer needs a
    smarter bin-packing pass: every under-filled pack is padding the
    accelerator burns.

    Composes the registered production query (the llm_training_triplets
    pattern); the decile math is integer-exact.  Shape: inherits the
    packer's bounded-key shuffles, then a constant-size histogram agg.
    """
    import knowledgebot_spark.queries_llm as _self

    packs = _self.llm_pack_sequences(spark, sf)
    decile = F.least(
        (F.col("pack_tokens") * 10 / F.lit(512)).cast("long"), F.lit(14)
    ).cast("int")
    return packs.groupBy(decile.alias("fill_decile")).agg(
        F.count("*").alias("n_packs"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("pack_tokens").alias("tokens"),
    )


# --- bigram-LM perplexity quality scoring (wave 10) ---------------------------

_LM_VOCAB = 200
_LM_TOPK = 20


def _duck_lm_perplexity_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train,
    str_split(lower(text), ' ') AS t
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM (
      SELECT unnest(t) AS w FROM toks WHERE is_train
    ) WHERE w <> '' GROUP BY w
  ) ORDER BY c DESC, w LIMIT {_LM_VOCAB}
), vs AS (
  SELECT list(w) AS vlist FROM vocab
), mapped AS (
  SELECT doc_id, is_train,
    [CASE WHEN list_contains(vs.vlist, tok) THEN tok ELSE '<unk>' END
     FOR tok IN t IF tok <> ''] AS mt
  FROM toks CROSS JOIN vs
), bigrams0 AS (
  SELECT doc_id, is_train,
    unnest([mt[i] || ' ' || mt[i + 1]
            FOR i IN generate_series(1, len(mt) - 1)]) AS bg
  FROM mapped WHERE len(mt) >= 2
), bigrams AS (
  SELECT doc_id, is_train, bg, split_part(bg, ' ', 1) AS w1 FROM bigrams0
), bg_counts AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS cab FROM bigrams
  WHERE is_train GROUP BY bg
), uni_counts AS (
  SELECT w1 AS w, CAST(count(*) AS BIGINT) AS ca FROM bigrams
  WHERE is_train GROUP BY w1
), scored AS (
  SELECT v.doc_id,
    -avg(ln((coalesce(b.cab, 0) + 1) * 1.0
            / (coalesce(u.ca, 0) + {_LM_VOCAB + 1}))) AS nll
  FROM bigrams v
  LEFT JOIN bg_counts b ON v.bg = b.bg
  LEFT JOIN uni_counts u ON v.w1 = u.w
  WHERE NOT v.is_train
  GROUP BY v.doc_id
)
SELECT doc_id, round(nll, 6) AS nll
FROM scored ORDER BY round(nll, 6) DESC, doc_id LIMIT {_LM_TOPK}
"""


def _lm_vocab_mapped_tokens(toks: DataFrame, vocab: DataFrame) -> DataFrame:
    """TOKEN-KEYED vocab mapping — the LM scale path: posexplode the token
    arrays, broadcast-LEFT-join the vocabulary on the token itself (an O(1)
    hash probe per token, vocabulary-size-independent), rewrite misses to
    '<unk>', and re-collect per document ordered by position.  Replaces the
    previous transform(array_contains(vs, tok)) scan, which was O(V)
    interpreted work per token — harmless at V={_LM_VOCAB} but quadratic
    debris at a realistic 50k-word vocabulary.  The price is one
    doc_id-keyed shuffle of the token stream (collect_list); the win is
    that mapping cost no longer scales with vocabulary.  Input columns
    (doc_id, is_train, t: array<string>); output (doc_id, is_train,
    mt: array<string>) with docs shorter than 2 tokens dropped, exactly
    like the scan path (test_lm_vocab_mapping_paths_agree proves
    bit-equality of the two full query results)."""
    pos_tok = toks.select("doc_id", "is_train", F.posexplode("t").alias("pos", "tok"))
    hit = vocab.select(F.col("w").alias("tok"), F.lit(True).alias("in_v"))
    mapped_tok = pos_tok.join(F.broadcast(hit), "tok", "left").select(
        "doc_id",
        "is_train",
        "pos",
        F.when(F.col("in_v"), F.col("tok")).otherwise(F.lit("<unk>")).alias("mtok"),
    )
    return (
        mapped_tok.groupBy("doc_id", "is_train")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mtok"))).alias("ps"))
        .select(
            "doc_id",
            "is_train",
            F.expr("transform(ps, x -> x.mtok)").alias("mt"),
        )
        .filter(F.size("mt") >= 2)
    )


def _lm_vocab_mapped_tokens_scan(toks: DataFrame, vocab: DataFrame) -> DataFrame:
    """The original array_contains mapping — O(V) per token, zero extra
    shuffle.  Kept ONLY as the small-V reference implementation for
    test_lm_vocab_mapping_paths_agree; the catalog queries use the
    token-keyed join path above."""
    vset = vocab.agg(F.collect_list("w").alias("vs"))
    return (
        toks.crossJoin(F.broadcast(vset))
        .select(
            "doc_id",
            "is_train",
            F.expr(
                "transform(t, tok -> CASE WHEN array_contains(vs, tok) "
                "THEN tok ELSE '<unk>' END)"
            ).alias("mt"),
        )
        .filter(F.size("mt") >= 2)
    )


@register(
    "llm_lm_perplexity",
    sql=_duck_lm_perplexity_sql(),
    tags=("quality", "perplexity", "language-model", "training-data"),
)
def llm_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical-LM perplexity quality scoring, the CCNet recipe
    without external model weights: train an add-1-smoothed bigram model
    (top-200 vocabulary, OOV -> <unk>) on the md5-range TRAIN split,
    score the held-out documents by mean negative log-likelihood, and
    surface the 20 highest — the documents the corpus's own statistics
    find most surprising (junk, wrong-language, template debris).  The
    train/score separation matters: scoring a document with a model that
    saw it underestimates its weirdness.

    Shape: vocabulary is a TakeOrdered top-K; the bigram model is two
    hash aggs over the train token stream; scoring is two LEFT joins of
    the held-out bigram stream against the (broadcastable) model tables
    and one doc-keyed avg.  All counts are exact integers; ln of
    identical rationals is identical in both engines, the mean rounds at
    6dp before the final ranking (the llm_pmi_collocations rule).
    """
    d = _t(spark, sf, "documents")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc"
    toks = d.select(
        "doc_id",
        is_train.alias("is_train"),
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("t"),
    )
    unigrams = toks.filter("is_train").select(F.explode("t").alias("w"))
    vocab = (
        unigrams.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_LM_VOCAB)
        .select("w")
    )
    # token-keyed vocab mapping (O(1) hash probe per token) — see
    # _lm_vocab_mapped_tokens for the scale rationale
    mapped = _lm_vocab_mapped_tokens(toks, vocab)
    bigrams = mapped.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(mt) - 1), "
                "i -> struct(concat(mt[i - 1], ' ', mt[i]) AS bg, mt[i - 1] AS w1))"
            )
        ).alias("p"),
    ).select("doc_id", "is_train", "p.bg", "p.w1")
    bg_counts = (
        bigrams.filter("is_train").groupBy("bg").agg(F.count("*").alias("cab"))
    )
    uni_counts = (
        bigrams.filter("is_train").groupBy("w1").agg(F.count("*").alias("ca"))
    )
    nll_term = -F.log(
        (F.coalesce(F.col("cab"), F.lit(0)) + 1)
        / (F.coalesce(F.col("ca"), F.lit(0)) + F.lit(_LM_VOCAB + 1))
    )
    scored = (
        bigrams.filter(~F.col("is_train"))
        .join(bg_counts, "bg", "left")
        .join(uni_counts.withColumnRenamed("w1", "w"), F.col("w1") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(F.round(F.avg(nll_term), 6).alias("nll"))
    )
    return scored.orderBy(F.desc("nll"), F.asc("doc_id")).limit(_LM_TOPK)


# --- BM25 lexical retrieval (wave 10) -----------------------------------------

_BM25_TERMS = ("table", "scan", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def _duck_bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
    sum(dl) * 1.0 / count(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT t.doc_id,
    sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
        * t.tf * ({_BM25_K1} + 1)
        / (t.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl)))
      AS score
  FROM tf t
  JOIN dfreq f ON t.tok = f.tok
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT {_BM25_TOPK}
"""


@register(
    "llm_bm25_search",
    sql=_duck_bm25_sql(),
    tags=("search", "bm25", "lexical", "rag"),
)
def llm_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 lexical retrieval — the sparse leg of hybrid search: score
    every document against a fixed query-term set with the Okapi
    saturation formula (k1=1.2, b=0.75, Lucene-style idf), top 10.
    Dense cosine (llm_sim_*) finds semantic neighbors; BM25 finds exact-
    term evidence dense embeddings smear away — production retrieval
    runs both and fuses (llm_hybrid_fusion).

    Shape: the token stream filters to the (tiny, broadcast-literal)
    query vocabulary BEFORE any shuffle, so tf is a hash agg over
    matching postings only; document length and corpus stats are one agg
    each (1-row broadcast); scoring folds per (doc, term) and sums per
    doc.  Exact integer tf/df/dl; the float formula evaluates on
    identical inputs in both engines, rounded at 6dp before ranking.
    """
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom), 6
            ).alias("score")
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(_BM25_TOPK)


# --- hybrid dense + lexical fusion (wave 10) ----------------------------------

_RRF_K = 60


def _duck_hybrid_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    dense = _REGISTRY["llm_sim_bruteforce"].sql
    lexical = _REGISTRY["llm_bm25_search"].sql
    return f"""
WITH dense AS ({dense}), lexical AS ({lexical}),
dr AS (
  SELECT vec_id AS id, row_number() OVER (ORDER BY score DESC, vec_id) AS r
  FROM dense
), lr AS (
  SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM lexical
), fused AS (
  SELECT coalesce(dr.id, lr.id) AS id,
    round(coalesce(1.0 / ({_RRF_K} + dr.r), 0)
        + coalesce(1.0 / ({_RRF_K} + lr.r), 0), 6) AS rrf,
    dr.r AS dense_rank, lr.r AS lexical_rank
  FROM dr FULL OUTER JOIN lr ON dr.id = lr.id
)
SELECT id, rrf, CAST(dense_rank AS BIGINT) AS dense_rank,
  CAST(lexical_rank AS BIGINT) AS lexical_rank
FROM fused ORDER BY rrf DESC, id LIMIT {_BM25_TOPK}
"""


@register(
    "llm_hybrid_fusion",
    sql=_duck_hybrid_sql(),
    tags=("search", "hybrid", "rrf", "rag"),
)
def llm_hybrid_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the dense cosine
    top-10 (llm_sim_bruteforce, vector ids double as document ids in the
    testdata) and the BM25 lexical top-10 fuse with
    RRF(d) = sum over lists of 1/(60 + rank) — rank-based, so the two
    incomparable score scales never need calibration; a document on both
    lists outranks single-list hits.  The completing piece of the
    retrieval stack: dense recall + lexical precision -> fused list ->
    llm_mmr_rerank for diversity.

    Composes the two REGISTERED queries (oracle included, the
    llm_training_triplets pattern).  RRF terms are exact rationals of
    small integers — identical doubles in both engines — and the fused
    candidate set is at most 20 rows, so the fusion itself costs nothing
    at any corpus scale.
    """
    import knowledgebot_spark.queries_llm as _self

    wd = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    dr = (
        _self.llm_sim_bruteforce(spark, sf)
        .select(F.col("vec_id").alias("id"), "score")
        .withColumn("r", F.row_number().over(wd.orderBy(F.desc("score"), F.asc("id"))))
        .select("id", F.col("r").alias("dense_rank"))
    )
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lr = (
        _self.llm_bm25_search(spark, sf)
        .withColumn("r", F.row_number().over(wl))
        .select(F.col("doc_id").alias("id"), F.col("r").alias("lexical_rank"))
    )
    fused = dr.join(lr, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("lexical_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        "dense_rank",
        "lexical_rank",
    )
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(_BM25_TOPK)


# --- pseudo-relevance query expansion (wave 10) -------------------------------

_QE_FEEDBACK = 5
_QE_TOPK = 10


def _duck_query_expansion_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    bm25 = _REGISTRY["llm_bm25_search"].sql
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH bm25 AS ({bm25}), fb AS (
  SELECT doc_id FROM bm25 ORDER BY score DESC, doc_id LIMIT {_QE_FEEDBACK}
), toks AS (
  SELECT t.doc_id, t.tok FROM (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM documents
  ) t JOIN fb ON t.doc_id = fb.doc_id
  WHERE t.tok <> '' AND t.tok NOT IN ({terms})
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), w AS (
  SELECT tok, round(sum(tf * 1.0 / dl), 6) AS weight,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM (
    SELECT t.doc_id, t.tok, CAST(count(*) AS BIGINT) AS tf
    FROM toks t GROUP BY t.doc_id, t.tok
  ) tf JOIN dl USING (doc_id)
  GROUP BY tok
)
SELECT tok AS term, weight, n_docs
FROM w ORDER BY weight DESC, tok LIMIT {_QE_TOPK}
"""


@register(
    "llm_query_expansion",
    sql=_duck_query_expansion_sql(),
    tags=("search", "query-expansion", "rm3", "rag"),
)
def llm_query_expansion(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance feedback (RM3-lite): take the BM25 top-5 as
    assumed-relevant, mine their vocabulary for the terms most
    characteristic of that feedback set (relative term frequency summed
    across feedback docs, original query terms excluded), and emit the
    top 10 as expansion candidates — the classic recall lever when the
    user's query undershoots the corpus vocabulary, and the lexical
    sibling of llm_hard_negatives' embedding-side mining.

    Composes the REGISTERED BM25 query (oracle included).  Shape: the
    feedback set is K rows, so the expensive-looking vocabulary mining
    is a semi-join that prunes the token stream to K documents before
    any aggregation; term weights are sums of exact rationals over <= K
    docs, rounded before the final TakeOrdered.
    """
    import knowledgebot_spark.queries_llm as _self

    fb = (
        _self.llm_bm25_search(spark, sf)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_QE_FEEDBACK)
        .select("doc_id")
    )
    d = _t(spark, sf, "documents")
    toks = (
        d.join(F.broadcast(fb), "doc_id")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter((F.col("tok") != "") & ~F.col("tok").isin(*_BM25_TERMS))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    w = (
        tf.join(dl, "doc_id")
        .groupBy("tok")
        .agg(
            F.round(F.sum(F.col("tf") * 1.0 / F.col("dl")), 6).alias("weight"),
            F.count("*").alias("n_docs"),
        )
    )
    return (
        w.select(F.col("tok").alias("term"), "weight", "n_docs")
        .orderBy(F.desc("weight"), F.asc("term"))
        .limit(_QE_TOPK)
    )


# --- dedup threshold sweep (wave 10) ------------------------------------------

def _duck_threshold_sweep_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    mh = _REGISTRY["llm_dedup_minhash"].sql
    return f"""
WITH pairs AS ({mh}), binned AS (
  SELECT CAST(least(floor(jaccard * 10), 9) AS INTEGER) AS jaccard_bin,
    CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1
)
SELECT jaccard_bin, n_pairs,
  CAST(sum(n_pairs) OVER (ORDER BY jaccard_bin DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_pairs_at_or_above
FROM binned
"""


@register(
    "llm_dedup_threshold_sweep",
    sql=_duck_threshold_sweep_sql(),
    tags=("dedup", "threshold", "methodology"),
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold-tuning curve for near-dup removal: verified MinHash
    candidate pairs binned by Jaccard decile, with the reverse-cumulative
    count (pairs at-or-above each bin) — the curve that answers "how many
    pairs would a 0.7 cut delete vs a 0.5 cut" BEFORE committing to a
    threshold, the tuning companion to llm_dedup_calibration's estimator
    audit.

    Composes the registered detector; the reverse cumulative runs over a
    10-row relation.  Integer-exact throughout (floor of the already-4dp
    jaccard decile; counts).
    """
    import knowledgebot_spark.queries_llm as _self

    pairs = _self.llm_dedup_minhash(spark, sf)
    binned = pairs.groupBy(
        F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
        .cast("int")
        .alias("jaccard_bin")
    ).agg(F.count("*").alias("n_pairs"))
    w = Window.orderBy(F.desc("jaccard_bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return binned.select(
        "jaccard_bin",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )


# --- RAG context assembly under a token budget (wave 10) ----------------------

_CTX_BUDGET = 256


def _duck_context_assembly_sql() -> str:
    from knowledgebot_spark.registry import _REGISTRY

    fused = _REGISTRY["llm_hybrid_fusion"].sql
    return f"""
WITH fused AS ({fused}), sized AS (
  SELECT f.id, f.rrf,
    CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
    row_number() OVER (ORDER BY f.rrf DESC, f.id) AS pos
  FROM fused f JOIN documents d ON d.doc_id = f.id
), budgeted AS (
  SELECT id, rrf, n_tokens, pos,
    CAST(sum(n_tokens) OVER (ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM sized
)
SELECT CAST(pos AS BIGINT) AS pos, id, rrf, n_tokens, cum_tokens
FROM budgeted WHERE cum_tokens - n_tokens < {_CTX_BUDGET}
"""


@register(
    "llm_context_assembly",
    sql=_duck_context_assembly_sql(),
    tags=("rag", "context", "serving"),
)
def llm_context_assembly(spark: SparkSession, sf: str) -> DataFrame:
    """The last serving step: assemble the retrieval context by walking
    the fused ranking (llm_hybrid_fusion) in order and admitting
    documents until the token budget fills — the greedy first-fit that
    decides what the generator actually reads.  The document that
    CROSSES the budget is admitted (standard practice: truncate in the
    prompt template rather than waste remaining budget), any document
    starting past the line is not — the llm_pack_sequences cut rule
    applied to a ranked list.

    Composes the registered fusion query and its oracle; the budget walk
    is a cumulative sum over the <= 10 fused rows (integer token counts,
    the greedy cut is exact integer comparison).  At 100 TB the cost is
    the retrieval underneath; assembly itself is constant.
    """
    import knowledgebot_spark.queries_llm as _self

    fused = _self.llm_hybrid_fusion(spark, sf)
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("id"))
    # the <=10-row fused list broadcasts INTO the corpus scan (the corpus
    # side streams and prunes); broadcasting d instead would ship the
    # whole token-count table
    sized = d.join(F.broadcast(fused), "id").select(
        "id", "rrf", "n_tokens", F.row_number().over(w).alias("pos")
    )
    wc = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    budgeted = sized.withColumn(
        "cum_tokens", F.sum("n_tokens").over(wc).cast("long")
    )
    return budgeted.filter(
        F.col("cum_tokens") - F.col("n_tokens") < _CTX_BUDGET
    ).select(F.col("pos").cast("long").alias("pos"), "id", "rrf", "n_tokens", "cum_tokens")


# --- per-dimension embedding variance profile (wave 11) -----------------------

@register(
    "llm_embedding_dim_variance",
    sql="""
WITH comps AS (
  SELECT gs.i AS dim, embedding[gs.i]::DOUBLE AS x
  FROM embeddings CROSS JOIN generate_series(1, 64) gs(i)
)
SELECT CAST(dim AS INTEGER) AS dim,
  round(var_pop(x), 6) AS variance,
  round(avg(x), 6) AS mean,
  var_pop(x) < 0.0001 AS is_dead
FROM comps GROUP BY dim
""",
    tags=("embedding", "health", "monitoring"),
)
def llm_embedding_dim_variance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension variance profile of the embedding space: a
    dimension whose variance collapses toward zero carries no
    information (dead unit — a truncated export, a saturated
    activation, an off-by-one in the projection), silently wasting
    index memory and flattening every cosine.  Completes the health
    trio: llm_embedding_health watches norms, llm_embedding_drift
    watches the distribution over time, this watches the coordinates.

    Shape: posexplode to (dim, component) and ONE hash agg — 64 output
    rows at any corpus size; var_pop's co-moment merge is the
    rel_stats_agg cross-engine precedent, rounded at 6dp, with the
    dead flag computed on the raw variance (both engines see identical
    aggregates to within the rounding the hash tolerates).
    """
    e = _t(spark, sf, "embeddings")
    comps = e.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    return comps.groupBy("dim").agg(
        F.round(F.var_pop("x"), 6).alias("variance"),
        F.round(F.avg("x"), 6).alias("mean"),
        (F.var_pop("x") < 0.0001).alias("is_dead"),
    ).select(F.col("dim").cast("int").alias("dim"), "variance", "mean", "is_dead")


# --- OOV rate vs vocabulary size curve (wave 11) ------------------------------

_OOV_SIZES = (50, 100, 200)


def _duck_oov_curve_sql() -> str:
    conds = ", ".join(
        f"CAST(sum(CASE WHEN rank > {k} THEN c ELSE 0 END) AS BIGINT) AS oov_{k}"
        for k in _OOV_SIZES
    )
    rows = " UNION ALL ".join(
        f"SELECT {k} AS vocab_size, oov_{k} AS oov_tokens, total, "
        f"round(oov_{k} * 1.0 / total, 6) AS oov_rate FROM agg"
        for k in _OOV_SIZES
    )
    return f"""
WITH freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(str_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM freq
), agg AS (
  SELECT {conds}, CAST(sum(c) AS BIGINT) AS total FROM ranked
)
{rows}
"""


@register(
    "llm_oov_curve",
    sql=_duck_oov_curve_sql(),
    tags=("tokenizer", "vocabulary", "oov", "training-data"),
)
def llm_oov_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-vocabulary rate as a function of vocabulary size (top-50 /
    100 / 200 by frequency): the tokenizer-budget tuning curve — where
    the OOV mass stops falling is where extra vocabulary slots stop
    paying for themselves (llm_vocab_coverage gives one point of this
    curve per source; this gives the corpus-level curve the budget
    decision reads).

    Shape: one token-frequency agg, one ranking over the |vocab|-sized
    frequency table (dim-sized, not corpus-sized), one conditional agg
    producing every curve point in a single pass, stacked to rows.  All
    exact integer token mass; the rate divides exact integers.
    """
    d = _t(spark, sf, "documents")
    freq = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    wo = Window.orderBy(F.desc("c"), F.asc("w"))
    ranked = freq.select("c", F.row_number().over(wo).alias("rank"))
    agg = ranked.agg(
        *[
            F.sum(F.when(F.col("rank") > k, F.col("c")).otherwise(0)).alias(
                f"oov_{k}"
            )
            for k in _OOV_SIZES
        ],
        F.sum("c").alias("total"),
    )
    stack_args = ", ".join(f"{k}, oov_{k}" for k in _OOV_SIZES)
    return agg.selectExpr(
        f"stack({len(_OOV_SIZES)}, {stack_args}) AS (vocab_size, oov_tokens)",
        "total",
    ).select(
        "vocab_size",
        "oov_tokens",
        "total",
        F.round(F.col("oov_tokens") / F.col("total"), 6).alias("oov_rate"),
    )


# --- SemDeDup: semantic dedup inside embedding clusters (round 5) -------------

_SEMDEDUP_TAU = 0.4


def _duck_semdedup_sql() -> str:
    cosp = _DUCK_COS.replace("a.embedding", "da.embedding").replace(
        "b.embedding", "db.embedding"
    )
    return f"""
WITH {_duck_kmeans_cte()},
mem AS (
  SELECT a2.vec_id, a2.cid, e.embedding,
    (row_number() OVER (PARTITION BY a2.cid ORDER BY a2.vec_id) - 1) // {dd.BLOCK_CAP} AS sub
  FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id
), pairs AS (
  SELECT da.cid, db.vec_id AS dropped
  FROM mem da JOIN mem db
    ON da.cid = db.cid AND da.sub = db.sub AND da.vec_id < db.vec_id
  WHERE round({cosp}, 6) >= {_SEMDEDUP_TAU}
), drops AS (
  SELECT cid, count(DISTINCT dropped) AS n_dropped FROM pairs GROUP BY cid
), members AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM mem GROUP BY cid
)
SELECT m.cid AS cluster_id, m.n_members,
  CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
  CAST(m.n_members - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
FROM members m LEFT JOIN drops d ON m.cid = d.cid
"""


@register(
    "llm_semdedup",
    sql=_duck_semdedup_sql(),
    tags=("dedup", "semantic", "semdedup", "clustering"),
)
def llm_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and dropping, within
    each cluster, every vector whose cosine similarity to a LOWER-id
    cluster-mate reaches tau — near-duplicates that lexical dedup
    misses (paraphrases, translations, re-encodings) but that sit
    together in embedding space.  Clustering makes it tractable: pairwise
    comparison happens only inside a cluster (further sub-block-capped at
    dedup.BLOCK_CAP like every pairwise op here), never across the corpus.
    tau=0.4 is calibrated to this synthetic embedding space (its p99.9
    in-cluster cosine; production SemDeDup uses ~0.95 on real encoder
    output) so the drop path is exercised, not vacuous.

    Composes the REGISTERED deterministic k-means: cluster assignments
    come from the shared two-Lloyd-iteration chain (``_kmeans_assign2`` /
    ``_duck_kmeans_cte`` — one definition, both engines), so this oracle
    cannot drift from llm_kmeans_embeddings.  The assignment+membership
    relation is localCheckpoint-ed because three branches (pair sides a/b
    and the membership counts) would otherwise each re-execute the Lloyd
    chain.  Per-cluster report: members, dropped, kept.
    """
    assign = _kmeans_assign2(spark, sf).select("vec_id", "cid")
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    w = Window.partitionBy("cid").orderBy("vec_id")
    mem = (
        assign.join(e, "vec_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sub", F.expr(f"CAST((rn - 1) div {dd.BLOCK_CAP} AS INT)"))
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    a = mem.select(
        "cid",
        "sub",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.expr(sim.norm_expr("embedding")).alias("na"),
    )
    b = mem.select(
        "cid",
        "sub",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.expr(sim.norm_expr("embedding")).alias("nb"),
    )
    pairs = (
        a.join(b, ["cid", "sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.round(sim.cosine_col("ea", "eb", "na", "nb"), 6)
        )
        .filter(F.col("cos") >= _SEMDEDUP_TAU)
    )
    drops = pairs.groupBy("cid").agg(
        F.countDistinct("id_b").alias("n_dropped")
    )
    members = mem.groupBy("cid").agg(F.count("*").alias("n_members"))
    return members.join(drops, "cid", "left").select(
        F.col("cid").alias("cluster_id"),
        "n_members",
        F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
        (F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )


# --- DSIR: data selection via importance resampling (round 5) -----------------

_DSIR_BUCKETS = 256
_DSIR_TOPK = 20
_DSIR_TARGET_LANG = "en"


@register(
    "llm_dsir_score",
    sql=f"""
WITH tb AS (
  SELECT doc_id, lang, source,
    ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang, source, unnest(str_split(lower(text), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
), raw AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY b
), tot AS (
  SELECT CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
         CAST(count(*) AS BIGINT) AS tr
  FROM tb
), scored AS (
  SELECT tb.doc_id, tb.source, tb.lang,
    round(avg(ln(
      ((coalesce(tgt.ct, 0) + 1) * 1.0 / (tot.tt + {_DSIR_BUCKETS}))
      / ((raw.cr + 1) * 1.0 / (tot.tr + {_DSIR_BUCKETS}))
    )), 6) AS dsir_score
  FROM tb LEFT JOIN tgt USING (b) JOIN raw USING (b) CROSS JOIN tot
  GROUP BY tb.doc_id, tb.source, tb.lang
)
SELECT doc_id, source, lang, dsir_score FROM scored
ORDER BY dsir_score DESC, doc_id LIMIT {_DSIR_TOPK}
""",
    tags=("sampling", "dsir", "importance", "training-data"),
)
def llm_dsir_score(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    importance resampling — score every raw document by how much it
    resembles a target distribution, using hashed unigram features and
    add-1-smoothed bucket language models:
    score(doc) = mean over tokens of ln(p_target(bucket)/p_raw(bucket)).
    Target here is the '{_DSIR_TARGET_LANG}' slice; the top-{_DSIR_TOPK}
    most-target-like documents surface.  This is the principled upgrade
    to hand-written quality rules for "get me more data like X".

    Scale shape: the bucket LMs are {_DSIR_BUCKETS}-row aggregates
    (broadcast), the totals a 1-row scalar; scoring is a map-side join
    over the token stream plus one doc-keyed avg, then TakeOrdered.  All
    counts exact integers; the ln argument is the same rational in both
    engines (identical division order), means round at 6dp before
    ranking (the llm_lm_perplexity convention)."""
    d = _t(spark, sf, "documents")
    tb = (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            "source",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % _DSIR_BUCKETS
            ).alias("b"),
        )
    )
    tgt = (
        tb.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    raw = tb.groupBy("b").agg(F.count("*").alias("cr"))
    tot = tb.agg(
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("bigint").alias("tt"),
        F.count("*").cast("bigint").alias("tr"),
    )
    ratio = (
        ((F.coalesce(F.col("ct"), F.lit(0)) + 1) * 1.0 / (F.col("tt") + _DSIR_BUCKETS))
        / ((F.col("cr") + 1) * 1.0 / (F.col("tr") + _DSIR_BUCKETS))
    )
    scored = (
        tb.join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source", "lang")
        .agg(F.round(F.avg(F.log(ratio)), 6).alias("dsir_score"))
    )
    return scored.select("doc_id", "source", "lang", "dsir_score").orderBy(
        F.desc("dsir_score"), F.asc("doc_id")
    ).limit(_DSIR_TOPK)


# --- distributed gram matrix (round 6) ----------------------------------------

_GRAM_D = 64  # embedding dimensionality of the testdata vectors


@register(
    "llm_gram_matrix",
    sql=f"""
WITH q AS (
  SELECT vec_id, i,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS x
  FROM embeddings, generate_series(1, {_GRAM_D}) AS t(i)
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
  CAST(sum(a.x * b.x) AS BIGINT) AS gram_e8
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2 ORDER BY 1, 2
""",
    tags=("embedding", "gram", "linear-algebra", "mergeable", "mapInPandas"),
)
def llm_gram_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding corpus — the
    mergeable linear-algebra primitive behind PCA / ZCA whitening and
    covariance-based drift monitors.  The 100 TB shape: each Arrow batch
    computes its LOCAL D x D partial gram as one vectorized integer
    matmul (mapInPandas; B·D² multiply-adds per batch, BLAS-backed),
    emits only the D(D+1)/2 = 2080 upper-triangle cells, and the cells
    merge BY ADDITION in a 2080-group hash aggregate — the same
    sketch-then-merge contract as HLL/KLL/theta/Count-Min, so the
    vectors themselves never shuffle and the wire cost is
    #batches x 2080 rows regardless of corpus size.  Components are
    e4-quantized BEFORE the matmul, so every partial is exact int64 and
    the merge is order-insensitive — no float summation-order exposure
    anywhere.  The DuckDB oracle states the same upper triangle via a
    dimension-exploded self-join (the O(N·D²)-row formulation this
    operator exists to avoid)."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf, "embeddings").select("embedding")

    def partial_gram(batches):
        iu = np.triu_indices(_GRAM_D)
        i_col = (iu[0] + 1).astype("int32")
        j_col = (iu[1] + 1).astype("int32")
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Q = np.floor(X * 10000 + 0.5).astype("int64")
            G = Q.T @ Q
            yield pd.DataFrame({"i": i_col, "j": j_col, "g": G[iu]})

    parts = e.mapInPandas(partial_gram, "i int, j int, g long")
    return (
        parts.groupBy("i", "j")
        .agg(F.sum("g").cast("bigint").alias("gram_e8"))
        .orderBy("i", "j")
    )


# --- power iteration on the gram matrix (round 6) -----------------------------

_POWER_ITERS = 3


@register(
    "llm_power_iteration",
    sql=f"""
WITH q AS (
  SELECT vec_id, i,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS x
  FROM embeddings, generate_series(1, {_GRAM_D}) AS t(i)
),
gsym AS (
  SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
    CAST(sum(a.x * b.x) AS BIGINT) AS g
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS (SELECT i AS idx, CAST(10000 AS BIGINT) AS v
  FROM generate_series(1, {_GRAM_D}) AS t(i)),
u1 AS (SELECT g.i AS idx, CAST(sum(g.g * v.v) AS BIGINT) AS u
  FROM gsym g JOIN v0 v ON g.j = v.idx GROUP BY 1),
v1 AS (SELECT idx, u // greatest((SELECT max(abs(u)) FROM u1) // 10000, 1) AS v FROM u1),
u2 AS (SELECT g.i AS idx, CAST(sum(g.g * v.v) AS BIGINT) AS u
  FROM gsym g JOIN v1 v ON g.j = v.idx GROUP BY 1),
v2 AS (SELECT idx, u // greatest((SELECT max(abs(u)) FROM u2) // 10000, 1) AS v FROM u2),
u3 AS (SELECT g.i AS idx, CAST(sum(g.g * v.v) AS BIGINT) AS u
  FROM gsym g JOIN v2 v ON g.j = v.idx GROUP BY 1),
v3 AS (SELECT idx, u // greatest((SELECT max(abs(u)) FROM u3) // 10000, 1) AS v FROM u3)
SELECT CAST(idx AS INTEGER) AS dim_idx, CAST(v AS BIGINT) AS v_e4
FROM v3 ORDER BY dim_idx
""",
    tags=("embedding", "pca", "power-iteration", "iterative", "linear-algebra"),
)
def llm_power_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by power
    iteration over the REGISTERED gram matrix — the PCA step that turns
    llm_gram_matrix into a usable whitening/drift basis.  The corpus is
    touched exactly once (the gram pass); the matrix is symmetrized from
    its upper triangle and localCheckpoint-ed (the llm_pagerank_knn
    rule: iterations must not re-execute the expensive upstream), and
    each of the 3 unrolled iterations is a D-row matvec — a join +
    64-group aggregate against the broadcast 64-row vector, costing
    nothing at any corpus size.  All arithmetic is exact int64: v0 is
    the all-10000 vector and each iterate renormalizes by max-abs with
    pure integer division (``u div greatest(max|u| div 10000, 1)``), so
    both engines walk identical lattice points — no float eigensolver
    drift, no summation-order exposure.  (The e4 grid supports ~1e10
    vectors before the matvec product nears int64 range; rescale the
    grid beyond that.)"""
    g_tri = llm_gram_matrix(spark, sf)
    off = g_tri.filter(F.col("i") != F.col("j"))
    gsym = (
        g_tri.select("i", "j", F.col("gram_e8").alias("g"))
        .unionAll(
            off.select(
                F.col("j").alias("i"), F.col("i").alias("j"), F.col("gram_e8").alias("g")
            )
        )
        .localCheckpoint(eager=True)
    )
    v = spark.range(1, _GRAM_D + 1).select(
        F.col("id").cast("int").alias("idx"), F.lit(10000).cast("bigint").alias("v")
    )
    for _ in range(_POWER_ITERS):
        u = (
            gsym.join(F.broadcast(v), gsym.j == v.idx)
            .groupBy(gsym.i.alias("uidx"))
            .agg(F.sum(F.col("g") * F.col("v")).cast("bigint").alias("u"))
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        v = (
            u.crossJoin(F.broadcast(m))
            .select(
                F.col("uidx").alias("idx"),
                F.expr("u div greatest(m div 10000, 1)").cast("bigint").alias("v"),
            )
        )
    return v.select(
        F.col("idx").cast("int").alias("dim_idx"), F.col("v").cast("bigint").alias("v_e4")
    ).orderBy("dim_idx")


# --- hashed-feature quality classifier inference (round 7) ---------------------

_QC_BUCKETS = 256  # hashed feature space (collisions are the point)


@register(
    "llm_quality_classifier",
    sql=f"""
WITH w AS (
  SELECT i AS bucket,
    (('0x' || substr(md5('w' || CAST(i AS VARCHAR)), 1, 4))::BIGINT % 2001)
      - 1000 AS w_e3
  FROM generate_series(0, {_QC_BUCKETS} - 1) AS t(i)
),
feats AS (
  SELECT doc_id, source, list_concat(tk,
    list_transform(generate_series(1, len(tk) - 1),
                   i -> tk[i] || '_' || tk[i+1])) AS fs
  FROM (SELECT doc_id, source, str_split(lower(text), ' ') AS tk
        FROM documents)
),
scored AS (
  SELECT doc_id, source, CAST(sum(w.w_e3) AS BIGINT) AS score_e3
  FROM (SELECT doc_id, source,
          ('0x' || substr(md5(unnest(fs)), 1, 3))::INT % {_QC_BUCKETS} AS bucket
        FROM feats) f
  JOIN w USING (bucket)
  GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN score_e3 >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  CAST(sum(score_e3) AS BIGINT) AS sum_score_e3
FROM scored GROUP BY 1 ORDER BY 1
""",
    tags=("quality", "classifier", "hashed-features", "training-data"),
)
def llm_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Linear text-quality classifier INFERENCE over hashed n-gram
    features — the fastText-style keep/drop scorer (CCNet / RefinedWeb
    lineage) that curation pipelines run over every crawled document.
    Features are word unigrams + bigrams hashed into {_QC_BUCKETS}
    buckets (collisions intended — that IS the hashing trick), and the
    model is a deterministic weight table derived per bucket from md5
    (a stand-in for trained weights with identical execution shape:
    feature hashing, weight lookup, dot product, threshold).  Shape:
    one explode over features, the feature md5 in WHOLE-STAGE CODEGEN
    on the exploded rows, a {_QC_BUCKETS}-row broadcast-joined weight
    table (exactly what a real trained model ships), ONE doc-keyed
    hash agg with map-side partials.  Two shapes were measured at 100x
    data and rejected: hashing tokens once inside a higher-order
    transform() (HOF lambdas run INTERPRETED — slower than one codegen
    md5 per feature despite half the hash volume), and a window-lead
    bigram join (shuffles the whole token stream — the one thing a
    100 TB curation pass must never do; this shape keeps the partial
    agg map-side and shuffles only per-doc sums).  Exact int64 e3
    fixed-point scores — no float summation-order exposure.  The
    remaining constant IS md5, kept for cross-engine oracle parity;
    production swaps xxhash64 (native, several-fold cheaper) at
    identical plan shape."""
    d = _t(spark, sf, "documents")
    weights = spark.range(_QC_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        F.expr(
            "(CAST(conv(substr(md5(concat('w', CAST(id AS STRING))), 1, 4), "
            "16, 10) AS BIGINT) % 2001) - 1000"
        ).alias("w_e3"),
    )
    feats = d.selectExpr(
        "doc_id",
        "source",
        "split(lower(text), ' ') AS tk",
    ).selectExpr(
        "doc_id",
        "source",
        "concat(tk, CASE WHEN size(tk) >= 2 THEN transform(sequence(1, size(tk)-1), "
        "i -> concat(element_at(tk, i), '_', element_at(tk, i+1))) "
        "ELSE array() END) AS fs",
    )
    exploded = feats.select("doc_id", "source", F.explode("fs").alias("f")).select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(conv(substr(md5(f), 1, 3), 16, 10) AS INT) % {_QC_BUCKETS}"
        ).alias("bucket"),
    )
    scored = (
        exploded.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.sum("w_e3").cast("bigint").alias("score_e3"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("score_e3") >= 0).cast("int")).cast("bigint").alias("n_keep"),
            F.sum("score_e3").cast("bigint").alias("sum_score_e3"),
        )
        .orderBy("source")
    )


# --- leakage-safe (group-aware) split (round 7) --------------------------------


@register(
    "llm_leakage_safe_split",
    sql="""
WITH grouped AS (
  SELECT doc_id,
    md5(array_to_string(str_split(lower(text), ' ')[1:8], ' ')) AS group_key
  FROM documents
),
assigned AS (
  SELECT doc_id, group_key,
    CASE WHEN substr(md5(group_key), 1, 2) < 'cc' THEN 'train'
         WHEN substr(md5(group_key), 1, 2) < 'e6' THEN 'val'
         ELSE 'test' END AS split
  FROM grouped
),
straddle AS (
  SELECT CAST(max(n_splits) AS BIGINT) AS max_splits_per_group
  FROM (SELECT group_key, count(DISTINCT split) AS n_splits
        FROM assigned GROUP BY 1)
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT group_key) AS BIGINT) AS n_groups,
  max_splits_per_group
FROM assigned CROSS JOIN straddle
GROUP BY split, max_splits_per_group ORDER BY split
""",
    tags=("sampling", "split", "leakage", "training-data"),
)
def llm_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Group-aware train/val/test split: hash the DUPLICATE-GROUP key
    (the exact-dedup content key — normalized first 8 words), not the
    document id, so near-identical documents can never straddle train
    and eval — the leakage mode a doc-id split (llm_train_val_split)
    cannot prevent and the #1 cause of inflated eval numbers on
    crawled corpora.  The query PROVES the property in-band:
    max_splits_per_group is computed from the data (count distinct
    split per group, max over groups) and is 1 by construction — a
    regression that breaks group-atomicity flips the driver hash.
    Shape: split membership is a pure function of the group hash (no
    stored assignment table, no shuffle to assign; re-runs and
    backfills are stable); the proof adds one group-keyed aggregate.
    At 100 TB the group key is already computed by the dedup pass —
    this split is a free rider on it."""
    d = _t(spark, sf, "documents")
    grouped = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 8), " ")
        ).alias("group_key"),
    )
    h = F.substring(F.md5(F.col("group_key")), 1, 2)
    assigned = grouped.select(
        "doc_id",
        "group_key",
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test").alias(
            "split"
        ),
    )
    straddle = (
        assigned.groupBy("group_key")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.max("n_splits").cast("bigint").alias("max_splits_per_group"))
    )
    return (
        assigned.crossJoin(F.broadcast(straddle))
        .groupBy("split", "max_splits_per_group")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("group_key").cast("bigint").alias("n_groups"),
        )
        .select("split", "n_docs", "n_groups", "max_splits_per_group")
        .orderBy("split")
    )


# --- Johnson-Lindenstrauss random projection (round 7) -------------------------

_RP_K = 16  # projected dimensionality


@register(
    "llm_random_projection",
    sql=f"""
WITH q AS (
  SELECT vec_id, i,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS x
  FROM embeddings, generate_series(1, {_GRAM_D}) AS t(i)
),
r AS (
  SELECT i, k,
    CASE WHEN substr(md5('rp' || CAST(i AS VARCHAR) || '_'
                          || CAST(k AS VARCHAR)), 1, 1) < '8'
         THEN 1 ELSE -1 END AS s
  FROM generate_series(1, {_GRAM_D}) AS a(i),
       generate_series(1, {_RP_K}) AS b(k)
),
y AS (
  SELECT q.vec_id, r.k, CAST(sum(q.x * r.s) AS BIGINT) AS y
  FROM q JOIN r ON q.i = r.i GROUP BY 1, 2
),
x2 AS (SELECT CAST(sum(x * x) AS BIGINT) AS tot FROM q)
SELECT CAST(k AS INTEGER) AS k,
  CAST(sum(y) AS BIGINT) AS sum_y_e4,
  CAST(sum(y * y) AS BIGINT) AS sum_y2_e8,
  CAST(CAST(sum(y * y) AS BIGINT) * 10000 // greatest(x2.tot, 1) AS BIGINT)
    AS ratio_e4
FROM y CROSS JOIN x2 GROUP BY k, x2.tot ORDER BY k
""",
    tags=("embedding", "random-projection", "jl", "mergeable", "mapInPandas"),
)
def llm_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding corpus
    ({_GRAM_D} -> {_RP_K} dims) with an in-band energy-preservation
    audit — the dimensionality-reduction pass that makes downstream
    clustering / ANN / dedup cheaper while provably preserving pairwise
    geometry.  The projection matrix is the Rademacher (+/-1) family,
    derived per cell from md5 so both engines multiply by the SAME
    matrix (Achlioptas 2003: database-friendly random projections —
    sign matrices satisfy the JL lemma).  Execution is the gram-matrix
    contract (llm_gram_matrix): each Arrow batch does ONE vectorized
    int64 matmul (B x {_GRAM_D} @ {_GRAM_D} x {_RP_K}) and emits only
    per-dimension partial sums (sum y, sum y^2, plus the input energy
    sum x^2) that merge BY ADDITION — vectors never shuffle, wire cost
    is #batches x {_RP_K}+1 rows, exact int64 end to end.  For a
    Rademacher matrix E[y_k^2] = ||x||^2, so each projected dim's
    ratio_e4 = sum(y_k^2) * 10000 / sum(||x||^2) concentrates near
    10000 — a per-dimension JL health check computed for free from the
    same partials.  (Int64 headroom: ~1e9 vectors at e4 quantization
    before sum(y^2)*10000 nears the signed-64 bound; shard or widen to
    decimal beyond, same caveat as the gram matrix.)"""
    import hashlib

    import numpy as np
    import pandas as pd

    S = np.empty((_GRAM_D, _RP_K), dtype="int64")
    for i in range(1, _GRAM_D + 1):
        for k in range(1, _RP_K + 1):
            first = hashlib.md5(f"rp{i}_{k}".encode()).hexdigest()[0]
            S[i - 1, k - 1] = 1 if first < "8" else -1

    e = _t(spark, sf, "embeddings").select("embedding")

    def partial_project(batches):
        k_col = np.arange(1, _RP_K + 1, dtype="int32")
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Q = np.floor(X * 10000 + 0.5).astype("int64")
            Y = Q @ S
            out = pd.DataFrame(
                {
                    "k": np.concatenate(([0], k_col)),
                    "sy": np.concatenate(([int((Q * Q).sum())], Y.sum(axis=0))),
                    "sy2": np.concatenate(([0], (Y * Y).sum(axis=0))),
                }
            )
            yield out

    parts = e.mapInPandas(partial_project, "k int, sy long, sy2 long")
    merged = parts.groupBy("k").agg(
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sy2").cast("bigint").alias("sy2"),
    )
    tot = merged.filter(F.col("k") == 0).select(F.col("sy").alias("tot_x2"))
    return (
        merged.filter(F.col("k") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("sy").alias("sum_y_e4"),
            F.col("sy2").alias("sum_y2_e8"),
            # greatest(,1): an all-zero-energy corpus (every vector quantizes
            # to 0 at e4) must report ratio 0, not abort on ANSI div-by-zero —
            # sy2 is necessarily 0 there, so the floor changes no real value
            F.expr("CAST(sy2 * 10000 div greatest(tot_x2, 1) AS BIGINT)").alias(
                "ratio_e4"
            ),
        )
        .orderBy("k")
    )


# --- Kneser-Ney language model scoring (round 7, wave 2) -----------------------

_KN_D_NUM = 3  # discount D = 3/4, kept as an exact rational on both engines
_KN_D_DEN = 4


def _duck_kneser_ney_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train,
    str_split(lower(text), ' ') AS t
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM (
      SELECT unnest(t) AS w FROM toks WHERE is_train
    ) WHERE w <> '' GROUP BY w
  ) ORDER BY c DESC, w LIMIT {_LM_VOCAB}
), vs AS (
  SELECT list(w) AS vlist FROM vocab
), mapped AS (
  SELECT doc_id, is_train,
    [CASE WHEN list_contains(vs.vlist, tok) THEN tok ELSE '<unk>' END
     FOR tok IN t IF tok <> ''] AS mt
  FROM toks CROSS JOIN vs
), bigrams0 AS (
  SELECT doc_id, is_train,
    unnest([mt[i] || ' ' || mt[i + 1]
            FOR i IN generate_series(1, len(mt) - 1)]) AS bg
  FROM mapped WHERE len(mt) >= 2
), bigrams AS (
  SELECT doc_id, is_train, bg,
    split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
  FROM bigrams0
), bg_counts AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS cab FROM bigrams
  WHERE is_train GROUP BY bg
), ctx AS (
  SELECT w1 AS w, CAST(count(*) AS BIGINT) AS ca,
    CAST(count(DISTINCT bg) AS BIGINT) AS n1fwd
  FROM bigrams WHERE is_train GROUP BY w1
), bwd AS (
  SELECT w2 AS w, CAST(count(DISTINCT bg) AS BIGINT) AS n1bwd
  FROM bigrams WHERE is_train GROUP BY w2
), tot AS (
  SELECT CAST(count(DISTINCT bg) AS BIGINT) AS n1tot FROM bigrams
  WHERE is_train
), scored AS (
  SELECT v.doc_id,
    -avg(ln(
      CASE WHEN coalesce(c.ca, 0) > 0 THEN
        (greatest(coalesce(b.cab, 0) * {_KN_D_DEN} - {_KN_D_NUM}, 0)
           * (tot.n1tot + {_LM_VOCAB} + 1)
         + {_KN_D_NUM} * c.n1fwd * (coalesce(d.n1bwd, 0) + 1)) * 1.0
          / ({_KN_D_DEN} * c.ca * (tot.n1tot + {_LM_VOCAB} + 1))
      ELSE
        (coalesce(d.n1bwd, 0) + 1) * 1.0 / (tot.n1tot + {_LM_VOCAB} + 1)
      END)) AS nll
  FROM bigrams v
  LEFT JOIN bg_counts b ON v.bg = b.bg
  LEFT JOIN ctx c ON v.w1 = c.w
  LEFT JOIN bwd d ON v.w2 = d.w
  CROSS JOIN tot
  WHERE NOT v.is_train
  GROUP BY v.doc_id
)
SELECT doc_id, round(nll, 6) AS nll
FROM scored ORDER BY round(nll, 6) DESC, doc_id LIMIT {_LM_TOPK}
"""


@register(
    "llm_kneser_ney_lm",
    sql=_duck_kneser_ney_sql(),
    tags=("quality", "kneser-ney", "language-model", "smoothing", "training-data"),
)
def llm_kneser_ney_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing that made
    count-based LMs usable (Kneser & Ney 1995; Chen & Goodman 1999's
    reference formulation) and the stronger sibling of
    llm_lm_perplexity's add-1 model: probability mass is moved by
    ABSOLUTE DISCOUNTING (D = {_KN_D_NUM}/{_KN_D_DEN} off every seen
    bigram) and redistributed by the CONTINUATION distribution (how many
    distinct contexts a word follows), which fixes add-1's
    overestimation of frequent-but-rigid words.  Same train/score split
    and vocabulary as the add-1 query, so the two models are directly
    comparable per document.

    p(w|v) = (max(c(v,w) - D, 0) + D * N1+(v,*) * p_cont(w)) / c(v),
    p_cont(w) = (N1+(*,w) + 1) / (N1+(*,*) + V + 1) — the continuation
    distribution carries an add-1 floor so held-out-only events score
    finite (documented deviation from textbook KN, which is undefined
    there).  Numerically: every ln() argument is the same rational on
    both engines — the discount enters as the exact integer pair
    {_KN_D_NUM}/{_KN_D_DEN} and the interpolated sum is stated over ONE
    common integer denominator, so ln() receives a single division of
    identical int64s on both engines — never a two-term float sum, whose
    association order drifts at 1e-6 — and the mean rounds at
    6dp before ranking (the llm_pmi_collocations rule).  Shape: three
    broadcastable model tables (bigram counts; per-context totals +
    distinct-continuation counts in ONE agg; per-word left-context
    counts), one 1-row bigram-type-count scalar, three LEFT joins on the
    held-out stream, one doc-keyed avg — model size tracks vocabulary
    (bounded), corpus cost is the two train-stream aggregates."""
    d = _t(spark, sf, "documents")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc"
    toks = d.select(
        "doc_id",
        is_train.alias("is_train"),
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("t"),
    )
    unigrams = toks.filter("is_train").select(F.explode("t").alias("w"))
    vocab = (
        unigrams.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_LM_VOCAB)
        .select("w")
    )
    # token-keyed vocab mapping (O(1) hash probe per token) — see
    # _lm_vocab_mapped_tokens for the scale rationale
    mapped = _lm_vocab_mapped_tokens(toks, vocab)
    bigrams = mapped.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(mt) - 1), "
                "i -> struct(concat(mt[i - 1], ' ', mt[i]) AS bg, "
                "mt[i - 1] AS w1, mt[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "is_train", "p.bg", "p.w1", "p.w2")
    train = bigrams.filter("is_train")
    bg_counts = train.groupBy("bg").agg(F.count("*").cast("bigint").alias("cab"))
    ctx = train.groupBy(F.col("w1").alias("cw")).agg(
        F.count("*").cast("bigint").alias("ca"),
        F.countDistinct("bg").cast("bigint").alias("n1fwd"),
    )
    bwd = train.groupBy(F.col("w2").alias("bw")).agg(
        F.countDistinct("bg").cast("bigint").alias("n1bwd")
    )
    tot = train.agg(F.countDistinct("bg").cast("bigint").alias("n1tot"))
    held = bigrams.filter(~F.col("is_train"))
    # the interpolated sum is stated over ONE common denominator so ln()
    # sees a single division of identical exact integers on both engines —
    # a two-term float sum associates differently and drifts at 1e-6
    p_expr = F.expr(
        f"""CASE WHEN coalesce(ca, 0) > 0 THEN
              (greatest(coalesce(cab, 0) * {_KN_D_DEN} - {_KN_D_NUM}, 0)
                 * (n1tot + {_LM_VOCAB} + 1)
               + {_KN_D_NUM} * n1fwd * (coalesce(n1bwd, 0) + 1)) * 1.0
                / ({_KN_D_DEN} * ca * (n1tot + {_LM_VOCAB} + 1))
            ELSE (coalesce(n1bwd, 0) + 1) * 1.0 / (n1tot + {_LM_VOCAB} + 1)
            END"""
    )
    scored = (
        held.join(F.broadcast(bg_counts), "bg", "left")
        .join(F.broadcast(ctx), held.w1 == F.col("cw"), "left")
        .join(F.broadcast(bwd), held.w2 == F.col("bw"), "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg((-F.avg(F.log(p_expr))).alias("nll"))
    )
    return (
        scored.select("doc_id", F.round("nll", 6).alias("nll"))
        .orderBy(F.desc("nll"), F.asc("doc_id"))
        .limit(_LM_TOPK)
    )


# --- epoch-capped source mixing (round 9) --------------------------------------
#
# The mixture-planning step every LLM pretraining run performs (the
# DoReMi / LLaMA-style data recipe): given per-source target weights and a
# token budget, decide how many FULL epochs of each source to take (capped —
# repeating a small source beyond a few epochs hurts), plus a deterministic
# partial-epoch tail to land the budget exactly.  Everything is exact
# integer arithmetic so both engines state identical plans.

_EPOCH_CAP = 4           # max full repeats of any source (common practice)
_MIX_WEIGHT_MOD = 997    # md5-derived raw weight range, pre-apportionment


def _epoch_mixture_frames(spark: SparkSession, sf: str):
    """Shared plan-builder for llm_epoch_mixture and llm_epoch_sample:
    returns (plan, ws) where ``plan`` is the source-cardinality capped
    recipe (source, n_docs, n_tokens, weight_e4, target_tokens, capped,
    full_epochs, residual) and ``ws`` the per-doc within-source running
    cumsum (doc_id, source, n_toks, h, ws_cum, ws_prev) riding the
    DISTRIBUTED cumsum (operators/ranking.py) ordered by
    (source, md5, doc_id) — no per-source window ever holds a
    corpus-scale partition."""
    return _epoch_frames_from(_t(spark, sf, "documents"))


def _epoch_frames_from(d: DataFrame):
    """_epoch_mixture_frames parameterized by the corpus frame (needs
    doc_id, source, text) — so the ingest-gated composition
    (stream_epoch_ingest_pack) runs the identical recipe over the
    ADMITTED corpus instead of the raw table."""
    from knowledgebot_spark.operators import ranking as rk

    tok = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_toks"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch"))).alias("h"),
    )
    stats = tok.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    raw = stats.withColumn(
        "raw_w",
        F.expr(
            "CAST(conv(substring(md5(concat(source, ':w')), 1, 6), 16, 10) AS BIGINT)"
            f" % {_MIX_WEIGHT_MOD} + 1"
        ),
    )
    den = raw.agg(F.sum("raw_w").cast("long").alias("den"))
    appo = (
        raw.crossJoin(F.broadcast(den))
        .withColumn("num", F.col("raw_w") * 10000)
        .withColumn("base", F.expr("num div den"))
        .withColumn("rem", F.col("num") % F.col("den"))
    )
    base_sum = appo.agg(F.sum("base").cast("long").alias("base_sum"))
    w_rem = Window.orderBy(F.desc("rem"), F.asc("source"))
    lr = (
        appo.crossJoin(F.broadcast(base_sum))
        .withColumn("rw", F.row_number().over(w_rem))
        .withColumn(
            "weight_e4",
            (
                F.col("base")
                + F.when(F.col("rw") <= 10000 - F.col("base_sum"), 1).otherwise(0)
            ).cast("long"),
        )
    )
    budget = stats.agg((F.lit(2) * F.sum("n_tokens")).cast("long").alias("budget"))
    plan = (
        lr.crossJoin(F.broadcast(budget))
        .withColumn("target_tokens", F.expr("budget * weight_e4 div 10000"))
        .withColumn(
            "capped",
            F.least(F.col("target_tokens"), F.lit(_EPOCH_CAP) * F.col("n_tokens")),
        )
        .withColumn("full_epochs", F.expr("capped div n_tokens"))
        .withColumn("residual", F.col("capped") % F.col("n_tokens"))
    )
    cum = rk.with_global_cumsum(
        tok, [F.col("source"), F.col("h"), F.col("doc_id")], F.col("n_toks"), out="cum"
    )
    offs = (
        cum.withColumn("pre", F.col("cum") - F.col("n_toks"))
        .groupBy("source")
        .agg(F.min("pre").alias("src_off"))
    )
    ws = (
        cum.join(F.broadcast(offs), "source")
        .withColumn("ws_cum", F.col("cum") - F.col("src_off"))
        .withColumn("ws_prev", F.col("ws_cum") - F.col("n_toks"))
    )
    return plan, ws


def _duck_epoch_cte(docs_rel: str = "documents") -> str:
    """Shared CTE prefix (token stats -> apportionment -> capped plan ->
    per-source running cumsum) for the mixture PLAN and its SAMPLE
    materializer — one text, two oracles, so the two queries can never
    state different recipes.  ``docs_rel`` lets the ingest-gated
    composition run the identical recipe over its admitted-docs CTE."""
    return "WITH " + _duck_epoch_cte_body(docs_rel)


def _duck_epoch_cte_body(docs_rel: str = "documents") -> str:
    """The epoch CTE chain WITHOUT the leading WITH, for composition
    after other CTEs (stream_epoch_ingest_pack's gate CTEs)."""
    return f"""tok AS (
  SELECT doc_id, source,
    CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_toks,
    md5(CAST(doc_id AS VARCHAR) || ':epoch') AS h
  FROM {docs_rel}
), stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), raw AS (
  SELECT *, ('0x' || substr(md5(source || ':w'), 1, 6))::BIGINT
              % {_MIX_WEIGHT_MOD} + 1 AS raw_w
  FROM stats
), appo AS (
  SELECT *, raw_w * 10000 AS num, (SELECT sum(raw_w) FROM raw) AS den FROM raw
), fl AS (
  SELECT *, num // den AS base, num % den AS rem FROM appo
), lr AS (
  SELECT *, CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                   <= 10000 - (SELECT sum(base) FROM fl) THEN 1 ELSE 0 END
            AS BIGINT) AS weight_e4
  FROM fl
), plan AS (
  SELECT source, n_docs, n_tokens, weight_e4,
    (SELECT 2 * sum(n_tokens) FROM stats) * weight_e4 // 10000 AS target_tokens
  FROM lr
), plan3 AS (
  SELECT *, least(target_tokens, {_EPOCH_CAP} * n_tokens) // n_tokens AS full_epochs,
         least(target_tokens, {_EPOCH_CAP} * n_tokens) % n_tokens AS residual
  FROM plan
), ws AS (
  SELECT t.*, sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ws_cum
  FROM tok t
)"""


def _duck_epoch_mixture_sql() -> str:
    return _duck_epoch_cte() + f"""
, tail AS (
  SELECT w.source, CAST(count(*) AS BIGINT) AS n_tail_docs,
         CAST(max(w.ws_cum) AS BIGINT) AS tail_tokens
  FROM ws w JOIN plan3 p USING (source)
  WHERE w.ws_cum - w.n_toks < p.residual
  GROUP BY w.source
)
SELECT p.source, p.n_docs, p.n_tokens, p.weight_e4,
  CAST(p.target_tokens AS BIGINT) AS target_tokens,
  CAST(p.full_epochs AS BIGINT) AS full_epochs,
  CAST(coalesce(t.n_tail_docs, 0) AS BIGINT) AS n_tail_docs,
  CAST(coalesce(t.tail_tokens, 0) AS BIGINT) AS tail_tokens,
  CAST(p.full_epochs * p.n_tokens + coalesce(t.tail_tokens, 0) AS BIGINT)
    AS achieved_tokens,
  p.target_tokens > {_EPOCH_CAP} * p.n_tokens AS epoch_cap_hit
FROM plan3 p LEFT JOIN tail t USING (source)
ORDER BY p.source
"""


@register(
    "llm_epoch_mixture",
    sql=_duck_epoch_mixture_sql(),
    tags=("training-data", "mixture", "epochs", "apportionment", "sampling"),
)
def llm_epoch_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-capped source-mixture plan — the data-recipe step between
    weighting and sampling: per-source target weights (largest-remainder
    apportionment of 10000 exact e4 units over md5-derived raw weights —
    the only integer-exact way to make proportions sum to exactly 1),
    a corpus-relative token budget (2x total tokens, so minority sources
    need upsampling), and per source the decision a pretraining run
    executes: how many FULL epochs (capped at {_EPOCH_CAP} — the
    repeat-data practice bound), plus a deterministic partial-epoch tail
    (docs in md5 order, greedy prefix until the residual is covered;
    overshoot < the last doc, the rel_compaction_plan capacity
    discipline), and an epoch_cap_hit flag marking sources whose target
    is unreachable under the cap.  Every output is an exact integer, so
    the driver hash pins the whole recipe cross-engine.

    Shape: one token-count scan + source-keyed agg (stats are
    source-cardinality); the apportionment windows rank the tiny stats
    relation (agg-barriered, bounded by |sources|); the tail selection
    rides the DISTRIBUTED cumsum (operators/ranking.py — range partition
    + per-partition offsets) ordered by (source, md5, doc_id), so no
    per-source window ever holds a corpus-scale partition: the 100 TB
    failure mode of the naive PARTITION BY source formulation (one
    source = 60% of the corpus on one task) cannot occur.  Per-source
    offsets and residuals join back as source-cardinality broadcasts."""
    plan, ws = _epoch_mixture_frames(spark, sf)
    tail = (
        ws.join(F.broadcast(plan.select("source", "residual")), "source")
        .filter(F.col("ws_prev") < F.col("residual"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tail_docs"),
            F.max("ws_cum").cast("long").alias("tail_tokens"),
        )
    )
    return (
        plan.join(tail, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_e4",
            F.col("target_tokens").cast("long").alias("target_tokens"),
            F.col("full_epochs").cast("long").alias("full_epochs"),
            F.coalesce(F.col("n_tail_docs"), F.lit(0)).cast("long").alias("n_tail_docs"),
            F.coalesce(F.col("tail_tokens"), F.lit(0)).cast("long").alias("tail_tokens"),
            (
                F.col("full_epochs") * F.col("n_tokens")
                + F.coalesce(F.col("tail_tokens"), F.lit(0))
            ).cast("long").alias("achieved_tokens"),
            (F.col("target_tokens") > F.lit(_EPOCH_CAP) * F.col("n_tokens")).alias(
                "epoch_cap_hit"
            ),
        )
        .orderBy("source")
    )


def _duck_epoch_sample_sql() -> str:
    return _duck_epoch_cte() + """
, per_doc AS (
  SELECT w.source, w.doc_id, w.n_toks,
    p.full_epochs
      + CASE WHEN w.ws_cum - w.n_toks < p.residual THEN 1 ELSE 0 END AS n_copies
  FROM ws w JOIN plan3 p USING (source)
), sample AS (
  SELECT d.source, d.doc_id, d.n_toks, g.epoch
  FROM per_doc d,
  LATERAL (SELECT unnest(generate_series(1, CAST(d.n_copies AS BIGINT))) AS epoch) g
), agg AS (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_sample_rows,
    CAST(sum(n_toks) AS BIGINT) AS sample_tokens,
    CAST(sum(doc_id * epoch) AS BIGINT) AS sample_checksum
  FROM sample GROUP BY source
)
SELECT p.source,
  coalesce(a.n_sample_rows, 0) AS n_sample_rows,
  coalesce(a.sample_tokens, 0) AS sample_tokens,
  coalesce(a.sample_checksum, 0) AS sample_checksum,
  CAST(p.full_epochs * p.n_tokens
       + coalesce((SELECT CAST(max(w.ws_cum) AS BIGINT) FROM ws w
                   WHERE w.source = p.source
                     AND w.ws_cum - w.n_toks < p.residual), 0)
    AS BIGINT) AS achieved_tokens,
  coalesce(a.sample_tokens, 0) = CAST(p.full_epochs * p.n_tokens
       + coalesce((SELECT CAST(max(w.ws_cum) AS BIGINT) FROM ws w
                   WHERE w.source = p.source
                     AND w.ws_cum - w.n_toks < p.residual), 0)
    AS BIGINT) AS matches_plan
FROM plan3 p LEFT JOIN agg a USING (source)
ORDER BY p.source
"""


@register(
    "llm_epoch_sample",
    sql=_duck_epoch_sample_sql(),
    tags=("training-data", "mixture", "sampling", "materialization"),
)
def llm_epoch_sample(spark: SparkSession, sf: str) -> DataFrame:
    """EXECUTES the mixture recipe (VERDICT r09 #6): where
    llm_epoch_mixture emits the per-source plan (epochs + tail), this
    query MATERIALIZES the training multiset a pretraining data job runs
    next — every document replicated once per full epoch, the
    deterministic md5-order greedy-prefix tail docs once more — and then
    PROVES the materialization row-for-row against the plan: per source,
    the sample's token mass must equal the plan's achieved_tokens exactly
    (``matches_plan``), and an order-insensitive multiset checksum
    (sum of doc_id x epoch) pins WHICH docs got WHICH replica count
    cross-engine, so a sampler that picked the right token mass from the
    wrong docs still hash-fails.

    Shape: the per-doc replica count is a source-keyed broadcast join of
    the (tiny) plan onto the distributed cumsum frame; replication is one
    explode(sequence(1, n_copies)) — output-size-bound, the only honest
    cost of epoch replication — and the verification agg is a
    source-keyed partial agg.  Nothing new shuffles at corpus scale
    beyond the cumsum's range partition; at 100 TB the sample would
    stream straight to the packing stage (llm_pack_sequences) instead of
    an agg, with the same per-doc n_copies plan.
    Like llm_epoch_mixture, every output is an exact integer, so the
    driver hash pins the executed sample — not just the recipe —
    cross-engine."""
    plan, ws = _epoch_mixture_frames(spark, sf)
    per_doc = ws.join(
        F.broadcast(plan.select("source", "full_epochs", "residual")), "source"
    ).select(
        "source",
        "doc_id",
        "n_toks",
        (
            F.col("full_epochs")
            + F.when(F.col("ws_prev") < F.col("residual"), 1).otherwise(0)
        ).cast("long").alias("n_copies"),
    )
    sample = per_doc.filter(F.col("n_copies") >= 1).select(
        "source",
        "doc_id",
        "n_toks",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias("epoch"),
    )
    agg = sample.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sample_rows"),
        F.sum("n_toks").cast("long").alias("sample_tokens"),
        F.sum(F.col("doc_id") * F.col("epoch")).cast("long").alias("sample_checksum"),
    )
    # the plan's achieved_tokens, restated independently of the sample
    # (the tail aggregate llm_epoch_mixture uses) — the comparison target
    tail = (
        ws.join(F.broadcast(plan.select("source", "residual")), "source")
        .filter(F.col("ws_prev") < F.col("residual"))
        .groupBy("source")
        .agg(F.max("ws_cum").cast("long").alias("tail_tokens"))
    )
    return (
        plan.join(agg, "source", "left")
        .join(tail, "source", "left")
        .select(
            "source",
            F.coalesce(F.col("n_sample_rows"), F.lit(0)).cast("long").alias(
                "n_sample_rows"
            ),
            F.coalesce(F.col("sample_tokens"), F.lit(0)).cast("long").alias(
                "sample_tokens"
            ),
            F.coalesce(F.col("sample_checksum"), F.lit(0)).cast("long").alias(
                "sample_checksum"
            ),
            (
                F.col("full_epochs") * F.col("n_tokens")
                + F.coalesce(F.col("tail_tokens"), F.lit(0))
            ).cast("long").alias("achieved_tokens"),
            (
                F.coalesce(F.col("sample_tokens"), F.lit(0))
                == F.col("full_epochs") * F.col("n_tokens")
                + F.coalesce(F.col("tail_tokens"), F.lit(0))
            ).alias("matches_plan"),
        )
        .orderBy("source")
    )


# the pack tail shared between llm_epoch_pack's oracle and the
# ingest-gated composition's — one text, so the two packers can never
# state different boundary rules
_DUCK_EPOCH_PACK_TAIL = """
, per_doc AS (
  SELECT w.source, w.doc_id, w.n_toks, w.ws_cum,
    p.full_epochs
      + CASE WHEN w.ws_cum - w.n_toks < p.residual THEN 1 ELSE 0 END AS n_copies
  FROM ws w JOIN plan3 p USING (source)
), sample AS (
  SELECT d.source, d.doc_id, d.n_toks, d.ws_cum, g.epoch
  FROM per_doc d,
  LATERAL (SELECT unnest(generate_series(1, CAST(d.n_copies AS BIGINT))) AS epoch) g
), packs AS (
  SELECT s.source, s.doc_id, s.n_toks, s.epoch,
    ((s.epoch - 1) * p.n_tokens + s.ws_cum - s.n_toks) // 512 AS pack_id
  FROM sample s JOIN plan3 p USING (source)
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
  CAST(sum(doc_id * epoch) AS BIGINT) AS pack_checksum
FROM packs GROUP BY 1, 2
ORDER BY source, pack_id
"""


def _duck_epoch_pack_sql() -> str:
    return _duck_epoch_cte() + _DUCK_EPOCH_PACK_TAIL


@register(
    "llm_epoch_pack",
    sql=_duck_epoch_pack_sql(),
    tags=("training-data", "mixture", "sampling", "packing", "pretraining"),
)
def llm_epoch_pack(spark: SparkSession, sf: str) -> DataFrame:
    """The full pretraining-data path as ONE pipeline (VERDICT r10 #5):
    mix (llm_epoch_mixture's capped apportionment recipe) -> sample
    (llm_epoch_sample's epoch-replicated multiset) -> PACK
    (llm_pack_sequences' concat-and-cut at a 512-token budget), so the
    materialized sample streams straight into training sequences — the
    composition llm_epoch_sample's own docstring promises at 100 TB.

    The multiset's training order per source is epoch-major, then the
    recipe's md5 order within an epoch — and because every full epoch
    replays the SAME within-source cumsum and the tail epoch is a PREFIX
    of that order, the multiset running total needs no new window at
    all: tokens-before-doc = (epoch - 1) x n_tokens + (ws_cum - n_toks),
    closed-form arithmetic on the shared distributed cumsum
    (operators/ranking.py).  Replication is one explode(sequence),
    output-size-bound; the per-pack agg is a (source, pack_id)-keyed
    partial agg.  Nothing shuffles at corpus scale beyond the cumsum's
    range partition — the 100 TB plan is scan + cumsum + explode + agg.

    Exactness: pack_tokens are exact integers whose per-source sum
    equals the sample's achieved_tokens (test-pinned); pack_checksum
    (sum of doc_id x epoch per pack) pins WHICH doc copies landed in
    WHICH pack cross-engine, so a packer that cut the right totals at
    the wrong boundaries still hash-fails.
    Reference provenance: the chunk/packing discipline extends the
    reference's fixed-budget chunker (VectorDatabase/TextProcessor.py:
    28-52, U1) from one document to the epoch-replicated corpus; the
    mixture recipe is the engine's scale addition (SURVEY.md §2.3
    LLM-pipeline extras)."""
    return _epoch_pack_agg(_epoch_pack_rows(_t(spark, sf, "documents")))


def _epoch_pack_rows(docs: DataFrame) -> DataFrame:
    """llm_epoch_pack's per-copy frame BEFORE the pack aggregate — one
    row per (doc, epoch) with its closed-form pack_id — parameterized by
    the corpus frame so the ingest-gated composition packs the ADMITTED
    corpus, and so tests can assert doc-level pack membership (a gated
    doc must never appear here)."""
    plan, ws = _epoch_frames_from(docs)
    per_doc = ws.join(
        F.broadcast(
            plan.select("source", "n_tokens", "full_epochs", "residual")
        ),
        "source",
    ).select(
        "source",
        "doc_id",
        "n_toks",
        "ws_cum",
        "n_tokens",
        (
            F.col("full_epochs")
            + F.when(F.col("ws_prev") < F.col("residual"), 1).otherwise(0)
        ).cast("long").alias("n_copies"),
    )
    sample = per_doc.filter(F.col("n_copies") >= 1).select(
        "source",
        "doc_id",
        "n_toks",
        "ws_cum",
        "n_tokens",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
            "epoch"
        ),
    )
    return sample.withColumn(
        "pack_id",
        F.expr("((epoch - 1) * n_tokens + ws_cum - n_toks) div 512").cast("long"),
    )


def _epoch_pack_agg(packs: DataFrame) -> DataFrame:
    """The (source, pack_id)-keyed partial agg over _epoch_pack_rows."""
    return (
        packs.groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
            F.sum(F.col("doc_id") * F.col("epoch")).cast("long").alias(
                "pack_checksum"
            ),
        )
        .orderBy("source", "pack_id")
    )
