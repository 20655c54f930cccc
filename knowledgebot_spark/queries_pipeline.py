"""Extraction-spine query catalog (SURVEY.md §2.1 S/F/P/J/A ops).

Each query runs the Spark operators over the deterministic Slack-like model
(model.py) and carries a DuckDB oracle that recreates the identical model
via the MODEL_CTE prefix — so the driver's hash compare exercises the real
operator semantics end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgebot_spark import model
from knowledgebot_spark.operators import edits as ed
from knowledgebot_spark.operators import extraction as ex
from knowledgebot_spark.registry import register

CKPT = model.CKPT_MICROS
LOOKBACK = model.LOOKBACK_MICROS

# Shared oracle CTE fragments -------------------------------------------------

_BLK_CTE = """
keyed AS (
  SELECT concat_ws('_', channel_id, ts_raw) AS msg_key, m.*
  FROM messages m
), blk AS (
  SELECT k.*, t.pos, t.block
  FROM (SELECT *, regexp_extract_all(full_text, '(?s)#KNOWLEDGE(.*?)#END', 1) AS blocks
        FROM keyed WHERE contains(full_text, '#KNOWLEDGE')) k,
  LATERAL (SELECT unnest(k.blocks) AS block, generate_subscripts(k.blocks, 1) AS pos) t
  WHERE trim(t.block) <> ''
), ord AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY msg_key ORDER BY pos) AS INTEGER) AS snippet_no,
         trim(block) AS content
  FROM blk
)"""


# S1 — dimension scan with isin filter ---------------------------------------

@register(
    "kb_dim_scan",
    sql=model.MODEL_CTE
    + """
SELECT channel_id, name, topic, purpose
FROM channels_dim
WHERE name IN ('chan africa', 'chan europe', 'chan asia')
""",
    tags=("S1", "F6"),
)
def kb_dim_scan(spark: SparkSession, sf: str) -> DataFrame:
    return model.channels_dim(spark, sf).filter(
        F.col("name").isin("chan africa", "chan europe", "chan asia")
    )


# J6 — configured-vs-found set difference (left anti join) --------------------

@register(
    "kb_channel_missing",
    sql=model.MODEL_CTE
    + """
SELECT w.name AS missing_name
FROM (VALUES ('chan africa'), ('chan europe'), ('chan nowhere')) w(name)
ANTI JOIN channels_dim c ON c.name = w.name
""",
    tags=("J6",),
)
def kb_channel_missing(spark: SparkSession, sf: str) -> DataFrame:
    wanted = spark.createDataFrame(
        [("chan africa",), ("chan europe",), ("chan nowhere",)], ["name"]
    )
    found = model.channels_dim(spark, sf)
    return wanted.join(found, "name", "left_anti").select(F.col("name").alias("missing_name"))


# F1/F2 — freshness + lookback window counters --------------------------------

@register(
    "kb_freshness",
    sql=model.MODEL_CTE
    + f"""
SELECT
  count(*) AS n_scanned,
  CAST(sum(CASE WHEN ts_micros > {CKPT} THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
  CAST(sum(CASE WHEN ts_micros >= {CKPT - LOOKBACK} AND ts_micros <= {CKPT} THEN 1 ELSE 0 END) AS BIGINT) AS n_lookback_only
FROM messages
""",
    tags=("F1", "F2", "A3"),
)
def kb_freshness(spark: SparkSession, sf: str) -> DataFrame:
    m = model.messages(spark, sf)
    return m.agg(
        F.count("*").alias("n_scanned"),
        F.sum(F.when(F.col("ts_micros") > CKPT, 1).otherwise(0)).alias("n_fresh"),
        F.sum(
            F.when(
                (F.col("ts_micros") >= CKPT - LOOKBACK) & (F.col("ts_micros") <= CKPT), 1
            ).otherwise(0)
        ).alias("n_lookback_only"),
    )


# P1/F3/F4/A2 — block extraction with posexplode-anchored ordinals ------------

@register(
    "kb_extract_blocks",
    sql=model.MODEL_CTE
    + ","
    + _BLK_CTE
    + """
SELECT msg_key, snippet_no, content
FROM ord
""",
    tags=("P1", "F3", "F4", "A2", "P11"),
)
def kb_extract_blocks(spark: SparkSession, sf: str) -> DataFrame:
    m = ex.with_msg_key(model.messages(spark, sf))
    return ex.extract_blocks(m).select("msg_key", "snippet_no", "content")


# S4/J1 — author resolution with UnknownUser default --------------------------

@register(
    "kb_author_counts",
    sql=model.MODEL_CTE
    + """
SELECT coalesce(u.real_name, 'UnknownUser') AS author, count(*) AS n_msgs
FROM messages m LEFT JOIN users_dim u USING (user_id)
GROUP BY 1
""",
    tags=("S4", "J1"),
)
def kb_author_counts(spark: SparkSession, sf: str) -> DataFrame:
    m = ex.resolve_author(model.messages(spark, sf), model.users_dim(spark, sf))
    return m.groupBy("author").agg(F.count("*").alias("n_msgs"))


# S5/A1/P12 — members per channel --------------------------------------------

@register(
    "kb_members",
    sql=model.MODEL_CTE
    + """
SELECT channel_id,
       string_agg(real_name, ', ' ORDER BY real_name) AS members_csv,
       count(*) AS n_members
FROM members
GROUP BY channel_id
""",
    tags=("S5", "A1", "P12"),
)
def kb_members(spark: SparkSession, sf: str) -> DataFrame:
    return model.members(spark, sf).groupBy("channel_id").agg(
        ex.members_csv(), F.count("*").alias("n_members")
    )


# P3/J2/F8 — order-preserving mention resolution ------------------------------

@register(
    "kb_mentions",
    sql=model.MODEL_CTE
    + """
, keyed AS (
  SELECT concat_ws('_', channel_id, ts_raw) AS msg_key, full_text FROM messages
), ment AS (
  SELECT f.msg_key, t.pos, t.mid
  FROM (SELECT msg_key, regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1) AS ids FROM keyed) f,
  LATERAL (SELECT unnest(f.ids) AS mid, generate_subscripts(f.ids, 1) AS pos) t
)
SELECT m.msg_key,
       string_agg(coalesce(u.real_name, 'UnknownUser'), ', ' ORDER BY m.pos) AS mentions_csv
FROM ment m LEFT JOIN users_dim u ON u.user_id = m.mid
GROUP BY m.msg_key
""",
    tags=("P3", "J2", "F8"),
)
def kb_mentions(spark: SparkSession, sf: str) -> DataFrame:
    m = ex.with_msg_key(model.messages(spark, sf))
    resolved = ex.resolve_mentions(m, model.users_dim(spark, sf))
    return resolved.filter(F.col("mentions_csv").isNotNull()).select(
        "msg_key", "mentions_csv"
    )


# S3 — thread expansion (parent <- replies self-join) -------------------------

@register(
    "kb_thread_expansion",
    sql=model.MODEL_CTE
    + """
SELECT concat_ws('_', p.channel_id, p.ts_raw) AS parent_key, count(*) AS n_replies
FROM messages r
JOIN messages p ON r.thread_ts_micros = p.ts_micros AND r.channel_id = p.channel_id
GROUP BY 1
""",
    tags=("S3", "J5"),
)
def kb_thread_expansion(spark: SparkSession, sf: str) -> DataFrame:
    m = model.messages(spark, sf)
    replies = m.filter(F.col("thread_ts_micros").isNotNull()).select(
        F.col("channel_id").alias("r_channel_id"),
        F.col("thread_ts_micros").alias("parent_ts_micros"),
    )
    parents = m.select("channel_id", "ts_raw", "ts_micros")
    joined = replies.join(
        parents,
        (replies.r_channel_id == parents.channel_id)
        & (replies.parent_ts_micros == parents.ts_micros),
        "inner",
    )
    return joined.groupBy(
        F.concat_ws("_", "channel_id", "ts_raw").alias("parent_key")
    ).agg(F.count("*").alias("n_replies"))


# F5/J5 — #EDIT replies joined to their parents -------------------------------

@register(
    "kb_edit_parents",
    sql=model.MODEL_CTE
    + """
SELECT concat_ws('_', p.channel_id, p.ts_raw) AS parent_key,
       concat_ws('_', e.channel_id, e.ts_raw) AS edit_key,
       substr(p.full_text, 1, 30) AS parent_prefix
FROM messages e
JOIN messages p ON e.thread_ts_micros = p.ts_micros AND e.channel_id = p.channel_id
WHERE contains(e.msg_text, '#EDIT')
  AND e.thread_ts_raw IS NOT NULL AND e.thread_ts_raw <> e.ts_raw
""",
    tags=("F5", "J5"),
)
def kb_edit_parents(spark: SparkSession, sf: str) -> DataFrame:
    m = model.messages(spark, sf)
    e = ed.edit_replies(m)
    joined = ed.join_parents(e, m)
    return joined.select(
        F.concat_ws("_", "channel_id", "ts_raw").alias("parent_key"),
        F.concat_ws("_", "channel_id", "edit_ts_raw").alias("edit_key"),
        F.substring("full_text", 1, 30).alias("parent_prefix"),
    )


# Full M1 spine ---------------------------------------------------------------

_SPINE_SQL = (
    model.MODEL_CTE
    + f"""
, fresh AS (
  SELECT * FROM messages
  WHERE ts_micros >= {CKPT - LOOKBACK} AND ts_micros > {CKPT}
), keyed AS (
  SELECT concat_ws('_', channel_id, ts_raw) AS msg_key, m.* FROM fresh m
), blk AS (
  SELECT k.*, t.pos, t.block
  FROM (SELECT *, regexp_extract_all(full_text, '(?s)#KNOWLEDGE(.*?)#END', 1) AS blocks
        FROM keyed WHERE contains(full_text, '#KNOWLEDGE')) k,
  LATERAL (SELECT unnest(k.blocks) AS block, generate_subscripts(k.blocks, 1) AS pos) t
  WHERE trim(t.block) <> ''
), ord AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY msg_key ORDER BY pos) AS INTEGER) AS snippet_no,
         trim(block) AS content
  FROM blk
), auth AS (
  SELECT o.*, coalesce(u.real_name, 'UnknownUser') AS author
  FROM ord o LEFT JOIN users_dim u USING (user_id)
), chan AS (
  SELECT a.*, c.name AS channel_name FROM auth a JOIN channels_dim c USING (channel_id)
), memagg AS (
  SELECT channel_id, string_agg(real_name, ', ' ORDER BY real_name) AS members_csv
  FROM members GROUP BY channel_id
), wmem AS (
  SELECT ch.*, memagg.members_csv FROM chan ch LEFT JOIN memagg USING (channel_id)
), ment AS (
  SELECT f.msg_key, string_agg(coalesce(u.real_name, 'UnknownUser'), ', ' ORDER BY t.pos) AS mentions_csv
  FROM (SELECT msg_key, regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1) AS ids FROM keyed) f,
  LATERAL (SELECT unnest(f.ids) AS mid, generate_subscripts(f.ids, 1) AS pos) t
  LEFT JOIN users_dim u ON u.user_id = t.mid
  GROUP BY f.msg_key
), out AS (
  SELECT w.*, mn.mentions_csv,
    strftime(make_timestamp(w.ts_micros), '%Y%m%d') AS msg_date,
    strftime(make_timestamp(w.ts_micros), '%d %B %Y') AS pretty_date,
    regexp_replace(w.ts_raw, '\\.', '_', 'g') AS ts_underscored,
    regexp_replace(w.channel_name, '[^\\w\\-.]', '_', 'g') AS channel_sanitized
  FROM wmem w LEFT JOIN ment mn USING (msg_key)
)
SELECT msg_key, channel_id, channel_name, msg_date, pretty_date, ts_underscored, snippet_no,
  printf('%s_%s_%s_%02d', channel_sanitized, msg_date, ts_underscored, snippet_no) AS chunk_key,
  author, members_csv, mentions_csv, content,
  concat_ws(chr(10),
    'Channel Name: ' || channel_name,
    'Channel Members: ' || coalesce(members_csv, ''),
    'Message Date: ' || pretty_date,
    'Message Author: ' || author,
    CASE WHEN mentions_csv IS NOT NULL THEN 'Mentions: ' || mentions_csv END) AS header
FROM out
"""
)


@register(
    "kb_spine_full",
    sql=_SPINE_SQL,
    tags=("M1", "P4", "P5", "P6", "P7", "P8", "P9", "J1", "J3", "J4", "A2"),
)
def kb_spine_full(spark: SparkSession, sf: str) -> DataFrame:
    fresh = ex.filter_fresh(model.messages(spark, sf), CKPT, model.LOOKBACK_DAYS)
    return ex.build_knowledge_chunks(
        ex.with_target_partition(ex.with_msg_key(fresh), model.channels_dim(spark, sf)),
        model.users_dim(spark, sf),
        model.members(spark, sf),
    )


# --- Round-8 additions: graph/latency/overlap analytics over the model -------
#
# These consume the SAME deterministic Slack model as the extraction spine
# and add the analytics a knowledge-pipeline operator actually runs over
# the ingested corpus: who-mentions-whom (social graph), how fast threads
# get answered (latency SLO), and how much channels share an author base
# (community overlap).  Reference provenance: the mention/thread/member
# machinery is KnowledgeBot.py:317-348 and :460-527; the analytics are the
# engine's own scale additions (SURVEY.md §2.3 LLM-pipeline extras).


@register(
    "kb_mention_graph",
    sql=model.MODEL_CTE
    + """
, ment AS (
  SELECT m.user_id AS src_id, t.mid AS dst_id
  FROM (SELECT user_id, regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1) AS ids
        FROM messages) m,
  LATERAL (SELECT unnest(m.ids) AS mid) t
), edges AS (
  SELECT us.real_name AS src, ud.real_name AS dst,
         CAST(count(*) AS BIGINT) AS weight
  FROM ment
  JOIN users_dim us ON us.user_id = ment.src_id
  JOIN users_dim ud ON ud.user_id = ment.dst_id
  GROUP BY 1, 2
)
SELECT e.src, e.dst, e.weight,
       (r.src IS NOT NULL) AS reciprocal
FROM edges e
LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
ORDER BY e.weight DESC, e.src, e.dst
""",
    tags=("P3", "J2", "graph", "mention-graph"),
)
def kb_mention_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted directed mention graph with reciprocity — the who-cites-whom
    network over the message corpus.  Both endpoints must resolve to KNOWN
    users (inner broadcast joins against the users dim; unknown ``U9xxxx``
    ids and NULL authors drop), edges aggregate to (src, dst, weight), and
    a self-join on the reversed pair marks mutual edges.  Shape: one
    explode of the codegen ``regexp_extract_all`` + two broadcast dim
    joins + one keyed agg; the reciprocity probe joins the edge list
    against its own reversal — at 100 TB the edge list is user-pair
    bounded (dim-sized squared, not corpus-sized), so the self-join stays
    a small-table join whatever the message volume.

    localCheckpoint is EAGER: constructing this DataFrame executes the
    extraction pipeline up to the edge agg, and the checkpointed blocks
    are non-reliable under executor loss (fail-stop, the
    operators/ranking.py trade).  Acceptable here — the cut exists to
    stop Catalyst re-expanding the extraction subtree into both self-join
    sides; if plan-build-time execution or executor-loss recovery ever
    matters, switch to a reliable checkpoint or persist+count (ADVICE
    r09)."""
    m = model.messages(spark, sf)
    u = model.users_dim(spark, sf)
    ment = m.select(
        F.col("user_id").alias("src_id"),
        F.explode(
            F.expr("regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1)")
        ).alias("dst_id"),
    )
    edges = (
        ment.join(
            F.broadcast(u.select(F.col("user_id").alias("src_id"),
                                 F.col("real_name").alias("src"))),
            "src_id",
        )
        .join(
            F.broadcast(u.select(F.col("user_id").alias("dst_id"),
                                 F.col("real_name").alias("dst"))),
            "dst_id",
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("weight"))
        # materialize ONCE: the reciprocity probe joins the edge list
        # against its own reversal, and without a cut Catalyst re-expands
        # both sides into two full extraction subtrees (two message scans,
        # two explodes, two agg shuffles).  localCheckpoint truncates the
        # lineage so the self-join reads the computed user-pair-bounded
        # edge list twice instead of the corpus twice; AQE then sees its
        # true (tiny) size and picks the broadcast side at runtime — no
        # manual hint needed.
        .localCheckpoint()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       F.lit(True).alias("reciprocal"))
    return (
        edges.join(rev, ["src", "dst"], "left")
        .select(
            "src", "dst", "weight",
            F.coalesce(F.col("reciprocal"), F.lit(False)).alias("reciprocal"),
        )
        .orderBy(F.desc("weight"), "src", "dst")
    )


@register(
    "kb_thread_latency",
    sql=model.MODEL_CTE
    + """
, lat AS (
  SELECT strftime(make_timestamp(p.ts_micros), '%Y%m%d') AS parent_date,
         r.ts_micros - p.ts_micros AS d_micros
  FROM messages r
  JOIN messages p ON r.thread_ts_micros = p.ts_micros
                 AND r.channel_id = p.channel_id
)
SELECT parent_date,
  CAST(count(*) AS BIGINT) AS n_replies,
  CAST(min(d_micros) AS BIGINT) AS min_micros,
  CAST(max(d_micros) AS BIGINT) AS max_micros,
  CAST((2 * sum(d_micros) + count(*)) // (2 * count(*)) AS BIGINT) AS avg_micros_half_up
FROM lat
GROUP BY parent_date
ORDER BY parent_date
""",
    tags=("S3", "J5", "P4", "latency", "slo"),
)
def kb_thread_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Thread response-latency SLO per parent DAY: every reply joins its
    parent (the S3/J5 parent↔reply key), the parent day derives via the
    P4 UTC formatting rule, and the reply lag aggregates as EXACT integer
    microseconds — the mean is the established half-up rational
    ``(2*sum + n) div (2*n)``, never a rounded double, so both engines
    state the identical int64 (the rel_pareto_share rule).  Shape: one
    key-co-partitioned self-join on (channel, parent ts) + one
    day-bounded agg; at 100 TB the join shuffles reply-stream-sized rows
    once and the agg key space is the calendar."""
    m = model.messages(spark, sf)
    replies = m.filter(F.col("thread_ts_micros").isNotNull()).select(
        F.col("channel_id").alias("r_channel_id"),
        F.col("thread_ts_micros").alias("parent_ts_micros"),
        F.col("ts_micros").alias("r_ts_micros"),
    )
    parents = m.select("channel_id", "ts_micros")
    lat = replies.join(
        parents,
        (replies.r_channel_id == parents.channel_id)
        & (replies.parent_ts_micros == parents.ts_micros),
        "inner",
    ).select(
        F.date_format(F.timestamp_micros(F.col("ts_micros")), "yyyyMMdd").alias(
            "parent_date"
        ),
        (F.col("r_ts_micros") - F.col("ts_micros")).alias("d_micros"),
    )
    return (
        lat.groupBy("parent_date")
        .agg(
            F.count("*").cast("bigint").alias("n_replies"),
            F.min("d_micros").cast("bigint").alias("min_micros"),
            F.max("d_micros").cast("bigint").alias("max_micros"),
            # widen the lag-sum to DECIMAL(38,0) BEFORE doubling: DuckDB's
            # sum() is already HUGEINT, and at extreme per-day reply volumes
            # 2 * int64-sum would silently wrap on the Spark side only
            F.expr(
                "CAST((2 * CAST(sum(d_micros) AS DECIMAL(38,0)) + count(*))"
                " div (2 * count(*)) AS BIGINT)"
            ).alias("avg_micros_half_up"),
        )
        .orderBy("parent_date")
    )


@register(
    "kb_channel_mention_overlap",
    sql=model.MODEL_CTE
    + """
, au AS (
  SELECT DISTINCT m.channel_id, t.mid AS user_id
  FROM (SELECT channel_id, regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1) AS ids
        FROM messages) m,
  LATERAL (SELECT unnest(m.ids) AS mid) t
), sizes AS (
  SELECT channel_id, CAST(count(*) AS BIGINT) AS n FROM au GROUP BY 1
), shared AS (
  SELECT a.channel_id AS ch_a, b.channel_id AS ch_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM au a JOIN au b ON a.user_id = b.user_id AND a.channel_id < b.channel_id
  GROUP BY 1, 2
)
SELECT s.ch_a, s.ch_b, s.n_shared, sa.n AS n_a, sb.n AS n_b,
  CAST(s.n_shared * 10000 // (sa.n + sb.n - s.n_shared) AS BIGINT)
    AS jaccard_e4
FROM shared s
JOIN sizes sa ON sa.channel_id = s.ch_a
JOIN sizes sb ON sb.channel_id = s.ch_b
ORDER BY s.ch_a, s.ch_b
""",
    tags=("P3", "A1", "set-similarity", "community"),
)
def kb_channel_mention_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Channel-pair MENTIONED-community Jaccard — how much two channels
    talk about the same people.  Distinct (channel, mentioned-id) pairs
    (P3 extraction; known AND unknown ids both count — the community is
    who gets referenced, not who has an account) self-join on the mention
    key — never an all-pairs channel cross: the equi-join only
    materializes pairs that actually share a mention — sizes join back
    per side, and the Jaccard lands as exact floor-e4 fixed point.
    (Author-set overlap is the degenerate sibling here: the deterministic
    model assigns authors to channels in disjoint residue classes, so its
    Jaccard is identically zero — mentioned-user sets genuinely cross
    channels.)  At 100 TB the distinct mention set is person-bounded and
    the shared-pair key space is (channel × channel) — both tiny next to
    the message stream that produced them."""
    m = model.messages(spark, sf)
    au = (
        m.select(
            "channel_id",
            F.explode(
                F.expr("regexp_extract_all(full_text, '<@([A-Z0-9]+)>', 1)")
            ).alias("user_id"),
        )
        .distinct()
    )
    sizes = au.groupBy("channel_id").agg(F.count("*").cast("bigint").alias("n"))
    b = au.select(F.col("channel_id").alias("ch_b"), "user_id")
    shared = (
        au.select(F.col("channel_id").alias("ch_a"), "user_id")
        .join(b, "user_id")
        .filter(F.col("ch_a") < F.col("ch_b"))
        .groupBy("ch_a", "ch_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("channel_id").alias("ch_a"),
                                     F.col("n").alias("n_a"))), "ch_a")
        .join(
            F.broadcast(sizes.select(F.col("channel_id").alias("ch_b"),
                                     F.col("n").alias("n_b"))), "ch_b")
        .select(
            "ch_a", "ch_b", "n_shared", "n_a", "n_b",
            F.expr(
                "CAST(n_shared * 10000 div (n_a + n_b - n_shared) AS BIGINT)"
            ).alias("jaccard_e4"),
        )
        .orderBy("ch_a", "ch_b")
    )
