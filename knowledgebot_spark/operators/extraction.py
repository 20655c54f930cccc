"""Extraction spine (SURVEY.md §7 M1): messages -> knowledge-chunk table.

Re-expresses the reference's `process_channel` loop (KnowledgeBot.py:425-534)
as one declarative DataFrame plan:

    scan -> freshness filters (F1/F2) -> attachment merge (P2, done in the
    model) -> channel join (J3/F6) -> cheap substring guard (F3) -> ordered
    mention resolve (P3/J2/F8) -> regex block extract (P1) -> posexplode
    ordinal (A2) -> broadcast dim joins (J1/J4) -> formatting (P4-P9, P11, P12).

Scale posture: ordinals and mention names are computed within each
message's row, so no message-keyed shuffle runs; all dimension joins are
broadcast.  The messages scan prunes to the referenced columns and pushes
the freshness predicate down to parquet (verified via .explain PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOCK_RE = r"(?s)#KNOWLEDGE(.*?)#END"          # KnowledgeBot.py:497 (P1)
MENTION_RE = r"<@([A-Z0-9]+)>"                  # KnowledgeBot.py:327 (P3)
SANITIZE_RE = r"[^\w\-.]"                       # KnowledgeBot.py:364,400 (P7)
UNKNOWN_USER = "UnknownUser"                    # KnowledgeBot.py:315


def with_msg_key(df: DataFrame) -> Column | DataFrame:
    """Stable message identity: channel + raw ts (the reference keys chunk
    files by ``<channel>_<date>_<ts>`` — KnowledgeBot.py:403)."""
    return df.withColumn("msg_key", F.concat_ws("_", "channel_id", "ts_raw"))


def filter_fresh(df: DataFrame, ckpt_micros: int, lookback_days: int = 7) -> DataFrame:
    """F1 strict freshness (> ckpt, KnowledgeBot.py:471-474) over an F2
    lookback scan bound (>= ckpt - N days, inclusive, KnowledgeBot.py:446-450).

    Note on F2: in the reference the lookback re-fetches old thread PARENTS
    so their new replies can be enumerated (a Slack-API artifact); in the
    engine's flat message stream every reply is its own row, so ``> ckpt``
    already captures them and the lookback conjunct is logically subsumed.
    It is kept as the declared SCAN bound: at scale it is the partition-
    pruning predicate on a date-partitioned messages table, and in streaming
    it *is* the watermark (see streaming/pipeline.py).
    """
    lookback = ckpt_micros - lookback_days * 86400 * 1_000_000
    return df.filter(
        (F.col("ts_micros") >= F.lit(lookback)) & (F.col("ts_micros") > F.lit(ckpt_micros))
    )


def extract_blocks(df: DataFrame, text_col: str = "full_text") -> DataFrame:
    """F3 guard + P1 regex extract + F4 empty filter + A2 ordinal.

    Blocks are trimmed and the empty ones dropped within each message's
    array, so ``posexplode`` position + 1 is the 1-based ordinal over
    non-empty blocks in document order — the reference's counter over
    stripped blocks (KnowledgeBot.py:507-513) — never shuffle order.
    """
    blocks = F.regexp_extract_all(F.col(text_col), F.lit(BLOCK_RE), 1)
    # a lambda, not bare F.trim: transform would pass the index as the trim string
    kept = F.filter(F.transform(blocks, lambda b: F.trim(b)), lambda b: b != "")  # P11, F4
    return (
        df.filter(F.col(text_col).contains("#KNOWLEDGE"))  # F3 cheap guard
        .select("*", F.posexplode(kept).alias("pos", "content"))
        .withColumn("snippet_no", F.col("pos") + 1)
        .drop("pos")
    )


def resolve_author(df: DataFrame, users: DataFrame) -> DataFrame:
    """J1/S4: broadcast left join to the users dim; missing or null user ->
    'UnknownUser' (KnowledgeBot.py:297-315,519)."""
    u = F.broadcast(users.select("user_id", F.col("real_name").alias("author_name")))
    return (
        df.join(u, "user_id", "left")
        .withColumn("author", F.coalesce("author_name", F.lit(UNKNOWN_USER)))
        .drop("author_name")
    )


def enrich_channel(df: DataFrame, channels: DataFrame) -> DataFrame:
    """J3/F6: broadcast inner join — unknown channels drop (F6 semantics,
    KnowledgeBot.py:435-439)."""
    c = F.broadcast(
        channels.select(
            "channel_id",
            F.col("name").alias("channel_name"),
            F.col("topic").alias("channel_topic"),
            F.col("purpose").alias("channel_purpose"),
        )
    )
    return df.join(c, "channel_id", "inner")


def members_csv() -> Column:
    """S5/A1/P12: the sorted, comma-joined member names of a members group
    (the reference keeps Slack API order, which is not reproducible)."""
    names = F.array_sort(F.collect_list("real_name"))
    return F.array_join(names, ", ").alias("members_csv")


def attach_members(df: DataFrame, members: DataFrame) -> DataFrame:
    """J4: broadcast join of the pre-aggregated members dim."""
    m = members.groupBy("channel_id").agg(members_csv())
    return df.join(F.broadcast(m), "channel_id", "left")


def resolve_mentions(df: DataFrame, users: DataFrame, text_col: str = "full_text") -> DataFrame:
    """P3 extract + J2 order-preserving resolve + F8 empty guard.

    Mentions come from the *whole message*, not per block (reference
    behavior, KnowledgeBot.py:520 — documented in SURVEY.md §2.2).  Each
    ``<@id>``, in document order, is looked up in a user_id -> real_name
    map built once per query.  Missing names resolve to 'UnknownUser';
    messages without mentions get NULL (F8).  A map lookup scans the keys,
    so its cost grows with the users dim: the author, looked up on every
    row, takes the broadcast join of ``resolve_author`` instead.
    """
    names = users.select(
        F.map_from_entries(F.collect_list(F.struct("user_id", "real_name")))
    ).scalar()
    ids = F.regexp_extract_all(F.col(text_col), F.lit(MENTION_RE), 1)
    resolved = F.transform(ids, lambda i: F.coalesce(F.col("_names")[i], F.lit(UNKNOWN_USER)))
    # the map is bound to a column first: Spark rejects a subquery in a lambda
    return (
        df.withColumn("_names", names)
        .withColumn("mentions_csv", F.when(F.size(ids) > 0, F.array_join(resolved, ", ")))
        .drop("_names")
    )


def msg_date() -> Column:
    """P4: a message's UTC ``yyyyMMdd`` date — with ``channel_name``, the
    chunk table partition its chunks and its tombstone both land in."""
    return F.date_format(F.timestamp_micros(F.col("ts_micros")), "yyyyMMdd")


def with_target_partition(msgs: DataFrame, channels: DataFrame) -> DataFrame:
    """``msgs`` plus ``channel_name`` and ``msg_date``: the chunk table
    partition each message's chunks and tombstone land in.  The channel
    inner join (F6) drops messages of unknown channels, so they yield
    neither chunks nor tombstones."""
    return enrich_channel(msgs, channels).select(
        *msgs.columns, "channel_name", msg_date().alias("msg_date")
    )


def format_output(df: DataFrame) -> DataFrame:
    """P4-P9 formatting columns (all JVM built-ins, no UDFs)."""
    ts = F.timestamp_micros(F.col("ts_micros"))
    return (
        df.withColumn("msg_date", msg_date())                              # P4
        .withColumn("pretty_date", F.date_format(ts, "dd MMMM yyyy"))     # P5
        .withColumn("ts_underscored", F.regexp_replace("ts_raw", r"\.", "_"))  # P6
        .withColumn(
            "channel_sanitized", F.regexp_replace("channel_name", SANITIZE_RE, "_")  # P7
        )
        .withColumn(
            "chunk_key",                                                  # P8
            F.format_string(
                "%s_%s_%s_%02d",
                F.col("channel_sanitized"),
                F.col("msg_date"),
                F.col("ts_underscored"),
                F.col("snippet_no"),
            ),
        )
        .withColumn(
            "header",                                                     # P9
            F.concat_ws(
                "\n",
                F.concat(F.lit("Channel Name: "), F.col("channel_name")),
                F.concat(F.lit("Channel Members: "), F.coalesce("members_csv", F.lit(""))),
                F.concat(F.lit("Message Date: "), F.col("pretty_date")),
                F.concat(F.lit("Message Author: "), F.col("author")),
                F.when(
                    F.col("mentions_csv").isNotNull(),
                    F.concat(F.lit("Mentions: "), F.col("mentions_csv")),
                ),
            ),
        )
    )


def build_knowledge_chunks(
    scope: DataFrame,
    users: DataFrame,
    members: DataFrame,
) -> DataFrame:
    """Full M1 spine: one declarative plan from messages to chunk rows.
    ``scope`` holds keyed, in-scope messages (``filter_fresh`` or
    ``incremental.batch_scope``) that have been through
    ``with_target_partition``: the F6 channel join is not repeated."""
    # F3 guard first: only messages that can yield blocks resolve their
    # mentions (extract_blocks re-applies it, harmlessly)
    df = scope.filter(F.col("full_text").contains("#KNOWLEDGE"))
    # mentions come from the whole message (KnowledgeBot.py:520), so resolve
    # them BEFORE the block explode — every block inherits the message list
    df = resolve_mentions(df, users)
    df = extract_blocks(df)
    df = resolve_author(df, users)
    df = attach_members(df, members)
    df = format_output(df)
    return df.select(
        "msg_key",
        "channel_id",
        "channel_name",
        "msg_date",
        "pretty_date",
        "ts_underscored",
        "snippet_no",
        "chunk_key",
        "author",
        "members_csv",
        "mentions_csv",
        "content",
        "header",
    )
