"""Incremental extraction run (SURVEY.md §3 E1 as one batch DAG).

Mirrors the reference's ``main`` -> ``process_channel`` lifecycle
(KnowledgeBot.py:668-705, 425-534) with M2 semantics:

  * pre-scan checkpoint stamp (K5, KnowledgeBot.py:110);
  * freshness F1 (strict >) within lookback F2 (>= ckpt - 7d);
  * every processed message's key is tombstoned before append — including
    messages whose new text has no ``#KNOWLEDGE`` block (K2 tag-removal,
    KnowledgeBot.py:483-485);
  * ``#EDIT`` thread replies re-extract their *parent* message (the
    intended semantics of the reference's broken ``_process_message``,
    SURVEY.md §2.2) — parents re-enter the spine and their keys tombstone;
  * chunks land in a (channel_name, msg_date)-partitioned parquet table
    through ``upsert_scope``, the write path the streaming spine
    (``stream_extraction_spine``) shares.

Driver memory: a run (or a micro-batch) holds its scope rows on the
driver, message text included, once.  That is bounded by the arrival
window (plus the ``#EDIT`` parents it reopens); a first run with no
checkpoint collects every in-scope message.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from knowledgebot_spark.operators import edits as ed
from knowledgebot_spark.operators import extraction as ex
from knowledgebot_spark.sinks.checkpoint import IncrementalRun
from knowledgebot_spark.sinks.keyed_parquet import upsert_chunks


def batch_scope(msgs: DataFrame, ckpt_micros: int, lookback_days: int = 7) -> DataFrame:
    """The messages one run reprocesses, keyed: the fresh ones (F1/F2) and
    the parents their ``#EDIT`` replies reopen, each once."""
    keyed = ex.with_msg_key(msgs)
    fresh = ex.filter_fresh(keyed, ckpt_micros, lookback_days)
    # #EDIT replies pull their parents back into scope even when the parent
    # itself is older than the checkpoint (J5 on the full keyed scan).
    edit_parents = ed.join_parents(ed.edit_replies(fresh), keyed).drop(
        "edit_ts_raw", "parent_ts_micros"
    )
    return fresh.unionByName(edit_parents.select(fresh.columns)).dropDuplicates(
        ["msg_key"]
    )


def upsert_scope(
    spark: SparkSession,
    scope: DataFrame,
    users: DataFrame,
    channels: DataFrame,
    members: DataFrame,
    output_path: str,
) -> int:
    """Replace the stored chunks of every message in ``scope`` (keyed by
    ``msg_key``) with the chunks its current text yields; returns the
    number of keys reprocessed.  The one write path of E1: a batch run's
    scope and a streaming micro-batch both land here."""
    # The scope executes once: its rows, each with the partition it lands
    # in, are collected through Arrow (which keeps nullable bigints exact)
    # and come back as a driver-side LocalRelation that the chunk plan and
    # the sink's key frame both read without re-running the scan, the
    # #EDIT join, the dedup shuffle or the channel join.
    collected = ex.with_target_partition(scope, channels).toArrow()
    local = spark.createDataFrame(collected)
    chunks = ex.build_knowledge_chunks(local, users, members)
    # K2: every in-scope message key is reprocessed — deletes run even for
    # messages that no longer (or never) contain a knowledge block.  Each
    # key carries the partition its chunks land in.
    reprocessed = local.select("msg_key", "channel_name", "msg_date")
    upsert_chunks(spark, output_path, chunks, reprocessed_keys=reprocessed)
    return pc.count_distinct(collected["msg_key"]).as_py()


def run_extraction(
    spark: SparkSession,
    msgs: DataFrame,
    users: DataFrame,
    channels: DataFrame,
    members: DataFrame,
    output_path: str,
    state_path: str,
    now_micros: int,
    lookback_days: int = 7,
) -> dict:
    """One incremental run; returns A3-style counters."""
    run = IncrementalRun(state_path, now_micros)
    ckpt = run.checkpoint_micros
    scope = batch_scope(msgs, ckpt, lookback_days)
    n_keys = upsert_scope(spark, scope, users, channels, members, output_path)
    run.commit()
    return {
        "checkpoint_before": ckpt,
        "checkpoint_after": run.start_micros,
        "n_reprocessed_keys": n_keys,
    }
