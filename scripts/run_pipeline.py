"""End-to-end pipeline CLI — the engine's replacement for the reference's
two entry points run back to back, plus the declared search API:

  E1 (KnowledgeBot.py main -> process_channel): incremental extraction of
     #KNOWLEDGE blocks from the Slack-shaped message model into the keyed
     chunk table, with checkpoint, tombstones, and #EDIT reprocessing;
  E2 (VectorDatabase.py ingest_documents): serialize chunk files in the
     reference's on-disk format, glob-scan + parse them back (S6/S7),
     token-window chunk (U1), embed (U4), land the D5 vector table;
  E3 (VectorDatabase.search, declared): metadata-filtered cosine top-k
     over D5 (Q1/Q2).

Usage:
    python scripts/run_pipeline.py [sf_dir] [workdir] [query terms...]

Everything runs as DataFrame plans.  Two results come to the driver: E1
collects its batch's in-scope messages once, text included (bounded by
the arrival window; this run has no checkpoint, so that is every
in-scope message), and E3 prints the top-k rows (bounded by k).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
WORKDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/knowledgebot_spark/pipeline"
QUERY = " ".join(sys.argv[3:]) or "spark table scan"
TOP_K = 5


def main(sf_dir: str = SF_DIR, workdir: str = WORKDIR, query_text: str = QUERY) -> None:
    from knowledgebot_spark import incremental, model
    from knowledgebot_spark.operators import chunker as ck
    from knowledgebot_spark.operators import embedding as em
    from knowledgebot_spark.operators import similarity as sim
    from knowledgebot_spark.session import get_session
    from knowledgebot_spark.sinks.keyed_parquet import serialize_chunk_files

    spark = get_session("knowledgebot-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(workdir, ignore_errors=True)
    chunks_path = f"{workdir}/knowledge_chunks"
    export_path = f"{workdir}/export"
    d5_path = f"{workdir}/vector_chunks"
    os.makedirs(export_path)

    # ---- E1: incremental extraction ------------------------------------
    t0 = time.time()
    counters = incremental.run_extraction(
        spark,
        model.messages(spark, sf_dir),
        model.users_dim(spark, sf_dir),
        model.channels_dim(spark, sf_dir),
        model.members(spark, sf_dir),
        output_path=chunks_path,
        state_path=f"{workdir}/state.json",
        now_micros=model.CKPT_MICROS + 365 * 86400 * 1_000_000,
    )
    print(
        f"[E1] extraction: {counters['n_reprocessed_keys']} keys reprocessed, "
        f"checkpoint {counters['checkpoint_before']} -> "
        f"{counters['checkpoint_after']} ({time.time() - t0:.1f}s)"
    )

    # ---- E2: serialize -> glob scan -> parse -> chunk -> embed -> D5 ----
    t0 = time.time()
    chunks = spark.read.parquet(chunks_path)
    files = serialize_chunk_files(chunks)
    # write the reference's one-file-per-chunk layout DISTRIBUTED: the text
    # sink partitioned by chunk_key makes each executor write its keys'
    # files (chunk_key=<key>/part-*.txt); the driver never sees a row.
    # The previous formulation funneled every file through a driver-side
    # toLocalIterator + open() loop — the exact anti-pattern the scale
    # posture forbids.
    (
        files.select("chunk_key", "value")
        .write.mode("overwrite")
        .partitionBy("chunk_key")
        .text(export_path)
    )
    raw = spark.read.text(f"{export_path}/chunk_key=*/*", wholetext=True).withColumn(
        "source", F.input_file_name()
    )
    parsed = ck.parse_header_body(raw, "value").filter(F.col("body") != "")
    windows = ck.chunk_windows(parsed, "body", chunk_size=20, overlap=5)
    d5 = em.with_embedding(
        windows.select(
            F.concat_ws("#", "source", "chunk_pos").alias("chunk_id"),
            F.col("chunk_text").alias("text"),
            F.col("meta")["Channel_Name"].alias("channel_name"),
            F.col("meta")["Message_Author"].alias("author"),
        ),
        text_col="text",
    )
    d5.write.mode("overwrite").parquet(d5_path)
    n_vecs = spark.read.parquet(d5_path).count()
    print(f"[E2] ingest: {n_vecs} vector chunks ({time.time() - t0:.1f}s)")

    # ---- E3: semantic top-k (Q1) ----------------------------------------
    t0 = time.time()
    table = spark.read.parquet(d5_path)
    query = spark.createDataFrame(
        [(em.embed_text(query_text),)], "qvec array<float>"
    )
    hits = sim.topk_cosine(
        table, query, k=TOP_K, id_col="chunk_id", vec_col="embedding"
    ).join(table.select("chunk_id", "channel_name", "text"), "chunk_id")
    print(f"[E3] top-{TOP_K} for {query_text!r} ({time.time() - t0:.1f}s):")
    for r in hits.orderBy(F.desc("score")).collect():
        print(f"  {r.score:.4f}  [{r.channel_name}] {r.text[:70]}")


if __name__ == "__main__":
    main()
