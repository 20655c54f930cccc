"""Seeded input generator for the benchmark.

Writes the three tables ``knowledgebot_spark.model`` derives its Slack-shaped
message model from (``documents``, ``customer``, ``region``) with pyarrow,
single-threaded, so the same seed gives byte-identical parquet files.  The
program under test only ever sees these files.

Message timestamps are a function of ``doc_id`` in the model
(``1700000000 + doc_id * 137`` seconds), so a message stream is a run of
consecutive doc ids, and an incremental arrival window is the run of doc ids
whose timestamps fall in ``[ckpt - 7 d, now]``.  Doc ids start above
``FIRST_DOC - 1`` so every message is newer than the model's fixed
checkpoint, which is what the ``kb_spine_full`` oracle filters on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DOC = 101                 # model.CKPT_MICROS == ts(doc_id=100), strict >
DOC_SPACING_S = 137             # model._TS_SEC
TS_BASE_S = 1_700_000_000
LOOKBACK_S = 7 * 86400
EDIT_PERIOD = 20                # model: doc_id % 20 == 14 is an #EDIT reply
N_USERS = 120                   # covers mention ids 0..89 and member filter
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
VOCAB_SIZE = 400
OOV_SHARE = 0.2                 # share of query tokens drawn outside VOCAB

_SYLLABLES = (
    "ka lo mi ra se tu vo ne pi da fe gu ho ji be co ly wa zu xe "
    "qua tri ost ven mar pel dor sin gal rub"
).split()


def ts_micros(doc_id: int) -> int:
    """The model's message timestamp (``model._ts_micros``) for ``doc_id``."""
    return (TS_BASE_S + doc_id * DOC_SPACING_S) * 1_000_000 + doc_id % 7


def vocabulary(seed: int) -> list[str]:
    """A seeded vocabulary of distinct pseudo-words."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def message_texts(seed: int, n: int) -> list[str]:
    """``n`` message bodies of 8-60 Zipf-distributed vocabulary words."""
    vocab = vocabulary(seed)
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    lengths = rng.integers(8, 61, n)
    picks = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(vocab[i] for i in picks[pos : pos + ln]))
        pos += ln
    return out


def queries(seed: int, n: int) -> list[str]:
    """``n`` search queries of 2-6 tokens; ``OOV_SHARE`` of the tokens are
    out-of-vocabulary (never appear in any message)."""
    vocab = vocabulary(seed)
    rng = np.random.default_rng([seed, 3])
    out = []
    for _ in range(n):
        toks = []
        for _ in range(int(rng.integers(2, 7))):
            if rng.random() < OOV_SHARE:
                toks.append("oov" + str(int(rng.integers(0, 10**6))))
            else:
                toks.append(vocab[int(rng.integers(0, 60))])
        out.append(" ".join(toks))
    return out


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=False)


def write_dims(out_dir: str) -> None:
    """``customer`` (users, members) and ``region`` (channels) tables."""
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(N_USERS, dtype=np.int64)
    _write(
        pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        }),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        os.path.join(out_dir, "region.parquet"),
    )


def write_documents(out_dir: str, doc_ids: range, texts: list[str]) -> int:
    """The ``documents`` table for ``doc_ids``; ``texts[i]`` is the body of
    doc ``FIRST_DOC + i``.  Returns the row count."""
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array([texts[d - FIRST_DOC] for d in doc_ids], pa.string()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    return len(doc_ids)


def corpus(out_dir: str, seed: int, n_docs: int) -> list[str]:
    """A full corpus of ``n_docs`` messages plus its dims in ``out_dir``."""
    texts = message_texts(seed, n_docs)
    write_dims(out_dir)
    write_documents(out_dir, range(FIRST_DOC, FIRST_DOC + n_docs), texts)
    return texts


def batch_bounds(initial_docs: int, batch_docs: int, i: int) -> tuple[int, int]:
    """Doc ids ``[lo, hi)`` that are new in incremental batch ``i`` (0-based).

    The first batch start is rounded up so that every batch starts two docs
    before an ``#EDIT`` reply (``batch_docs`` is a multiple of the edit
    period): that reply's parent (doc_id - 5) is older than the batch's
    checkpoint, so each batch reopens one committed parent."""
    if batch_docs % EDIT_PERIOD:
        raise ValueError(f"batch_docs must be a multiple of {EDIT_PERIOD}")
    start = FIRST_DOC + initial_docs
    start += (EDIT_PERIOD - 8 - start % EDIT_PERIOD) % EDIT_PERIOD
    lo = start + i * batch_docs
    return lo, lo + batch_docs


def now_after(last_doc: int) -> int:
    """A run's pre-scan stamp: halfway between ``last_doc`` and the next doc."""
    return ts_micros(last_doc) + DOC_SPACING_S * 1_000_000 // 2


def arrival_window(ckpt_micros: int, now_micros: int) -> range:
    """Doc ids a Slack history fetch returns for one run: every message with
    ``ts`` in ``[ckpt - 7 d, now]`` (only ids that exist from ``FIRST_DOC``)."""
    lo_ts = ckpt_micros - LOOKBACK_S * 1_000_000
    lo = max(FIRST_DOC, (lo_ts // 1_000_000 - TS_BASE_S) // DOC_SPACING_S - 1)
    while ts_micros(lo) < lo_ts:
        lo += 1
    hi = (now_micros // 1_000_000 - TS_BASE_S) // DOC_SPACING_S + 2
    while ts_micros(hi - 1) > now_micros:
        hi -= 1
    return range(lo, hi)


def vector_table(path: str, seed: int, n: int, embed) -> None:
    """A small vector table in the schema of the ingest path's output
    (``chunk_id, text, channel_name, author, embedding``), embedded with
    ``embed``; used only to warm up the query path."""
    texts = message_texts(seed, n)
    _write(
        pa.table({
            "chunk_id": pa.array([f"warm#{i}" for i in range(n)], pa.string()),
            "text": pa.array(texts, pa.string()),
            "channel_name": pa.array(
                ["chan " + REGIONS[i % 5].lower() for i in range(n)], pa.string()),
            "author": pa.array(["warm"] * n, pa.string()),
            "embedding": pa.array([embed(t) for t in texts], pa.list_(pa.float32())),
        }),
        path,
    )
