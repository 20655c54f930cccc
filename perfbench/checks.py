"""Output checks.  Each returns a list of mismatch descriptions (empty when
the output is correct); the caller counts a non-empty list as a failed
operation."""

from __future__ import annotations

import decimal
import os

import duckdb
import numpy as np

CHUNK_COLS = (
    "msg_key", "channel_id", "channel_name", "msg_date", "pretty_date",
    "ts_underscored", "snippet_no", "chunk_key", "author", "members_csv",
    "mentions_csv", "content", "header",
)
WINDOW = 20
OVERLAP = 5


def _canon(row) -> tuple:
    return tuple(None if v is None else str(v) for v in row)


def oracle_chunks(corpus_dir: str, docs_dir: str | None = None) -> list[tuple]:
    """The registry's ``kb_spine_full`` DuckDB oracle over the generated
    tables: the chunk rows every message in ``documents`` should produce."""
    from knowledgebot_spark import queries_pipeline  # noqa: F401  (registers)
    from knowledgebot_spark.registry import _REGISTRY

    sql = _REGISTRY["kb_spine_full"].sql
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for name, d in (("customer", corpus_dir), ("region", corpus_dir),
                        ("documents", docs_dir or corpus_dir)):
            path = os.path.join(d, f"{name}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        rows = con.execute(
            f"SELECT {', '.join(CHUNK_COLS)} FROM ({sql})"
        ).fetchall()
    finally:
        con.close()
    return sorted(_canon(r) for r in rows)


def compare_rows(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    got = sorted(_canon(r) for r in got)
    if got == want:
        return []
    missing = sorted(set(want) - set(got))[:2]
    extra = sorted(set(got) - set(want))[:2]
    return [f"{what}: {len(got)} rows vs {len(want)} expected; "
            f"missing {missing} extra {extra}"]


def chunk_table(spark, path: str, want: list[tuple]) -> list[str]:
    """The keyed chunk table equals the oracle, order-insensitively."""
    got = spark.read.parquet(path).select(*CHUNK_COLS).collect()
    return compare_rows(got, want, f"chunk table {os.path.basename(path)}")


def expected_windows(want: list[tuple]) -> int:
    """Token windows the vector path cuts from the oracle's chunk bodies
    (one window per ``WINDOW - OVERLAP`` tokens, final partial kept)."""
    stride = WINDOW - OVERLAP
    content = CHUNK_COLS.index("content")
    total = 0
    for row in want:
        body = row[content].strip()
        if body:
            total += (len(body.split(" ")) - 1) // stride + 1
    return total


def embeddings(rows, embed_text) -> list[str]:
    """Each sampled ``(text, embedding)`` row carries ``embed_text(text)``
    as float32."""
    bad = []
    for text, emb in rows:
        want = np.asarray(embed_text(text), dtype=np.float32)
        if not np.array_equal(np.asarray(emb, dtype=np.float32), want):
            bad.append(f"embedding mismatch for {text[:40]!r}")
    return bad


def _round6(x: float) -> float:
    """Spark ``round(x, 6)`` on a double: HALF_UP on its shortest decimal
    representation."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


class BruteForce:
    """Exact cosine top-k over the collected vector table, evaluated with
    the same left-to-right double folds as ``similarity.topk_cosine`` so
    scores match after rounding to 6 places."""

    def __init__(self, ids, channels, vectors):
        self.ids = list(ids)
        self.channels = np.asarray(channels, dtype=object)
        self.vecs = np.asarray(vectors, dtype=np.float32).astype(np.float64)
        sq = np.zeros(len(self.ids))
        for j in range(self.vecs.shape[1]):
            sq = sq + self.vecs[:, j] * self.vecs[:, j]
        self.norms = np.sqrt(sq)

    def topk(self, qvec, k: int, channel: str | None = None) -> list[tuple]:
        q = np.asarray(qvec, dtype=np.float32).astype(np.float64)
        qn = 0.0
        for x in q:
            qn = qn + x * x
        qn = np.sqrt(qn)
        dot = np.zeros(len(self.ids))
        for j in range(len(q)):
            dot = dot + self.vecs[:, j] * q[j]
        denom = self.norms * qn
        scored = []
        for i, cid in enumerate(self.ids):
            if channel is not None and self.channels[i] != channel:
                continue
            score = None if denom[i] == 0 else _round6(float(dot[i] / denom[i]))
            scored.append((cid, score))
        scored.sort(key=lambda r: (r[1] is None, -(r[1] or 0.0), r[0]))
        return scored[:k]
