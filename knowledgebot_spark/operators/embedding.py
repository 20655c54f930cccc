"""Embedding generation (SURVEY.md §2.1 U4).

The reference delegates embedding to Weaviate's server-side
text2vec-transformers (VectorDatabase/VectorDatabase.py:56); per the north
star, the engine computes embeddings itself on executors.

Default implementation is a deterministic hash embedder (md5-projected
token averages) so every downstream operator — ingest, search, dedup — is
reproducible and oracle-checkable without model weights.  It has one
definition per runtime, bit-identical as float32:
  * ``token_component_col`` / ``with_embedding`` — JVM built-ins, for data
    (E2 runs no Python worker; ``kb_embed`` and ``kb_rag_search`` build
    their integer micro-unit embeddings from the same column);
  * ``_token_component`` / ``embed_text`` — Python, for driver-side query
    vectors and as the reference the float32 checks compare against.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 16


def _token_component(token: str, j: int) -> int:
    h = hashlib.md5(f"{token}:{j}".encode()).hexdigest()
    return int(h[:8], 16) % 1000


# The one Spark spelling, as SQL text: with_embedding splices every dim into one
# F.expr, where the Column API took ~300 py4j calls (~190 ms) per call.
_COMPONENT_SQL = "CAST(conv(substring(md5(concat_ws(':', {t}, {j})), 1, 8), 16, 10) AS BIGINT) % 1000"


def token_component_col(t: str, j: int) -> Column:
    """Spark twin of ``_token_component`` over token column ``t``: BIGINT in [0, 1000)."""
    return F.expr(_COMPONENT_SQL.format(t=t, j=j))


def embed_text(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic hash embedding: component j = mean over tokens of
    (md5(token:j)[:8] as int) % 1000 / 1000."""
    toks = text.split(" ") if text else []
    if not toks:
        return [0.0] * dim
    return [
        sum(_token_component(t, j) for t in toks) / (1000.0 * len(toks))
        for j in range(dim)
    ]


def with_embedding(df: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM) -> DataFrame:
    """``embedding`` = ``embed_text(text_col, dim)`` as ARRAY<FLOAT> from
    Spark built-ins.  The outer transform(array(split(...))) binds the token
    array once per row, as ``chunker.chunk_windows`` does; NULL or empty
    text embeds as ``dim`` zeros."""
    means = ", ".join(
        f"CAST(CAST(aggregate(tk, 0L, (acc, t) -> acc + {_COMPONENT_SQL.format(t='t', j=j)})"
        " AS DOUBLE) / (1000.0D * size(tk)) AS FLOAT)"
        for j in range(dim)
    )
    return df.withColumn("embedding", F.expr(
        f"CASE WHEN length({text_col}) > 0"
        f" THEN transform(array(split({text_col}, ' ')), tk -> array({means}))[0]"
        f" ELSE array_repeat(CAST(0.0 AS FLOAT), {dim}) END"
    ))
