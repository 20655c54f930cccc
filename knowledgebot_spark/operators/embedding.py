"""Embedding generation (SURVEY.md §2.1 U4).

The reference delegates embedding to Weaviate's server-side
text2vec-transformers (VectorDatabase/VectorDatabase.py:56); per the north
star, the engine computes embeddings itself on executors.

Default implementation is a deterministic hash embedder (md5-projected
token averages) so every downstream operator — ingest, search, dedup — is
reproducible and oracle-checkable without model weights.  A real
sentence-transformer plugs into ``make_embed_udf`` by swapping ``_embed``;
the Spark-side contract (Arrow batches, ARRAY<FLOAT> column) is identical.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 16


def _token_component(token: str, j: int) -> int:
    h = hashlib.md5(f"{token}:{j}".encode()).hexdigest()
    return int(h[:8], 16) % 1000


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


def make_embed_udf(dim: int = DEFAULT_DIM):
    @pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embed_text(t, dim))

    return embed


def with_embedding(df: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM) -> DataFrame:
    return df.withColumn("embedding", make_embed_udf(dim)(F.col(text_col)))

