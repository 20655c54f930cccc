"""U4 hash embedder: the Spark built-in ``with_embedding`` is bit-identical
(as float32) to the driver-side ``embed_text`` and runs no Python worker."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

from knowledgebot_spark.operators import embedding as em

EDGE_TEXTS = [
    None,
    "",
    " ",
    "a  b",
    "x ",
    " x",
    "café naïve 東京 — ok",
    " ".join(f"tok{i % 37}_{i}" for i in range(200)),
    "spark hash join vector",
    "alpha0 alpha1 alpha2",
]


@pytest.mark.parametrize("dim", [16, 8])
def test_with_embedding_is_bit_identical_to_embed_text(spark, dim):
    schema = StructType(
        [StructField("i", StringType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(EDGE_TEXTS)], schema)
    out = em.with_embedding(df, "text", dim=dim)
    assert out.schema["embedding"].dataType == ArrayType(FloatType(), True)
    got = {r.i: r.embedding for r in out.collect()}
    for i, text in enumerate(EDGE_TEXTS):
        want = np.asarray(em.embed_text(text, dim), dtype=np.float32)
        have = np.asarray(got[str(i)], dtype=np.float32)
        assert have.shape == (dim,), text
        assert np.array_equal(have.view(np.uint32), want.view(np.uint32)), text


def test_with_embedding_plan_has_no_python_eval(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("text"))
    out = em.with_embedding(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    want = [np.float32(em.embed_text(str(i))) for i in range(3)]
    got = [np.asarray(r.embedding, dtype=np.float32) for r in out.orderBy("text").collect()]
    assert all(np.array_equal(g, w) for g, w in zip(got, want))
