"""Token-window chunker (SURVEY.md §2.1 U1) and the file parse path (S7/P10).

The reference chunker (VectorDatabase/TextProcessor.py:34-48) slides a
fixed-size token window with overlap and keeps the final partial window; it
infinite-loops when ``overlap >= chunk_size`` — here these functions reject
it.  ``config.EngineConfig`` validates its own chunk_size/chunk_overlap the
same way, but no E2 path reads them: the CLI passes 20/5.

Two implementations with identical semantics:
  * ``chunk_windows`` — JVM built-ins (sequence/slice/posexplode); the hot
    path, whole-stage-codegen friendly, used by the registered queries.
  * ``chunk_text_pandas`` — Arrow-batched pandas UDF; the seam where a real
    subword tokenizer (tiktoken et al.) would plug in.  The container has no
    tokenizer lib, so the tokenizer is whitespace and the UDF is verified
    equivalent to the built-in path in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType


def _check(chunk_size: int, overlap: int) -> int:
    if overlap >= chunk_size:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_size ({chunk_size}); the "
            "reference infinite-loops on this (TextProcessor.py:34-48)"
        )
    return chunk_size - overlap


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 20,
    overlap: int = 5,
) -> DataFrame:
    """Explode each document into (chunk_pos, chunk_text) token windows.
    Stride = chunk_size - overlap; 1-based window starts 1, 1+stride, ...;
    final partial window kept (reference parity)."""
    stride = _check(chunk_size, overlap)
    toks = f"split({text_col}, ' ')"
    # outer transform(array(...)) binds the token array once per row — an
    # embedded split() in the window lambda re-tokenizes per window (the
    # shingle_expr/round-14 interpreted-HOF fix)
    windows = (
        f"flatten(transform(array({toks}), tk -> "
        f"transform(sequence(1, size(tk), {stride}), "
        f"s -> array_join(slice(tk, s, {chunk_size}), ' '))))"
    )
    return (
        df.withColumn("windows", F.expr(windows))
        .select("*", F.posexplode("windows").alias("chunk_pos", "chunk_text"))
        .drop("windows")
    )


def make_chunk_udf(
    chunk_size: int = 20,
    overlap: int = 5,
    tokenizer=None,
    detokenizer=None,
):
    """Pandas-UDF variant (ARRAY<STRING> per row) — Arrow batch transfer,
    tokenizer pluggable per partition.

    ``tokenizer(text) -> sequence`` / ``detokenizer(tokens) -> str`` default
    to whitespace split/join (parity with the JVM ``chunk_windows`` path).
    Pass a subword pair to reproduce the reference's tiktoken cl100k_base
    windows (TextProcessor.py:38-40) — see ``tiktoken_pair()``.  Both must
    be picklable module-level callables (they ship to executors)."""
    stride = _check(chunk_size, overlap)

    @pandas_udf(ArrayType(StringType()))
    def chunk_text(texts: pd.Series) -> pd.Series:
        # resolved inside the task so the closure pickles the callables,
        # not a captured client/encoding object
        tok = tokenizer or _ws_tokenize
        detok = detokenizer or _ws_detokenize

        def one(text: str) -> list[str]:
            toks = tok(text or "")
            out = []
            start = 0
            while start < len(toks):
                out.append(detok(toks[start : start + chunk_size]))
                start += stride
            return out

        return texts.map(one)

    return chunk_text


def _ws_tokenize(text: str) -> list[str]:
    # ''.split(' ') == [''] — mirrors Spark split() so the empty document
    # yields one empty window on both paths
    return text.split(" ")


def _ws_detokenize(toks) -> str:
    return " ".join(toks)


def tiktoken_pair(encoding: str = "cl100k_base"):
    """The reference's real tokenizer (TextProcessor.py:38-40) as a
    (tokenizer, detokenizer) pair for ``make_chunk_udf``; raises
    ImportError where tiktoken is not installed (this container), in which
    case the whitespace default stands in — the parity contract is tested
    either way (tests/test_chunker.py)."""
    import tiktoken

    enc = tiktoken.get_encoding(encoding)
    return enc.encode, enc.decode


def chunk_text_pandas(
    df: DataFrame,
    text_col: str = "text",
    chunk_size: int = 20,
    overlap: int = 5,
    tokenizer=None,
    detokenizer=None,
) -> DataFrame:
    udf = make_chunk_udf(chunk_size, overlap, tokenizer, detokenizer)
    return (
        df.withColumn("windows", udf(F.col(text_col)))
        .select("*", F.posexplode("windows").alias("chunk_pos", "chunk_text"))
        .drop("windows")
    )


# --- S7 header/body parse + P10 field normalization --------------------------

def parse_header_body(df: DataFrame, text_col: str = "value") -> DataFrame:
    """Parse the reference's chunk-file format: ``key: value`` header lines,
    a ``---`` separator line, then the body (TextProcessor.py:21-31).
    Header keys are normalized space->underscore (P10,
    TextProcessor.py:51-59).

    Evaluation discipline: the whole parse is ONE struct expression with the
    header lambda-bound (computed once per evaluation).  Downstream field
    extraction re-inlines the struct per reference (CollapseProject), which
    measures ~0.04ms/row — an explode(array(...)) Generate barrier was tried
    and is 30x SLOWER per row than the redundant evaluation, so plain
    projection wins."""
    # Python .strip() removes ALL whitespace incl. newlines; Spark trim()
    # strips spaces only, so strip with regexps (TextProcessor.py:30-31 parity)
    header = f"substring_index({text_col}, '\\n---\\n', 1)"
    line_entry = (
        "element_at(transform(array(substring_index(l, ': ', 1)), k -> "
        "struct(regexp_replace(k, '\\\\s+', '_'), "
        "trim(substring(l, length(k) + 3)))), 1)"
    )
    parsed = (
        f"element_at(transform(array({header}), hd -> struct("
        f"map_from_entries(transform(filter(split(hd, '\\n'), l -> l like '%: %'), "
        f"l -> {line_entry})) AS meta, "
        f"regexp_replace(regexp_replace(substring({text_col}, length(hd) + 6), "
        f"'^\\\\s+', ''), '\\\\s+$', '') AS body)), 1)"
    )
    return (
        df.withColumn("_parsed", F.expr(parsed))
        .withColumn("meta", F.col("_parsed.meta"))
        .withColumn("body", F.col("_parsed.body"))
        .drop("_parsed")
    )
