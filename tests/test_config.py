"""Config layer semantics (SURVEY.md §2.1 P13, §2.2 chunk-wiring fix)."""

import pytest

from knowledgebot_spark.config import EngineConfig, parse_bool, parse_list


def test_truthy_parsing():
    # Config/Schema.py:83 semantics
    for v in ("true", "1", "yes", "on", "TRUE", " Yes "):
        assert parse_bool(v) is True
    for v in ("false", "0", "no", "off", "", "banana"):
        assert parse_bool(v) is False
    assert parse_bool(None, default=True) is True


def test_list_parsing():
    # Config/Schema.py:119-122 semantics
    assert parse_list("a, b ,c") == ["a", "b", "c"]
    assert parse_list("a,,b,") == ["a", "b"]
    assert parse_list(None) == []
    assert parse_list(["x"]) == ["x"]


def test_overlap_guard():
    # The reference infinite-loops when overlap >= chunk_size
    # (TextProcessor.py:34-48); the engine rejects it at config time.
    with pytest.raises(ValueError, match="chunk_overlap"):
        EngineConfig(chunk_size=10, chunk_overlap=10)
    with pytest.raises(ValueError, match="chunk_overlap"):
        EngineConfig(chunk_size=10, chunk_overlap=15)
    cfg = EngineConfig(chunk_size=10, chunk_overlap=9)
    assert cfg.chunk_size == 10


def test_from_env_wires_chunking():
    # SURVEY.md §2.2: VECTOR_DB_CHUNK_LENGTH/OVERLAP were never threaded into
    # chunk_text in the reference; the engine wires them through.
    cfg = EngineConfig.from_env(
        {"KB_CHUNK_LENGTH": "64", "KB_CHUNK_OVERLAP": "16", "KB_ENABLE_LLM": "yes",
         "KB_CHANNELS": "general, random"}
    )
    assert cfg.chunk_size == 64
    assert cfg.chunk_overlap == 16
    assert cfg.enable_llm is True
    assert cfg.channels == ["general", "random"]


# Every environment name the package reads.  Deployment settings: the
# reference-config names (config.py) and the session factory's SPARK_*
# (session.py).  Test-sized knobs: KB_STREAM_MAX_FILES, KB_LEDGER_COMPACT_EVERY,
# KB_GATE_COMPACT_EVERY, KB_BATCH_FOLD_FILES.  Decided tuning values are
# module constants, not environment names; add a name here only together
# with a test that sets it.
_ENV_ALLOWLIST = {
    "KB_CHANNELS", "KB_EDIT_CHANNEL", "KB_THREAD_MAX_AGE_DAYS", "KB_ENABLE_LLM",
    "KB_KEYWORDS_TOP_N", "KB_SUMMARY_MAX_WORDS", "KB_CHUNK_LENGTH",
    "KB_CHUNK_OVERLAP", "KB_EMBEDDING_DIM", "KB_OUTPUT_PATH", "KB_STATE_PATH",
    "SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_MIN_PARTITIONS", "SPARK_GRAFT_AQE", "SPARK_DRIVER_MEMORY",
    "KB_STREAM_MAX_FILES", "KB_LEDGER_COMPACT_EVERY", "KB_GATE_COMPACT_EVERY",
    "KB_BATCH_FOLD_FILES",
}


def test_env_surface_is_allowlisted():
    """The package's KB_*/SPARK_* string literals are exactly the allowlist:
    a new knob cannot slip in unlisted, and a removed one leaves no reader."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "knowledgebot_spark"
    literal = re.compile(r"""["']((?:KB|SPARK)_[A-Z0-9_]+)["']""")
    found = {
        name
        for src in pkg.rglob("*.py")
        for name in literal.findall(src.read_text(encoding="utf-8"))
    }
    assert found == _ENV_ALLOWLIST


def test_cosine_dot_fold_lives_only_in_similarity():
    """Cosine scoring has one implementation: no package module but
    operators/similarity.py spells out the zip_with dot fold, so every
    scorer shares ``cosine_col``'s folds (and its zero-norm guard)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "knowledgebot_spark"
    dot_fold = re.compile(r"zip_with\(.{0,200}?\(x, y\) -> CAST\(x AS DOUBLE\) \*", re.S)
    found = {
        src.relative_to(pkg).as_posix()
        for src in pkg.rglob("*.py")
        if dot_fold.search(src.read_text(encoding="utf-8"))
    }
    assert found == {"operators/similarity.py"}


def test_hash_component_lives_only_in_embedding():
    """The md5 token component of the hash embedder has one Spark and one
    Python definition, both in operators/embedding.py: no other package
    module spells it through the Column API, in Spark SQL (``md5(concat_ws(
    ':', token, j))``) or in Python; the DuckDB oracle strings
    (``md5(t || ':' || ...)``) do not match."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "knowledgebot_spark"
    component = re.compile(
        r"""md5\(F\.concat_ws\(":"|md5\(concat_ws\(':', [^,()]+, [^,()]+\)\)|md5\(f"\{"""
    )
    found = {
        src.relative_to(pkg).as_posix()
        for src in pkg.rglob("*.py")
        if component.search(src.read_text(encoding="utf-8"))
    }
    assert found == {"operators/embedding.py"}
