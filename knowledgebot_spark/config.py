"""Typed engine configuration.

Mirrors the semantics of the reference's config layer
(``Config/Schema.py:8-36`` dataclass + defaults, ``Config/Schema.py:83``
truthy parsing, ``Config/Schema.py:119-122`` comma-list parsing,
``Config/Resolver.py:20-38`` source priority) without the Docker-secrets
machinery (out of scope per SURVEY.md §7 non-goals).

Fix carried forward from SURVEY.md §2.2: ``overlap >= chunk_size`` is
rejected at validation time (the reference chunker infinite-loops on it,
TextProcessor.py:34-48).

chunk_size/chunk_overlap keep the reference's declared 100/20
(Config/Schema.py:27-28), but no E2 path reads them: like the reference,
whose chunk_text runs on its own 20/5 defaults
(VectorDatabase/TextProcessor.py:36-37), the CLI passes 20/5 to the
chunker.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TRUTHY = {"true", "1", "yes", "on"}  # Config/Schema.py:83


def parse_bool(value: str | bool | None, default: bool = False) -> bool:
    if value is None:
        return default
    if isinstance(value, bool):
        return value
    return value.strip().lower() in _TRUTHY


def parse_list(value: str | list[str] | None) -> list[str]:
    """Comma-separated list parsing (Config/Schema.py:119-122)."""
    if value is None:
        return []
    if isinstance(value, list):
        return value
    return [item.strip() for item in value.split(",") if item.strip()]


@dataclass
class EngineConfig:
    # extraction (KnowledgeBot.py semantics)
    channels: list[str] = field(default_factory=list)
    edit_channel: str | None = None           # Config/Schema.py:18
    thread_max_age_days: int = 7              # Config/Schema.py:17
    knowledge_tag: str = "#KNOWLEDGE"
    end_tag: str = "#END"
    edit_tag: str = "#EDIT"
    unknown_user: str = "UnknownUser"         # KnowledgeBot.py:315

    # enrichment (LLM optional-off by default, Config/Schema.py:10)
    enable_llm: bool = False
    keywords_top_n: int = 5                   # call-site default KnowledgeBot.py:522
    summary_max_words: int = 25               # KnowledgeBot.py:523

    # chunking / vector ingest (Config/Schema.py:27-28; validated only, E2
    # runs the chunker at 20/5)
    chunk_size: int = 100
    chunk_overlap: int = 20
    embedding_dim: int = 16
    ingest_batch_size: int = 100              # VectorDatabase/VectorDatabase.py:73

    # sink
    output_path: str = "/tmp/knowledgebot_spark/chunks"
    state_path: str = "/tmp/knowledgebot_spark/state"

    def __post_init__(self) -> None:
        if self.chunk_overlap >= self.chunk_size:
            raise ValueError(
                f"chunk_overlap ({self.chunk_overlap}) must be < chunk_size "
                f"({self.chunk_size}); the reference infinite-loops on this "
                "(TextProcessor.py:34-48)"
            )
        if self.chunk_size <= 0:
            raise ValueError("chunk_size must be positive")

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "EngineConfig":
        """Env-var resolution, mirroring Resolver priority env > default."""
        env = dict(os.environ if env is None else env)
        return cls(
            channels=parse_list(env.get("KB_CHANNELS")),
            edit_channel=env.get("KB_EDIT_CHANNEL"),
            thread_max_age_days=int(env.get("KB_THREAD_MAX_AGE_DAYS", "7")),
            enable_llm=parse_bool(env.get("KB_ENABLE_LLM"), default=False),
            keywords_top_n=int(env.get("KB_KEYWORDS_TOP_N", "5")),
            summary_max_words=int(env.get("KB_SUMMARY_MAX_WORDS", "25")),
            chunk_size=int(env.get("KB_CHUNK_LENGTH", "100")),
            chunk_overlap=int(env.get("KB_CHUNK_OVERLAP", "20")),
            embedding_dim=int(env.get("KB_EMBEDDING_DIM", "16")),
            output_path=env.get("KB_OUTPUT_PATH", "/tmp/knowledgebot_spark/chunks"),
            state_path=env.get("KB_STATE_PATH", "/tmp/knowledgebot_spark/state"),
        )
