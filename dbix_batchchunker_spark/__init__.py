"""dbix_batchchunker_spark — a PySpark-native analytics engine with the
capabilities of GrantStreetGroup/DBIx-BatchChunker, extended with the
relational surface the reference assumes of its backing database and the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) required for 100 TB training-data work.

Layout:
    chunker / loop_state / retry — the adaptive chunked-batch core (A1-A17)
    session                      — SparkSession factory + testdata loader
    operators/                   — relational, dedup, similarity, text, multimodal
    sources/                     — parquet & JDBC chunked readers/writers
    functions/                   — vector/expression helpers (JVM-side)
    plans/                       — plan inspection (pushdown/broadcast asserts)
    streaming/                   — Structured Streaming analogs
"""

from .chunker import BatchChunker, ConcurrentChunker
from .loop_state import LoopState
from .retry import run_with_retry

__version__ = "0.1.0"

__all__ = ["BatchChunker", "ConcurrentChunker", "LoopState", "run_with_retry"]
