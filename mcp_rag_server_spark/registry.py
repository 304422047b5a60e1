"""Central query registry.

Every operator the engine claims (SURVEY.md §2 inventory + the
LLM-pipeline extensions) registers here with BOTH:
  - a Spark callable ``(spark, sf_dir) -> DataFrame``
  - an equivalent ANSI-SQL oracle string runnable by DuckDB on the same
    parquet tables (or None for genuinely non-SQL-expressible ops, which
    downgrade to a rows-only check).

``__spark_entry__.py`` derives its ``queries()`` / ``oracle_sql()``
contract from this registry, and tests/test_oracle_parity.py replays the
driver's comparison (row count + schema + order-insensitive value hash)
for every entry, so a registered query is a *verified* query.

Cross-engine determinism rules enforced by convention here:
  1. every computed column is aliased identically in Spark and SQL;
  2. float aggregates go through DECIMAL(18,4|6) partial sums (exact,
     order-independent) and are cast back to DOUBLE at the end;
  3. per-row float math is IEEE-deterministic and compared as-is;
  4. similarity scores are rounded to 4 decimals (reference
     src/index.ts:271) and the *rounded* value is the sort key;
  5. every query has a total deterministic ORDER BY when limits apply.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: SparkQuery
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default=())
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            spark_fn=fn,
            oracle=oracle,
            description=description
            or next(iter((fn.__doc__ or "").strip().splitlines()), ""),
            tags=tuple(tags),
            bench=bench,
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registration) and
    return the registry."""
    from mcp_rag_server_spark.operators import (  # noqa: F401
        cdc,
        chunking,
        dataquality,
        clustering,
        dedup,
        embed,
        events,
        fileops,
        graphs,
        ingest_query,
        late_interaction,
        layout,
        maps,
        multimodal,
        python_api,
        quality,
        rag,
        relational,
        relational_tpch2,
        similarity,
        sketches,
        temporal,
        textanalysis,
        training_prep,
        variant,
        vector_audit,
        vector_lsh,
    )
    from mcp_rag_server_spark.streaming import (  # noqa: F401
        cdc_stream,
        events_stream,
        rollup_stream,
        stateful,
    )

    return REGISTRY
