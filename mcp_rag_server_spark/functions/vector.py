"""Dense-vector column expressions (cosine / dot / norm).

Reference parity: ``Embeddings.cosine`` (reference src/embeddings.ts:77-92)
— epsilon 1e-10, comparison truncated to the shorter vector, empty vector
scores 0. Implemented as pure Spark SQL higher-order functions
(``zip_with`` + ``aggregate``), so no Python is involved per row. The
HOFs themselves are ``CodegenFallback`` in Spark 4.1: they are
interpreted row by row inside the surrounding whole-stage-codegen stage.

IMPORTANT implementation note: every expression here is built from SQL
text (``F.expr``) with explicit, distinct lambda-variable names. Building
nested higher-order functions from Python lambdas (``F.transform(...,
lambda x: ...)``) is NOT safe: PySpark auto-generates lambda variable
names, and when Catalyst's CollapseProject folds two lambda-built
projections together the generated names can collide, silently rebinding
variables and producing wrong, session-state-dependent results (observed
empirically; regression-tested in tests/test_hof_stability.py).

Determinism discipline: all products/sums are computed in float64 with a
left-to-right fold over the array, which is exactly what the DuckDB
oracle SQL does, so scores are bit-identical across engines before the
final 4-decimal rounding (reference src/index.ts:271).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Reference src/embeddings.ts:4
COSINE_EPSILON = 1e-10


def dot_sql(a: str, b: str, var_prefix: str = "d") -> str:
    """Float64 dot product of two array<float> SQL expressions
    (left-to-right fold; NULL-padded tail from zip_with counts as 0,
    matching the reference's min-length loop, src/embeddings.ts:82)."""
    x, y, acc, v = (f"{var_prefix}_x", f"{var_prefix}_y", f"{var_prefix}_acc",
                    f"{var_prefix}_v")
    return (
        f"aggregate(zip_with({a}, {b}, ({x}, {y}) -> "
        f"CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), ({acc}, {v}) -> {acc} + coalesce({v}, CAST(0 AS DOUBLE)))"
    )


def l2_norm_sql(a: str, var_prefix: str = "n") -> str:
    """Float64 L2 norm of an array<float> SQL expression."""
    x, acc, v = f"{var_prefix}_x", f"{var_prefix}_acc", f"{var_prefix}_v"
    return (
        f"sqrt(aggregate(transform({a}, {x} -> "
        f"CAST({x} AS DOUBLE) * CAST({x} AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), ({acc}, {v}) -> {acc} + {v}))"
    )


def cosine_sql(a: str, b: str) -> str:
    """Reference-parity cosine similarity (src/embeddings.ts:77-92).

    - empty a or b  -> 0.0
    - lengths differ -> compare up to min length
    - denominator   -> sqrt(na)*sqrt(nb) + 1e-10 over the truncated prefix
    """
    n = f"least(size({a}), size({b}))"
    ta = f"slice({a}, 1, {n})"
    tb = f"slice({b}, 1, {n})"
    num = dot_sql(ta, tb, "c")
    den = f"({l2_norm_sql(ta, 'ca')} * {l2_norm_sql(tb, 'cb')} + {COSINE_EPSILON!r})"
    return (
        f"CASE WHEN size({a}) = 0 OR size({b}) = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE {num} / {den} END"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def cosine_score(a: str, b: str, decimals: int = 4) -> Column:
    """Cosine rounded to ``decimals`` — the reference's result contract
    rounds to 4 (src/index.ts:271). Rounding is also our cross-engine
    determinism boundary: order-by keys use the rounded value."""
    return F.round(cosine(a, b), decimals)


def dot_score(a: str, b: str, decimals: int = 4) -> Column:
    """Rounded dot product — for pre-normalized vectors dot == cosine and
    skips two norm computations per row (the fixture embeddings are
    L2-normalized, FIXTURES.md A1)."""
    return F.round(dot(a, b), decimals)


def array_float_literal(vec) -> str:
    """SQL literal for a float32 vector (for driver-side embedded query
    vectors, reference src/index.ts:266)."""
    return "array(" + ", ".join(f"CAST({float(x)!r} AS FLOAT)" for x in vec) + ")"


# --- DuckDB oracle SQL fragments (kept beside the Spark expressions so the
# two implementations evolve together) -------------------------------------


def duckdb_dot(a: str, b: str) -> str:
    """Same float64 left-to-right fold in DuckDB SQL."""
    return (
        f"list_sum(list_transform(range(1, least(len({a}), len({b})) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def duckdb_l2_norm(a: str, n: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, {n} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


def duckdb_cosine(a: str, b: str) -> str:
    """Reference-parity cosine in DuckDB SQL (min-length truncation,
    epsilon denominator, empty -> 0)."""
    n = f"least(len({a}), len({b}))"
    num = (
        f"list_sum(list_transform(range(1, {n} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    den = f"({duckdb_l2_norm(a, n)} * {duckdb_l2_norm(b, n)} + 1e-10)"
    return (
        f"CASE WHEN len({a}) = 0 OR len({b}) = 0 THEN 0.0 "
        f"ELSE {num} / {den} END"
    )


def l2_dist_sql(a: str, b: str, var_prefix: str = "e") -> str:
    """Float64 Euclidean distance over the min-length prefix (same
    truncation rule as cosine above; zip_with's NULL tail contributes 0
    so the explicit slice is unnecessary for equal-length fixtures but
    kept for parity with the cosine discipline)."""
    x, y, acc, v = (f"{var_prefix}_x", f"{var_prefix}_y", f"{var_prefix}_acc",
                    f"{var_prefix}_v")
    n = f"least(size({a}), size({b}))"
    return (
        f"sqrt(aggregate(zip_with(slice({a}, 1, {n}), slice({b}, 1, {n}), "
        f"({x}, {y}) -> (CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE)) "
        f"* (CAST({x} AS DOUBLE) - CAST({y} AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), ({acc}, {v}) -> {acc} + coalesce({v}, CAST(0 AS DOUBLE))))"
    )


def l2_dist(a: str, b: str) -> Column:
    return F.expr(l2_dist_sql(a, b))


def l2_dist_score(a: str, b: str, decimals: int = 4) -> Column:
    """Rounded Euclidean distance (rounding = the cross-engine
    determinism boundary, same as cosine_score)."""
    return F.round(l2_dist(a, b), decimals)


def duckdb_l2_dist(a: str, b: str) -> str:
    """DuckDB twin of :func:`l2_dist` (same index-order fold)."""
    n = f"least(len({a}), len({b}))"
    return (
        f"sqrt(list_sum(list_transform(range(1, {n} + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"
    )


#: Dimensionality of the fixture embedding corpus (TESTDATA.md). Every
#: fixed-dim consumer (hyperplane planes, bit packing, PQ codebooks)
#: derives its index range from a per-module constant equal to this;
#: the validity gate below is how dirty rows are kept away from them.
EMBEDDING_DIM = 64


def valid_embedding_sql(
    dialect: str, col: str = "embedding", dim: int = EMBEDDING_DIM
) -> str:
    """Boolean SQL predicate: ``col`` is a usable dense vector — non-NULL,
    exactly ``dim`` elements, and no NULL/NaN element.

    This is the input contract of every fixed-dimension vector operator
    (positional indexing throws under Spark ANSI on a short array and
    silently yields NULL in DuckDB — one engine loud, one engine garbage;
    a NULL/NaN element makes every distance fold NULL/NaN). The gate is a
    per-row scan-stage predicate: no shuffle, vectorizable, and identical
    text semantics in both engines, so gated operators keep oracle parity
    on dirty corpora instead of diverging row-by-row. Zero vectors pass —
    shape-valid, with defined downstream behavior (cosine's epsilon
    denominator scores them 0, reference src/embeddings.ts:77-92).

    ``sim_embedding_validate`` is the census twin: it reports how many
    rows each clause would drop, so the gate is observable, not silent.
    """
    if dialect == "spark":
        # Non-lambda form on the hot side: lambda HOFs (exists/filter)
        # are interpreted row-at-a-time with no codegen, and this gate
        # sits on corpus scans. size(array_compact(x)) = dim detects
        # NULL elements; array_contains(x, NaN) detects NaN because
        # Spark SQL's equality treats NaN = NaN as TRUE (as does
        # DuckDB's) — classification verified identical to the lambda
        # form on the dirty fixture including a NaN-element row.
        return (
            f"({col} IS NOT NULL AND size({col}) = {dim} "
            f"AND size(array_compact({col})) = {dim} "
            f"AND NOT array_contains({col}, CAST('NaN' AS FLOAT)))"
        )
    return (
        f"({col} IS NOT NULL AND len({col}) = {dim} "
        f"AND len(list_filter({col}, ve_x -> ve_x IS NULL OR isnan(ve_x)))"
        f" = 0)"
    )


def valid_embedding(col: str = "embedding", dim: int = EMBEDDING_DIM) -> Column:
    """DataFrame form of :func:`valid_embedding_sql` (Spark dialect)."""
    return F.expr(valid_embedding_sql("spark", col, dim))
