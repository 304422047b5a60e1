"""Similarity search over the embeddings table.

Brute-force cosine top-k is the correctness baseline (the reference's
only strategy — O(N·d) scan per query, src/index.ts:264-268). The scale
path adds:
  - batched multi-query top-k (one scan amortized over Q queries — a
    broadcast nested-loop join + per-query window, not Q scans);
  - IVF-style partition pruning: nearest-centroid selection first, then
    exact search within the chosen cell only. Here cells are the label
    blocks; in production they'd be k-means cells — the plan shape
    (tiny centroid agg → argmax → pruned blocked scan) is identical.

A nice identity makes IVF oracle-friendly: dot(centroid_c, q) =
avg over members of dot(member, q), since centroid = element-mean. The
nearest-centroid stage is therefore an exact relational aggregation —
no array materialization, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, table_rows
from mcp_rag_server_spark.functions.numeric import duckdb_dsum
from mcp_rag_server_spark.functions.vector import (
    EMBEDDING_DIM,
    valid_embedding,
    valid_embedding_sql,
    cosine_score,
    duckdb_cosine,
    duckdb_l2_dist,
    l2_dist_score,
)
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import fanout_width

N_QUERIES = 10
TOP_K = 5


@register(
    "sim_ann_topk",
    oracle=f"""
SELECT q_id, vec_id, label, score, rn
FROM (
  SELECT q.vec_id AS q_id, e.vec_id, e.label,
         round({duckdb_cosine('e.embedding', 'q.embedding')}, 4) AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round({duckdb_cosine('e.embedding', 'q.embedding')}, 4) DESC,
                    e.vec_id ASC) AS rn
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
WHERE rn <= {TOP_K}
ORDER BY q_id, rn
""",
    description="batched multi-query exact top-k: one corpus scan amortized"
    " over Q queries (brute-force ANN baseline)",
    tags=("similarity", "vector", "topk"),
    bench=True,
)
def sim_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q queries broadcast against the corpus: BroadcastNestedLoopJoin →
    codegen cosine → per-query window top-k. One pass over the big side
    regardless of Q; the window partitions by query id so the top-k heap
    state is per-query and small."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
        )
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            cosine_score("embedding", "q_embedding").alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .orderBy("q_id", "rn")
    )


@register(
    "sim_label_centroids",
    oracle=f"""
SELECT label, dim,
       {duckdb_dsum("CAST(v AS DOUBLE)", 8)} / COUNT(*) AS centroid_val,
       COUNT(*) AS n_members
FROM (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
""",
    description="per-label element-wise centroid (IVF coarse quantizer"
    " training shape)",
    tags=("similarity", "vector", "centroid"),
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean via posexplode + partial agg — the distributed
    way to average vectors (no collect, no UDAF): 64·N rows shuffle as
    (label, dim) partials only."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    return (
        exploded.groupBy("label", "dim")
        .agg(
            (
                # float32 → double BEFORE decimal: engines disagree on
                # direct float→decimal rendering, but share the IEEE
                # float→double widening.
                F.sum(F.col("v").cast("double").cast("decimal(18,8)")).cast("double")
                / F.count("*").cast("double")
            ).alias("centroid_val"),
            F.count("*").alias("n_members"),
        )
        .orderBy("label", "dim")
    )


@register(
    "sim_ivf_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
  FROM embeddings e CROSS JOIN q
),
cell AS (
  SELECT label
  FROM scored
  GROUP BY label
  ORDER BY {duckdb_dsum("score", 6)} / COUNT(*) DESC, label ASC
  LIMIT 1
)
SELECT s.vec_id, s.label, s.score
FROM scored s JOIN cell c ON s.label = c.label
ORDER BY s.score DESC, s.vec_id ASC
LIMIT {TOP_K}
""",
    description="IVF-style search: nearest centroid cell (nprobe=1) then"
    " exact top-k within the cell — the 100 TB partition-pruning path",
    tags=("similarity", "vector", "ivf", "topk"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearest-centroid = argmax over cells of avg member score (exact,
    because dot(mean(v), q) == mean(dot(v, q))). In production the cell
    id is a partition column, so stage 2 is partition-pruned I/O — this
    plan only reads the winning cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "label",
        cosine_score("embedding", "qv").alias("score"),
    )
    cell = (
        scored.groupBy("label")
        .agg(
            (
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_score")
        )
        .orderBy(F.desc("avg_score"), F.asc("label"))
        .limit(1)
        .select("label")
    )
    return (
        scored.join(F.broadcast(cell), "label")
        .select("vec_id", "label", "score")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@register(
    "sim_l2_topk",
    oracle=f"""
WITH emb_v AS (
  -- valid_embedding gate: a NULL/ragged vector's distance fold is
  -- NULL, which ranks FIRST in Spark's ascending TakeOrdered and
  -- LAST in DuckDB's ORDER BY — gated on BOTH engines instead
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
q AS (SELECT embedding AS qv FROM emb_v WHERE vec_id = 7)
SELECT e.vec_id, e.label,
       round({duckdb_l2_dist('e.embedding', 'q.qv')}, 4) AS dist
FROM emb_v e CROSS JOIN q
WHERE e.vec_id <> 7
ORDER BY dist ASC, e.vec_id ASC
LIMIT 5
""",
    description="Euclidean (L2) nearest neighbors — the metric twin of"
    " cosine top-k (distance asc instead of similarity desc)",
    tags=("similarity", "vector", "topk"),
)
def sim_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same shuffle-free shape as rag_topk: scan → broadcast 1-row query
    → codegen L2 expression → TakeOrderedAndProject(5) on (dist asc,
    vec_id asc). For L2-normalized vectors, L2² = 2 - 2·cos, so the
    ranking inverts cosine's — both metrics share one plan template."""
    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(valid_embedding())
    q = (
        emb.filter(F.col("vec_id") == 7)
        .select(F.col("embedding").alias("qv"))
    )
    return (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            l2_dist_score("embedding", "qv").alias("dist"),
        )
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .limit(5)
    )


RADIUS_COSINE = 0.35


@register(
    "sim_radius_search",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
SELECT e.vec_id, e.label,
       round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 7
  AND round({duckdb_cosine('e.embedding', 'q.qv')}, 4) >= {RADIUS_COSINE}
ORDER BY score DESC, e.vec_id ASC
""",
    description="radius (range) similarity search: every vector within a"
    " cosine threshold of the query — unbounded-k variant of top-k",
    tags=("similarity", "vector", "range"),
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search has no LIMIT, so there is no heap top-k: the plan is
    scan → score → filter → sort of the (small) survivor set. At 100 TB
    the threshold filter is what keeps the result bounded — pair it with
    an LSH/IVF pre-filter (sim_hyperplane_lsh / sim_ivf_topk) so the
    exact scoring touches candidate cells only."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == 7)
        .select(F.col("embedding").alias("qv"))
    )
    return (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_score("embedding", "qv").alias("score"),
        )
        .filter(F.col("score") >= RADIUS_COSINE)
        .orderBy(F.desc("score"), F.asc("vec_id"))
    )


@register(
    "sim_sq8_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
p AS (
  SELECT vec_id, label, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         (CAST(list_max(embedding) AS DOUBLE)
          - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc
  FROM embeddings
),
d AS (
  SELECT vec_id, label, embedding,
         list_transform(embedding,
           sqv -> CASE WHEN sc = 0 THEN mn
                       ELSE mn + round((CAST(sqv AS DOUBLE) - mn) / sc, 0) * sc
                  END) AS dq
  FROM p
)
SELECT d.vec_id, d.label,
       round({duckdb_cosine('d.dq', 'q.qv')}, 4) AS approx_score,
       round({duckdb_cosine('d.embedding', 'q.qv')}, 4) AS exact_score
FROM d CROSS JOIN q
ORDER BY approx_score DESC, d.vec_id ASC
LIMIT {TOP_K}
""",
    description="scalar-quantized (SQ8) search: per-vector min/max 8-bit"
    " codes, approximate cosine over the dequantized vectors, exact score"
    " alongside for recall inspection — the 4x-compression scale path",
    tags=("similarity", "vector", "quantization", "topk"),
    bench=True,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization: each vector stores (mn, sc, 255-level
    codes) — 4x smaller than float32, which at 100 TB is the difference
    between an in-memory and a disk-bound scan. Quantize→dequantize is
    pure deterministic arithmetic (identical expression trees both
    engines; round-half-up agrees on positives), so approximate scores
    hash-match exactly. The query ranks by the approximate score and
    carries the exact score so recall degradation is observable in the
    result itself. Lambda is SQL text with an explicit variable (sqv) —
    never Python-lambda HOFs (functions/vector.py docstring)."""
    from mcp_rag_server_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    p = emb.withColumn("mn", F.array_min("embedding").cast("double")).withColumn(
        "sc",
        (F.array_max("embedding").cast("double") - F.col("mn")) / F.lit(255.0),
    )
    d = p.withColumn(
        "dq",
        F.expr(
            "transform(embedding, sqv -> "
            "CASE WHEN sc = CAST(0 AS DOUBLE) THEN mn "
            "ELSE mn + round((CAST(sqv AS DOUBLE) - mn) / sc, 0) * sc END)"
        ),
    )
    return (
        d.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine("dq", "qv"), 4).alias("approx_score"),
            cosine_score("embedding", "qv").alias("exact_score"),
        )
        .orderBy(F.desc("approx_score"), F.asc("vec_id"))
        .limit(TOP_K)
    )


RECALL_K = 20
NPROBES = (1, 3, 5)


@register(
    "sim_ivf_recall",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         round({duckdb_cosine('e.embedding', 'q.qv')}, 4) AS score
  FROM embeddings e CROSS JOIN q
),
exact_topk AS (
  SELECT vec_id FROM scored ORDER BY score DESC, vec_id ASC LIMIT {RECALL_K}
),
cells AS (
  SELECT label,
         row_number() OVER (
           ORDER BY {duckdb_dsum("score", 6)} / COUNT(*) DESC, label ASC)
           AS cell_rank
  FROM scored GROUP BY label
),
probes AS (SELECT unnest([{", ".join(map(str, NPROBES))}]) AS nprobe),
ranked AS (
  SELECT p.nprobe, s.vec_id,
         row_number() OVER (PARTITION BY p.nprobe
                            ORDER BY s.score DESC, s.vec_id ASC) AS rn
  FROM scored s
  JOIN cells c ON s.label = c.label
  CROSS JOIN probes p
  WHERE c.cell_rank <= p.nprobe
),
overlap AS (
  SELECT r.nprobe, COUNT(*) AS n_overlap
  FROM ranked r JOIN exact_topk e ON r.vec_id = e.vec_id
  WHERE r.rn <= {RECALL_K}
  GROUP BY r.nprobe
)
SELECT p.nprobe,
       {RECALL_K} AS k,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(o.n_overlap, 0) / {RECALL_K}.0, 4) AS recall_at_k
FROM probes p LEFT JOIN overlap o ON o.nprobe = p.nprobe
ORDER BY p.nprobe
""",
    description="recall@k of IVF search vs exact top-k across nprobe ="
    " 1/3/5 — the accuracy-vs-cost tuning curve every approximate index"
    " is operated by, computed relationally from one scored scan",
    tags=("similarity", "vector", "ivf", "recall"),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both rankings come from ONE scored scan; the nprobe sweep is a
    tiny cross join against the cell ranking, so the whole audit is two
    heap top-k classes over a shared intermediate. At 100 TB the exact
    side is the sampled audit run production ANN recall monitoring uses;
    rising recall with nprobe (visible in the fixture output) is the
    knob this query exists to expose."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id", "label", cosine_score("embedding", "qv").alias("score")
    )
    exact_topk = (
        scored.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )
    cells = (
        scored.groupBy("label")
        .agg(
            (
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_score")
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.orderBy(F.desc("avg_score"), F.asc("label"))
            ),
        )
        .select("label", "cell_rank")
    )
    probes = (
        emb.limit(1)
        .select(F.explode(F.array(*[F.lit(n) for n in NPROBES])).alias("nprobe"))
    )
    ranked = (
        scored.join(F.broadcast(cells), "label")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cell_rank") <= F.col("nprobe"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nprobe").orderBy(
                    F.desc("score"), F.asc("vec_id")
                )
            ),
        )
    )
    overlap = (
        ranked.filter(F.col("rn") <= RECALL_K)
        .join(exact_topk, "vec_id")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        probes.join(overlap, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(RECALL_K).alias("k"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.lit(float(RECALL_K)), 4
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


#: Pre-filtered search predicate: metadata constraints applied BEFORE
#: any vector math (126 of 500 docs qualify at sf0.01 — selective but
#: non-vacuous).
FILT_LANG = "en"
FILT_MIN_CHARS = 250
FILT_K = 5


@register(
    "sim_filtered_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.label, d.lang, d.n_chars, e.embedding
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = '{FILT_LANG}' AND d.n_chars >= {FILT_MIN_CHARS}
    AND e.vec_id <> 0
)
SELECT c.vec_id, c.label, c.lang, c.n_chars,
       round({duckdb_cosine('c.embedding', 'q.qv')}, 4) AS score
FROM cand c CROSS JOIN q
ORDER BY score DESC, c.vec_id ASC
LIMIT {FILT_K}
""",
    description="pre-filtered vector search: metadata predicate (lang +"
    " min length) composed with cosine top-k, filter applied BEFORE any"
    " scoring — the filtered-ANN query every real vector store serves"
    " (post-filtering top-k instead can return fewer than k or force"
    " huge overfetch)",
    tags=("similarity", "vector", "topk", "filter"),
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-filtering (constrain, then rank) vs post-filtering (rank,
    then drop) is the classic filtered-ANN design choice: post-filtering
    a top-k can yield < k survivors or demand unbounded overfetch when
    the predicate is selective. Here the metadata join + predicate cut
    the candidate set before any vector math — the document side prunes
    to (doc_id, lang, n_chars) and its filters push to the parquet scan;
    scoring + heap top-k run on the survivors only. At 100 TB with the
    IVF/PQ layouts this same composition applies the predicate in the
    cell-pruned candidate stream before ADC scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .join(
            docs.filter(
                (F.col("lang") == FILT_LANG)
                & (F.col("n_chars") >= FILT_MIN_CHARS)
            ),
            F.col("doc_id") == F.col("vec_id"),
        )
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "lang",
            "n_chars",
            cosine_score("embedding", "qv").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(FILT_K)
    )


#: k-NN graph degree: neighbors kept per vector.
KNN_GRAPH_K = 3


#: Per-pair dot / per-vector norm for the shared graph-build scoring —
#: the dd_semdedup economics (clustering.py): fixed-width dense vectors
#: make "norm computed ONCE per vector, dot folded once per pair"
#: numerically identical to functions/vector.py's truncated-prefix
#: cosine (same float64 index-order folds, same 1e-10 denominator,
#: same rounded-4 contract), and it cuts the pair stage from three HOF
#: folds to one — measured 22 s → ~7 s standalone at sf0.1 on the
#: 925k-pair candidate set.
#: (A 64-term unrolled ``element_at`` sum was tried for the pair-stage
#: dot and was 3× SLOWER than this fold at sf0.1 — the giant expression
#: trips codegen's method-size fallback into per-call interpreted
#: eval; the zip_with/aggregate fold walks the arrays once.)
_GB_DOT = (
    "aggregate(zip_with(emb_a, emb_b, (gb_x, gb_y) -> "
    "CAST(gb_x AS DOUBLE) * CAST(gb_y AS DOUBLE)), CAST(0 AS DOUBLE), "
    "(gb_acc, gb_v) -> gb_acc + gb_v)"
)
_GB_NORM = (
    "sqrt(aggregate(transform(embedding, gb_x -> "
    "CAST(gb_x AS DOUBLE) * CAST(gb_x AS DOUBLE)), CAST(0 AS DOUBLE), "
    "(gb_acc, gb_v) -> gb_acc + gb_v))"
)


def duckdb_cell_half_cte() -> str:
    """DuckDB CTE chain ``cp_seeds/cp_d0/cp_a0/cp_cent/cp_centf/
    cp_dist/probed`` (the Lloyd-refined probe assignment from
    clustering.duckdb_cell_probes_cte) + ``gb_emb/gb_cand/gb_half/
    gb_sym``: the shared cell-blocked scored
    candidate half-matrix every graph build in this module derives
    from (mirrors :func:`_cell_scored_half` exactly, including the
    precomputed-norm scoring). ``gb_sym`` is (vec_id, nbr_id, score)
    with both orientations."""
    from mcp_rag_server_spark.operators.clustering import (
        duckdb_cell_probes_cte,
    )

    dot = (
        "list_sum(list_transform(range(1, 65), gb_i -> "
        "CAST(ea.embedding[gb_i] AS DOUBLE) "
        "* CAST(eb.embedding[gb_i] AS DOUBLE)))"
    )
    nrm = (
        "sqrt(list_sum(list_transform(range(1, 65), gb_i -> "
        "CAST(embedding[gb_i] AS DOUBLE) "
        "* CAST(embedding[gb_i] AS DOUBLE))))"
    )
    return f"""{duckdb_cell_probes_cte()},
gb_emb AS MATERIALIZED (
  SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
),
gb_cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM probed a JOIN probed b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
),
gb_half AS MATERIALIZED (
  SELECT c.vec_a, c.vec_b,
         round({dot} / (ea.nrm * eb.nrm + 1e-10), 4) AS score
  FROM gb_cand c
  JOIN gb_emb ea ON ea.vec_id = c.vec_a
  JOIN gb_emb eb ON eb.vec_id = c.vec_b
),
gb_sym AS (
  SELECT vec_a AS vec_id, vec_b AS nbr_id, score FROM gb_half
  UNION ALL
  SELECT vec_b, vec_a, score FROM gb_half
)"""


def _cell_scored_half(emb: DataFrame, n_vectors: int) -> DataFrame:
    """(vec_a, vec_b, score): DISTINCT cell-blocked candidate pairs
    (clustering.cell_probes — vec_a < vec_b, pairs sharing a probed
    cell) scored ONCE with the rounded-4 cosine via id join-back,
    norms precomputed per VECTOR (``_GB_DOT``/``_GB_NORM`` — one HOF
    fold per pair, not three). The shared candidate stage for every
    embedding-graph build here (sim_knn_graph / dd_embedding_neardup /
    sim_graph_greedy_search / sim_kcore_decompose) — never an
    all-pairs or fixture-label self-join. Callers cache or checkpoint
    the result before mirroring it; ``n_vectors`` is ``emb``'s row
    count (:func:`clustering.cell_probes`' seed count)."""
    from mcp_rag_server_spark.operators.clustering import cell_probes

    # cache before the self-join: the probed assignment's lineage
    # (argmin over seeds + Lloyd centroid update + re-assign, r9
    # refinement) would otherwise evaluate TWICE — once per join
    # side. cache(), not localCheckpoint(eager): the cached output is
    # tiny (CELL_PROBES rows per vector, two ints each) and the
    # ANALYZED subtree stays deterministic, so CacheManager dedupes
    # it across the consumers sharing this stage in one session —
    # an eager checkpoint would mint a fresh RDD per call and
    # re-materialize each time (measured: 9.8 s vs 8.2 s single-run,
    # 3.2 s vs 1.3 s steady on sim_knn_graph at sf0.1).
    probed = cell_probes(emb, n_vectors).cache()
    a, b = probed.alias("a"), probed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
        # The scoring join below broadcasts both embedding sides, so
        # the interpreted HOF cosine fold over ~1M candidate pairs
        # (sf0.1) inherits THIS side's partitioning — which collapses
        # to ONE task (~13 s single-threaded, r7 verdict item 3): the
        # upstream collect_list shuffle is already hashpartitioning
        # (vec_id = vec_a, 32), so EnsureRequirements ELIMINATES a
        # repartition(32, "vec_a") as redundant, and AQE then
        # coalesces that tiny (≈N rows) shuffle to a single reader
        # that pipelines the whole pair expansion + distinct + fold.
        # Round-robin can be neither eliminated nor coalesced, and
        # per-row math is partitioning-independent — measured 32 even
        # tasks and a 12.6 s → ~2 s steady fold (BENCH_NOTES r8).
        # Width derives from the cluster, not a fixture literal.
        .repartition(fanout_width(emb.sparkSession))
    )
    withnorm = emb.select(
        "vec_id", "embedding", F.expr(_GB_NORM).alias("nrm")
    )
    ea = withnorm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = withnorm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    score = F.round(
        F.expr(_GB_DOT)
        / (F.col("nrm_a") * F.col("nrm_b") + F.lit(1e-10)),
        4,
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", score.alias("score"))
    )


def _knn_graph_oracle() -> str:
    return f"""
WITH {duckdb_cell_half_cte()},
kg_ranked AS (
  SELECT vec_id, nbr_id, score,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, nbr_id) AS rnk
  FROM gb_sym
)
SELECT vec_id, rnk, nbr_id, score
FROM kg_ranked
WHERE rnk <= {KNN_GRAPH_K}
ORDER BY vec_id, rnk
"""


@register(
    "sim_knn_graph",
    oracle=_knn_graph_oracle(),
    description="k-NN graph build over embeddings: per vector the top-3"
    " cosine neighbors among IVF-cell candidates (corpus-scaled"
    " md5-seeded medoid cells — ceil(N/1024), floor 8 — 2-probe"
    " assignment; rounded-score + neighbor-id total order) — the"
    " neighborhood graph that seeds graph-ANN indexes, semantic-dedup"
    " connectivity, and diversity-aware sampling",
    tags=("similarity", "vector", "graph", "knn"),
    bench=True,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN (HNSW/NSG), SemDeDup-style cluster pruning, and
    facility-location diversity sampling all start from the same
    artifact: each vector's k nearest neighbors. Candidates come from
    DATA-derived IVF cells (clustering.cell_probes: lowest-md5 medoid
    seeds, multi-probe to the 2 nearest cells so boundary neighbors
    aren't severed) — the r6 verdict retired the fixture-``label``
    blocks, whose data-independent cardinality made the join quadratic
    at scale; with cells the seed count scales with the corpus and
    per-cell work stays constant. Recall contract per the
    clustering.py constants: recall@3 vs the brute-force graph is
    0.69 / 0.70 at sf0.01 / sf0.1 (measured, DuckDB probe) on the
    near-isotropic fixture; production corpora are cluster-structured,
    and graph-ANN builds refine exactly this seed graph with their own
    neighbor-of-neighbor passes. Output stays <= |vectors|·k rows.

    Cosine is symmetric, so each unordered candidate pair is scored
    ONCE (DISTINCT id pairs, embeddings joined back by id) and cached;
    the mirrored orientation is a projection over the cached scores,
    and the rank window rides the vec_id partitioning with the
    rounded-score + nbr_id total order making every neighbor list
    engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = _cell_scored_half(
        emb, table_rows(spark, sf_dir, "embeddings")
    ).cache()
    sym = half.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("nbr_id"),
        "score",
    ).unionByName(
        half.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("nbr_id"),
            "score",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("score"), F.asc("nbr_id")
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select("vec_id", "rnk", "nbr_id", "score")
        .orderBy("vec_id", "rnk")
    )


#: Greedy graph-search geometry: query vector, graph degree, beam
#: width, unrolled hops, and the final k the recall curve is judged
#: at. K/B/H chosen by a DuckDB grid probe (BENCH_NOTES): the curve
#: must CLIMB on the fixture — K=6/B=16/H=4 reaches recall 0.6 where
#: the (since-retired) label-blocked K=3/B=4 graph froze at 0.
GS_QUERY_ID = 7
GS_DEGREE = 6
GS_BEAM = 16
GS_HOPS = 4
GS_TOP_K = 5


def _duckdb_gs_cte() -> str:
    """scored(vec_id, label, score vs the query) + adj(vec_id, nbr_id)
    — a top-``GS_DEGREE`` adjacency over the shared CELL-BLOCKED
    candidate half-matrix (:func:`duckdb_cell_half_cte`; the r6-era
    all-pairs global build was the same quadratic the verdict retired
    from sim_knn_graph — multi-probe cell overlap supplies the
    cross-cluster edges the walk needs, and the measured curve still
    climbs: recall@5 0→0.6 at sf0.01, 0→0.8 at sf0.1) under the same
    rounded-cosine score contract.
    ``MATERIALIZED`` hints keep DuckDB from re-inlining each CTE per
    consumer — the unrolled hop chain re-evaluates exponentially
    without them (evaluation only; results identical)."""
    cos_q = duckdb_cosine("e.embedding", "q.embedding")
    return f"""{duckdb_cell_half_cte()},
q AS (SELECT embedding FROM embeddings WHERE vec_id = {GS_QUERY_ID}),
scored AS MATERIALIZED (
  SELECT e.vec_id, e.label, round({cos_q}, 4) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {GS_QUERY_ID}
),
adj AS MATERIALIZED (
  SELECT vec_id, nbr_id FROM (
    SELECT vec_id, nbr_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY score DESC, nbr_id) AS rnk
    FROM gb_sym
  ) r WHERE rnk <= {GS_DEGREE}
)"""


def _gs_oracle() -> str:
    """Unrolled greedy beam search as chained CTEs: v0 = the per-label
    entry points, then hop i expands the global top-``GS_BEAM`` beam's
    adjacency rows and unions the newly visited scores."""
    parts = [f"WITH {_duckdb_gs_cte()},",
             "ent AS (SELECT MIN(vec_id) AS vec_id FROM scored"
             " GROUP BY label),",
             "v0 AS MATERIALIZED (SELECT s.vec_id, s.score FROM scored s"
             " JOIN ent e ON e.vec_id = s.vec_id)"]
    for i in range(1, GS_HOPS + 1):
        parts.append(f""",
b{i - 1} AS (SELECT vec_id FROM v{i - 1}
             ORDER BY score DESC, vec_id LIMIT {GS_BEAM}),
e{i} AS (
  SELECT DISTINCT a.nbr_id AS vec_id
  FROM adj a JOIN b{i - 1} b ON a.vec_id = b.vec_id
  WHERE a.nbr_id NOT IN (SELECT vec_id FROM v{i - 1})
),
v{i} AS MATERIALIZED (
  SELECT vec_id, score FROM v{i - 1}
  UNION ALL
  SELECT s.vec_id, s.score FROM scored s JOIN e{i} x ON x.vec_id = s.vec_id
)""")
    parts.append(f""",
exact_top AS (SELECT vec_id FROM scored
              ORDER BY score DESC, vec_id LIMIT {GS_TOP_K})""")
    hop_rows = []
    for i in range(GS_HOPS + 1):
        hop_rows.append(f"""SELECT {i} AS hop,
  (SELECT COUNT(*) FROM v{i}) AS n_visited,
  (SELECT vec_id FROM v{i} ORDER BY score DESC, vec_id LIMIT 1) AS best_id,
  (SELECT MAX(score) FROM v{i}) AS best_score,
  (SELECT round(COUNT(*) / CAST({GS_TOP_K} AS DOUBLE), 4)
   FROM (SELECT vec_id FROM v{i}
         ORDER BY score DESC, vec_id LIMIT {GS_TOP_K}) t
   JOIN exact_top x ON x.vec_id = t.vec_id) AS recall_at_k""")
    return ("".join(parts) + "\nSELECT * FROM (\n"
            + "\nUNION ALL\n".join(hop_rows) + "\n) hops ORDER BY hop")


@register(
    "sim_graph_greedy_search",
    oracle=_gs_oracle(),
    description="greedy beam search over the k-NN graph (the"
    " HNSW/DiskANN search layer): per-label entry points, global"
    f" beam-{GS_BEAM} frontier over a degree-{GS_DEGREE} graph,"
    f" {GS_HOPS} unrolled hops — visited count, best hit, and"
    " recall@5 vs brute force hashed per hop as the convergence curve",
    tags=("similarity", "vector", "graph", "topk", "iterative"),
)
def sim_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN answers a query by WALKING the k-NN graph (Malkov &
    Yashunin's HNSW, DiskANN's Vamana), not by scanning the corpus:
    start at entry points, repeatedly expand the best unvisited
    neighbors. Unrolled here as ``GS_HOPS`` rounds over a
    top-``GS_DEGREE`` adjacency built from the shared CELL-BLOCKED
    candidate half-matrix (`_cell_scored_half` — the r7 rewrite; the
    r6 all-pairs "global" build was itself the quadratic the verdict
    retired from sim_knn_graph). Connectivity history: a LABEL-blocked
    graph stranded the walk inside the entry's block (recall froze at
    0, r6 grid probe); cells don't, because 2-probe overlap creates
    cross-cell edges — measured curve 0→0.6 recall@5 at sf0.01 and
    0→0.8 at sf0.1, matching the all-pairs graph's ceiling on this
    near-isotropic fixture. Beam = global top-``GS_BEAM`` of the
    visited set, expand = the beam's adjacency rows minus visited,
    score only the newly visited nodes. The hashed output is the
    per-hop convergence curve
    (n_visited, best hit, recall@5 against the exact top-5) — the
    visited count growing ~beam·k per hop while recall climbs is
    exactly the sub-linear-probes contract graph indexes sell.

    Scale shape: each hop is one inner join of a beam-sized key list
    against the adjacency table (node-id-keyed point lookups at 100 TB
    — the graph is partitioned by node id, so a hop reads |beam|
    partitions) plus an anti-join against the visited set; nothing
    rescans the corpus. The full scored table exists here only because
    the audit needs the brute-force judge; the walk itself touches
    ≤ entries + hops·beam·k score lookups. Per-hop localCheckpoints
    keep the unrolled plan linear in hops (the inline-CTE lesson of
    sim_multiprobe_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == GS_QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.filter(F.col("vec_id") != GS_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            cosine_score("embedding", "q_emb").alias("score"),
        )
        .localCheckpoint(eager=True)
    )
    half = _cell_scored_half(
        emb, table_rows(spark, sf_dir, "embeddings")
    ).cache()
    sym = half.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("nbr_id"),
        F.col("score").alias("nscore"),
    ).unionByName(
        half.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("nbr_id"),
            F.col("score").alias("nscore"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("nscore"), F.asc("nbr_id"))
    adj = (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= GS_DEGREE)
        .select("vec_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    entries = scored.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    visited = scored.join(entries.select("vec_id"), "vec_id").select(
        "vec_id", "score"
    ).localCheckpoint(eager=True)
    exact_top = (
        scored.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(GS_TOP_K)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )

    def hop_summary(i: int, vis: DataFrame) -> DataFrame:
        best = (
            vis.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select(F.col("vec_id").alias("best_id"))
        )
        stats = vis.agg(
            F.count("*").alias("n_visited"),
            F.max("score").alias("best_score"),
        )
        recall = (
            vis.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(GS_TOP_K)
            .select("vec_id")
            .join(exact_top, "vec_id")
            .agg(
                F.round(
                    F.count("*") / F.lit(float(GS_TOP_K)), 4
                ).alias("recall_at_k")
            )
        )
        return (
            stats.crossJoin(F.broadcast(best))
            .crossJoin(F.broadcast(recall))
            .select(
                F.lit(i).alias("hop"),
                "n_visited",
                "best_id",
                "best_score",
                "recall_at_k",
            )
        )

    out = hop_summary(0, visited)
    for i in range(1, GS_HOPS + 1):
        beam = (
            visited.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(GS_BEAM)
            .select("vec_id")
        )
        expand = (
            adj.join(beam, "vec_id")
            .select(F.col("nbr_id").alias("vec_id"))
            .distinct()
            .join(visited, "vec_id", "left_anti")
        )
        visited = visited.unionByName(
            scored.join(expand, "vec_id").select("vec_id", "score")
        ).localCheckpoint(eager=True)
        out = out.unionByName(hop_summary(i, visited))
    return out.orderBy("hop")


#: k-core geometry: adjacency degree, core threshold, peel rounds.
#: Probed (BENCH_NOTES): the 5-core cascade on the K=4 cell-blocked
#: graph peels 500→273→49→0 at sf0.01 (2000→1110→189→0 at sf0.1; the
#: retired all-pairs graph peeled 500→277→48→0 — same shape) — three
#: informative rounds; T=4 peels nothing (out-degree alone guarantees
#: degree ≥ 4) and T=6 collapses in one round.
KC_DEGREE = 4
KC_THRESHOLD = 5
KC_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled peel: d_i (degrees) → k_i (survivors) → e_i (induced
    edges), all MATERIALIZED against DuckDB's exponential CTE
    re-inlining; one summary row per round. The adjacency comes from
    the shared cell-blocked half-matrix (r7 rewrite — the all-pairs
    build was the retired quadratic); the probed peel trajectory is
    essentially unchanged (500→273→49→0 vs the all-pairs 500→277→48→0
    at sf0.01)."""
    parts = [f"""WITH {duckdb_cell_half_cte()},
adj AS MATERIALIZED (
  SELECT vec_id, nbr_id FROM (
    SELECT vec_id, nbr_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY score DESC, nbr_id) AS rnk
    FROM gb_sym
  ) r WHERE rnk <= {KC_DEGREE}
),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, nbr_id) AS u,
                  GREATEST(vec_id, nbr_id) AS v
  FROM adj
)"""]
    for i in range(1, KC_ROUNDS + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT src, COUNT(*) AS d
  FROM (SELECT u AS src FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1}) t
  GROUP BY src
),
k{i} AS MATERIALIZED (SELECT src FROM d{i} WHERE d >= {KC_THRESHOLD}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{i - 1}
  WHERE u IN (SELECT src FROM k{i}) AND v IN (SELECT src FROM k{i})
)""")
    rows = []
    for i in range(KC_ROUNDS + 1):
        rows.append(f"""SELECT {i} AS round,
  (SELECT CAST(COUNT(DISTINCT src) AS BIGINT)
   FROM (SELECT u AS src FROM e{i} UNION ALL SELECT v FROM e{i}) t)
    AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges""")
    return ("".join(parts) + "\nSELECT * FROM (\n"
            + "\nUNION ALL\n".join(rows) + "\n) rounds ORDER BY round")


@register(
    "sim_kcore_decompose",
    oracle=_kcore_oracle(),
    description=f"k-core peeling of the k-NN graph: iteratively remove"
    f" nodes with degree < {KC_THRESHOLD} from the cell-blocked degree-"
    f"{KC_DEGREE} cosine graph — per-round node/edge census of the"
    " collapse, the density-structure probe (an isotropic corpus has"
    " no dense core and peels to empty; clustered data leaves one)",
    tags=("similarity", "vector", "graph", "iterative"),
)
def sim_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core (maximal subgraph with every degree ≥ k) is the
    standard density probe on neighborhood graphs — community cores,
    spam/bot rings, and dense near-dup regions all surface as cores
    that survive peeling. Peeling is inherently iterative (removing a
    node can demote its neighbors), and each round is two relational
    steps: a node-keyed degree count (one shuffle) and an induced-
    subgraph semi-join — the textbook distributed formulation, with
    per-round localCheckpoints bounding the plan exactly like
    star_contraction_components. The hashed trajectory (nodes/edges
    after each round) records the graph COLLAPSING to an empty 5-core
    on this isotropic fixture — probed, not accidental (see KC_*
    comment): the result every practitioner should expect when
    embeddings have no cluster structure, and the machinery is
    identical when they do. Round counts are calendar-bounded by
    KC_ROUNDS; production peels to fixpoint with the same loop."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = _cell_scored_half(
        emb, table_rows(spark, sf_dir, "embeddings")
    ).cache()
    sym = half.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("nbr_id"),
        F.col("score").alias("nscore"),
    ).unionByName(
        half.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("nbr_id"),
            F.col("score").alias("nscore"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("nscore"), F.asc("nbr_id"))
    edges = (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KC_DEGREE)
        .select(
            F.least("vec_id", "nbr_id").alias("u"),
            F.greatest("vec_id", "nbr_id").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def census(i: int, e: DataFrame) -> DataFrame:
        nodes = (
            e.select(F.col("u").alias("src"))
            .unionByName(e.select(F.col("v").alias("src")))
            .agg(F.count_distinct("src").alias("n_nodes"))
        )
        return (
            nodes.crossJoin(F.broadcast(e.agg(F.count("*").alias("n_edges"))))
            .select(F.lit(i).alias("round"), "n_nodes", "n_edges")
        )

    out = census(0, edges)
    for i in range(1, KC_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("src"))
            .unionByName(edges.select(F.col("v").alias("src")))
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= KC_THRESHOLD).select("src")
        edges = (
            edges.join(keep.withColumnRenamed("src", "u"), "u", "semi")
            .join(keep.withColumnRenamed("src", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(census(i, edges))
    return out.orderBy("round")


#: nDCG evaluation: queries, cutoff, and the fixed rank discounts
#: 1/log2(rank+1) as PRECOMPUTED literals (identical constants in
#: both engines — no transcendental parity risk in the discount).
NDCG_QUERIES = 10
NDCG_K = 10
NDCG_DISCOUNTS = (
    1.0, 0.6309297536, 0.5, 0.4306765581, 0.3868528072,
    0.3562071871, 0.3333333333, 0.3154648768, 0.3010299957, 0.2890648263,
)


def _ndcg_case(rank_col: str) -> str:
    whens = " ".join(
        f"WHEN {rank_col} = {i + 1} THEN {d!r}"
        for i, d in enumerate(NDCG_DISCOUNTS)
    )
    return f"CASE {whens} ELSE 0.0 END"


@register(
    "sim_ndcg_sq8_eval",
    oracle=f"""
WITH emb_v AS (
  -- valid_embedding gate: a NaN element otherwise reaches the SQ8
  -- min/max scale (DuckDB errors on round(NaN), Spark NULLs silently)
  SELECT * FROM embeddings WHERE {valid_embedding_sql('duckdb')}
),
q AS (SELECT vec_id AS q_id, embedding AS qv FROM emb_v
           WHERE vec_id < {NDCG_QUERIES}),
p AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         (CAST(list_max(embedding) AS DOUBLE)
          - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS sc
  FROM emb_v
),
d AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           sqv -> CASE WHEN sc = 0 THEN mn
                       ELSE mn + round((CAST(sqv AS DOUBLE) - mn) / sc, 0)
                             * sc END) AS dq
  FROM p
),
scored AS (
  SELECT q.q_id, d.vec_id,
         round({duckdb_cosine('d.dq', 'q.qv')}, 4) AS approx,
         round({duckdb_cosine('d.embedding', 'q.qv')}, 4) + 1 AS gain
  FROM d JOIN q ON d.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, gain,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY approx DESC, vec_id) AS r_approx,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY gain DESC, vec_id) AS r_ideal
  FROM scored
),
terms AS (
  SELECT q_id,
         CAST(round(CASE WHEN r_approx <= {NDCG_K}
              THEN gain * ({_ndcg_case('r_approx')}) ELSE 0 END, 8)
              AS DECIMAL(18,8)) AS dcg_t,
         CAST(round(CASE WHEN r_ideal <= {NDCG_K}
              THEN gain * ({_ndcg_case('r_ideal')}) ELSE 0 END, 8)
              AS DECIMAL(18,8)) AS idcg_t
  FROM ranked
)
SELECT q_id,
       round(CAST(SUM(dcg_t) AS DOUBLE), 6) AS dcg_at_k,
       round(CAST(SUM(idcg_t) AS DOUBLE), 6) AS idcg_at_k,
       round(CAST(SUM(dcg_t) AS DOUBLE)
             / CAST(SUM(idcg_t) AS DOUBLE), 6) AS ndcg_at_k
FROM terms
GROUP BY q_id
ORDER BY q_id
""",
    description=f"ranking-quality evaluation: nDCG@{NDCG_K} of the"
    " SQ8-quantized ranker judged by exact-cosine graded relevance,"
    " per query — rank discounts are precomputed literals and every"
    " DCG term is rounded-then-decimal-summed, so the IR metric"
    " itself is engine-exact",
    tags=("similarity", "vector", "eval", "ndcg", "quantization"),
)
def sim_ndcg_sq8_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_sq8_topk shows the quantized ranking beside exact scores;
    nDCG is the NUMBER a ranking review actually gates on. Judge =
    exact cosine shifted to non-negative gains in [0, 2] (rounded-4
    score + 1 — a second rounding after any division would land on
    exact half-ulp midpoints where the engines' rounding modes
    diverge, caught in replay); ranker = the
    same SQ8 dequantized cosine ranking; nDCG@10 = DCG over the
    approx ranking / DCG over the ideal (gain-sorted) ranking. The
    1/log2(rank+1) discounts are PRECOMPUTED literals — both engines
    multiply by identical constants, so no transcendental enters the
    hash — and each of the ≤10 DCG terms is rounded 8 then
    decimal-summed (order-free). Plan shape: one corpus × Q broadcast
    scoring pass, two per-query rank windows over it, a 10-row-per-
    query reduce; at scale the candidate set below the windows is
    whatever index (IVF/LSH/graph) produced it — the metric layer is
    index-agnostic. Hashed per query: the quantization's realized
    ranking damage."""
    from mcp_rag_server_spark.functions.vector import cosine

    # valid_embedding gate — mirrors the oracle's emb_v CTE
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(valid_embedding_sql("spark"))
    )
    q = emb.filter(F.col("vec_id") < NDCG_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    p = emb.withColumn(
        "mn", F.array_min("embedding").cast("double")
    ).withColumn(
        "sc",
        (F.array_max("embedding").cast("double") - F.col("mn"))
        / F.lit(255.0),
    )
    d = p.withColumn(
        "dq",
        F.expr(
            "transform(embedding, sqv -> "
            "CASE WHEN sc = CAST(0 AS DOUBLE) THEN mn "
            "ELSE mn + round((CAST(sqv AS DOUBLE) - mn) / sc, 0) * sc END"
            ")"
        ),
    )
    scored = (
        d.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine("dq", "qv"), 4).alias("approx"),
            (cosine_score("embedding", "qv") + F.lit(1.0)).alias(
                "gain"
            ),
        )
    )
    wa = Window.partitionBy("q_id").orderBy(F.desc("approx"), F.asc("vec_id"))
    wi = Window.partitionBy("q_id").orderBy(F.desc("gain"), F.asc("vec_id"))
    ranked = scored.withColumn("r_approx", F.row_number().over(wa)).withColumn(
        "r_ideal", F.row_number().over(wi)
    )
    dcg_t = F.round(
        F.when(
            F.col("r_approx") <= NDCG_K,
            F.col("gain") * F.expr(_ndcg_case("r_approx")),
        ).otherwise(F.lit(0.0)),
        8,
    ).cast("decimal(18,8)")
    idcg_t = F.round(
        F.when(
            F.col("r_ideal") <= NDCG_K,
            F.col("gain") * F.expr(_ndcg_case("r_ideal")),
        ).otherwise(F.lit(0.0)),
        8,
    ).cast("decimal(18,8)")
    return (
        ranked.select("q_id", dcg_t.alias("dcg_t"), idcg_t.alias("idcg_t"))
        .groupBy("q_id")
        .agg(
            F.round(F.sum("dcg_t").cast("double"), 6).alias("dcg_at_k"),
            F.round(F.sum("idcg_t").cast("double"), 6).alias("idcg_at_k"),
            F.round(
                F.sum("dcg_t").cast("double")
                / F.sum("idcg_t").cast("double"),
                6,
            ).alias("ndcg_at_k"),
        )
        .orderBy("q_id")
    )


def _validate_census_sql(dialect: str) -> str:
    """Disjoint validity classification of every embeddings row, then a
    one-row census. Class order is a hierarchy (a NULL array is not
    ALSO wrong-dim): null -> empty -> wrong_dim -> bad_element ->
    valid; zero_vector is a sub-count of valid (shape-legal, scores 0
    under the cosine epsilon contract, reference src/embeddings.ts:
    77-92). Same fold text both engines modulo the size/len +
    filter/list_filter token swaps."""
    if dialect == "spark":
        size_fn, bad = (
            "size",
            "exists(embedding, vz -> vz IS NULL OR isnan(vz))",
        )
        nonzero = "exists(embedding, vnz -> vnz <> 0)"
    else:
        size_fn = "len"
        bad = (
            "len(list_filter(embedding, vz -> vz IS NULL OR isnan(vz))) > 0"
        )
        nonzero = "len(list_filter(embedding, vnz -> vnz <> 0)) > 0"
    return f"""
WITH classed AS (
  SELECT CASE
           WHEN embedding IS NULL THEN 'null'
           WHEN {size_fn}(embedding) = 0 THEN 'empty'
           WHEN {size_fn}(embedding) <> {EMBEDDING_DIM} THEN 'wrong_dim'
           WHEN {bad} THEN 'bad_element'
           WHEN NOT {nonzero} THEN 'zero_vector'
           ELSE 'valid'
         END AS cls
  FROM embeddings
)
SELECT COUNT(*) AS n_total,
       COUNT(CASE WHEN cls IN ('valid', 'zero_vector') THEN 1 END)
         AS n_valid,
       COUNT(CASE WHEN cls = 'zero_vector' THEN 1 END) AS n_zero_vector,
       COUNT(CASE WHEN cls = 'null' THEN 1 END) AS n_null,
       COUNT(CASE WHEN cls = 'empty' THEN 1 END) AS n_empty,
       COUNT(CASE WHEN cls = 'wrong_dim' THEN 1 END) AS n_wrong_dim,
       COUNT(CASE WHEN cls = 'bad_element' THEN 1 END) AS n_bad_element
FROM classed
"""


@register(
    "sim_embedding_validate",
    oracle=_validate_census_sql("duckdb"),
    description="embedding validity census: counts of NULL / empty /"
    " wrong-dimension / NULL-or-NaN-element / all-zero vectors in one"
    " scan — the documented pre-gate for every fixed-dimension vector"
    " operator (functions/vector.valid_embedding_sql is the matching"
    " row filter), making the gate observable instead of silent",
    tags=("similarity", "vector", "dq", "audit"),
)
def sim_embedding_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 100 TB embedding corpus WILL contain rows that violate the
    dense-vector contract (nullable columns, upstream encoder bugs,
    schema drift to a new dimensionality). Fixed-dim consumers cannot
    define behavior for them: positional indexing on a short array is
    an ANSI error in Spark and a silent NULL in DuckDB, and one NaN
    element poisons every distance fold, so the family's contract is
    validate -> quarantine -> operate (the IVF probe path additionally
    fails loudly on anything that slips past — clustering.cell_probes'
    sentinel guard). This census is the validate step: one narrow scan,
    conditional counts, no shuffle beyond the single-row reduce; the
    classes are disjoint by hierarchy so the counts reconcile exactly
    to n_total. tests/test_dirty_input_parity.py pins the census on a
    deliberately corrupted corpus AND that the gated survivors restore
    oracle parity for a representative ANN consumer."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_validate_census_sql("spark"))
