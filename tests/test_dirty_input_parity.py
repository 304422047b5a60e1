"""Oracle parity on ADVERSARIAL input (tools/dirty_fixture.py).

Every other correctness modality runs on the clean driver fixtures;
this suite pins the engine's dirty-input contract, established in
round 11 by sweeping all registered queries over a corrupted variant
of sf0.001 (`tools/oracle_replay.py --sf dirty` — 300/304 MATCH, 4
documented-loud BOTH_ERR: the probe quartet refuses on BOTH engines by
name):

1. PARITY — a representative query per fixed failure class must still
   hash-match its DuckDB oracle when the tables contain NULL join
   keys, NULL/empty/whitespace/unicode text, NULL/zero/ragged/
   NaN-element embeddings, malformed JSON, and NULL timestamps.
   (The full-registry dirty replay is a per-round tool run, not a
   pytest: `python tools/oracle_replay.py --sf dirty`.)
2. LOUD — the IVF probe family (clustering.cell_probes consumers)
   has a documented non-null input contract and must RAISE its
   sentinel guard on a corpus with a NaN/NULL-element embedding,
   never emit LONG_MAX as a cell id (advice r10; c3d09b9).
3. GATED RECOVERY — the documented pipeline for dirty corpora is
   validate -> quarantine -> operate: after filtering embeddings with
   functions/vector.valid_embedding_sql, the SAME loud consumer runs
   green and hash-matches its oracle.
4. The sim_embedding_validate census itself reconciles exactly.

Contract choice — GAP COMPRESSION in the hourly series (r12 advice):
the `WHERE v IS NOT NULL` support gates drop all-NULL / all-non-finite
hours from the hourly series ENTIRELY rather than keeping NULL-valued
rows. Consequence: lag/adjacency statistics (ev_autocorr lag pairs,
the changepoint / theil_sen t index, rolling windows) treat hours
across a removed gap as adjacent, not as separated by the gap's true
wall-clock span. This is a deliberate decision, not an accident:
(a) parity holds by shared text — both engines compress identically;
(b) clean data has no empty hours, so the clean-fixture semantics are
unchanged; (c) the alternative (NULL-preserving rows) would push NULL
order keys into every window frame, the exact class the dirty
contract gates out (Spark NULLS FIRST vs DuckDB NULLS LAST). The
excluded rows stay countable via ev_value_validate.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from mcp_rag_server_spark.catalog import TABLES
from mcp_rag_server_spark.registry import load_all

from test_oracle_parity import canon_rows

#: One representative per failure class fixed in round 11, plus one
#: per untouched family as a canary. Kept small: each entry runs the
#: Spark query AND the DuckDB oracle on the dirty tables.
PARITY_QUERIES = (
    # divide-by-zero class (NULLIF guards)
    "agg_pearson_corr",
    "ev_welch_ttest",
    "ta_readability_fk",
    # NULL-boolean-verdict class (COALESCE FALSE)
    "ev_did_estimator",
    # element_at-on-short-array class (valid_embedding gate)
    "sim_hyperplane_lsh",
    "sim_binary_hamming_topk",
    # malformed-JSON oracle asymmetry (json_valid CASE)
    "ev_json_extract",
    # NULL map key (pre-build gate)
    "ev_user_type_count_map",
    # NULL-ordering-in-sequence class (user/ts gate)
    "ev_transition_matrix",
    "ev_scd2_intervals",
    # ASOF NULL-probe-time divergence
    "tj_asof_last_order",
    # distribution/CDF NULL-ordering class
    "ev_ks_test",
    "window_distribution_pack",
    # corpus-writer NULL-path class
    "ingest_roundtrip",
    "fileops_list",
    # multimodal ASCII-gate class
    "mm_audio_windows",
    "mm_image_meta",
    # Lloyd/assignment class (valid_embedding gate)
    "sim_kmeans_refine",
    "dd_semdedup",
    # non-finite contract class (NaN/Inf excluded from decimal-exact
    # aggregates and min/max — functions/numeric.py)
    "ev_hourly_windows",
    "ev_grouped_map_running",
    "st_stateful_user_stats",
    # untouched-family canaries (matched from the first sweep)
    "tpch_q1",
    "dd_minhash_lsh",
    "ta_gopher_rules",
    "agg_percentile_audit",
    # the census ops themselves
    "sim_embedding_validate",
    "ev_value_validate",
    # NULL-hour-in-ordered-window class (r13: ts IS NOT NULL gate —
    # the r12 roving dirty-sweep MISMATCH family)
    "ev_rolling_median",
    "ev_seasonal_decompose",
    "ev_ewma_value",
    "ev_cusum_drift",
    "ev_autocorr",
    # NULL-hour-in-per-hour-statistic class (r14: the criterion
    # extended beyond ORDER-BY-h windows — a phantom h=NULL "hour"
    # must not enter OLS moments, median/MAD censuses, seasonal
    # baselines, or a pre/post period split; ev_gap_fill's gate is
    # explicitness only, its NULL hour was provably inert)
    "ev_trend_forecast",
    "ev_anomaly_mad",
    "ev_anomaly_seasonal_zscore",
    "ev_gap_fill",
    # NULL-DAY-key class (r14): the undated-purchase fixture row puts
    # a NULL d into the purchase-filtered day series; ungated it
    # reaches row_number() OVER (ORDER BY d) — the r13 class on the
    # day axis
    "ev_purchase_streaks",
    # ts-ordered-window class (r14): the undated-purchase row flipped
    # the first two to REAL dirty-sweep MISMATCHes (lag-pair filtered
    # under Spark's NULLS FIRST vs a NULL gap row counted under
    # DuckDB's NULLS LAST; a first-occurrence flag claimed at the
    # front shifting every prefix sum); the rest were latently
    # divergent or DuckDB-thread-jittery for the same reason —
    # TS_WINDOW_ALLOWLIST in test_registry_invariants.py documents
    # the three structurally safe exceptions
    "ev_interpurchase_burstiness",
    "window_running_distinct",
    "ev_sessionize",
    "ev_cep_conversion",
    "ev_bot_heuristics",
    "sql_recursive_reach",
    "tj_nearest_order",
)

#: The r13 jitter class: queries whose window ORDER BY key could go
#: NULL on dirty input. DuckDB's MULTITHREADED window sort places a
#: NULL order key nondeterministically (4 distinct value sets in 12
#: runs of the unfixed ev_rolling_median oracle; threads=1 is stable),
#: and the most common placement coincides with Spark's NULLS FIRST —
#: which is why the dirty replay usually read MATCH and the r12 full
#: sweeps mismatched a roving victim. The ts IS NOT NULL gate removes the
#: NULL hour from the series entirely (same gap-compression contract
#: as _HOURLY_SEQ_CTE); this pin asserts thread-count invariance, the
#: detector for the whole class (`tools/oracle_replay.py --jitter`).
JITTER_QUERIES = (
    "ev_rolling_median",
    "ev_seasonal_decompose",
    "ev_ewma_value",
    "ev_cusum_drift",
    "ev_autocorr",
    # day-axis member (r14): NULL d from an undated purchase would
    # reach row_number() OVER (ORDER BY d) ungated
    "ev_purchase_streaks",
)

#: cell_probes consumers: documented LOUD on contract-violating input.
LOUD_QUERIES = (
    "sim_knn_graph",
    "sim_kcore_decompose",
    "sim_graph_greedy_search",
    "dd_embedding_neardup",
)


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    from tools.dirty_fixture import build_dirty

    d = tmp_path_factory.mktemp("dirty_sf")
    return build_dirty("/root/testdata/sf0.001", str(d))


@pytest.fixture(scope="module")
def dirty_duck(dirty_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{dirty_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _compare(spark, con, name, sf_dir):
    spec = load_all()[name]
    spdf = spec.spark_fn(spark, sf_dir).toPandas()
    ddf = con.execute(spec.oracle).fetchdf()
    s = canon_rows(
        list(spdf.columns),
        [tuple(r) for r in spdf.itertuples(index=False, name=None)],
    )
    d = canon_rows(
        list(ddf.columns),
        [tuple(r) for r in ddf.itertuples(index=False, name=None)],
    )
    assert len(s) == len(d), f"{name}: rows {len(s)} vs {len(d)}"
    assert s == d, f"{name}: canonical values diverge on dirty input"


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_dirty_parity(name, spark, dirty_dir, dirty_duck):
    _compare(spark, dirty_duck, name, dirty_dir)


@pytest.mark.parametrize("name", JITTER_QUERIES)
def test_oracle_thread_count_invariant_on_dirty(name, dirty_dir):
    from tools.oracle_replay import duck_rows as _run

    spec = load_all()[name]
    multi = _run(spec.oracle, dirty_dir, None)
    single = _run(spec.oracle, dirty_dir, 1)
    assert multi == single, (
        f"{name}: oracle output varies with DuckDB thread count — a "
        "NULL (or tied) window ORDER BY key is reaching the parallel "
        "window sort; gate it out of the series in BOTH engine texts"
    )


@pytest.mark.parametrize("name", LOUD_QUERIES)
def test_probe_family_raises_loudly_on_bad_embedding(
    name, spark, dirty_dir
):
    """The sentinel guard, not a silent LONG_MAX cell and not a silent
    row drop — the probe family's documented answer to input that
    slipped past validation."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    spec = load_all()[name]
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="sentinel survived"
    ):
        spec.spark_fn(spark, dirty_dir).collect()


def test_validate_census_reconciles(spark, dirty_dir, dirty_duck):
    """The injected corruption is counted class-exactly, and the
    disjoint classes sum to the total."""
    row = (
        load_all()["sim_embedding_validate"]
        .spark_fn(spark, dirty_dir)
        .collect()[0]
        .asDict()
    )
    assert row == {
        "n_total": 507,
        "n_valid": 502,  # 500 clean + the zero vector + null-label row
        "n_zero_vector": 1,
        "n_null": 1,
        "n_empty": 1,
        "n_wrong_dim": 1,
        # NULL element + NaN element — the NaN row pins the Spark
        # array_contains-NaN vs DuckDB isnan parity (r11 advice)
        "n_bad_element": 2,
    }
    assert (
        row["n_valid"] + row["n_null"] + row["n_empty"]
        + row["n_wrong_dim"] + row["n_bad_element"]
    ) == row["n_total"]


def test_gated_survivors_restore_ann_parity(
    spark, dirty_dir, tmp_path_factory
):
    """validate -> quarantine -> operate: filtering embeddings with the
    published gate makes the loud consumer run AND hash-match its
    oracle — the documented recovery pipeline, demonstrated end to
    end on the corrupted corpus."""
    import shutil

    from mcp_rag_server_spark.functions.vector import valid_embedding_sql

    gated = tmp_path_factory.mktemp("gated_sf")
    for t in TABLES:
        shutil.copy(
            os.path.join(dirty_dir, f"{t}.parquet"),
            os.path.join(str(gated), f"{t}.parquet"),
        )
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{dirty_dir}/embeddings.parquet')"
        f" WHERE {valid_embedding_sql('duckdb')})"
        f" TO '{gated}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{gated}/{t}.parquet')"
        )
    try:
        _compare(spark, con, "sim_knn_graph", str(gated))
    finally:
        con.close()


def test_pearson_moments_use_complete_pair_support(spark, tmp_path):
    """agg_pearson_corr on perfect linear data PLUS one-sided-NULL rows:
    every moment (n, Σx, Σy, Σxy, Σx², Σy²) must aggregate only the
    complete pairs. The half-gated r11 form (n gated, sums not) pushed
    pearson_r outside [-1,1] on exactly this input (r11 advice
    counterexample: perfect positive data read r ≈ -1.77)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    q = [float(i) for i in range(1, 21)]
    pq.write_table(
        pa.table(
            {
                "l_returnflag": ["X"] * 22,
                "l_quantity": q + [100.0, None],
                "l_extendedprice": [2.0 * x + 1.0 for x in q]
                + [None, 500.0],
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    row = (
        load_all()["agg_pearson_corr"]
        .spark_fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert row["n"] == 20
    assert abs(row["pearson_r"] - 1.0) <= 1e-9
    assert abs(row["slope"] - 2.0) <= 1e-9
    assert abs(row["intercept"] - 1.0) <= 1e-9


def test_abtest_moment_support_excludes_nonfinite(spark, dirty_dir):
    """ev_welch_ttest / ev_power_mde: per-arm/per-type n must count
    exactly the FINITE-valued rows the moment sums aggregate — the
    COUNT(*) form diluted means/variances on dirty data while
    shared-text parity held (r11 advice)."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(os.path.join(dirty_dir, "events.parquet"))
    fin = ev[np.isfinite(ev["value"].astype(float))]
    finite_by_type = fin.groupby("event_type")["value"].count().to_dict()

    welch = {
        r["event_type"]: r
        for r in load_all()["ev_welch_ttest"]
        .spark_fn(spark, dirty_dir)
        .collect()
    }
    # the NULL-typed dirty row forms its own group (defined; an arm
    # with no rows reads n NULL) — the support pin is per named type
    for t, r in welch.items():
        if t is None:
            continue
        assert (r["n_a"] or 0) + (r["n_b"] or 0) == finite_by_type[t]

    power = {
        r["event_type"]: r
        for r in load_all()["ev_power_mde"]
        .spark_fn(spark, dirty_dir)
        .collect()
    }
    for t, r in power.items():
        if t is None:
            continue
        assert r["n_events"] == finite_by_type[t]
        # the mean over the finite support, not the diluted one
        mu = np.round(fin[fin["event_type"] == t]["value"], 4).mean()
        assert abs(r["mean_value"] - mu) <= 1e-6


def test_value_census_counts_injected_nonfinite_exactly(
    spark, dirty_dir
):
    """ev_value_validate: each injected non-finite/NULL event lands in
    exactly its class, the classes partition the column, and the
    finite count is what the numeric gate (functions/numeric._finite)
    actually keeps — the observability directive for the silent
    dsum/davg exclusion."""
    import numpy as np
    import pyarrow.parquet as pq

    # pyarrow, NOT pandas: a float64 pandas column conflates parquet
    # NULL with NaN; arrow keeps the validity bitmap separate
    col = pq.read_table(
        os.path.join(dirty_dir, "events.parquet"), columns=["value"]
    ).column("value")
    n_null = col.null_count
    vals = col.drop_null().to_numpy(zero_copy_only=False)

    rows = (
        load_all()["ev_value_validate"]
        .spark_fn(spark, dirty_dir)
        .collect()
    )
    tot = {
        k: sum((r[k] or 0) for r in rows)
        for k in (
            "n_total", "n_null", "n_nan", "n_pos_inf", "n_neg_inf",
            "n_finite",
        )
    }
    assert tot["n_total"] == len(col)
    assert tot["n_null"] == n_null == 1  # the injected NULL row
    assert tot["n_nan"] == int(np.isnan(vals).sum()) == 1
    assert tot["n_pos_inf"] == int((vals == np.inf).sum()) == 1
    assert tot["n_neg_inf"] == int((vals == -np.inf).sum()) == 1
    assert tot["n_finite"] == int(np.isfinite(vals).sum())
    # the classes partition the column exactly
    assert (
        tot["n_null"] + tot["n_nan"] + tot["n_pos_inf"]
        + tot["n_neg_inf"] + tot["n_finite"]
    ) == tot["n_total"]


def test_probe_oracle_raises_same_named_refusal(dirty_duck):
    """The DuckDB side of the probe family is loud BY DESIGN too (r12):
    the cp_in guard raises the same named refusal as the Spark fold's
    sentinel, not an accidental NaN-cast error — symmetric refusal is
    the quartet's dirty contract (census class: BOTH_ERR)."""
    spec = load_all()["sim_knn_graph"]
    with pytest.raises(Exception, match="cell_probes: top-2 sentinel"):
        dirty_duck.execute(spec.oracle).fetchdf()


def test_numeric_finite_gate_unit_contract(spark, dirty_duck):
    """functions/numeric unit pin: finite_col NULLs exactly NaN/±Inf
    (never 0.0 or NULL pass-through changes), dsum/davg aggregate the
    finite set only, and the DuckDB twins agree on the same six-row
    input — the stated contract both engines' texts rely on."""
    from pyspark.sql import functions as F

    from mcp_rag_server_spark.functions.numeric import (
        davg,
        dsum,
        duckdb_davg,
        duckdb_dsum,
        finite_col,
    )

    rows = [(1.0,), (float("nan"),), (float("inf",),), (float("-inf"),),
            (None,), (2.0,)]
    df = spark.createDataFrame(rows, "v double")
    gated = [r["g"] for r in
             df.select(finite_col(F.col("v")).alias("g")).collect()]
    assert gated == [1.0, None, None, None, None, 2.0]
    agg = df.agg(dsum("v").alias("s"), davg("v").alias("a")).collect()[0]
    assert agg["s"] == 3.0 and agg["a"] == 1.5

    got = dirty_duck.execute(
        "SELECT " + duckdb_dsum("v") + " AS s, "
        + duckdb_davg("v") + " AS a FROM (SELECT unnest(["
        "1.0, 'nan'::DOUBLE, 'inf'::DOUBLE, '-inf'::DOUBLE, NULL, 2.0"
        "]) AS v)"
    ).fetchone()
    assert got == (3.0, 1.5)


def test_hourly_statistic_support_excludes_undated(spark, dirty_dir):
    """r14 criterion extension: per-hour statistics must compute on
    exactly the DATED, finite-supported hours. The undated (NULL-ts)
    finite-value dirty event previously minted a phantom h=NULL hour
    whose v entered SUM(v) while epoch_us(NULL) kept its t out of the
    t-moments (ev_trend_forecast), inflated n_hours/median support
    (ev_anomaly_mad), and fell silently into the 'pre' period with a
    COUNT(*) divisor over NULL-v rows (ev_did_estimator)."""
    import numpy as np
    import pandas as pd

    ev = pd.read_parquet(os.path.join(dirty_dir, "events.parquet"))
    dated = ev[ev["ts"].notna()].copy()
    dated["finite"] = np.isfinite(dated["value"].astype(float))
    dated["h"] = dated["ts"].dt.floor("h")
    # hours with >= 1 finite value: the v IS NOT NULL support
    hours_by_type = (
        dated[dated["finite"]]
        .groupby("event_type")["h"]
        .nunique()
        .to_dict()
    )

    trend = {
        r["event_type"]: r
        for r in load_all()["ev_trend_forecast"]
        .spark_fn(spark, dirty_dir)
        .collect()
    }
    for t, r in trend.items():
        if t is None:
            continue
        assert r["n"] == hours_by_type[t], f"trend n support for {t}"

    mad = {
        r["event_type"]: r
        for r in load_all()["ev_anomaly_mad"]
        .spark_fn(spark, dirty_dir)
        .collect()
    }
    for t, r in mad.items():
        if t is None:
            continue
        assert r["n_hours"] == hours_by_type[t], f"mad n_hours for {t}"

    # DiD: n_total counts the dated, finite-valued rows per type —
    # the rows whose v the cell moments actually aggregate
    finite_dated_by_type = (
        dated[dated["finite"]].groupby("event_type")["value"].count().to_dict()
    )
    did = {
        r["event_type"]: r
        for r in load_all()["ev_did_estimator"]
        .spark_fn(spark, dirty_dir)
        .collect()
    }
    for t, r in did.items():
        if t is None:
            continue
        assert r["n_total"] == finite_dated_by_type[t], f"did n_total for {t}"
