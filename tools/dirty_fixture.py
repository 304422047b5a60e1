"""Dirty-input fixture: derive an adversarial variant of an sf dir.

The other verification modalities (the oracle replay at each scale,
partition layout and codegen mode, plan lint, parallelism audit) run on
the CLEAN fixtures — rows the generators made well-formed. At
100 TB the interesting rows are the other kind: NULL join keys,
NULL/empty/whitespace/unicode-junk text, NULL and zero and ragged embeddings,
malformed JSON props, NULL timestamps. This module derives a dirty
variant of sf0.001 with those rows APPENDED (clean rows untouched, so
every query still has signal) and schemas byte-identical, which means
both engines of the oracle-parity gate can run on it unmodified:
`tools/oracle_replay.py --sf dirty` replays the full registry on the
dirty dir and classifies each query MATCH / MISMATCH / SPARK_ERR /
ORACLE_ERR / BOTH_ERR, and `tests/test_dirty_input_parity.py` pins the
adjudicated contract per query family.

Injection is deterministic (fixed ids, fixed payloads, no RNG) so the
sweep's classifications are stable across sessions and the test's
expectations cannot flake.

Dirty-row classes, by table (ids continue past the clean max so rows
are identifiable; every injected value is either NULL or a boundary):

- documents: NULL text, empty text, whitespace-only text, a
  single-repeated-char run, RTL+emoji+combining-mark unicode junk,
  NULL lang, NULL source, NULL n_chars (n_chars stays = len(text)
  where text is non-null — derived-column consistency is part of the
  table's contract; breaking THAT is a generator bug, not dirt).
- embeddings: NULL embedding, empty array, all-zero vector (cosine
  denominator), one NULL element mid-vector, a short (ragged) vector,
  NULL label.
- events: NULL user_id, NULL value, NULL event_type, NULL ts (one
  'click', one 'purchase' — the undated purchase materializes the
  NULL-day-key path in purchase-filtered day series, r14),
  malformed JSON props, empty-object props, NULL props, a DUPLICATE
  event_id with different payload (dedup-key collision), a NaN value,
  and a +Infinity value (non-finite doubles: Spark's decimal cast
  silently NULLs them, DuckDB's errors — the class the finite-gated
  dsum/davg discipline exists for).
- orders: NULL o_custkey (join key!), NULL o_totalprice,
  NULL o_orderdate, NULL o_orderpriority, NULL o_orderstatus.
- lineitem: NULL l_partkey / l_suppkey (join keys), NULL l_quantity,
  NULL l_extendedprice, NULL l_discount, NULL l_tax, NULL l_shipdate,
  NULL l_returnflag / l_linestatus.
- customer: NULL c_nationkey (FK), NULL c_acctbal, NULL c_mktsegment,
  NULL c_name.
- supplier: NULL s_nationkey, NULL s_acctbal.
- part: NULL p_type, NULL p_size, NULL p_retailprice, NULL p_brand.
- region / nation: left clean — 5/25-row dimension tables whose keys
  anchor FK joins; a NULL r_name would only re-test the same string
  NULL paths the fact tables already cover.

Usage:
    python tools/dirty_fixture.py [src_sf_dir] [dst_dir]
    # defaults: /root/testdata/sf0.001 -> /tmp/spark_graft_dirty_sf
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Unicode junk: RTL Arabic, emoji, combining acute on 'e', zero-width
#: joiner — the four classes that break naive len/regex/tokenize code.
UNICODE_JUNK = "مرحبا \U0001f99c é‍ end"


def _rows(table: pa.Table) -> list[dict]:
    return table.to_pylist()


def _append(table: pa.Table, new_rows: list[dict]) -> pa.Table:
    """Append rows, preserving the source schema exactly."""
    extra = pa.Table.from_pylist(new_rows, schema=table.schema)
    return pa.concat_tables([table, extra])


def _dirty_documents(t: pa.Table) -> pa.Table:
    max_id = max(r["doc_id"] for r in _rows(t))
    base = {"lang": "en", "source": "dirty"}

    def doc(i, text, **kw):
        row = {
            "doc_id": max_id + i,
            "text": text,
            "n_chars": len(text) if text is not None else None,
            **base,
        }
        row.update(kw)
        return row

    return _append(
        t,
        [
            doc(1, None),
            doc(2, ""),
            doc(3, " \t\n  "),
            doc(4, "a" * 400),
            doc(5, UNICODE_JUNK),
            doc(6, "plain text, null lang", lang=None),
            doc(7, "plain text, null source", source=None),
            doc(8, "plain text, null n_chars", n_chars=None),
        ],
    )


def _dirty_embeddings(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["vec_id"] for r in rows)
    dim = len(rows[0]["embedding"])

    def emb(i, vec, label=0):
        return {"vec_id": max_id + i, "embedding": vec, "label": label}

    return _append(
        t,
        [
            emb(1, None),
            emb(2, []),
            emb(3, [0.0] * dim),
            emb(4, [0.1] * (dim // 2) + [None] + [0.1] * (dim - dim // 2 - 1)),
            emb(5, [0.5, -0.5]),  # ragged: wrong dimensionality
            emb(6, [0.25] * dim, label=None),
            # NaN element: pins the Spark array_contains-NaN vs DuckDB
            # isnan classification parity (r11 advice — the census had
            # a bad_element isnan clause no fixture row exercised)
            emb(
                7,
                [0.1] * (dim // 2)
                + [float("nan")]
                + [0.1] * (dim - dim // 2 - 1),
            ),
        ],
    )


def _dirty_events(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["event_id"] for r in rows)
    ts = rows[0]["ts"]
    proto = {
        "ts": ts,
        "user_id": 1,
        "event_type": "click",
        "value": 1.0,
        "props": "{}",
    }

    def ev(i, **kw):
        row = dict(proto)
        row["event_id"] = max_id + i
        row.update(kw)
        return row

    return _append(
        t,
        [
            ev(1, user_id=None),
            ev(2, value=None),
            ev(3, event_type=None),
            ev(4, ts=None),
            ev(5, props='{"k": unclosed'),
            ev(6, props="{}"),
            ev(7, props=None),
            # duplicate event_id, different payload: dedup-key collision
            {**proto, "event_id": max_id + 7, "value": 2.0},
            # non-finite doubles: a NaN poisons double sums on both
            # engines, and the decimal-exact discipline diverges HARD —
            # Spark's decimal cast silently NULLs non-finite values
            # while DuckDB's CAST (and even try_cast) ERRORS on them
            ev(8, value=float("nan")),
            ev(9, value=float("inf")),
            # −Inf: exercises the n_neg_inf census clause
            # (ev_value_validate) — no clause without a fixture row
            ev(10, value=float("-inf")),
            # undated PURCHASE (r14): the NULL-ts row above is a
            # 'click', so purchase-filtered day-series paths
            # (ev_purchase_streaks' ORDER BY d window) never saw a
            # NULL day key — the exact class the r13 gates fixed on
            # the hour axis stayed untested on the day axis
            ev(11, ts=None, event_type="purchase"),
        ],
    )


def _dirty_orders(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["o_orderkey"] for r in rows)
    proto = dict(rows[0])

    def o(i, **kw):
        row = dict(proto)
        row["o_orderkey"] = max_id + i
        row.update(kw)
        return row

    return _append(
        t,
        [
            o(1, o_custkey=None),
            o(2, o_totalprice=None),
            o(3, o_orderdate=None),
            o(4, o_orderpriority=None),
            o(5, o_orderstatus=None),
        ],
    )


def _dirty_lineitem(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_key = max(r["l_orderkey"] for r in rows)
    proto = dict(rows[0])

    def li(i, **kw):
        row = dict(proto)
        row["l_orderkey"] = max_key + i
        row["l_linenumber"] = 1
        row.update(kw)
        return row

    return _append(
        t,
        [
            li(1, l_partkey=None),
            li(2, l_suppkey=None),
            li(3, l_quantity=None),
            li(4, l_extendedprice=None),
            li(5, l_discount=None),
            li(6, l_tax=None),
            li(7, l_shipdate=None),
            li(8, l_returnflag=None, l_linestatus=None),
        ],
    )


def _dirty_customer(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["c_custkey"] for r in rows)
    proto = dict(rows[0])

    def c(i, **kw):
        row = dict(proto)
        row["c_custkey"] = max_id + i
        row.update(kw)
        return row

    return _append(
        t,
        [
            c(1, c_nationkey=None),
            c(2, c_acctbal=None),
            c(3, c_mktsegment=None),
            c(4, c_name=None),
        ],
    )


def _dirty_supplier(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["s_suppkey"] for r in rows)
    proto = dict(rows[0])

    def s(i, **kw):
        row = dict(proto)
        row["s_suppkey"] = max_id + i
        row.update(kw)
        return row

    return _append(t, [s(1, s_nationkey=None), s(2, s_acctbal=None)])


def _dirty_part(t: pa.Table) -> pa.Table:
    rows = _rows(t)
    max_id = max(r["p_partkey"] for r in rows)
    proto = dict(rows[0])

    def p(i, **kw):
        row = dict(proto)
        row["p_partkey"] = max_id + i
        row.update(kw)
        return row

    return _append(
        t,
        [
            p(1, p_type=None),
            p(2, p_size=None),
            p(3, p_retailprice=None),
            p(4, p_brand=None),
        ],
    )


_DIRTIERS = {
    "documents": _dirty_documents,
    "embeddings": _dirty_embeddings,
    "events": _dirty_events,
    "orders": _dirty_orders,
    "lineitem": _dirty_lineitem,
    "customer": _dirty_customer,
    "supplier": _dirty_supplier,
    "part": _dirty_part,
}


def build_dirty(src_sf_dir: str, dst_dir: str) -> str:
    """Materialize the dirty variant; returns dst_dir. Idempotent —
    rewrites every table file on each call."""
    os.makedirs(dst_dir, exist_ok=True)
    for t in TABLES:
        table = pq.read_table(os.path.join(src_sf_dir, f"{t}.parquet"))
        dirty = _DIRTIERS.get(t, lambda x: x)(table)
        pq.write_table(dirty, os.path.join(dst_dir, f"{t}.parquet"))
    return dst_dir


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_dirty_sf"
    build_dirty(src, dst)
    for t in TABLES:
        n = pq.ParquetFile(os.path.join(dst, f"{t}.parquet")).metadata.num_rows
        print(f"{t}: {n} rows")
    print(f"dirty fixture at {dst}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
