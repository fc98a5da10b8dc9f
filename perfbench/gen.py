"""Seeded input generators for the benchmark.

Two input families, both a pure function of the seed:

- ``write_series``: an F1-shaped ingest file (FIXTURES.md): shuffled
  numeric-second timestamps, ``V1``..``V5`` with NaNs in ``V3``, labels
  in three bursts, an ``Unnamed: 0`` index column and a few unparseable
  timestamps. CSV or record-oriented JSON.
- ``write_corpus``: the ten analytics tables (``exact_spark.io.TABLES``)
  with the column names, types and value ranges of the testdata tables
  (TESTDATA.md), at a chosen scale. Documents carry near-duplicate families so the dedup
  and similarity operators find work.

Both return the facts the correctness checks need, so the checks never
re-derive them from the program's output.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from pathlib import Path

import numpy as np

SERIES_T0 = 1_700_000_000  # first timestamp, seconds since the epoch
SERIES_STEP_S = 30.0
BAD_TS_EVERY = 397  # every this-many-th row gets an unparseable timestamp


def series_values(n: int, seed: int) -> dict:
    """Time-ordered columns of one generated series (before shuffling)."""
    rng = np.random.default_rng(seed)
    i = np.arange(n)
    label = np.zeros(n, dtype=int)
    burst = max(1, int(n * 0.05 / 3))
    for b in range(3):  # three contiguous bursts, ~5% of rows in total
        lo = int(n * (0.15 + 0.3 * b))
        start = lo + int(rng.integers(0, max(1, int(n * 0.1))))
        label[start:start + burst] = 1
    cols = {}
    for k in range(5):
        period = 40.0 + 17.0 * k
        cols[f"V{k + 1}"] = (
            (k + 1) * np.sin(i / period) + rng.normal(0.0, 0.25, n) + 3.0 * label
        )
    cols["V3"][rng.random(n) < 0.02] = np.nan
    return {
        "ts": SERIES_T0 + i * SERIES_STEP_S,
        "label": label,
        "order": rng.permutation(n),
        "lbl_form": rng.integers(0, 4, n),
        **cols,
    }


def _label_text(label: int, form: int) -> str:
    # the ingest contract's truthy/falsy spellings; 'yes' is left out
    # because ingest maps it to 0 and these labels are ground truth
    truthy = ("true", "1", "1.0", "True")
    falsy = ("false", "0", "0.0", "False")
    return (truthy if label else falsy)[form]


def write_series(path: Path, n: int, seed: int) -> dict:
    """Write one series as CSV (``.csv``) or record JSON (``.json``).

    Returns ``{"rows", "bad_rows"}``: the rows written and how many carry
    an unparseable timestamp (ingest drops them).
    """
    v = series_values(n, seed)
    bad = 0
    records = []
    for j, i in enumerate(v["order"]):
        ts: object = float(v["ts"][i])
        if j % BAD_TS_EVERY == BAD_TS_EVERY - 1:
            ts = "not-a-time"
            bad += 1
        rec = {"Unnamed: 0": j, "ts": ts}
        for k in range(1, 6):
            x = float(v[f"V{k}"][i])
            rec[f"V{k}"] = None if math.isnan(x) else round(x, 6)
        rec["lbl"] = _label_text(int(v["label"][i]), int(v["lbl_form"][i]))
        records.append(rec)
    with open(path, "w") as f:
        if path.suffix == ".json":
            for rec in records:
                f.write(json.dumps(rec) + "\n")
        else:
            names = list(records[0])
            f.write(",".join(names) + "\n")
            for rec in records:
                f.write(",".join("" if rec[c] is None else str(rec[c]) for c in names) + "\n")
    return {"rows": n, "bad_rows": bad}


# -- canonical job tables (control plane) -------------------------------------


def canonical_rows(n: int, seed: int) -> dict:
    """Columns of an already-canonical job table: dense ids 1..n at
    ``SERIES_T0 + (id - 1) * SERIES_STEP_S``, so the id range of any time
    window is known without reading the table."""
    v = series_values(n, seed)
    return {
        "id": np.arange(1, n + 1),
        "ts": v["ts"],
        **{f"V{k}": np.nan_to_num(v[f"V{k}"]) for k in range(1, 6)},
        "label": v["label"],
    }


def window_ids(n: int, lo_s: float, hi_s: float) -> tuple[int, int]:
    """First and last id of the canonical table inside the closed window
    ``[lo_s, hi_s]`` in epoch seconds."""
    first = max(1, math.ceil((lo_s - SERIES_T0) / SERIES_STEP_S) + 1)
    last = min(n, math.floor((hi_s - SERIES_T0) / SERIES_STEP_S) + 1)
    return first, last


# -- analytics corpus ------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column order query big customer stream join small "
    "filter group vector"
).split()
_LANGS = (("en", 0.44), ("de", 0.14), ("es", 0.14), ("fr", 0.14), ("zh", 0.14))
_ADJ = "cold hot red blue small big green dark".split()
_NOUN = "widget bolt gear gizmo ring nut spring valve".split()
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _docs(rng, n: int) -> list[str]:
    out: list[str] = []
    for d in range(n):
        if d > 10 and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = out[int(rng.integers(0, d))].split()
            for k in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[k] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            if rng.random() < 0.5:
                words += [_WORDS[int(x)] for x in rng.integers(0, len(_WORDS), 3)]
        else:
            words = [_WORDS[int(x)] for x in rng.integers(0, len(_WORDS), int(rng.integers(9, 99)))]
        out.append(" ".join(words))
    return out


def write_corpus(out_dir: Path, seed: int) -> dict:
    """Write the ten analytics tables as one parquet file each, at the
    testdata's sf0.001 scale (6000 lineitem rows).

    Returns per-table row counts and the ``l_returnflag`` counts the
    control-plane ``run-sql`` check compares against.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = 150, 10, 200, 1500, 6000, 1000
    n_doc, n_emb, dim = 500, 500, 64

    def ts_us(days: np.ndarray, base: dt.datetime) -> pa.Array:
        micros = (days * 86_400_000_000).astype("int64")
        epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
        return pa.array(micros + epoch, type=pa.timestamp("us"))

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    returnflag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    ev_days = np.sort(rng.random(n_ev) * 30.0)
    vecs = rng.normal(0.0, 1.0, (10, dim))
    emb_label = rng.integers(0, 10, n_emb)
    emb = vecs[emb_label] + rng.normal(0.0, 0.6, (n_emb, dim))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    docs = _docs(rng, n_doc)
    lang_p = np.array([p for _, p in _LANGS])

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[int(a)]} {_NOUN[int(b)]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array([900.0 + (k % 1000) / 10.0 for k in range(n_part)]),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": ts_us(order_day.astype(float), dt.datetime(1995, 1, 1)),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(returnflag),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": ts_us(
                (order_day[li_order] + rng.integers(1, 122, n_li)).astype(float),
                dt.datetime(1995, 1, 1),
            ),
        },
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": ts_us(ev_days, dt.datetime(2024, 1, 1)),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": pa.array(docs),
            "lang": pa.array([_LANGS[int(k)][0] for k in rng.choice(5, n_doc, p=lang_p)]),
            "source": pa.array([f"src{d % 20}" for d in range(n_doc)]),
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(emb_label, pa.int32()),
        },
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out_dir / f"{name}.parquet")
        rows[name] = t.num_rows
    flags, counts = np.unique(returnflag, return_counts=True)
    return {
        "rows": rows,
        "returnflag_counts": {str(f): int(c) for f, c in zip(flags, counts)},
    }
