"""Deterministic benchmark inputs.

* ``catalog_tables``: the sf0.1-shaped fixture the catalog queries read
  (TESTDATA.md schema).  The TPC-H-style tables and ``events`` are
  generated here from a fixed seed; ``documents`` and ``embeddings``
  are the committed sf0.1 fixture files in ``perfbench/data`` (their
  texts key the lens ground truth the DuckDB oracles inline).
* ``finance_year``: one reference-shaped fiscal year of the raw zone
  (FIXTURES.md section 1), drawn from the run's ``--seed``.
* ``stream_chunks``: per-tick input chunks for the streaming sinks,
  drawn from ``--seed`` out of ``documents`` and ``embeddings`` with
  planted exact and near duplicates.

Everything here is pure numpy/pyarrow: no Spark session is needed, and
the same seed always yields byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(HERE, "data")
CATALOG_SEED = 42
#: Bump when the catalog generator changes: cached fixtures are rebuilt
#: and ``fingerprints.json`` must be regenerated.
CATALOG_VERSION = "sf0.1-v1"


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group, like the TESTDATA.md fixtures
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _day_ts(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    days = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The generated sf0.1 tables (row counts and domains of TESTDATA.md's
    sf0.1 fixture; values uniform unless noted)."""
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = (
        15_000, 1_000, 20_000, 150_000, 600_000, 100_000,
    )
    pick = lambda vals, n: np.asarray(vals, dtype=object)[  # noqa: E731
        rng.integers(0, len(vals), n)
    ]
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord,
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n_li),
    })
    # events: ascending timestamps over January 2024, values ~ Exp(50)
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def ensure_catalog(root: str) -> str:
    """Materialize the catalog fixture under ``root`` once per
    generator version; returns the sf directory."""
    sf_dir = os.path.join(root, CATALOG_VERSION)
    stamp = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(stamp):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in catalog_tables(np.random.default_rng(CATALOG_SEED)).items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
    for name in ("documents", "embeddings"):
        _write(
            pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet")),
            os.path.join(sf_dir, f"{name}.parquet"),
        )
    with open(stamp, "w") as fh:
        fh.write(CATALOG_VERSION + "\n")
    return sf_dir


# -- medallion raw zone ----------------------------------------------------

MEASURES = (
    "general_fund_admin_wifi_grant compensation_budget expense_budget "
    "material_budget utilities grant_welfare_health grant_ms_365 "
    "education_fund_academic_computer_service_salary_staff government_staff "
    "asset_fund_academic_computer_service_equipment_budget "
    "equipment_budget_over_1m permanent_asset_fund_land_construction "
    "equipment_firewall grant_siem grant_data_center grant_wifi_satit "
    "research_fund_research_admin_personnel_research_grant "
    "reserve_fund_general_admin_other_expenses_reserve "
    "contribute_development_fund contribute_personnel_development_fund_cmu "
    "personnel_development_fund_education_management_support_special_grant "
    "art_preservation_fund_general_grant wifi_jumboplus firewall cmu_cloud "
    "siem digital_health benefit_access_request_system ups "
    "ups_rent_wifi_care uplift open_data"
).split()
WIDE_COLUMNS = ["date", "total_amount", "details", *MEASURES]


def finance_year(rng: np.random.Generator, year: int, bad: bool = False) -> list[list]:
    """27 rows of one fiscal year (Oct of year-1 .. Sep of year): the
    budget row, a spent/remaining pair per month and the two summary
    rows.  Some categories overspend, so their latest remaining balance
    goes negative.  ``bad`` nulls one month key — a fatal DQ error."""
    k = len(MEASURES)
    budget = np.round(rng.uniform(1e4, 1e6, k), 2)
    spend = np.round(rng.uniform(0, 1, (12, k)) * budget / 12 * rng.uniform(0.5, 1.4, k), 2)
    spend[:, rng.random(k) < 0.1] = np.nan  # unused lines stay empty
    rows: list[list] = []

    def row(date, details, vals):
        vals = list(vals)
        total = round(float(np.nansum(vals)), 2)
        rows.append([date, total, details, *vals])

    row("all-year-budget", "budget", budget)
    remaining = budget.copy()
    for m in range(12):
        y, mo = (year - 1, 10 + m) if m < 3 else (year, m - 2)
        month = f"{y}-{mo:02d}"
        row(month, "spent", spend[m])
        remaining = np.round(remaining - np.nan_to_num(spend[m]), 2)
        row(month, "remaining", remaining)
    row("total spent", "spent", np.round(np.nansum(spend, axis=0), 2))
    row("remaining", "remaining", remaining)
    if bad:
        rows[1 + 2 * int(rng.integers(0, 12))][0] = None
    return rows


def write_finance_csv(path: str, rows: list[list]) -> int:
    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return ""
        return repr(float(v)) if isinstance(v, (float, np.floating)) else str(v)

    text = ",".join(WIDE_COLUMNS) + "\n" + "".join(
        ",".join(cell(v) for v in r) + "\n" for r in rows
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    return len(text.encode())


# -- stream chunks ---------------------------------------------------------


def _perturb(text: str, rng: np.random.Generator) -> str:
    """A near duplicate: one word of a long text replaced."""
    words = text.split(" ")
    words[int(rng.integers(0, len(words)))] = "graft"
    return " ".join(words)


def stream_chunks(
    seed: int, ticks: int, per_tick: int
) -> tuple[list[pa.Table], list[pa.Table]]:
    """(document chunks, embedding chunks), one per tick, ascending ids.

    Each document chunk holds fresh documents plus ~10% exact copies
    and ~5% one-word near copies of documents from this or an earlier
    tick; each embedding chunk holds fresh vectors plus ~10% exact and
    ~5% slightly-noised copies.  Ids are unique across all ticks."""
    rng = np.random.default_rng([seed, 7])
    docs = pq.read_table(os.path.join(FIXTURE_DIR, "documents.parquet")).to_pandas()
    docs = docs[docs["text"].str.count(" ") >= 20].reset_index(drop=True)
    embs = pq.read_table(os.path.join(FIXTURE_DIR, "embeddings.parquet")).to_pandas()
    n_exact, n_near = per_tick // 10, per_tick // 20
    n_fresh = per_tick - n_exact - n_near
    doc_order = rng.permutation(len(docs))
    emb_order = rng.permutation(len(embs))
    doc_out, emb_out = [], []
    seen_text: list[str] = []
    seen_vec: list[np.ndarray] = []
    next_id = 1_000_000 * (1 + seed % 1000)
    for t in range(ticks):
        fresh = docs.iloc[doc_order[t * n_fresh:(t + 1) * n_fresh]]
        texts = list(fresh["text"])
        langs = list(fresh["lang"])
        pool = seen_text + texts
        for i in rng.integers(0, len(pool), n_exact):
            texts.append(pool[i])
            langs.append("en")
        for i in rng.integers(0, len(pool), n_near):
            texts.append(_perturb(pool[i], rng))
            langs.append("en")
        order = rng.permutation(len(texts))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        doc_out.append(pa.table({
            "doc_id": ids,
            "text": [texts[i] for i in order],
            "lang": [langs[i] for i in order],
        }))
        seen_text += texts[:n_fresh]

        picks = np.take(emb_order, np.arange(t * n_fresh, (t + 1) * n_fresh), mode="wrap")
        vecs = [np.asarray(v, dtype=np.float32) for v in embs["embedding"].iloc[picks]]
        vpool = seen_vec + vecs
        for i in rng.integers(0, len(vpool), n_exact):
            vecs.append(vpool[i].copy())
        for i in rng.integers(0, len(vpool), n_near):
            v = vpool[i] + rng.normal(0, 1e-3, vpool[i].shape).astype(np.float32)
            vecs.append(v)
        vorder = rng.permutation(len(vecs))
        emb_out.append(pa.table({
            "vec_id": ids[: len(vecs)],
            "embedding": pa.array(
                [vecs[i].tolist() for i in vorder], pa.list_(pa.float32())
            ),
        }))
        seen_vec += vecs[:n_fresh]
        next_id += len(texts)
    return doc_out, emb_out
