"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (numpy PCG64), so the same
seed writes byte-identical files. Nothing is read from outside the output
directory.

- ``medallion_csvs``: reference-format dirty CSVs (customers, work_orders,
  parts_sales) with duplicates, nulls and orphans planted at the
  FIXTURES.md §A defect rates, plus the exact gold row counts, DQ outcomes
  and SQL-metric answers those plants imply.
- ``corpus_tables``: ``documents`` and ``embeddings`` for the LLM-data
  operators, with planted exact and near duplicates, in the layout the
  query registry reads (``<dir>/<table>.parquet``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# Defect plants per unit of scale, from the reference's own dirty CSVs
# (FIXTURES.md §A): 85 customer rows = 80 ids + 5 duplicated ids, etc.
REF_PLANTS = {
    "customers": 80,
    "customer_dups": 5,
    "customer_null_segment": 3,
    "work_orders": 400,
    "work_order_dups": 10,
    "work_order_null_customer": 3,
    "work_order_orphan_customer": 8,
    "work_order_null_date": 4,
    "sales": 950,
    "sale_dups": 12,
    "sale_null_work_order": 4,
    "sale_orphan_work_order": 10,
    "sale_null_price": 8,
}

_STATES = ["SP", "RJ", "MG", "BA", "GO", "PR", "RS", "PE", "CE", "SC"]
_STATUSES = np.array(["OPEN", "IN_PROGRESS", "CLOSED", "CANCELLED"])
_STATUS_P = np.array([66, 86, 214, 44]) / 410
_D2024 = dt.date(2024, 1, 1)
_D2025 = dt.date(2025, 1, 1)


def _iso(base: dt.date, days: np.ndarray) -> list[str]:
    return [(base + dt.timedelta(days=int(d))).isoformat() for d in days]


def _money(cents: np.ndarray) -> list[str]:
    return [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]


def _write_csv(path: str, header: list[str], cols: list[list[str]], order: np.ndarray) -> int:
    lines = [",".join(header)]
    lines += [",".join(col[i] for col in cols) for i in order.tolist()]
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _disjoint(rng: np.random.Generator, n: int, sizes: list[int]) -> list[np.ndarray]:
    """Disjoint random index sets of the given sizes out of range(n)."""
    picked = rng.choice(n, size=sum(sizes), replace=False)
    out, at = [], 0
    for s in sizes:
        out.append(np.sort(picked[at : at + s]))
        at += s
    return out


def medallion_csvs(seed: int, scale: int, out_dir: str) -> dict:
    """Write customers/work_orders/parts_sales CSVs and return what the
    medallion pipeline must produce from them.

    Each defect is planted on a distinct, non-duplicated id, so the gold
    counts follow by arithmetic: dedup keeps one row per id, null
    order_date drops a work order, null or orphan work_order_id drops a
    sale, and nothing else removes rows."""
    rng = np.random.default_rng([seed, 1])
    p = {k: v * scale for k, v in REF_PLANTS.items()}
    os.makedirs(out_dir, exist_ok=True)
    input_bytes = 0

    # ---- customers ---------------------------------------------------
    n_c = p["customers"]
    cust_ids = [f"C{i:07d}" for i in range(n_c)]
    dup_c, null_seg = _disjoint(rng, n_c, [p["customer_dups"], p["customer_null_segment"]])
    seg = rng.choice(np.array(["A", "B", "C"]), n_c)
    seg[null_seg] = ""
    created = rng.integers(0, 300, n_c)
    c_rows = {
        "customer_id": cust_ids + [cust_ids[i] for i in dup_c],
        "customer_name": [f"Cliente {i}" for i in range(n_c)] + [f"Cliente {i} (Atualizado)" for i in dup_c],
        "segment": seg.tolist() + seg[dup_c].tolist(),
        "state": rng.choice(np.array(_STATES), n_c + len(dup_c)).tolist(),
        "created_at": _iso(_D2024, np.concatenate([created, created[dup_c] + rng.integers(1, 60, len(dup_c))])),
    }
    n_rows = n_c + len(dup_c)
    input_bytes += _write_csv(
        os.path.join(out_dir, "customers.csv"), list(c_rows), list(c_rows.values()), rng.permutation(n_rows)
    )

    # ---- work_orders -------------------------------------------------
    n_w = p["work_orders"]
    wo_ids = [f"WO{i:08d}" for i in range(n_w)]
    dup_w, null_cust, orphan_cust, null_date = _disjoint(
        rng,
        n_w,
        [p["work_order_dups"], p["work_order_null_customer"], p["work_order_orphan_customer"], p["work_order_null_date"]],
    )
    w_cust = np.array(cust_ids, dtype=object)[rng.integers(0, n_c, n_w)]
    w_cust[null_cust] = ""
    w_cust[orphan_cust] = [f"C9{j:07d}" for j in range(len(orphan_cust))]
    w_day = rng.integers(0, 365, n_w)
    w_status = rng.choice(_STATUSES, n_w, p=_STATUS_P)
    w_status_latest = w_status.copy()
    w_status_latest[dup_w] = "CLOSED"
    hours = rng.integers(0, 2000, n_w)
    w_upd = w_day + rng.integers(0, 10, n_w)
    w_date = np.array(_iso(_D2025, w_day), dtype=object)
    w_date[null_date] = ""
    w_rows = {
        "work_order_id": wo_ids + [wo_ids[i] for i in dup_w],
        "customer_id": w_cust.tolist() + w_cust[dup_w].tolist(),
        "order_date": w_date.tolist() + w_date[dup_w].tolist(),
        "status": w_status.tolist() + w_status_latest[dup_w].tolist(),
        "labor_hours": _money(hours) + _money(hours[dup_w]),
        "labor_cost": _money(hours * 45) + _money(hours[dup_w] * 45),
        "updated_at": _iso(_D2025, np.concatenate([w_upd, w_upd[dup_w] + rng.integers(1, 30, len(dup_w))])),
    }
    n_rows = n_w + len(dup_w)
    input_bytes += _write_csv(
        os.path.join(out_dir, "work_orders.csv"), list(w_rows), list(w_rows.values()), rng.permutation(n_rows)
    )

    # ---- parts_sales -------------------------------------------------
    n_s = p["sales"]
    live_wo = np.setdiff1d(np.arange(n_w), null_date)  # work orders that reach gold
    dup_s, null_wo, orphan_wo, null_price = _disjoint(
        rng, n_s, [p["sale_dups"], p["sale_null_work_order"], p["sale_orphan_work_order"], p["sale_null_price"]]
    )
    s_wo_idx = live_wo[rng.integers(0, len(live_wo), n_s)]
    s_wo = np.array(wo_ids, dtype=object)[s_wo_idx]
    s_wo[null_wo] = ""
    s_wo[orphan_wo] = [f"WO9{j:08d}" for j in range(len(orphan_wo))]
    qty = rng.integers(1, 6, n_s)
    price = rng.integers(100, 50_000, n_s)
    qty_latest, price_latest = qty.copy(), price.copy()
    qty_latest[dup_s] = rng.integers(1, 6, len(dup_s))
    price_latest[dup_s] = rng.integers(100, 50_000, len(dup_s))
    price_str = np.array(_money(price), dtype=object)
    price_str[null_price] = ""
    price_latest[null_price] = 0  # coalesce(unit_price, 0)
    # the source total is untrusted: a few are deliberately wrong
    bogus = (qty * price + (rng.random(n_s) < 0.05) * rng.integers(1, 999, n_s)).astype(np.int64)
    s_day = rng.integers(0, 365, n_s)
    s_upd = s_day + rng.integers(0, 10, n_s)
    sku = [f"P{k:05d}" for k in rng.integers(0, 5000, n_s).tolist()]
    s_rows = {
        "sale_id": [f"PS{i:09d}" for i in range(n_s)] + [f"PS{i:09d}" for i in dup_s],
        "work_order_id": s_wo.tolist() + s_wo[dup_s].tolist(),
        "sku": sku + [sku[i] for i in dup_s],
        "quantity": [str(q) for q in qty.tolist()] + [str(q) for q in qty_latest[dup_s].tolist()],
        "unit_price": price_str.tolist() + _money(price_latest[dup_s]),
        "sale_date": _iso(_D2025, s_day) + _iso(_D2025, s_day[dup_s]),
        "updated_at": _iso(_D2025, np.concatenate([s_upd, s_upd[dup_s] + rng.integers(1, 30, len(dup_s))])),
        "total_price": _money(bogus) + _money(bogus[dup_s]),
    }
    n_rows = n_s + len(dup_s)
    input_bytes += _write_csv(
        os.path.join(out_dir, "parts_sales.csv"), list(s_rows), list(s_rows.values()), rng.permutation(n_rows)
    )

    # ---- what gold must hold -----------------------------------------
    live_s = np.setdiff1d(np.arange(n_s), np.concatenate([null_wo, orphan_wo]))
    line_cents = qty_latest[live_s].astype(np.int64) * price_latest[live_s]
    wo_live_mask = np.ones(n_w, bool)
    wo_live_mask[null_date] = False
    status_month = {
        ((_D2025 + dt.timedelta(days=int(w_day[i]))).month, str(w_status_latest[i])) for i in np.flatnonzero(wo_live_mask)
    }
    # revenue_90d joins orders to customer: orphan customer ids drop out,
    # null ids became "-1" and match the UNKNOWN member
    cust_of_sale = w_cust[s_wo_idx[live_s]]
    cust_of_sale = np.where(cust_of_sale == "", "-1", cust_of_sale)
    joined = ~np.isin(s_wo_idx[live_s], orphan_cust)
    expected = {
        "input_rows": sum(n + len(d) for n, d in [(n_c, dup_c), (n_w, dup_w), (n_s, dup_s)]),
        "input_bytes": input_bytes,
        "row_counts": {
            "dim_customer": n_c + 1,
            "fact_work_order": n_w - len(null_date),
            "fact_parts_sales": len(live_s),
            "dim_date": len(set(w_day[wo_live_mask].tolist()) | set(s_day[live_s].tolist())),
        },
        "dq": {"null_rate_customer_id": 0.0, "duplicate_rate_work_order": 0.0, "orphan_rate_parts_sales": 0.0},
        "sales_cents": int(line_cents.sum()),
        "orders_with_sales": len(np.unique(s_wo_idx[live_s])),
        "status_month_groups": len(status_month),
        "revenue_90d_cents": int(line_cents[joined].sum()),
        "revenue_90d_customers": len(np.unique(cust_of_sale[joined])),
    }
    return expected


# ---------------------------------------------------------------------------
# LLM-data corpus
# ---------------------------------------------------------------------------
def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path, compression="snappy")


_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def corpus_tables(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> dict[str, int]:
    """``documents`` (word-salad texts over a 30-word vocabulary, ~2%
    exact copies and ~5% light near-dup edits of earlier docs) and
    ``embeddings`` (64-d unit vectors around 10 labelled centroids, ~3%
    near-duplicate vectors). Returns rows per table."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words + ["dup"]))
        else:
            n_chars = int(rng.integers(44, 580))
            words = rng.choice(_VOCAB, n_chars // 3)
            texts.append(" ".join(words.tolist())[:n_chars].rstrip())
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    _write_parquet(os.path.join(out_dir, "documents.parquet"), docs)

    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    near = np.flatnonzero(rng.random(n_vecs) < 0.03)
    near = near[near > 0]
    src = rng.integers(0, near, len(near)) if len(near) else near
    vecs[near] = vecs[src] + rng.normal(scale=0.01, size=(len(near), 64))
    labels[near] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    _write_parquet(os.path.join(out_dir, "embeddings.parquet"), emb)
    return {"documents": n_docs, "embeddings": n_vecs}
