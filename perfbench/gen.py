"""Seeded input generators for the benchmark's workloads.

Each generator writes its inputs under a directory and returns the
results a correct run must produce, computed here in plain Python from
the same random draws. The program under test only ever sees the files.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

MEASURES = ("oil_bbl", "gas_mcf", "cond_bbl", "csgd_mcf")
NULL_TOKENS = ("", "NULL", "null", "NaN", "nan")

OPERATOR_HEADER = [
    " OPERATOR_NO", "OPERATOR_NAME ", "CYCLE_YEAR", "CYCLE_MONTH",
    "CYCLE_YEAR_MONTH", "OPER_OIL_PROD_VOL", "OPER_GAS_PROD_VOL",
    "OPER_COND_PROD_VOL", "OPER_CSGD_PROD_VOL",
]
LEASE_HEADER = [
    "OPERATOR_NO", " DISTRICT_NO", "FIELD_NO", "LEASE_NO", "LEASE_NAME",
    "CYCLE_YEAR", "CYCLE_MONTH", " CYCLE_YEAR_MONTH ", "OIL_PROD_VOL",
    "GAS_PROD_VOL", "COND_PROD_VOL", "CSGD_PROD_VOL", "LEASE_OIL_PROD_VOL",
    "LEASE_GAS_PROD_VOL", "LEASE_COND_PROD_VOL", "LEASE_CSGD_PROD_VOL",
]


def _write_dsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("}".join(header) + "\n")
        for r in rows:
            f.write("}".join(r) + "\n")


def _month_cols(rng: random.Random, yyyymm: int) -> list[str]:
    """CYCLE_YEAR, CYCLE_MONTH, CYCLE_YEAR_MONTH; the combined column is
    blank on some rows (the year*100+month fallback) and the month is
    sometimes zero-padded."""
    y, m = divmod(yyyymm, 100)
    month = f"{m:02d}" if rng.random() < 0.5 else str(m)
    combined = "" if rng.random() < 0.15 else str(yyyymm)
    return [str(y), month, combined]


def _next_month(yyyymm: int) -> int:
    y, m = divmod(yyyymm, 100)
    return (y + 1) * 100 + 1 if m == 12 else yyyymm + 1


def _cents_str(rng: random.Random, cents: int) -> str:
    """A measure as the source writes it: 2 decimals, sometimes padded."""
    s = f"{cents // 100}.{cents % 100:02d}"
    return f" {s} " if rng.random() < 0.05 else s


def pipeline_inputs(
    seed: int,
    out_dir: str,
    months: list[int],
    n_operators: int,
    leases_per_operator: int,
) -> dict:
    """Operator and lease DSVs (FIXTURES.md §A1/§A2) plus the expected
    warehouse contents after ``run_backfill`` over ``months``.

    Planted dirt: whitespace-padded headers and values, null tokens in
    measures, blank ``CYCLE_YEAR_MONTH``, pre-2000 rows, rows of a month
    outside the backfill, duplicate ``(district, lease, month)`` rows,
    zero-padded districts, lease numbers shared across districts, blank
    lease ``OPERATOR_NO`` (the 0 sentinel) and blank ``FIELD_NO``.

    Every operator's reported volumes equal its leases' rollup, so the
    reconciliation gate finds no mismatch.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    # leases: (operator_no, district_no, field_no|None, lease_no, name)
    leases = []
    for op in range(1, n_operators + 1):
        for _ in range(leases_per_operator):
            district = rng.randint(1, 12)
            # small lease-number space: numbers repeat across districts,
            # only the district-lease key tells them apart
            lease_no = rng.randint(1, n_operators * leases_per_operator // 4)
            leases.append([op, district, rng.choice([None] + list(range(1, 40))),
                           lease_no, f"LEASE {op}-{lease_no}"])
    seen, unique = set(), []
    for lease in leases:
        key = (lease[1], lease[3])
        if key not in seen:
            seen.add(key)
            unique.append(lease)
    leases = unique

    op_rows: list[list[str]] = []
    lease_rows: list[list[str]] = []
    fact_op: dict[str, list[int]] = {}
    fact_lease: dict[str, list[int]] = {}
    # an extra valid month (filtered out by the month predicate) and a
    # pre-2000 month (dropped by the 200001 floor)
    extra = [_next_month(max(months)), 199906]
    for yyyymm in list(months) + extra:
        kept = yyyymm in months
        op_tot: dict[int, list[int]] = {}
        for op, district, field_no, lease_no, name in leases:
            if rng.random() < 0.1:
                continue  # lease did not report this month
            vols = [rng.randint(0, 500_000) for _ in MEASURES]
            null_mask = [rng.random() < 0.03 for _ in MEASURES]
            vols = [0 if z else v for v, z in zip(vols, null_mask)]
            blank_op = rng.random() < 0.02
            eff_op = 0 if blank_op else op
            parts = [vols]
            if rng.random() < 0.08:  # duplicate row: volumes split in two
                split = [rng.randint(0, v) for v in vols]
                parts = [split, [v - s for v, s in zip(vols, split)]]
            for part in parts:
                dist_s = f"{district:02d}" if rng.random() < 0.3 else str(district)
                vol_strs = [
                    rng.choice(NULL_TOKENS) if z else _cents_str(rng, v)
                    for v, z in zip(part, null_mask)
                ]
                lease_rows.append(
                    ["" if blank_op else str(op), dist_s,
                     "" if field_no is None else str(field_no),
                     str(lease_no), f" {name}" if rng.random() < 0.1 else name,
                     *_month_cols(rng, yyyymm),
                     *[str(rng.randint(0, 999)) for _ in MEASURES],
                     *vol_strs]
                )
            if kept:
                key = f"{district}-{lease_no}|{yyyymm}"
                fact_lease[key] = vols
                if eff_op:
                    tot = op_tot.setdefault(eff_op, [0] * len(MEASURES))
                    for i, v in enumerate(vols):
                        tot[i] += v
        for op in range(1, n_operators + 1):
            tot = op_tot.get(op)
            if tot is None:
                continue  # an operator with no lease rows files no report
            # zero volumes are written as null tokens half the time
            vol_strs = [
                rng.choice(NULL_TOKENS) if v == 0 and rng.random() < 0.5
                else _cents_str(rng, v)
                for v in tot
            ]
            op_s = str(op) if rng.random() < 0.9 else f" {op} "
            op_rows.append([op_s, f"OPERATOR {op}", *_month_cols(rng, yyyymm), *vol_strs])
            if kept:
                fact_op[f"{op}|{yyyymm}"] = tot
    rng.shuffle(op_rows)
    rng.shuffle(lease_rows)
    op_path = os.path.join(out_dir, "OG_OPERATOR_CYCLE_DATA_TABLE.dsv")
    lease_path = os.path.join(out_dir, "OG_LEASE_CYCLE_DATA_TABLE.dsv")
    _write_dsv(op_path, OPERATOR_HEADER, op_rows)
    _write_dsv(lease_path, LEASE_HEADER, lease_rows)

    per_month = {}
    for m in months:
        per_month[str(m)] = {
            "fact_operator_rows": sum(1 for k in fact_op if k.endswith(f"|{m}")),
            "fact_lease_rows": sum(1 for k in fact_lease if k.endswith(f"|{m}")),
        }
    reported = {k.split("|")[0] for k in fact_lease}
    dims = {
        "dim_operator": len({k.split("|")[0] for k in fact_op}),
        "dim_district": len({k.split("-")[0] for k in reported}),
        "dim_field": len({
            f for _, d, f, ln, _ in leases
            if f is not None and f"{d}-{ln}" in reported
        }),
        "dim_lease": len(reported),
    }
    return {
        "operator_dsv": op_path,
        "lease_dsv": lease_path,
        "months": list(months),
        "per_month": per_month,
        "dims": dims,
        "fact_operator_cents": fact_op,
        "fact_lease_cents": fact_lease,
        "input_bytes": os.path.getsize(op_path) + os.path.getsize(lease_path),
    }


def catalog_tables(seed: int, out_dir: str, n_orders: int) -> dict:
    """The eight star-schema fixtures of TESTDATA.md (one parquet file
    per table, with those fixtures' column names, types and value
    domains), scaled by ``n_orders``: customers ``n/10``, parts
    ``2n/15``, suppliers ``n/150``, about four line items per order and
    ``2n/3`` events over 150-odd users."""
    import numpy as np

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = n_orders // 10, 2 * n_orders // 15, max(10, n_orders // 150)
    n_li, n_ev = 4 * n_orders, 2 * n_orders // 3
    n_users = max(20, n_ev // 66)

    def cents(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                       for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": cents(1000, 500000, n_orders),
            "o_orderdate": days(dt.date(1995, 1, 1), 2405, n_orders),
            "o_orderpriority": [
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                for i in rng.integers(0, 5, n_orders)
            ],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": cents(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": days(dt.date(1995, 1, 2), 2499, n_li),
        },
        "events": {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(
                rng.exponential(259e6, n_ev)
            ).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [["click", "error", "purchase", "signup", "view"][i]
                           for i in rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        },
    }
    total = 0
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    return {"sf_dir": out_dir, "input_bytes": total}


#: the ingest funnel's one expectation rule
INGEST_RULES = {"min_len": "length(trim(text)) >= 20"}


def corpus_batches(
    seed: int, out_dir: str, n_batches: int, batch_docs: int, span_k: int
) -> dict:
    """Document batches for the streamed ingest, one parquet file of
    ``(doc_id, text)`` per batch, and the funnel's cumulative
    ``ingest_counts`` after each batch.

    Per batch, a tenth each are exact copies of earlier accepted
    documents, near duplicates (an accepted document with one word
    appended: 3-shingle Jaccard above 0.98, far above the 0.5
    threshold) and documents under the 20-character rule; the rest are
    fresh documents of 60-100 words from a 4,000-word vocabulary. A
    third of the fresh ones carry one of eight boilerplate passages of
    ``2 * span_k`` words from a vocabulary of their own, so a passage
    makes a span once two accepted documents hold it. Copies get larger
    ids than their sources, so the funnel always drops the copy."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = [f"w{i}" for i in range(4000)]
    passages = [
        " ".join(f"bp{p}x{j}" for j in range(2 * span_k)) for p in range(8)
    ]
    n_each = batch_docs // 10
    n_fresh = batch_docs - 3 * n_each
    accepted: list[tuple[int, str]] = []  # (doc_id, text), arrival order
    near_used: set[int] = set()
    passage_seen: set[int] = set()  # passages in the standing corpus
    counts = dict.fromkeys(
        ("n_rows", "quarantined", "exact_dups", "near_dups", "accepted", "span_docs"), 0
    )
    paths, after_batch, next_id, total = [], [], 1, 0
    for b in range(n_batches):
        fresh, carried = [], []
        for _ in range(n_fresh):
            words = rng.choices(vocab, k=rng.randint(60, 100))
            p = rng.randrange(8) if rng.random() < 1 / 3 else None
            if p is not None:
                words.insert(rng.randrange(len(words) + 1), passages[p])
            fresh.append((next_id, " ".join(words)))
            carried.append(p)
            next_id += 1
        pool = accepted + fresh
        exact = [(next_id + i, rng.choice(pool)[1]) for i in range(n_each)]
        next_id += n_each
        sources = rng.sample([d for d in pool if d[0] not in near_used], n_each)
        near_used.update(d[0] for d in sources)
        near = [(next_id + i, f"{text} {rng.choice(vocab)}")
                for i, (_, text) in enumerate(sources)]
        next_id += n_each
        short = [(next_id + i, " ".join(rng.choices(vocab, k=rng.randint(1, 3))))
                 for i in range(n_each)]
        next_id += n_each
        in_batch = [p for p in carried if p is not None]
        counts["span_docs"] += sum(
            p is not None and (p in passage_seen or in_batch.count(p) > 1)
            for p in carried
        )
        passage_seen.update(in_batch)
        accepted += fresh
        for key, n in (("n_rows", batch_docs), ("quarantined", n_each),
                       ("exact_dups", n_each), ("near_dups", n_each),
                       ("accepted", n_fresh)):
            counts[key] += n
        after_batch.append(dict(counts))
        rows = fresh + exact + near + short
        rng.shuffle(rows)
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
        }), path)
        paths.append(path)
        total += os.path.getsize(path)
    return {"batches": paths, "ingest_counts": after_batch, "input_bytes": total}
