"""The generators are deterministic and their expectations add up."""

import hashlib
import os

import gen


def _digests(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_pipeline_inputs_same_seed_same_bytes(tmp_path):
    a = gen.pipeline_inputs(7, str(tmp_path / "a"), [202301, 202302], 20, 4)
    b = gen.pipeline_inputs(7, str(tmp_path / "b"), [202301, 202302], 20, 4)
    c = gen.pipeline_inputs(8, str(tmp_path / "c"), [202301, 202302], 20, 4)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    strip = lambda e: {k: v for k, v in e.items() if not k.endswith("_dsv")}  # noqa: E731
    assert strip(a) == strip(b)


def test_pipeline_expectations_are_consistent(tmp_path):
    e = gen.pipeline_inputs(3, str(tmp_path), [202301, 202302, 202303], 30, 5)
    for m, want in e["per_month"].items():
        assert want["fact_operator_rows"] == sum(
            k.endswith(f"|{m}") for k in e["fact_operator_cents"])
    # every operator reports exactly its leases' rollup (no DQ mismatch):
    # operator totals never exceed the month's lease totals
    for m in e["per_month"]:
        ops = [v for k, v in e["fact_operator_cents"].items() if k.endswith(f"|{m}")]
        leases = [v for k, v in e["fact_lease_cents"].items() if k.endswith(f"|{m}")]
        for i in range(4):
            assert sum(o[i] for o in ops) <= sum(x[i] for x in leases)
    assert e["dims"]["dim_operator"] <= 30
    with open(e["lease_dsv"]) as f:
        text = f.read()
    assert "199906" in text  # pre-2000 rows are planted
    assert "}}" in text  # blank fields are planted


def test_catalog_tables_same_seed_same_bytes(tmp_path):
    gen.catalog_tables(5, str(tmp_path / "a"), n_orders=600)
    gen.catalog_tables(5, str(tmp_path / "b"), n_orders=600)
    gen.catalog_tables(6, str(tmp_path / "c"), n_orders=600)
    da, db, dc = (_digests(tmp_path / x) for x in "abc")
    assert da == db
    assert da["lineitem.parquet"] != dc["lineitem.parquet"]
    assert sorted(da) == sorted(
        f"{t}.parquet" for t in
        "region nation customer supplier part orders lineitem events".split()
    )


def test_corpus_batches_same_seed_same_bytes(tmp_path):
    a = gen.corpus_batches(4, str(tmp_path / "a"), 2, 50, 8)
    b = gen.corpus_batches(4, str(tmp_path / "b"), 2, 50, 8)
    gen.corpus_batches(5, str(tmp_path / "c"), 2, 50, 8)
    da, db, dc = (_digests(tmp_path / x) for x in "abc")
    assert da == db and da != dc
    assert a["ingest_counts"] == b["ingest_counts"]


def test_corpus_expectations_are_consistent(tmp_path):
    import pyarrow.parquet as pq

    e = gen.corpus_batches(9, str(tmp_path), 3, 100, 8)
    ids = []
    for path, counts in zip(e["batches"], e["ingest_counts"]):
        ids += pq.read_table(path).column("doc_id").to_pylist()
        assert counts["n_rows"] == len(ids) == sum(
            counts[k] for k in ("accepted", "exact_dups", "near_dups", "quarantined"))
        assert 0 < counts["span_docs"] < counts["accepted"]
    assert len(set(ids)) == len(ids)
    texts = [t for p in e["batches"] for t in pq.read_table(p).column("text").to_pylist()]
    short = [t for t in texts if len(t.strip()) < 20]
    assert len(short) == e["ingest_counts"][-1]["quarantined"]
