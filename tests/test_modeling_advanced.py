"""MERGE-into-snapshot and SCD Type 2 tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from novi_pdq_etl_project_prod_spark.operators.modeling import (
    dedup_dim,
    merge_into_snapshot,
    scd2_apply,
    upsert_dim,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_merge_update_insert_delete(spark):
    target = _df(
        spark,
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id int, name string, v int",
    )
    source = _df(
        spark,
        [(2, "B", 99), (3, "c", -1), (4, "d", 40)],
        "id int, name string, v int",
    )
    out = merge_into_snapshot(
        target,
        source,
        pk=("id",),
        update_cols=("name", "v"),
        delete_condition=F.col("v") < 0,
    )
    got = {(r.id, r.name, r.v) for r in out.collect()}
    # 1 untouched, 2 updated, 3 deleted (matched + v<0), 4 inserted
    assert got == {(1, "a", 10), (2, "B", 99), (4, "d", 40)}


def test_merge_without_existing_is_insert_all(spark):
    source = _df(spark, [(1, "a", 1)], "id int, name string, v int")
    out = merge_into_snapshot(None, source, pk=("id",))
    assert out.count() == 1


def test_scd2_history_tracking(spark):
    # month 1: operator 7 named "Alpha"; month 3 renamed "Alpha LLC";
    # month 5 unchanged (no new version); operator 8 appears in month 3
    m1 = _df(spark, [(7, "Alpha", 202401)], "op int, name string, effective_yyyymm int")
    m3 = _df(
        spark,
        [(7, "Alpha LLC", 202403), (8, "Beta", 202403)],
        "op int, name string, effective_yyyymm int",
    )
    m5 = _df(spark, [(7, "Alpha LLC", 202405)], "op int, name string, effective_yyyymm int")

    snap = scd2_apply(None, m1, pk=("op",), attrs=("name",))
    snap = scd2_apply(snap, m3, pk=("op",), attrs=("name",))
    snap = scd2_apply(snap, m5, pk=("op",), attrs=("name",))

    rows = {(r.op, r.name, r.valid_from, r.valid_to, r.is_current) for r in snap.collect()}
    assert rows == {
        (7, "Alpha", 202401, 202403, False),
        (7, "Alpha LLC", 202403, None, True),
        (8, "Beta", 202403, None, True),
    }
    # point-in-time query: who was operator 7 in 202402?
    asof = snap.where(
        (F.col("op") == 7)
        & (F.col("valid_from") <= 202402)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > 202402))
    ).collect()
    assert len(asof) == 1 and asof[0].name == "Alpha"


def test_scd2_is_idempotent_on_replay(spark):
    m1 = _df(spark, [(7, "Alpha", 202401)], "op int, name string, effective_yyyymm int")
    snap1 = scd2_apply(None, m1, pk=("op",), attrs=("name",))
    snap2 = scd2_apply(snap1, m1, pk=("op",), attrs=("name",))
    a = {tuple(r) for r in snap1.collect()}
    b = {tuple(r) for r in snap2.collect()}
    assert a == b


def test_snapshot_diff_all_four_statuses(spark):
    from novi_pdq_etl_project_prod_spark.operators.modeling import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "pk int, price double, status string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 25.0, "b"), (3, 30.0, "c"), (5, 50.0, "e")],
        "pk int, price double, status string",
    )
    diff = {
        r.pk: r.diff_status
        for r in snapshot_diff(
            old, new, pk=("pk",), compare_cols=("price", "status")
        ).collect()
    }
    # NULL -> 30.0 must count as changed (null-safe compare)
    assert diff == {1: "unchanged", 2: "changed", 3: "changed",
                    4: "removed", 5: "added"}


# ---------------------------------------------------------------------------
# Declarative MERGE (VERDICT r07 item 5): merge_frames grammar +
# merge_into CAS commit with optimistic retry.
# ---------------------------------------------------------------------------


def test_merge_frames_all_clauses(spark):
    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = _df(
        spark,
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50)],
        "id int, name string, v int",
    )
    source = _df(
        spark,
        [(2, 7), (3, -1), (4, 40)],
        "id int, delta int",
    )
    out = merge_frames(
        target,
        source,
        on=("id",),
        when_matched_delete="s.delta < 0",
        when_matched_update={"v": "t.v + s.delta", "name": "concat(t.name, '+')"},
        when_not_matched_insert={
            "id": "s.id",
            "name": "concat('n', CAST(s.id AS STRING))",
            "v": "s.delta",
        },
    )
    got = {(r.id, r.name, r.v) for r in out.collect()}
    # 1, 5 untouched (not matched by source), 2 updated, 3 deleted,
    # 4 inserted via the explicit mapping
    assert got == {
        (1, "a", 10),
        (5, "e", 50),
        (2, "b+", 27),
        (4, "n4", 40),
    }


def test_merge_frames_insert_by_name_and_skip(spark):
    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = _df(spark, [(1, "a", 10)], "id int, name string, v int")
    # source missing the `name` column: insert-by-name nulls it
    source = _df(spark, [(1, 99), (2, 20)], "id int, v int")
    by_name = merge_frames(target, source, on=("id",),
                           when_matched_update={"v": "s.v"})
    got = {(r.id, r.name, r.v) for r in by_name.collect()}
    assert got == {(1, "a", 99), (2, None, 20)}
    no_insert = merge_frames(target, source, on=("id",),
                             when_matched_update={"v": "s.v"},
                             when_not_matched_insert=False)
    assert {(r.id, r.name, r.v) for r in no_insert.collect()} == {(1, "a", 99)}


def test_merge_frames_rejects_duplicate_source_keys(spark):
    import pytest

    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = _df(spark, [(1, "a", 10)], "id int, name string, v int")
    dup = _df(spark, [(1, 5), (1, 6)], "id int, v int")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_frames(target, dup, on=("id",))


def test_merge_into_commits_through_cas_and_retries(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency pin: writer A reads the snapshot, writer B
    commits in between, A's first commit hits SnapshotConflictError and
    the retry re-reads B's snapshot — BOTH merges land (no lost update).
    With max_retries=0 the conflict propagates instead."""
    import pytest

    from novi_pdq_etl_project_prod_spark.operators import modeling
    from novi_pdq_etl_project_prod_spark.sources.layers import (
        SnapshotConflictError,
        resolve_table_path,
        table_path,
    )

    root = str(tmp_path)
    seed = _df(spark, [(1, 100), (2, 200)], "id int, v int")
    modeling.merge_into(spark, root, "curated", "acct", seed, on=("id",))

    def _read(root_, table_):
        path = resolve_table_path(table_path(root_, "curated", table_))
        return {r.id: r.v for r in spark.read.parquet(path).collect()}

    assert _read(root, "acct") == {1: 100, 2: 200}

    # inject writer B between A's snapshot read and A's commit, once
    real_read = modeling._read_live_snapshot
    fired = {"done": False}

    def racy_read(spark_, path_):
        df = real_read(spark_, path_)
        if not fired["done"]:
            fired["done"] = True
            monkeypatch.undo()  # B must not recurse into the race hook
            modeling.merge_into(
                spark, root, "curated", "acct",
                _df(spark, [(2, 1)], "id int, delta int"), on=("id",),
                when_matched_update={"v": "t.v + s.delta"},
                when_not_matched_insert=False,
            )
        return df

    monkeypatch.setattr(modeling, "_read_live_snapshot", racy_read)
    modeling.merge_into(
        spark, root, "curated", "acct",
        _df(spark, [(1, 10), (3, 300)], "id int, delta int"), on=("id",),
        when_matched_update={"v": "t.v + s.delta"},
        when_not_matched_insert={"id": "s.id", "v": "s.delta"},
    )
    # both B's +1 on id=2 and A's +10 on id=1 / insert id=3 survived
    assert _read(root, "acct") == {1: 110, 2: 201, 3: 300}

    # with retries disabled the same race propagates the conflict
    fired["done"] = False
    monkeypatch.setattr(modeling, "_read_live_snapshot", racy_read)
    with pytest.raises(SnapshotConflictError):
        modeling.merge_into(
            spark, root, "curated", "acct",
            _df(spark, [(1, 1)], "id int, delta int"), on=("id",),
            when_matched_update={"v": "t.v + s.delta"},
            when_not_matched_insert=False, max_retries=0,
        )


def test_merge_frames_schema_evolution(spark):
    """Delta mergeSchema parity: with schema_evolution=True, source-only
    columns append to the output — matched/inserted rows take the source
    value, unmatched target rows take NULL; without the flag they are
    dropped."""
    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = _df(spark, [(1, "a", 10), (2, "b", 20)], "id int, name string, v int")
    source = spark.createDataFrame(
        [(2, 99, "EU"), (3, 30, "US")], "id int, v int, region string"
    )
    out = merge_frames(
        target, source, on=("id",),
        when_matched_update={"v": "s.v"},
        schema_evolution=True,
    )
    got = {(r.id, r.name, r.v, r.region) for r in out.collect()}
    assert got == {
        (1, "a", 10, None),     # not matched by source: NULL new column
        (2, "b", 99, "EU"),     # matched: updated v, evolved region
        (3, None, 30, "US"),    # inserted by name, evolved region
    }
    # default: evolved column dropped, schema stays target-shaped
    strict = merge_frames(target, source, on=("id",),
                          when_matched_update={"v": "s.v"})
    assert strict.columns == ["id", "name", "v"]


def test_lakehouse_composition_expectations_merge_timetravel(spark, tmp_path):
    """Round-8 integration: the new surfaces compose into the standard
    lakehouse flow — validated publish → MERGE → time travel → diff.

    1. write_with_expectations quarantines bad rows and commits good+bad
       atomically; 2. merge_into applies a delta through the CAS
       pointer; 3. snapshot_history/read_snapshot_as_of recover the
       pre-merge state; 4. snapshot_diff between the two versions
       reports exactly the merge's effects."""
    from novi_pdq_etl_project_prod_spark.operators import modeling
    from novi_pdq_etl_project_prod_spark.operators.expectations import (
        write_with_expectations,
    )
    from novi_pdq_etl_project_prod_spark.operators.modeling import (
        snapshot_diff,
    )
    from novi_pdq_etl_project_prod_spark.sources import layers

    root = str(tmp_path)
    raw = spark.createDataFrame(
        [(1, 100), (2, 200), (3, -5)], "id int, v int"
    )
    counts = write_with_expectations(
        spark, root, "curated", "acct", raw, {"pos": "v >= 0"}
    )
    assert counts["pos"] == 1  # id=3 quarantined
    tpath = layers.table_path(root, "curated", "acct")
    v1 = layers.current_snapshot(tpath)

    modeling.merge_into(
        spark, root, "curated", "acct",
        spark.createDataFrame([(1, 11), (9, 900)], "id int, delta int"),
        on=("id",),
        when_matched_update={"v": "t.v + s.delta"},
        when_not_matched_insert={"id": "s.id", "v": "s.delta"},
    )
    v2 = layers.current_snapshot(tpath)
    assert v2 != v1

    # time travel: the pre-merge state is intact and readable
    old = layers.read_snapshot_as_of(spark, root, "curated", "acct", v1)
    assert {r.id: r.v for r in old.collect()} == {1: 100, 2: 200}
    new = layers.read_snapshot_as_of(spark, root, "curated", "acct", v2)
    assert {r.id: r.v for r in new.collect()} == {1: 111, 2: 200, 9: 900}

    # diff between the two retained versions reports the merge exactly
    diff = {
        r.id: r.diff_status
        for r in snapshot_diff(old, new, pk=("id",), compare_cols=("v",)).collect()
    }
    assert diff == {1: "changed", 2: "unchanged", 9: "added"}


def test_merge_frames_null_keys_never_match(spark):
    """ANSI MERGE / Delta semantics (ADVICE r08): a NULL merge key never
    matches — a NULL-key source row INSERTS (it must not update or
    delete the NULL-key target row), and the NULL-key target row passes
    through untouched as NOT MATCHED BY SOURCE."""
    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = spark.createDataFrame(
        [(1, "a"), (None, "t-null")], "id int, v string"
    )
    source = spark.createDataFrame(
        [(1, "a2"), (None, "s-null")], "id int, v string"
    )
    out = merge_frames(
        target, source, on=("id",), when_matched_update={"v": "s.v"}
    )
    rows = {(r.id, r.v) for r in out.collect()}
    assert rows == {(1, "a2"), (None, "t-null"), (None, "s-null")}

    # a matched-delete must not reach the NULL-key target row either
    deleted = merge_frames(
        target, source, on=("id",),
        when_matched_delete="true", when_not_matched_insert=False,
    )
    assert {(r.id, r.v) for r in deleted.collect()} == {(None, "t-null")}


def test_merge_frames_null_key_duplicates_allowed(spark):
    """Duplicate NULL-key source rows are NOT a non-determinism hazard
    (they can never match, each just inserts), so the duplicate-source
    guard must exempt them — while still rejecting real key dups."""
    import pytest as _pytest

    from novi_pdq_etl_project_prod_spark.operators.modeling import merge_frames

    target = spark.createDataFrame([(1, "a")], "id int, v string")
    null_dups = spark.createDataFrame(
        [(None, "x"), (None, "y"), (2, "b")], "id int, v string"
    )
    rows = {(r.id, r.v) for r in merge_frames(target, null_dups, on=("id",)).collect()}
    assert rows == {(1, "a"), (None, "x"), (None, "y"), (2, "b")}

    real_dups = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id int, v string"
    )
    with _pytest.raises(ValueError, match="multiple rows"):
        merge_frames(target, real_dups, on=("id",))


def test_upsert_dim_dedups_incoming_like_dedup_dim(spark):
    """upsert_dim over raw incoming rows == upsert_dim over dedup_dim's
    survivors: null keys dropped, ties broken by the non-key columns
    descending, nulls last — in both the first load and an update."""
    incoming = _df(
        spark,
        [(1, "b", None), (1, "a", 9), (1, None, 9), (2, None, None),
         (2, None, 3), (None, "z", 1), (3, "c", 1), (3, "c", 1)],
        "k int, name string, v int",
    )
    existing = _df(spark, [(1, "old", 0), (4, "kept", 4)], "k int, name string, v int")
    for base in (None, existing):
        got = upsert_dim(base, incoming, pk=("k",)).collect()
        want = upsert_dim(base, dedup_dim(incoming, pk=("k",)), pk=("k",)).collect()
        assert sorted(got, key=lambda r: r.k) == sorted(want, key=lambda r: r.k)
    rows = {r.k: r for r in upsert_dim(existing, incoming, pk=("k",)).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1].name, rows[1].v) == ("b", None)  # name desc first
    assert rows[2].v == 3  # non-null beats null
    assert rows[4].name == "kept"
    keys_only = _df(spark, [(5,), (5,), (None,)], "k int")
    assert upsert_dim(None, keys_only, pk=("k",)).collect() == [(5,)]
