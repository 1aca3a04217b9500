"""Atomic versioned lake table (sinks/lake.py) — the K12 transaction
bracket parity tests: readers see old-or-new, never partial; failures
roll back; concurrent commits conflict instead of corrupting.

Reference semantics mirrored: Wrap/DB.pm:38-68 (begin_work / commit /
rollback on error).
"""

from __future__ import annotations

import fcntl
import os
import threading

import pytest
from pyspark.sql import functions as F

from etl_wrap_spark.sinks.lake import AtomicTable, ConflictError


@pytest.fixture()
def table(spark, tmp_path):
    return AtomicTable(spark, str(tmp_path / "tbl"))


def _rows(t, version=None):
    return {(r["k"], r["v"]) for r in t.read(version).collect()}


def test_write_and_read_roundtrip(spark, table):
    v1 = table.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    assert v1 == 1
    assert _rows(table) == {(1, "a"), (2, "b")}


def test_upsert_and_delete_insert_semantics(spark, table):
    table.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    table.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), ["k"])
    assert _rows(table) == {(1, "a"), (2, "B"), (3, "c")}
    from pyspark.sql import functions as F

    table.delete_insert(
        spark.createDataFrame([(9, "z")], "k int, v string"), F.col("k") >= 2
    )
    assert _rows(table) == {(1, "a"), (9, "z")}


def test_reader_sees_old_until_commit_and_failure_rolls_back(spark, table):
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    table.write(df1)

    class Boom(RuntimeError):
        pass

    # failure INSIDE the transaction (mid-write): manifest untouched
    with pytest.raises(Boom):
        with table.transaction() as tx:
            tx.upsert(spark.createDataFrame([(2, "b")], "k int, v string"), ["k"])
            raise Boom()
    assert table.current_version() == 1
    assert _rows(table) == {(1, "a")}

    # failure AT the staging step (injected mid-write): staged files hit
    # disk but no version dir / manifest move ever happens
    orig = table._stage

    def exploding_stage(df, **kw):
        orig(df, **kw)  # files hit disk in _staging...
        raise Boom()  # ...but promote never runs

    table._stage = exploding_stage
    with pytest.raises(Boom):
        with table.transaction() as tx:
            tx.upsert(spark.createDataFrame([(3, "c")], "k int, v string"), ["k"])
    table._stage = orig
    assert table.current_version() == 1
    assert _rows(table) == {(1, "a")}
    assert not os.path.isdir(table._version_dir(2))  # no orphan version
    table.vacuum()  # sweeps the leaked staging dir
    assert not os.path.isdir(os.path.join(table.root, "_staging"))


def test_transaction_batches_multiple_ops_into_one_version(spark, table):
    table.write(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    with table.transaction() as tx:
        tx.upsert(spark.createDataFrame([(3, "c")], "k int, v string"), ["k"])
        tx.delete_keys(spark.createDataFrame([(1,)], "k int"), ["k"])
    assert table.current_version() == 2  # ONE version for two ops
    assert _rows(table) == {(2, "b"), (3, "c")}


def test_transaction_delete_keys_on_empty_table_commits_nothing(spark, table):
    # deleting from a table that has no version yet leaves it empty
    with table.transaction() as tx:
        tx.delete_keys(spark.createDataFrame([(1,)], "k int"), ["k"])
    assert table.current_version() is None


def test_concurrent_writer_conflict_not_corruption(spark, table):
    table.write(spark.createDataFrame([(1, "a")], "k int, v string"))
    slow = table.transaction()
    slow.__enter__()
    slow.upsert(spark.createDataFrame([(2, "slow")], "k int, v string"), ["k"])
    # a fast writer lands first
    table.upsert(spark.createDataFrame([(3, "fast")], "k int, v string"), ["k"])
    with pytest.raises(ConflictError):
        slow.__exit__(None, None, None)
    # the fast writer's commit is intact; the loser changed nothing
    assert _rows(table) == {(1, "a"), (3, "fast")}


def test_time_travel_and_rollback(spark, table):
    table.write(spark.createDataFrame([(1, "a")], "k int, v string"))
    table.write(spark.createDataFrame([(1, "A2")], "k int, v string"))
    assert _rows(table, version=1) == {(1, "a")}
    assert _rows(table) == {(1, "A2")}
    table.rollback(1)
    assert _rows(table) == {(1, "a")}


class _Crash(BaseException):
    """The process dies between a commit's version claim and its
    pointer swap (raised from the patched swap)."""


def _crash(*args, **kwargs):
    raise _Crash()


def test_write_after_rollback_takes_a_fresh_version(spark, table):
    # the rolled-back-over v2 still exists: the next commit must skip it
    # (and keep it readable), not collide with it
    table.write(spark.createDataFrame([(1, "a")], "k int, v string"))
    table.write(spark.createDataFrame([(1, "b")], "k int, v string"))
    table.rollback(1)
    assert table.write(spark.createDataFrame([(1, "c")], "k int, v string")) == 3
    assert _rows(table) == {(1, "c")}
    assert _rows(table, version=2) == {(1, "b")}


def test_write_after_interrupted_commit_skips_the_orphan(spark, table, monkeypatch):
    table.write(spark.createDataFrame([(1, "a")], "k int, v string"))
    with monkeypatch.context() as m:
        m.setattr(table, "_swap", _crash)
        with pytest.raises(_Crash):
            table.write(spark.createDataFrame([(1, "lost")], "k int, v string"))
    assert table.current_version() == 1
    assert os.path.isdir(table._version_dir(2))  # the unreferenced orphan
    assert _rows(table) == {(1, "a")}
    assert table.write(spark.createDataFrame([(1, "b")], "k int, v string")) == 3
    assert _rows(table) == {(1, "b")}


def _race_same_parent(table, monkeypatch, commit_a, commit_b) -> dict:
    """Writers A and B commit from the same pointer. A claims its version
    and pauses just before its pointer rename; B runs its whole commit
    meanwhile, until it finishes or reaches the writer lock, and only
    then is A released. Returns {"A"/"B": committed version or the
    raised exception}."""
    ptr = table._pointer_path()
    a_paused, b_at_lock, release = threading.Event(), threading.Event(), threading.Event()
    real_rename, real_flock = os.rename, fcntl.flock

    def rename(src, dst):
        if dst == ptr and threading.current_thread().name == "A":
            a_paused.set()
            release.wait(120)
        return real_rename(src, dst)

    def flock(fd, op):
        if threading.current_thread().name == "B":
            b_at_lock.set()
        return real_flock(fd, op)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(fcntl, "flock", flock)
    out = {}

    def run(name, commit):
        try:
            out[name] = commit()
        except Exception as e:  # noqa: BLE001 — the outcome under test
            out[name] = e

    a = threading.Thread(target=run, args=("A", commit_a), name="A")
    a.start()
    assert a_paused.wait(120)
    b = threading.Thread(target=run, args=("B", commit_b), name="B")
    b.start()
    while b.is_alive() and not b_at_lock.wait(0.05):
        pass
    release.set()
    a.join(120)
    b.join(120)
    return out


def test_same_parent_writers_exactly_one_commits(spark, table, monkeypatch):
    # B claims v3 while A (claimed v2) is between its check and its
    # pointer rename: B must lose, not silently overwrite A's upsert
    table.write(spark.createDataFrame([(1, "a")], "k int, v string"))
    a_df = spark.createDataFrame([(2, "A")], "k int, v string")
    b_df = spark.createDataFrame([(3, "B")], "k int, v string")
    out = _race_same_parent(
        table, monkeypatch, lambda: table.upsert(a_df, ["k"]), lambda: table.upsert(b_df, ["k"])
    )
    assert out["A"] == 2
    assert isinstance(out["B"], ConflictError)
    assert table.current_version() == 2
    assert _rows(table) == {(1, "a"), (2, "A")}
    assert not os.path.isdir(table._version_dir(3))  # the loser's claim is gone


def test_vacuum_keeps_current_and_recent(spark, table):
    for i in range(4):
        table.write(spark.createDataFrame([(i, "x")], "k int, v string"))
    removed = table.vacuum(keep=2)
    assert removed == [1, 2]
    assert _rows(table) == {(3, "x")}
    assert os.path.isdir(table._version_dir(3))
    assert not os.path.isdir(table._version_dir(1))


@pytest.mark.parametrize("kind", ["atomic", "partitioned"])
def test_vacuum_after_rollback_keeps_newest_and_numbers_stay_fresh(spark, request, kind):
    # three commits, rollback to v1, vacuum(keep=1): the newest version
    # (v3) and the current one (v1) stay, so the next commit is v4 and
    # a reader pinned to v3 still sees v3's data
    if kind == "atomic":
        t = request.getfixturevalue("table")

        def commit(k):
            return t.write(spark.createDataFrame([(k, "x")], "k int, v string"))
    else:
        t = request.getfixturevalue("ptable")

        def commit(k):
            return t.write(_pdata(spark, [(k, "eu", k)]))

    for k in (1, 2, 3):
        commit(k)
    t.rollback(1)
    t.vacuum(keep=1)
    assert t._disk_versions() == [1, 3]
    assert commit(4) == 4
    assert {r.k for r in t.read(3).collect()} == {3}
    assert {r.k for r in t.read().collect()} == {4}


def test_replace_where_partition_style(spark, table):
    table.write(
        spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-02")], "k int, v string"
        )
    )
    table.replace_where(
        spark.createDataFrame([(9, "2024-01-02")], "k int, v string"),
        "v = '2024-01-02'",
    )
    assert _rows(table) == {(1, "2024-01-01"), (9, "2024-01-02")}


def test_zone_map_pruning(spark, table):
    # 10k rows clustered on k -> range-partitioned files with disjoint
    # zones; a narrow band must open a strict subset of files while the
    # result stays exactly the full filter.
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 7).alias("v")
    )
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=8)
    stats = table.file_stats()
    assert stats and all("k" in z for z in stats.values())
    files = table.pruned_files("k", 100, 200)
    assert files is not None and 0 < len(files) < len(stats)
    got = table.read_pruned("k", 100, 200)
    want = table.read().where(F.col("k").between(100, 200))
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in want.collect())


def test_zone_map_fail_open(spark, table):
    # version written WITHOUT stats -> pruning falls back to full read;
    # out-of-range band on a stats version -> empty frame, same schema
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    table.write(df)
    assert table.file_stats() is None
    assert table.read_pruned("k", 10, 20).count() == 11
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=4)
    empty = table.read_pruned("k", 10_000, 20_000)
    assert empty.count() == 0 and empty.columns == ["k"]


def test_zone_map_string_column(spark, table):
    df = spark.createDataFrame(
        [(f"{i:04d}", i) for i in range(1000)], "s STRING, v INT"
    )
    table.write(df, stats_cols=["s", "v"], cluster_by="s", cluster_files=5)
    got = table.read_pruned("s", "0100", "0199").count()
    assert got == 100


def test_zone_map_zorder_multi_column_pruning(spark, table):
    # Morton-clustered write: zone maps must prune on BOTH interleaved
    # columns, which a 1-D range layout only gives the leading column.
    from etl_wrap_spark.sinks.parquet import zorder_key

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    table.write(
        df, stats_cols=["a", "b"],
        cluster_by=zorder_key(["a", "b"], bits=6), cluster_files=16,
    )
    n_all = len(table.file_stats())
    for col in ("a", "b"):
        kept = table.pruned_files(col, 0, 7)
        assert 0 < len(kept) < n_all, f"no pruning on {col}"
        got = table.read_pruned(col, 0, 7).count()
        assert got == table.read().where(F.col(col).between(0, 7)).count()


# ----------------------------------------------- PartitionedAtomicTable


@pytest.fixture()
def ptable(spark, tmp_path):
    from etl_wrap_spark.sinks.lake import PartitionedAtomicTable

    return PartitionedAtomicTable(spark, str(tmp_path / "ptbl"), "region")


def _pdata(spark, rows):
    return spark.createDataFrame(rows, "k LONG, region STRING, v LONG")


def test_partitioned_upsert_reuses_untouched_dirs(spark, ptable):
    base = _pdata(spark, [(1, "eu", 10), (2, "eu", 20), (3, "us", 30), (4, "ap", 40)])
    ptable.write(base)
    dirs_v1 = ptable.partition_dirs()
    assert set(dirs_v1) == {"eu", "us", "ap"}

    # upsert touches ONLY eu: update k=1, insert k=9
    ptable.upsert(_pdata(spark, [(1, "eu", 11), (9, "eu", 90)]), ["k"])
    dirs_v2 = ptable.partition_dirs()
    # untouched partitions carried BY REFERENCE (same dir names)
    assert dirs_v2["us"] == dirs_v1["us"] and dirs_v2["ap"] == dirs_v1["ap"]
    assert dirs_v2["eu"] != dirs_v1["eu"]
    got = {(r.k, r.region, r.v) for r in ptable.read().collect()}
    assert got == {(1, "eu", 11), (2, "eu", 20), (9, "eu", 90), (3, "us", 30), (4, "ap", 40)}


def test_partitioned_time_travel_and_delete(spark, ptable):
    ptable.write(_pdata(spark, [(1, "eu", 10), (3, "us", 30)]))
    v1 = ptable.current_version()
    ptable.upsert(_pdata(spark, [(5, "us", 50)]), ["k"])
    ptable.delete_partitions(["eu"])
    assert {r.region for r in ptable.read().collect()} == {"us"}
    # pinned history still reads the pre-delete state
    assert {r.region for r in ptable.read(v1).collect()} == {"eu", "us"}


def test_partitioned_vacuum_keeps_referenced(spark, ptable, tmp_path):
    import os

    ptable.write(_pdata(spark, [(1, "eu", 10), (3, "us", 30)]))
    d1 = ptable.partition_dirs()
    ptable.upsert(_pdata(spark, [(1, "eu", 11)]), ["k"])
    ptable.upsert(_pdata(spark, [(1, "eu", 12)]), ["k"])
    removed = ptable.vacuum(keep=1)
    # the twice-superseded eu dir goes; the still-referenced us dir stays
    assert d1["eu"] in removed
    root = str(tmp_path / "ptbl")
    assert os.path.isdir(os.path.join(root, d1["us"]))
    got = {(r.k, r.v) for r in ptable.read().where("region = 'eu'").collect()}
    assert got == {(1, 12)}


def test_partitioned_upsert_after_rollback_takes_a_fresh_version(spark, ptable):
    ptable.write(_pdata(spark, [(1, "eu", 10)]))
    ptable.upsert(_pdata(spark, [(1, "eu", 11)]), ["k"])
    ptable.rollback(1)
    assert {(r.k, r.v) for r in ptable.read().collect()} == {(1, 10)}
    assert ptable.upsert(_pdata(spark, [(2, "us", 20)]), ["k"]) == 3
    assert {(r.k, r.v) for r in ptable.read().collect()} == {(1, 10), (2, 20)}
    assert {(r.k, r.v) for r in ptable.read(2).collect()} == {(1, 11)}


def test_partitioned_upsert_after_interrupted_commit_skips_the_orphan(
    spark, ptable, tmp_path, monkeypatch
):
    ptable.write(_pdata(spark, [(1, "eu", 10)]))
    with monkeypatch.context() as m:
        m.setattr(ptable, "_swap", _crash)
        with pytest.raises(_Crash):
            ptable.upsert(_pdata(spark, [(1, "eu", 99)]), ["k"])
    assert ptable.current_version() == 1
    assert os.path.exists(str(tmp_path / "ptbl" / "_versions" / "2.json"))  # orphan
    assert ptable.upsert(_pdata(spark, [(2, "us", 20)]), ["k"]) == 3
    assert {(r.k, r.v) for r in ptable.read().collect()} == {(1, 10), (2, 20)}


def test_partitioned_same_parent_writers_exactly_one_commits(
    spark, ptable, tmp_path, monkeypatch
):
    ptable.write(_pdata(spark, [(1, "eu", 10)]))
    a_df, b_df = _pdata(spark, [(2, "eu", 20)]), _pdata(spark, [(3, "us", 30)])
    out = _race_same_parent(
        ptable,
        monkeypatch,
        lambda: ptable.upsert(a_df, ["k"]),
        lambda: ptable.upsert(b_df, ["k"]),
    )
    assert out["A"] == 2
    assert isinstance(out["B"], ConflictError)
    assert ptable.current_version() == 2
    assert {(r.k, r.v) for r in ptable.read().collect()} == {(1, 10), (2, 20)}
    assert not os.path.exists(str(tmp_path / "ptbl" / "_versions" / "3.json"))


def test_partitioned_concurrent_writer_conflict(spark, ptable, tmp_path):
    from etl_wrap_spark.sinks.lake import ConflictError, PartitionedAtomicTable

    ptable.write(_pdata(spark, [(1, "eu", 10)]))
    racer = PartitionedAtomicTable(spark, str(tmp_path / "ptbl"), "region")
    racer.upsert(_pdata(spark, [(2, "eu", 20)]), ["k"])
    # ptable's stale-expected commit must fail, not corrupt
    with pytest.raises(ConflictError):
        ptable._commit_manifest({"eu": "p_" + "0" * 32}, "string",
                                expected=1)
    assert {r.k for r in racer.read().collect()} == {1, 2}


def test_partitioned_compaction_reduces_files(spark, ptable, tmp_path):
    import os

    from etl_wrap_spark.sinks.lake import compact_partition

    # many tiny commits -> the touched partition accumulates files
    ptable.write(_pdata(spark, [(1, "eu", 10), (3, "us", 30)]))
    for i in range(3):
        ptable.upsert(_pdata(spark, [(100 + i, "eu", i)]), ["k"])
    root = str(tmp_path / "ptbl")
    dirs = ptable.partition_dirs()

    def n_files(d):
        return len([f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")])

    before = ptable.read().where("region='eu'").count()
    compact_partition(ptable, "eu", n_files=1)
    after_dirs = ptable.partition_dirs()
    assert after_dirs["us"] == dirs["us"]          # untouched by reference
    assert after_dirs["eu"] != dirs["eu"]
    assert n_files(after_dirs["eu"]) == 1
    assert ptable.read().where("region='eu'").count() == before


def test_table_changes_on_partitioned_table(spark, ptable):
    from etl_wrap_spark.sinks.lake import table_changes

    ptable.write(_pdata(spark, [(1, "eu", 10), (2, "us", 20)]))
    ptable.upsert(_pdata(spark, [(1, "eu", 11), (9, "eu", 90)]), ["k"])
    feed = {
        (r.k, r.change_type)
        for r in table_changes(ptable, 1, 2, ["k"]).collect()
    }
    assert feed == {(1, "update"), (9, "insert")}


def test_bloom_point_pruning_no_false_negatives(spark, table):
    # high-cardinality key scattered across files by a DIFFERENT
    # clustering column: zones on k are useless (every file spans the
    # whole key space), blooms still prune. Every probe must keep all
    # files truly containing the key (no false negatives) and the
    # read_point result must equal the full equality filter.
    df = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 16).alias("grp")
    )
    table.write(df, stats_cols=["grp"], cluster_by="grp", cluster_files=8,
                bloom_cols=["k"])
    stats = table.file_stats()
    assert stats and all("__bloom__" in z for z in stats.values())
    import os as _os
    vd = table._version_dir(table.current_version())
    truth = {}
    for fn in sorted(_os.listdir(vd)):
        if fn.endswith(".parquet"):
            ks = {r.k for r in spark.read.parquet(_os.path.join(vd, fn)).collect()}
            truth[fn] = ks
    pruned_any = False
    for probe in [0, 1, 777, 4_321, 4_999]:
        keep = {_os.path.basename(p) for p in table.pruned_files_eq("k", probe)}
        must = {fn for fn, ks in truth.items() if probe in ks}
        assert must <= keep  # fail-open: never drops a containing file
        if len(keep) < len(truth):
            pruned_any = True
        got = [r.k for r in table.read_point("k", probe).collect()]
        assert got == [probe]
    assert pruned_any  # the index actually prunes something


def test_bloom_absent_key_and_fail_open(spark, table):
    # a key never written: blooms should prune every file with high
    # probability (tolerate FPs; result must still be empty); a version
    # without blooms keeps every file but stays correct.
    df = spark.range(0, 2_000).select(F.col("id").alias("k"))
    table.write(df, bloom_cols=["k"], cluster_by="k", cluster_files=4)
    assert table.read_point("k", 99_999_999).count() == 0
    # indexing persists as a table property: a plain write inherits it
    table.write(df)
    assert table.file_stats() is not None
    # explicit empty sequences CLEAR the index -> fail-open reads
    table.write(df, bloom_cols=(), stats_cols=())
    assert table.file_stats() is None
    assert table.pruned_files_eq("k", 5) is None
    assert table.read_point("k", 5).count() == 1


def test_bloom_string_keys_and_zone_combination(spark, table):
    # string bloom keys; zone + bloom combine (both fail-open): a value
    # outside the zone is pruned even when the bloom would pass.
    rows = [(i, f"user_{i}") for i in range(1_000)]
    df = spark.createDataFrame(rows, "k long, u string")
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=4,
                bloom_cols=["u", "k"])
    got = [r.u for r in table.read_point("u", "user_123").collect()]
    assert got == ["user_123"]
    # k=5000 is outside every file's zone: pruned to zero files
    assert table.pruned_files_eq("k", 5_000) == []
    assert table.read_point("k", 5_000).count() == 0


def test_column_cluster_by_keeps_persisted_property(spark, table):
    # round-5 ADVICE: a Column-expression cluster_by applies to THIS
    # commit's layout only — it must NOT clear the persisted string
    # cluster_by table property (a later compact() would lose the
    # clustered layout).
    df = spark.range(0, 1_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=4)
    assert table.table_props()["cluster_by"] == "k"
    # expression layout for one commit
    table.write(df, cluster_by=F.col("v"), cluster_files=4)
    assert table.table_props()["cluster_by"] == "k"
    # inherit-path write and compaction still see the string property
    table.write(df)
    assert table.table_props()["cluster_by"] == "k"


def test_index_survives_merge_and_transaction(spark, table):
    # zone maps + blooms recorded at v1 must still exist after an
    # upsert (MERGE), a delete_insert, and a transaction bracket —
    # the round-5 table-properties fix: incremental commits re-apply
    # the persisted indexing config instead of silently stripping it.
    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=4,
                bloom_cols=["k"])
    assert table.table_props()["bloom_cols"] == ["k"]

    upd = spark.range(100, 110).select(F.col("id").alias("k"), F.lit(99).alias("v"))
    table.upsert(upd, ["k"])
    stats = table.file_stats()
    assert stats and all("k" in z and "__bloom__" in z for z in stats.values())
    assert [r.v for r in table.read_point("k", 105).collect()] == [99]
    files = table.pruned_files("k", 0, 50)
    assert files is not None and 0 < len(files) < len(stats)

    table.delete_insert(
        spark.range(5).select(F.col("id").alias("k"), F.lit(-1).alias("v")),
        F.col("k") < 5,
    )
    assert table.file_stats() is not None

    with table.transaction() as txn:
        txn.upsert(
            spark.range(300, 303).select(F.col("id").alias("k"), F.lit(7).alias("v")),
            ["k"],
        )
    assert table.file_stats() is not None
    assert [r.v for r in table.read_point("k", 301).collect()] == [7]


def test_atomic_compact_rebuilds_index(spark, table):
    # 8 clustered files with zones+blooms -> compact to 2: fewer files,
    # index rebuilt on the new layout, point/range reads still exact.
    df = spark.range(0, 4_000).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    table.write(df, stats_cols=["k"], cluster_by="k", cluster_files=8, bloom_cols=["k"])
    assert len(table.file_stats()) >= 4
    v = table.compact(2)
    assert v == 2 and len(table.file_stats()) <= 3
    stats = table.file_stats()
    assert all("k" in z and "__bloom__" in z for z in stats.values())
    assert [r.k for r in table.read_point("k", 1234).collect()] == [1234]
    assert table.read_pruned("k", 10, 30).count() == 21
    assert table.read().count() == 4_000


def test_partitioned_zone_maps_prune_within_partitions(spark, ptable):
    # range-pre-shaped write: each region dir holds multiple files with
    # disjoint k zones; read_pruned must open a strict file subset of
    # the selected partitions while matching the exact filter.
    df = (
        spark.range(0, 8_000)
        .select(
            (F.col("id") % 4).cast("string").alias("region"),
            F.col("id").alias("k"),
        )
        .repartitionByRange(16, F.col("region"), F.col("k"))
    )
    ptable.write(df, stats_cols=["k"])
    assert ptable.table_props()["stats_cols"] == ["k"]
    import os as _os
    dirs = ptable.partition_dirs()
    n_files = {
        v: len([f for f in _os.listdir(_os.path.join(ptable.root, d)) if f.endswith(".parquet")])
        for v, d in dirs.items()
    }
    assert all(n > 1 for n in n_files.values())  # multiple files per dir
    got = ptable.read_pruned("k", 100, 400, values=["0", "1"])
    want = (
        ptable.read()
        .where(F.col("region").isin("0", "1") & F.col("k").between(100, 400))
    )
    assert sorted((r.region, r.k) for r in got.collect()) == sorted(
        (r.region, r.k) for r in want.collect()
    )
    # strictly fewer files than the two full partitions (zones bite)
    from etl_wrap_spark.sinks.lake import STATS as _S
    import json as _json
    kept = 0
    for v in ("0", "1"):
        d = _os.path.join(ptable.root, dirs[v])
        stats = _json.load(open(_os.path.join(d, _S)))
        for fn, z in stats.items():
            zz = z.get("k")
            if zz is None or not (zz[1] < 100 or zz[0] > 400):
                kept += 1
    assert kept < n_files["0"] + n_files["1"]


def test_partitioned_stats_survive_partition_merge(spark, ptable):
    # upsert rewrites ONE partition: its fresh dir gets fresh stats,
    # carried dirs keep theirs, fail-open still holds for pre-stats dirs
    df = (
        spark.range(0, 4_000)
        .select((F.col("id") % 4).cast("string").alias("region"), F.col("id").alias("k"))
        .repartitionByRange(8, F.col("region"), F.col("k"))
    )
    ptable.write(df, stats_cols=["k"])
    before = ptable.partition_dirs()
    upd = spark.createDataFrame([("2", 123456)], "region string, k long")
    ptable.upsert(upd, ["k"])
    after = ptable.partition_dirs()
    assert after["0"] == before["0"] and after["2"] != before["2"]
    import os as _os
    from etl_wrap_spark.sinks.lake import STATS as _S
    assert _os.path.exists(_os.path.join(ptable.root, after["2"], _S))
    got = ptable.read_pruned("k", 123000, 124000, values=["2"])
    assert 123456 in {r.k for r in got.collect()}
    # compaction rewrites partition "2" into a fresh dir: the table's
    # zone maps must be re-applied to it like any other commit
    from etl_wrap_spark.sinks.lake import compact_partition

    compact_partition(ptable, "2")
    compacted = ptable.partition_dirs()["2"]
    assert compacted != after["2"]
    assert _os.path.exists(_os.path.join(ptable.root, compacted, _S))
    got = ptable.read_pruned("k", 123000, 124000, values=["2"])
    assert 123456 in {r.k for r in got.collect()}
