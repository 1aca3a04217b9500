"""Tests for the scale-path features: stateful streaming, salted joins,
partitioned/bucketed sinks (incl. plan-level pruning assertions)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_wrap_spark.operators import skew
from etl_wrap_spark.sinks import parquet as pq
from etl_wrap_spark.streaming import stateful

EV_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
    ]
)


def _write_ev(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("".join(f"{u}\t{v}\t{t}\n" for u, v, t in rows))


def test_stateful_running_totals_across_drains(spark, tmp_path):
    src = tmp_path / "in"
    _write_ev(src / "b1.csv", [(1, 2.0, "2024-01-01 10:00:00"), (1, 3.0, "2024-01-01 10:01:00"), (2, 1.0, "2024-01-01 10:02:00")])
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema(EV_SCHEMA).option("sep", "\t").csv(str(src))

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        q = (
            stateful.running_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    r1 = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.read.parquet(out).collect()}
    assert r1[1] == (2, 5.0) and r1[2] == (1, 1.0)
    # second drain: state continues from the checkpoint, not from zero
    _write_ev(src / "b2.csv", [(1, 10.0, "2024-01-01 11:00:00")])
    drain()
    rows = [r for r in spark.read.parquet(out).collect() if r["user_id"] == 1]
    assert (3, 15.0) in {(r["n_events"], r["total_value"]) for r in rows}


def test_salted_join_matches_plain_join(spark):
    big = spark.range(2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("uid"), (F.col("id") * 2).alias("v")
    )
    small = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")], ["k", "name"])
    plain = big.join(small, on="k").select("uid", "name")
    salted = skew.salted_join(big, small, on=["k"], big_unique_col="uid", buckets=8).select("uid", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_rejects_outer_shapes(spark):
    import pytest

    big = spark.createDataFrame([(1, 10)], ["k", "uid"])
    small = spark.createDataFrame([(1, "one")], ["k", "name"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            skew.salted_join(big, small, on=["k"], big_unique_col="uid", how=how)


def test_salted_agg_matches_plain(spark):
    df = spark.range(5000).select((F.col("id") % 4).alias("k"), F.col("id").alias("uid"), F.lit(1).alias("one"))
    got = {
        r["k"]: (r["n"], r["total"])
        for r in skew.salted_agg_count_sum(df, ["k"], "one", "uid", buckets=8).collect()
    }
    want = {
        r["k"]: (r["n"], r["t"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("one").alias("t")).collect()
    }
    assert got == want


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 5).alias("part_key"), (F.col("id") * 3).alias("v")
    )
    path = str(tmp_path / "pdata")
    pq.write_partitioned(df, path, ["part_key"])
    back = pq.read_pruned(spark, path).where(F.col("part_key") == 2)
    assert back.count() == 200
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part_key" in plan  # pruning reached the scan


def test_dynamic_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "dyn")
    base = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["id", "pk", "v"])
    pq.write_partitioned(base, path, ["pk"])
    # replace ONLY partition 'a'; 'b' must survive
    repl = spark.createDataFrame([(9, "a", 99)], ["id", "pk", "v"])
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    pq.overwrite_partitions(repl, path, ["pk"])
    rows = {(r["pk"], r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 9, 99), ("b", 2, 20)}
    assert spark.conf.get(key) == before  # the session conf is never flipped


def test_bucketed_table_join_has_no_shuffle(spark, tmp_path):
    # saveAsTable uses the session warehouse dir (static conf); tables are
    # dropped in the finally block so nothing persists
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    try:
        pq.write_bucketed_table(df, "bt_left", ["k"], 4, sort_by=["k"])
        pq.write_bucketed_table(df, "bt_right", ["k"], 4, sort_by=["k"])
        joined = spark.table("bt_left").join(spark.table("bt_right"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        # co-bucketed join: no Exchange (shuffle) on either side
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_compact_small_files(spark, tmp_path):
    from etl_wrap_spark.sinks import parquet as pq

    src = str(tmp_path / "fragmented")
    # simulate an append-accumulated dataset: 16 tiny files
    spark.range(0, 16000).repartition(16).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/part-*.parquet")) == 16
    out = str(tmp_path / "compacted")
    n = pq.compact(spark, src, out, target_file_mb=512)
    assert n == 1  # 16k longs land far under one 512 MB target file
    assert len(glob.glob(out + "/part-*.parquet")) == 1
    assert spark.read.parquet(out).count() == 16000
    assert pq.dataset_size_bytes(spark, out) > 0


def test_zorder_key_matches_python_morton(spark):
    from etl_wrap_spark.sinks import parquet as pq

    def morton(vals, bits, n):
        out = 0
        for i, v in enumerate(vals):
            v = max(0, min(v, (1 << bits) - 1))
            for j in range(bits):
                out |= ((v >> j) & 1) << (j * n + i)
        return out

    rows = [(1, 5, 9), (2, 0, 16383), (3, 16383, 0), (4, 123, 4567), (5, 20000, -3)]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    got = {r["id"]: r["z"] for r in df.select("id", pq.zorder_key(["a", "b"]).alias("z")).collect()}
    for i, a, b in rows:
        assert got[i] == morton((a, b), 14, 2)


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    import glob

    from etl_wrap_spark.sinks import parquet as pq

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("int").alias("y")
    )
    out = str(tmp_path / "zordered")
    pq.zorder_write(df, out, ["x", "y"], n_files=8)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= 4

    # x-sorted baseline: each file is an x-slice spanning ALL of y
    base = str(tmp_path / "xsorted")
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(base)

    import pyarrow.parquet as papq

    def files_hit_by_y_band(paths, lo, hi):
        """Files a y-range filter must read, judged by min/max stats —
        exactly what parquet skipping sees."""
        hit = 0
        for f in paths:
            ys = papq.read_table(f, columns=["y"]).column("y").to_pylist()
            if max(ys) >= lo and min(ys) <= hi:
                hit += 1
        return hit

    # the z-order win is pruning on the NON-leading dimension: an
    # x-sorted layout slices x thinly but every file spans all of y, so
    # a y-band filter reads everything; the z layout bounds y per file
    base_files = glob.glob(base + "/part-*.parquet")
    assert files_hit_by_y_band(base_files, 0, 15) == len(base_files)
    assert files_hit_by_y_band(files, 0, 15) <= len(files) // 2
    assert spark.read.parquet(out).count() == 4096


def test_profile_and_approx_mode(spark):
    from etl_wrap_spark.operators import profile as P

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, "b", -2.25), (None, None, 0.0)],
        "k int, s string, v double",
    )
    got = {r["column"]: r for r in P.profile(df).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 1 and got["k"]["n_distinct"] == 3
    assert got["k"]["min_val"] == "1.00" and got["k"]["max_val"] == "3.00"
    assert got["s"]["n_distinct"] == 2 and got["s"]["min_val"] == "a"
    assert got["v"]["min_val"] == "-2.25" and got["v"]["max_val"] == "1.50"
    approx = {r["column"]: r["n_distinct"] for r in P.profile(df, approx=True).collect()}
    assert approx["k"] in (2, 3, 4)  # HLL estimate, tiny-set accurate


def test_rule_bank_annotation_routes_quarantine(spark):
    from etl_wrap_spark.functions.coerce import quarantine_split
    from etl_wrap_spark.operators import validate

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, 10.0, "Z"), (4, None, "F")],
        "k int, price double, status string",
    )
    rules = [
        ("price_positive", F.col("price") > 0),
        ("status_domain", F.col("status").isin("O", "F")),
    ]
    summary = {r["rule"]: r["n_violations"] for r in validate.rule_summary(df, rules).collect()}
    assert summary == {"price_positive": 2, "status_domain": 1}  # NULL fails closed
    ann = validate.annotate_violations(df, rules)
    good, bad = quarantine_split(ann, F.col("failed_rules") != "")
    assert {r["k"] for r in good.collect()} == {1}
    flags = {r["k"]: r["failed_rules"] for r in bad.collect()}
    assert flags == {2: "price_positive", 3: "status_domain", 4: "price_positive"}


def test_skew_report_advises_salting(spark):
    # key 0 holds ~91% of rows; keys 1..9 tiny
    df = spark.range(0, 1000).select(
        F.when(F.col("id") < 910, 0).otherwise(F.col("id") % 9 + 1).alias("k"),
        F.col("id").alias("uid"),
    )
    top, adv = skew.skew_report(df, ["k"])
    rows = {r["k"]: r["n"] for r in top.collect()}
    assert rows[0] == 910 and adv["max_key_rows"] == 910
    assert adv["distinct_keys"] == 10 and adv["total_rows"] == 1000
    assert adv["skew_factor"] > 5
    assert 2 <= adv["suggested_buckets"] <= 64
    # uniform data advises no salting
    _, flat = skew.skew_report(spark.range(100).select((F.col("id") % 10).alias("k")), ["k"])
    assert flat["suggested_buckets"] == 1


def test_funnel_stage_ordering(spark):
    """Stage k only counts strictly after stage k-1: a user whose only
    purchase precedes their click never reaches t3."""
    import datetime as dt

    from etl_wrap_spark.operators.events_analytics import funnel_stages

    def ts(h):
        return dt.datetime(2024, 1, 1, h)

    rows = [
        # complete funnel
        (1, "view", ts(1)), (1, "click", ts(2)), (1, "purchase", ts(3)),
        # purchase BEFORE click: reaches t2, not t3
        (2, "view", ts(1)), (2, "purchase", ts(2)), (2, "click", ts(3)),
        # never viewed: absent entirely
        (3, "click", ts(1)), (3, "purchase", ts(2)),
        # stops after view
        (4, "view", ts(5)),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {r["user_id"]: r for r in funnel_stages(e, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["t3"] == ts(3)
    assert out[2]["t2"] == ts(3) and out[2]["t3"] is None
    assert out[4]["t2"] is None and out[4]["t3"] is None


def test_cohort_retention_offsets(spark):
    """Offsets count whole weeks from the user's first-seen week."""
    import datetime as dt

    from etl_wrap_spark.operators.events_analytics import cohort_retention

    rows = [
        (1, dt.datetime(2024, 1, 1)),   # Monday, cohort week 0
        (1, dt.datetime(2024, 1, 10)),  # week 1
        (2, dt.datetime(2024, 1, 2)),   # same cohort week
        (2, dt.datetime(2024, 1, 17)),  # week 2
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {(r["week_offset"]): r["n_users"] for r in cohort_retention(e).collect()}
    assert out == {0: 2, 1: 1, 2: 1}
