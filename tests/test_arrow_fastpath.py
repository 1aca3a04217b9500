"""Focused coverage for the round-11 Arrow driver-transfer helpers.

The graph/dedup size-gated fast paths cross the JVM boundary through
`_arrow_numpy_cols` (collect → numpy columns via Arrow record batches)
and `_driver_result` (driver result → DataFrame as one Arrow batch).
These tests pin the contract the union-find / CSR consumers rely on:
values, row counts, the null flag that routes back to the distributed
path, the empty-frame shape, the toPandas fallback, and conf restore
(the gate's scoped AQE flip included).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_wrap_spark.operators.graph import _arrow_numpy_cols, _driver_result


def test_arrow_numpy_cols_values_and_nonnull(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "src long, dst long, label string"
    )
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 3
    assert has_null is False
    assert sorted(cols) == ["dst", "label", "src"]
    assert sorted(cols["src"].tolist()) == [1, 2, 3]
    # column alignment: src=2 row carries dst=20/label="b"
    rows = sorted(zip(cols["src"].tolist(), cols["dst"].tolist(), cols["label"].tolist()))
    assert rows == [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]


def test_arrow_numpy_cols_null_flag_set(spark):
    df = spark.createDataFrame([(1, None), (2, 20)], "src long, dst long")
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 2
    assert has_null is True  # routes the fast path back to distributed


def test_arrow_numpy_cols_empty_frame(spark):
    df = spark.range(0).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    cols, n_rows, has_null = _arrow_numpy_cols(df)
    assert n_rows == 0
    assert has_null is False
    assert set(cols) == {"src", "dst"}  # schema-complete even with no batches


def test_arrow_numpy_cols_topandas_fallback(spark):
    class _NoArrow:
        """Shim without _collect_as_arrow: exercises the fallback leg."""

        def __init__(self, df):
            self._df = df

        def toPandas(self):
            return self._df.toPandas()

    df = spark.createDataFrame([(1, None), (2, 20)], "src long, dst long")
    cols, n_rows, has_null = _arrow_numpy_cols(_NoArrow(df))
    assert n_rows == 2
    assert has_null is True
    assert sorted(int(v) for v in cols["src"].tolist()) == [1, 2]


def _set_conf(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def test_driver_result_roundtrip_and_conf_restore(spark, distributed):
    import numpy as np

    from etl_wrap_spark.operators.graph import _small_cols

    pinned = spark.createDataFrame([(1, 2)], "u long, v long")
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    aqe = "spark.sql.adaptive.enabled"
    saved = {k: spark.conf.get(k, None) for k in (batch, aqe)}
    try:
        # both keys, each from an unset and from a set state: the scoped
        # flip must leave the session exactly as it found it
        for prev in (None, "7"):
            _set_conf(spark, batch, prev)
            out = _driver_result(
                pinned,
                {"node": np.arange(5, dtype=np.int64), "comp": np.zeros(5, dtype=np.int64)},
            )
            assert out.schema == StructType(
                [StructField("node", LongType(), True), StructField("comp", LongType(), True)]
            )
            got = sorted((r.node, r.comp) for r in out.collect())
            assert got == [(i, 0) for i in range(5)]
            assert spark.conf.get(batch, None) == prev  # batch-size pin is scoped
        for prev in (None, "true"):
            _set_conf(spark, aqe, prev)
            assert sorted(_small_cols(spark.range(3), 3)["id"].tolist()) == [0, 1, 2]
            assert spark.conf.get(aqe, None) == prev  # the AQE flip is scoped
        # the gate's probe and collect run as static plans: on a pinned
        # frame with an upstream shuffle that is one count job and one
        # collect job (AQE would run the count's map stage as a third)
        pinned = (
            spark.range(64).groupBy((F.col("id") % 8).alias("k")).count()
            .localCheckpoint(eager=False)
        )
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        j0 = dag.nextJobId()
        cols = _small_cols(pinned, 8)
        assert dag.nextJobId() - j0 == 2
        assert sorted(cols["k"].tolist()) == list(range(8))
    finally:
        for k, v in saved.items():
            _set_conf(spark, k, v)


def test_driver_result_empty(spark):
    pinned = spark.range(0).select(F.col("id").alias("node"))
    out = _driver_result(pinned, {"node": []})
    assert out.count() == 0
    assert out.schema == StructType([StructField("node", LongType(), True)])


def test_driver_result_string_column(spark):
    # id columns take the pinned frame's first-column type; the rest bigint
    pinned = spark.createDataFrame([("x", 1)], "k string, n long")
    out = _driver_result(pinned, {"k": ["x", "y"], "v": [1, 2]}, ids=("k",))
    assert out.schema == StructType(
        [StructField("k", StringType(), True), StructField("v", LongType(), True)]
    )
    assert sorted((r.k, r.v) for r in out.collect()) == [("x", 1), ("y", 2)]


def test_scoped_conf_flips_from_threads_restore_the_session():
    # the module lock serialises scoped flips: without it a thread's
    # restore interleaves with another's get/set, and the key ends set
    # to some thread's value instead of unset (a dict-backed conf keeps
    # this off the JVM)
    import sys
    import threading

    from etl_wrap_spark.session import _scoped_conf

    class _Conf:
        def __init__(self):
            self.d = {}

        def get(self, key, default=None):
            return self.d.get(key, default)

        def set(self, key, value):
            self.d[key] = value

        def unset(self, key):
            self.d.pop(key, None)

    class _Session:
        conf = _Conf()

    spark = _Session()
    errors = []

    def flip(t):
        for i in range(300):
            with _scoped_conf(spark, "k", f"{t}.{i}"):
                if spark.conf.get("k") != f"{t}.{i}":
                    errors.append((t, i))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=flip, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert "k" not in spark.conf.d
