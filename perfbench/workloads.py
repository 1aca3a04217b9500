"""The benchmark's workloads. Each drives the engine only through its
public API, as one client in a closed loop: the next operation starts
when the previous one has finished.

A workload object has

- ``prepare()``: write the seeded inputs (untimed);
- ``register(spark)``: the workload's part of a set-up, timed as
  ``setup_s`` together with the session start and a warm-up job;
- ``run(spark, seconds, counters)``: the measured loop;
- ``check()``: the output checks, after the loop;
- ``ops``, ``checks``: records {kind: "cold"|"warm", wall, ok, ...} of
  the timed ops, and {name, ok, ...} of the output checks.
"""

from __future__ import annotations

import importlib.util
import os
import time

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# catalog_floor: the catalog's reference sf0.01 tables, as they are.
# Build (py4j + Catalyst) and per-job scheduling dominate each query's
# wall at this size. q117 and q157 are the hierarchy and BFS operators.
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
CATALOG_QUERIES = ["q01", "q04", "q06", "q11", "q12", "q98", "q117", "q157"]
MIN_PASSES = 2

# etl_load: a 5k-row snapshot, then whole cycles of deltas through two
# heavy-tailed sizes (the midpoints of the two equal-probability strata
# of the log-uniform law on [300, 20000] rows)
SNAPSHOT_ROWS = 5_000
DELTA_SIZES = [858, 6998]
MIN_CYCLES = 2

# ---------------------------------------------------------------- common


def execute_plan(df) -> int:
    """Run the full physical plan JVM-side and return the row count:
    every projected column is produced, no result crosses to Python
    (the catalog bench's execution semantics)."""
    return df._jdf.queryExecution().toRdd().count()


def strip_presentation_sort(df):
    """Drop a root global Sort (a presentation ORDER BY) from ``df``'s
    logical plan, as the catalog bench does; returns ``df`` unchanged
    when the root is not a global sort or the JVM accessors differ."""
    from pyspark.sql import DataFrame

    try:
        p = df._jdf.queryExecution().logical()
        if p.nodeName() != "Sort" or not getattr(p, "global")():
            return df
        spark = df.sparkSession
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, p.child())
        return DataFrame(jdf, spark)
    except Exception:  # other Spark builds: keep the sort
        return df


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def key_amount_checksum(key_ids, cents) -> int:
    """Order-insensitive checksum of (key id, amount in cents) pairs: the
    sum, modulo 2**64, of a 64-bit mix (splitmix64's finalizer) of
    key_id * 2**32 + cents, so moving an amount to another key changes it."""
    x = (np.asarray(key_ids, dtype=np.int64).astype(np.uint64) << np.uint64(32)) + \
        np.asarray(cents, dtype=np.int64).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return int(x.sum(dtype=np.uint64))


class _Span:
    """Times a block; with a tracer, the block is also a span."""

    def __init__(self, tracer, layer, name):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        self._cm = self.tracer.span(self.layer, self.name) if self.tracer else None
        self.rec = self._cm.__enter__() if self._cm else None
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        if self._cm:
            self._cm.__exit__(*exc)
        return False


def _load_check_helpers(root: str):
    """``frame_rows`` from the repo's correctness checker, by import."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_rows


# --------------------------------------------------------------- catalog


class CatalogWorkload:
    """Catalog queries over the reference sf0.01 tables: a cold pass
    (each query's first run in the session) in catalog order, then warm
    passes until the deadline. The seed sets the warm passes' query
    order; the cold pass keeps one order, because its first query pays
    the session's first-use costs."""

    def __init__(self, root: str, seed: int, tracer=None):
        self.root, self.tracer = root, tracer
        self.order = np.random.default_rng(seed).permutation(len(CATALOG_QUERIES))
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.rounds: list[dict] = []
        self.passes = 0
        self._cold: dict[str, object] = {}

    def prepare(self) -> None:
        import duckdb

        from etl_wrap_spark import catalog
        from etl_wrap_spark.session import TABLES

        self.queries = catalog.queries()
        full = {n.split("_")[0]: n for n in self.queries}
        self.names = [full[n] for n in CATALOG_QUERIES]
        oracles = catalog.oracle_sql()
        self._frame_rows = _load_check_helpers(self.root)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CATALOG_DATA}/{t}.parquet'")
        self.expected = {n: self._frame_rows(con.execute(oracles[n]).df()) for n in self.names}
        con.close()

    def register(self, spark) -> None:
        from etl_wrap_spark.session import load_tables

        load_tables(spark, CATALOG_DATA)

    def _op(self, spark, name: str, kind: str, counters=None) -> tuple[dict, object]:
        rec = {"kind": kind, "name": name, "ok": False, "traced": bool(self.tracer and self.tracer.enabled)}
        df = None
        cost0 = self.tracer.py4j.paused_s if counters else 0.0
        t0 = time.perf_counter()
        try:
            with _Span(self.tracer, "catalog", f"build.{name}") as b:
                df = strip_presentation_sort(self.queries[name](spark, CATALOG_DATA))
            if counters:
                js0, t_0 = counters.jobs_stages(), counters.task_totals()
            with _Span(self.tracer, "exec", f"exec.{name}") as x:
                rows = execute_plan(df)
            if counters:
                js1, t_1 = counters.jobs_stages(), counters.task_totals()
            rec.update(wall=time.perf_counter() - t0, build_s=b.wall, exec_s=x.wall, rows=rows)
            if counters:
                rec["trace_cost_s"] = self.tracer.py4j.paused_s - cost0
                rec.update(
                    exec_jobs=js1[0] - js0[0], exec_stages=js1[1] - js0[1],
                    exec_tasks=t_1[0] - t_0[0], exec_shuffle_write_bytes=t_1[1] - t_0[1],
                    build_py4j=b.rec["py4j"], build_jobs=b.rec["jobs"],
                    **{f"catalyst_{k}_ms": v for k, v in counters.catalyst_ms(df).items()},
                )
            rec["ok"] = rows == len(self.expected[name][1])
        except Exception as e:  # a failed op is counted, the run goes on
            rec["wall"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        return rec, df

    def run(self, spark, seconds: float, counters=None) -> None:
        t_start = time.perf_counter()
        for name in self.names:
            rec, df = self._op(spark, name, "cold")
            self.ops.append(rec)
            if df is not None:
                self._cold[name] = df
        if self.tracer:
            self.tracer.enabled = True
        last = None
        while True:
            if self.passes >= MIN_PASSES and time.perf_counter() - t_start + last > seconds:
                break
            t0 = time.perf_counter()
            for name in (self.names[i] for i in self.order):
                if self.tracer:
                    self.tracer.op = f"p{self.passes}.{name}"
                rec, _ = self._op(spark, name, "warm", counters)
                rec["pass"] = self.passes
                self.ops.append(rec)
            last = time.perf_counter() - t0
            self.passes += 1
            if not any(o["ok"] for o in self.ops[-len(self.names):]):
                break  # every query failed: nothing left to measure
        if self.tracer:
            self.tracer.enabled = False

    def check(self) -> None:
        """Typed, order-insensitive comparison of each query's cold
        DataFrame with the DuckDB oracle."""
        for name in self.names:
            rec = {"name": name, "ok": False}
            try:
                got = self._frame_rows(self._cold[name].toPandas())
                rec["ok"] = got == self.expected[name]
                if not rec["ok"]:
                    rec["error"] = f"mismatch: {len(got[1])} rows vs oracle {len(self.expected[name][1])}"
            except Exception as e:
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
            self.checks.append(rec)


# ------------------------------------------------------------------- etl

SITE = {"process": {"retrySeconds": 1}}
COMMON = {
    "File": {
        "format_sep": "\t",
        "format_skip": 2,
        "format_header": " ".join(gen.ETL_HEADER),
        "format_targetheader": " ".join(gen.ETL_TARGET),
        "format_normalize": True,
        "format_thousandsep": ".",
        "format_decimalsep": ",",
    },
    "DB": {"table": "loaded", "primkey": gen.ETL_KEYS, "upsert": True},
}
EXPORT_COLUMNS = ["id1", "id2", "name", "amount", "asof", "flag", "settle"]


class EtlWorkload:
    """The paper's file -> coerce -> keyed upsert -> export process.

    A run is one process run: one lake table, starting empty, one ledger
    and one config cascade. It loads a snapshot file (the cold op: the
    first load of a fresh process into an empty table, which pays the
    session's first-use costs), then delta files
    (the warm ops) in whole cycles through ``DELTA_SIZES``, at least
    ``MIN_CYCLES`` and then until the deadline; the seed sets the rows.
    It then exports the table to one file and vacuums it. ``check()``
    compares the table with the generator's last-write-wins state."""

    def __init__(self, work: str, seed: int, tracer=None):
        self.work, self.tracer = work, tracer
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.rounds: list[dict] = []

    def prepare(self) -> None:
        self.feed = gen.EtlFeed(os.path.join(self.work, "in"), self.rng)
        self._next = self.feed.deliver(SNAPSHOT_ROWS)

    def register(self, spark) -> None:
        pass  # the lake table and ledger belong to the process run

    def _config(self, path: str) -> dict:
        from etl_wrap_spark.plans.config import setup_config_merge

        with _Span(self.tracer, "plans", "config"):
            return setup_config_merge(SITE, COMMON, [{"File": {"filename": path}}])[0]

    def _load(self, spark, table, ledger, cfg: dict) -> int:
        """One delivered file, from the gate to the committed upsert."""
        from pyspark.sql import functions as F

        from etl_wrap_spark.functions import coerce, dateutil
        from etl_wrap_spark.plans.runner import check_files
        from etl_wrap_spark.sources.files import apply_read_pipeline, read_csv

        fcfg = cfg["File"]
        path = fcfg["filename"]
        with _Span(self.tracer, "plans", "gate"):
            check_files([path])
            if ledger.unprocessed([path]) != [path]:
                raise RuntimeError(f"ledger already holds {path}")
        header = fcfg["format_header"].split()
        raw = read_csv(spark, path, header=header, sep=fcfg["format_sep"], skip=fcfg["format_skip"])
        shaped = apply_read_pipeline(
            raw, header, targetheader=fcfg["format_targetheader"].split(), trim=True,
            normalize=fcfg["format_normalize"], thousandsep=fcfg["format_thousandsep"],
            decimalsep=fcfg["format_decimalsep"],
        )
        asof = coerce.coerce_datetime("asof").cast("date")
        self._typed = shaped.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            coerce.strip_newlines("name").alias("name"),
            coerce.coerce_number("amount").alias("amount"),
            asof.alias("asof"),
            coerce.coerce_bool("flag").alias("flag"),
            dateutil.add_days_hol(asof, 2, cal="AT").alias("settle"),
        )
        with _Span(self.tracer, "exec", "commit") as x:
            version = table.upsert(self._typed, keys=cfg["DB"]["primkey"])
        self._commit_s = x.wall
        with _Span(self.tracer, "plans", "mark"):
            ledger.mark([path])
        return version

    def _op(self, spark, table, ledger, kind: str, counters=None) -> None:
        path, rows, nbytes = self._next
        i = len(self.ops)
        rec = {"kind": kind, "file": i, "rows": rows, "bytes": nbytes, "ok": False,
               "traced": bool(self.tracer and self.tracer.enabled)}
        if self.tracer:
            self.tracer.op = f"f{i}"
        cost0 = self.tracer.py4j.paused_s if counters else 0.0
        t0 = time.perf_counter()
        try:
            if counters:
                js0, t_0 = counters.jobs_stages(), counters.task_totals()
            version = self._load(spark, table, ledger, self._config(path))
            if counters:
                js1, t_1 = counters.jobs_stages(), counters.task_totals()
            rec.update(wall=time.perf_counter() - t0, commit_s=self._commit_s)
            if counters:
                rec["trace_cost_s"] = self.tracer.py4j.paused_s - cost0
                vb, vf = dir_bytes(os.path.join(table.root, f"v{version}"))
                rec.update(
                    exec_jobs=js1[0] - js0[0], exec_stages=js1[1] - js0[1],
                    exec_tasks=t_1[0] - t_0[0], exec_shuffle_write_bytes=t_1[1] - t_0[1],
                    bytes_written=vb, files_written=vf,
                    **{f"catalyst_{k}_ms": v for k, v in counters.catalyst_ms(self._typed).items()},
                )
            rec["ok"] = True
        except Exception as e:  # a failed op is counted, the run goes on
            rec["wall"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        self.ops.append(rec)

    def run(self, spark, seconds: float, counters=None) -> None:
        from etl_wrap_spark.plans.runner import ProcessedLedger
        from etl_wrap_spark.sinks.files import write_single_file
        from etl_wrap_spark.sinks.lake import AtomicTable

        self.table = table = AtomicTable(spark, os.path.join(self.work, "lake"))
        ledger = ProcessedLedger(os.path.join(self.work, "ledger.jsonl"))
        t_start = time.perf_counter()
        paused = 0.0
        self._op(spark, table, ledger, "cold")
        if self.tracer:
            self.tracer.enabled = True
        ok, cycles = self.ops[-1]["ok"], 0
        while ok:  # whole cycles of deltas, so every run loads the same sizes
            t_cycle = time.perf_counter()
            for n in DELTA_SIZES:
                t0 = time.perf_counter()
                self._next = self.feed.deliver(n)  # writing input is not the program's work
                paused += time.perf_counter() - t0
                self._op(spark, table, ledger, "warm", counters)
                ok = self.ops[-1]["ok"]
                if not ok:
                    break  # the table state is undefined after a failed commit
            last = time.perf_counter() - t_cycle
            cycles += 1
            if cycles >= MIN_CYCLES and time.perf_counter() - t_start - paused + last > seconds:
                break
        if self.tracer:
            self.tracer.op = "export"
        self.export_path = out = os.path.join(self.work, "export.txt")
        with _Span(self.tracer, "sinks", "export") as ex:
            write_single_file(table.read(), out, EXPORT_COLUMNS)
        table.vacuum(keep=1)
        if self.tracer:
            self.tracer.enabled = False
        in_bytes = sum(o["bytes"] for o in self.ops)
        self.rounds.append({"files": len(self.ops), "input_bytes": in_bytes, "export_s": ex.wall,
                            "stored_bytes": dir_bytes(table.root)[0]})

    def check(self) -> None:
        """Row count and a key/amount checksum of the final table against
        the generator's last-write-wins state, plus the export's lines."""
        expected = self.feed.state
        rec = {"name": "final_table", "ok": False}
        try:
            got = self.table.read().select("id1", "id2", "amount").toPandas()
            want_sum = key_amount_checksum(
                [k[0] * 7 + k[1] for k in expected], [round(v[1] * 100) for v in expected.values()])
            got_sum = key_amount_checksum(
                (got.id1 * 7 + got.id2).to_numpy(), (got.amount * 100).round().to_numpy())
            with open(self.export_path, encoding="utf-8") as fh:
                lines = sum(1 for _ in fh)
            rec.update(rows=len(got), want_rows=len(expected), checksum_ok=got_sum == want_sum,
                       export_lines=lines)
            rec["ok"] = len(got) == len(expected) and got_sum == want_sum and lines == len(expected) + 1
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        self.checks.append(rec)
