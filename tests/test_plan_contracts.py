"""Physical-plan CONTRACTS: the broadcast/pushdown/shuffle decisions
PLANS.md documents, pinned as assertions so a regression (a lost
broadcast hint, a filter that stops reaching the scan, an accidental
cartesian) fails CI instead of silently shipping a 100 TB foot-gun.

Plans are inspected at sf0.001 via explain strings — the assertions
target STRUCTURE (node kinds), never timings.
"""

from __future__ import annotations

import pytest

from etl_wrap_spark.catalog import queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "q03_revenue_by_nation",     # dim chain must broadcast
        "q115_nation_market_share",  # year-total broadcast hint
        "q126_potential_promotion",  # HAVING key-set broadcast hint
        "q121_local_supplier_volume",
    ],
)
def test_no_sort_merge_join(spark, name):
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan, f"{name} lost a broadcast decision"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["q119_shipping_priority", "q122_forecast_revenue", "q124_lateship_priority_pivot"],
)
def test_filters_reach_the_scan(spark, name):
    """Date/segment predicates must appear as scan-level DataFilters —
    at 100 TB this is the difference between reading a partition and
    reading the lake."""
    plan = _plan(spark, name)
    assert "DataFilters: []" not in plan.split("FileScan")[1][:800], name
    assert "PushedFilters: []" not in plan.split("FileScan")[1][:1200], name


def test_unpivot_is_map_only_before_agg(spark):
    """q133's Expand must not introduce a pre-aggregation shuffle: one
    exchange for the final aggregation (plus the presentation sort)."""
    plan = _plan(spark, "q133_unpivot_measures")
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    # scan -> expand -> partial agg all inside one stage: the only
    # exchanges are the agg's hash exchange and the orderBy's range
    assert plan.count("Exchange hashpartitioning") <= 1


def test_no_cartesian_anywhere_in_tpch(spark):
    """None of the 22 TPC-H shapes may degrade to a cartesian product."""
    tpch = [
        n for n in queries()
        if n.split("_")[0] in {
            "q01", "q119", "q120", "q121", "q122", "q123", "q124", "q125",
            "q126", "q109", "q110", "q111", "q115", "q116",
        }
    ]
    for name in tpch:
        assert "CartesianProduct" not in _plan(spark, name), name


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("q157_bfs_hops", 2),       # frontier/visited pinned per round
        ("q158_kcore_peel", 3),     # survivor edges pinned per round
        ("q156_triangle_counts", 8),  # und + oriented pinned once
    ],
)
def test_iterative_graph_plans_stay_flat(spark, name, max_shuffles):
    """The iterative graph operators pin reused frames with
    localCheckpoint; without it, lineage multiplies per round (measured
    round 4: 250 in-plan shuffles for the 3-round peel, 77 rescans for
    3-hop BFS). A regression here means someone dropped a checkpoint."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    n = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n <= max_shuffles, f"{name}: {n} shuffles — lineage unpinned?"


# ------------------------------------------------------------------
# catalog-wide: no unpartitioned window over an unbounded frame
# ------------------------------------------------------------------

# Unpartitioned WindowExec nodes whose input is NOT capped by a limit
# node but is bounded by construction. Every entry needs a grain
# justification; anything else trips the contract (the round-4 q136
# defect class: a global row_number over a corpus-grain frame is a
# single-partition sort of the corpus).
_GLOBAL_PREFIX = "sampling.global_prefix partition-count offsets frame"
ALLOWED_UNPARTITIONED_WINDOW = {
    # the ranking family's one distributed prefix sum
    # (sampling.global_prefix): its offsets window runs over
    # groupBy(spark_partition_id) → one row per range partition
    # (≤ cluster parallelism)
    "q68_balanced_shards": _GLOBAL_PREFIX,
    "q130_weighted_sample": _GLOBAL_PREFIX,
    "q170_contribution_pareto": _GLOBAL_PREFIX,
    "q184_sorted_neighborhood": _GLOBAL_PREFIX,
    "q200_epoch_shuffle_shards": _GLOBAL_PREFIX,
    # pre-aggregated daily series: one row per calendar day
    "q40_moving_window_frame": "day-grain rollup",
    "q152_cumulative_crossover": "day-grain rollup",
    # two-phase skyline: the global screen runs over bucket-local
    # skyline survivors (skyline-sized, not data-sized)
    "q167_pareto_skyline": "bucket-local skyline survivors",
    # largest-remainder apportionment ranks the GROUP-GRAIN quota frame
    # (rows = number of languages)
    "q178_temperature_mixture": "group-grain quota frame",
    # permutation test: the window broadcasts the observed (j = -1)
    # row's stats across the b+1 REPLICATE-grain rows — bounded by the
    # permutation count, never the units (round-7 single-branch fusion)
    "q214_permutation_test": "replicate-grain frame (b+1 rows)",
}

_BOUNDING = {
    "TakeOrderedAndProjectExec", "GlobalLimitExec", "LocalLimitExec",
    "CollectLimitExec",
}


def _walk_exec(node):
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_exec(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_exec(node.plan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_exec(ch.apply(i))


# ------------------------------------------------------------------
# catalog-wide: driver-job budget per query PLAN BUILD
# ------------------------------------------------------------------

# Round-6 lesson (verdict ask #6): driver JOB COUNT during plan build is
# the iterative family's wall — q59 once ran 41 jobs per build (eager
# per-round localCheckpoints + separate convergence probes at ~0.11 s
# each) and cost a round to diagnose. Budgets below are the measured
# round-7 build-job counts at sf0.001 plus headroom (~+50%, min +2): an
# eager-checkpoint slip multiplies the count 2-5x and must fail CI, a
# legitimate extra probe must not. Queries not listed budget at
# DEFAULT_BUILD_JOBS (measured 0-1; the 176 pure-expression builds fire
# none — lazy checkpoints fire only for upstream AQE stages).
DEFAULT_BUILD_JOBS = 3
BUILD_JOB_BUDGETS = {
    # connected-components family: LSH cascade stages materialize at the
    # lazy-checkpoint calls + 1 convergence probe per CC round
    "q55_dedup_components": 30,
    "q59_dedup_components_star": 30,  # same operator and route as q55
    "q60_semantic_dedup": 6,
    "q107_canonical_selection": 32,
    "q141_golden_record": 30,
    "q160_cluster_safe_split": 30,
    "q61_incremental_dedup": 8,
    # iterative graph algorithms: 1-2 pinned frames + probe per round
    "q117_hierarchy_flatten": 24,
    "q129_pagerank_centrality": 12,
    "q132_hierarchy_rollup": 36,
    "q137_bloom_semijoin": 30,  # bloom build aggregates at plan time
    "q156_triangle_counts": 10,
    "q157_bfs_hops": 26,
    "q158_kcore_peel": 22,
    "q164_personalized_pagerank": 20,
    "q165_label_propagation": 26,
    "q197_sssp_trade_cost": 48,
    "q204_weighted_pagerank": 12,
    "q205_harmonic_centrality": 12,
    "q198_ra_link_prediction": 5,
    "q206_degree_assortativity": 5,
    # lake operators: manifest reads + committed snapshot scans
    "q79_lake_atomic_upsert": 14,
    "q114_partitioned_lake_upsert": 12,
    "q118_lake_change_feed": 8,
    "q100_lake_pruned_read": 8,
    "q104_fk_audit": 8,
    # LSH pair production (non-CC consumers)
    "q23_minhash_lsh_neardup": 6,
    "q87_lsh_production_path": 6,
    "q42_corpus_clean": 8,
    "q149_association_rules": 6,
    "q170_contribution_pareto": 6,
}


def test_driver_job_budget_per_query_build(spark):
    """Building a catalog query's DataFrame must not exceed its driver-
    job budget. Catches the round-6 regression class at CI time: an
    eagerly-evaluated checkpoint or a stray .rdd/.collect in plan-build
    code multiplies driver jobs (and the per-query wall) silently —
    correctness stays green, only the bench notices a round later."""
    sc = spark.sparkContext

    def next_job_id() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    over = []
    for name, fn in sorted(queries().items()):
        budget = BUILD_JOB_BUDGETS.get(name, DEFAULT_BUILD_JOBS)
        j0 = next_job_id()
        fn(spark, SF)
        used = next_job_id() - j0
        if used > budget:
            over.append(f"{name}: {used} build jobs > budget {budget}")
    assert not over, (
        "plan builds exceeding their driver-job budget (eager checkpoint "
        "or stray action in build code?):\n" + "\n".join(over)
    )


@pytest.mark.parametrize("name", ["q157_bfs_hops", "q117_hierarchy_flatten"])
def test_catalog_floor_graph_queries_keep_the_driver_route(
    spark, monkeypatch, distributed, name
):
    """The perfbench ``catalog_floor`` workload builds q157 (bfs_hops)
    and q117 (flatten_hierarchy) on its sf0.01 tables. Both inputs must
    stay under their operators' row-limit constants, so every
    ``_small_cols`` call of the build hands back columns (the driver
    kernel) rather than None (the distributed plan). Headroom is pinned
    off by the ``distributed`` fixture, so only size decides."""
    import os

    from etl_wrap_spark.operators import graph

    sf = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "data", "sf0.01",
    )
    seen = []
    gate = graph._small_cols

    def recorded(pinned, limit, known_small=False):
        seen.append(gate(pinned, limit, known_small))
        return seen[-1]

    monkeypatch.setattr(graph, "_small_cols", recorded)
    queries()[name](spark, sf)
    assert seen and all(cols is not None for cols in seen), name


@pytest.mark.parametrize(
    "name, jobs", [("q117_hierarchy_flatten", 2), ("q157_bfs_hops", 5)]
)
def test_catalog_floor_graph_queries_build_job_diet(spark, distributed, name, jobs):
    """Build jobs of the ``catalog_floor`` graph queries. The
    ``_small_cols`` gate runs its probe and collect with AQE off, so the
    probe pays no extra stage job: q117 builds in 2 jobs (probe,
    collect) and q157 in 5, where the AQE-on gate took 3 and 6. Min of
    2 builds; headroom pinned off by the ``distributed`` fixture."""
    import os

    sf = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench", "data", "sf0.01",
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    used = []
    for _ in range(2):
        j0 = dag.nextJobId()
        queries()[name](spark, sf)
        used.append(dag.nextJobId() - j0)
    assert min(used) <= jobs, (name, used)


def test_no_unbounded_unpartitioned_window_catalog_wide(spark):
    """Every unpartitioned WindowExec in every catalog query must sit
    over a limit-bounded subtree (the orderBy+limit-then-rank pattern)
    or carry an explicit grain justification above. At 100 TB an
    unpartitioned window over row-grain data is a single-executor sort
    of the dataset."""
    offenders = []
    for name, fn in sorted(queries().items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan()
        for node in _walk_exec(plan):
            if node.getClass().getSimpleName() != "WindowExec":
                continue
            if not node.partitionSpec().isEmpty():
                continue
            bounded = any(
                d.getClass().getSimpleName() in _BOUNDING
                for d in _walk_exec(node)
            )
            if not bounded and name not in ALLOWED_UNPARTITIONED_WINDOW:
                offenders.append(name)
    assert not offenders, (
        f"unpartitioned windows over unbounded frames: {sorted(set(offenders))} "
        "— use orderBy().limit(k) then rank the survivors, or justify the "
        "grain in ALLOWED_UNPARTITIONED_WINDOW"
    )


def test_no_row_python_eval_catalog_wide(spark):
    """No declared query's physical plan may contain a row-at-a-time
    Python eval node (BatchEvalPython — pickled row-by-row JVM->Python
    transfer). The only sanctioned Python boundaries in the catalog are
    Arrow-vectorized (mapInPandas / applyInArrow / pandas UDFs) and the
    size-gated driver fast paths, which never appear as plan nodes. At
    100 TB a pickled row boundary dominates its whole stage; pinning
    the absence keeps the r7-r9 UDF sweeps from regressing silently."""
    offenders = []
    for name, fn in sorted(queries().items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, (
        "row-at-a-time Python eval nodes (replace with built-ins or an "
        f"Arrow-vectorized kernel, guide section 4.1): {offenders}"
    )


@pytest.mark.parametrize("template", ["YMD", "D.mmm.Y"])
@pytest.mark.parametrize("fn", ["add_days_hol", "subtract_days_hol"])
def test_business_day_roll_evaluates_input_once(spark, fn, template):
    """The roll binds its input date once: higher-order function bodies
    get no subexpression elimination, so a captured input would be
    re-embedded per roll candidate and per formatted part (12 copies of
    the caller's parse tree). The 2 allowed copies are _as_date's
    coalesce null branch."""
    from pyspark.sql import functions as F

    from etl_wrap_spark.functions import dateutil

    df = spark.createDataFrame([("20121224",)], "s STRING")
    marked = F.concat(F.col("s"), F.lit("ZZMARK"))
    expr = getattr(dateutil, fn)(marked, 1, template)
    plan = df.select(expr.alias("x"))._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ZZMARK") <= 2, plan.count("ZZMARK")


@pytest.mark.parametrize("case", ["shingles", "top_ngram_coverage"])
def test_token_lambdas_tokenize_once(spark, case):
    """The per-gram lambdas read a token array bound once (`_let` in
    shingles, the `__t` column in top_ngram_coverage): a lambda that
    captured `tokens(col)` would re-run the regex split once per gram
    index, and its plan would show a second `split(`."""
    from pyspark.sql import functions as F

    from etl_wrap_spark.operators import dedup, text

    df = spark.createDataFrame([(1, "a b c d"), (2, None)], "id INT, s STRING")
    if case == "shingles":
        q = df.select(dedup.shingles(F.col("s"), 3).alias("x"))
    else:
        q = text.top_ngram_coverage(df, "id", "s", 2)
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan.count("split(")
