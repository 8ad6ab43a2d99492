"""Property tests for the round-6 third-leg operators: each Spark
implementation is compared against an independent pure-Python/pandas
reference on deterministic pseudo-random inputs — a second verification
axis beside the DuckDB oracles (which share the SQL formulation and so
could in principle share a formulation bug).
"""

from __future__ import annotations

# Second-verification-axis marker: tests in this module check operators
# against an INDEPENDENT reference (plain Python/pandas/declared
# allowlists), not the DuckDB oracle. COVERAGE.md's property-test tally
# is derived by counting test functions in marked modules
# (tests/test_registry_contract.py::test_doc_counts_are_derived).
SECOND_AXIS_INDEPENDENT_REFERENCE = True

import random
from collections import deque

import pandas as pd
from pyspark.sql import functions as F

from spark_etl_pipeline_spark.operators.graph import bfs_hops


def _random_graph(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a == b:
            continue
        edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _python_bfs(edges, seeds, max_hops):
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_hops_matches_python_bfs(spark):
    for seed in (0, 1, 2):
        edges = _random_graph(seed, n_nodes=60, n_edges=90)
        seeds = [seed, seed + 10, seed + 20]
        expected = _python_bfs(edges, seeds, max_hops=3)
        edges_df = spark.createDataFrame(edges, "a bigint, b bigint")
        seeds_df = spark.createDataFrame([(s,) for s in seeds], "node bigint")
        got = {
            r["node"]: r["hop"]
            for r in bfs_hops(edges_df, seeds_df, max_hops=3).collect()
        }
        assert got == expected, f"seed {seed}: {got} != {expected}"


def test_rolling_median_matches_pandas(spark):
    # Same frame spec as events_rolling_median: 7 rows, 6 preceding.
    rng = random.Random(7)
    vals = [rng.randrange(0, 10_000) for _ in range(40)]
    sdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    )
    from pyspark.sql import Window

    w = Window.orderBy("i").rowsBetween(-6, Window.currentRow)
    frame = F.sort_array(F.collect_list("v").over(w))
    med = F.expr(
        "CASE WHEN size(__f) % 2 = 1 "
        "THEN element_at(__f, cast(size(__f) div 2 + 1 as int)) "
        "ELSE (element_at(__f, cast(size(__f) div 2 as int)) "
        "      + element_at(__f, cast(size(__f) div 2 + 1 as int))) / 2.0 END"
    )
    got = (
        sdf.withColumn("__f", frame)
        .select("i", med.alias("m"))
        .orderBy("i")
        .toPandas()["m"]
        .tolist()
    )
    expected = (
        pd.Series([float(v) for v in vals])
        .rolling(7, min_periods=1)
        .median()
        .tolist()
    )
    assert got == expected


def test_active_users_matches_pandas(spark, tmp_path):
    # DAU/WAU/MAU brute force in pandas vs the bounded-window-explode
    # rewrite, on a synthetic presence table with gaps.
    rng = random.Random(3)
    rows = sorted(
        {
            (rng.randrange(20), pd.Timestamp("2024-01-01")
             + pd.Timedelta(days=rng.randrange(45)))
            for _ in range(300)
        }
    )
    pdf = pd.DataFrame(rows, columns=["user_id", "day"])
    sdf = spark.createDataFrame(pdf)
    spine = sorted(pdf["day"].unique())
    expected = {}
    for d in spine:
        win = lambda k: set(
            pdf[(pdf["day"] <= d) & (pdf["day"] > d - pd.Timedelta(days=k))][
                "user_id"
            ]
        )
        expected[pd.Timestamp(d).strftime("%Y-%m-%d")] = (
            len(win(1)), len(win(7)), len(win(30))
        )

    presence = sdf.select("user_id", F.to_date("day").alias("day")).distinct()
    spine_df = presence.select("day").distinct()
    influenced = presence.select(
        "user_id",
        F.col("day").alias("p_day"),
        F.explode(F.expr("sequence(day, date_add(day, 29))")).alias("s_day"),
    ).join(spine_df.withColumnRenamed("day", "s_day"), "s_day", "left_semi")
    got = {
        r["day"]: (r["dau"], r["wau"], r["mau"])
        for r in influenced.groupBy(
            F.date_format("s_day", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.countDistinct(
                F.when(F.col("p_day") == F.col("s_day"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(
                    F.col("p_day") >= F.date_sub("s_day", 6), F.col("user_id")
                )
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .collect()
    }
    assert got == expected


def test_budget_allocation_sum_preservation(spark):
    # The defining Hamilton guarantee: allocated units total EXACTLY the
    # budget, for every scale factor the suite touches.
    from spark_etl_pipeline_spark.plans.relational import (
        ALLOC_UNITS,
        rel_budget_allocation,
    )
    from tests.conftest import SF_CORRECTNESS

    total = (
        rel_budget_allocation(spark, SF_CORRECTNESS)
        .agg(F.sum("units").alias("s"))
        .collect()[0]["s"]
    )
    assert total == ALLOC_UNITS


def _fold_series(spark, xs, fold_sql):
    df = spark.createDataFrame([([float(v) for v in xs],)], "xs array<double>")
    return df.selectExpr(f"{fold_sql} AS r").collect()[0]["r"]


def test_ewma_fold_matches_pandas_ewm(spark):
    # pandas ewm(adjust=False) implements the identical recursion
    # (seeded with x1) — an independent reference implementation.
    rng = random.Random(11)
    xs = [float(rng.randrange(0, 100_000)) for _ in range(25)]
    alpha = 0.3
    fold = (
        "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), "
        f"(acc, x) -> CAST({alpha} AS DOUBLE) * x "
        f"+ (CAST(1 AS DOUBLE) - CAST({alpha} AS DOUBLE)) * acc)"
    )
    got = _fold_series(spark, xs, fold)
    expected = (
        pd.Series(xs).ewm(alpha=alpha, adjust=False).mean().iloc[-1]
    )
    assert got == expected


def test_cusum_fold_matches_python_loop(spark):
    rng = random.Random(13)
    xs = [rng.randrange(0, 100_000) for _ in range(30)]
    target, slack = 50_000, 5_000
    fold = (
        "aggregate(xs, CAST(0 AS BIGINT), (acc, x) -> "
        f"greatest(CAST(0 AS BIGINT), acc + CAST(x AS BIGINT)"
        f" - {target} - {slack}))"
    )
    df = spark.createDataFrame([(xs,)], "xs array<bigint>")
    got = df.selectExpr(f"{fold} AS r").collect()[0]["r"]
    acc = 0
    for x in xs:
        acc = max(0, acc + x - target - slack)
    assert got == acc


def test_holt_fold_matches_python_loop(spark):
    rng = random.Random(17)
    xs = [float(rng.randrange(0, 100_000)) for _ in range(20)]
    a, b = 0.3, 0.2
    lam = (
        f"(acc, x) -> named_struct("
        f"'l', CAST({a} AS DOUBLE) * x + (CAST(1 AS DOUBLE) - CAST({a} AS DOUBLE)) * (acc.l + acc.t), "
        f"'t', CAST({b} AS DOUBLE) * ((CAST({a} AS DOUBLE) * x"
        f" + (CAST(1 AS DOUBLE) - CAST({a} AS DOUBLE)) * (acc.l + acc.t)) - acc.l)"
        f" + (CAST(1 AS DOUBLE) - CAST({b} AS DOUBLE)) * acc.t)"
    )
    fold = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"named_struct('l', element_at(xs, 1), "
        f"'t', element_at(xs, 2) - element_at(xs, 1)), {lam})"
    )
    df = spark.createDataFrame([(xs,)], "xs array<double>")
    got = df.selectExpr(f"{fold} AS st").collect()[0]["st"]
    l, t = xs[0], xs[1] - xs[0]
    for x in xs[2:]:
        nl = a * x + (1 - a) * (l + t)
        nt = b * (nl - l) + (1 - b) * t
        l, t = nl, nt
    assert (got["l"], got["t"]) == (l, t)


def test_cusum_prefix_identity_matches_recurrence_end_to_end(spark, tmp_path):
    """The round-7 CUSUM rewrite replaces the per-prefix re-fold with
    the prefix-sum identity S_t = P_t - min_{j<=t} P_j. Drive the
    REGISTERED OPERATOR (not just the expression) on a random events
    table and check (final, running-max) against the plain recurrence
    on per-day sums — multi-key, random day gaps, random multiplicity.
    """
    from spark_etl_pipeline_spark.operators.timeseries import (
        CUSUM_SLACK_CENTS,
        CUSUM_TARGET_CENTS,
        events_cusum_drift,
    )

    rng = random.Random(71)
    rows = []
    for etype in ("alpha", "beta", "gamma"):
        for _ in range(rng.randrange(40, 120)):
            day = rng.randrange(1, 28)
            rows.append(
                (etype, f"2024-03-{day:02d} 12:00:00", rng.randrange(0, 2000) / 100.0)
            )
    df = spark.createDataFrame(rows, "event_type string, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["event_type"]: (r["n_days"], r["cusum_final"], r["cusum_max"])
        for r in events_cusum_drift(spark, str(tmp_path)).collect()
    }

    adj = CUSUM_TARGET_CENTS + CUSUM_SLACK_CENTS
    daily: dict[tuple[str, str], int] = {}
    for etype, ts, value in rows:
        key = (etype, ts[:10])
        daily[key] = daily.get(key, 0) + round(value * 100)
    by_type: dict[str, list[int]] = {}
    for (etype, day) in sorted(daily):
        by_type.setdefault(etype, []).append(daily[(etype, day)])
    for etype, xs in by_type.items():
        s = mx = 0
        for x in xs:
            s = max(0, s + x - adj)
            mx = max(mx, s)
        assert got[etype] == (len(xs), s, mx), etype


def test_bipartite_bfs_matches_python_bfs(spark):
    """The round-7 bipartite BFS (frontier -> orders -> parts, no edge
    materialization) must produce the same min-hop map as a Python BFS
    over the implied co-membership graph, on a random incidence list."""
    from spark_etl_pipeline_spark.operators.graph import bfs_hops_bipartite

    rng = random.Random(47)
    inc = sorted(
        {(rng.randrange(40), rng.randrange(60)) for _ in range(250)}
    )
    edges = sorted(
        {
            (min(p, q), max(p, q))
            for ok1, p in inc
            for ok2, q in inc
            if ok1 == ok2 and p != q
        }
    )
    seeds = [1, 7]
    expected = _python_bfs(edges, seeds, 3)

    op = spark.createDataFrame(inc, "ok long, pk long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops_bipartite(op, sdf, 3).collect()
    }
    assert got == expected


def test_bfs_broadcast_gate_fallback(spark, monkeypatch):
    """The runtime broadcast gate on the BFS frontier: with the row cap
    at 0 neither the all-fit fast path nor any per-round gate can
    broadcast, so every round degrades to un-hinted (sort-merge) joins
    — the wide-seed-set OOM-safety path — with an identical hop map
    from both BFS variants. Also pins the plan shape of both sides of
    the gate on a round-shaped join through ``broadcast_if_fits`` (the
    loop's joins hide behind checkpoint materialization, so strategy is
    asserted on the identical construction). Four hops: the third
    hop's frontier is already empty, so the gated round's count also
    skips the fourth expansion."""
    from spark_etl_pipeline_spark import operators
    from spark_etl_pipeline_spark.operators import graph

    rng = random.Random(48)
    inc = sorted({(rng.randrange(30), rng.randrange(50)) for _ in range(180)})
    edges = sorted(
        {
            (min(p, q), max(p, q))
            for ok1, p in inc
            for ok2, q in inc
            if ok1 == ok2 and p != q
        }
    )
    seeds = [2, 9]
    expected = _python_bfs(edges, seeds, 4)

    op = spark.createDataFrame(inc, "ok long, pk long")
    edf = spark.createDataFrame(edges, "a long, b long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    monkeypatch.setattr(operators, "BROADCAST_MAX_ROWS", 0)
    got_bip = {
        r["node"]: r["hop"] for r in graph.bfs_hops_bipartite(op, sdf, 4).collect()
    }
    got_edge = {r["node"]: r["hop"] for r in graph.bfs_hops(edf, sdf, 4).collect()}
    assert got_bip == expected
    assert got_edge == expected

    frontier = sdf.localCheckpoint()
    n = len(seeds)
    monkeypatch.setattr(operators, "BROADCAST_MAX_ROWS", n)
    for n_rows, needle in ((n, "BroadcastHashJoin"), (n + 1, "SortMergeJoin")):
        side = operators.broadcast_if_fits(frontier, n_rows)
        j = op.join(side, op["pk"] == frontier["node"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert needle in plan, f"n_rows={n_rows}: {plan}"
