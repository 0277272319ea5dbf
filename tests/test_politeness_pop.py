"""budgeted_pop: salted pre-prune must be result-identical to a direct
Python computation of the exact pop semantics, across budget regimes."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.operators.politeness import budgeted_pop


def exact_pop_py(rows, budgets, batch_size):
    pending = sorted(rows, key=lambda r: (-r[3], r[4]))
    taken = {}
    eligible = []
    for r in pending:
        host = r[1]
        b = budgets.get(host)
        budget = math.floor(b) if b is not None else 1 << 62
        if taken.get(host, 0) < budget:
            eligible.append(r)
            taken[host] = taken.get(host, 0) + 1
    batch = sorted(eligible, key=lambda r: (-r[3], r[4]))[:batch_size]
    return [(r[0], i + 1) for i, r in enumerate(batch)]


def make_rows(rng, n, hosts):
    rows = []
    for i in range(n):
        host = hosts[0] if rng.random() < 0.5 else rng.choice(hosts)
        rows.append((f"https://{host}/p/{i}", host, 1, rng.randint(0, 3), i))
    return rows


def run_case(spark, budgets, batch_size, n=3000, salt_buckets=4, **kw):
    rng = random.Random(hash((batch_size, tuple(sorted(budgets.items())))) & 0xFFFF)
    hosts_list = ["hot.h", "a.h", "b.h", "c.h"]
    rows = make_rows(rng, n, hosts_list)
    pending = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int, seq long"
    )
    hosts = spark.createDataFrame(
        [(h, float(b), 0.0, float(b)) for h, b in budgets.items()],
        "host string, capacity double, refill_rate double, tokens double",
    )
    got = sorted(
        (r["url"], r["pop_rank"])
        for r in budgeted_pop(
            pending, hosts, batch_size, salt_buckets, **kw
        ).collect()
    )
    want = sorted(exact_pop_py(rows, budgets, batch_size))
    assert got == want, f"batch={batch_size} budgets={budgets}"


def test_budget_smaller_than_batch(spark):
    run_case(spark, {"hot.h": 7, "a.h": 3, "b.h": 2, "c.h": 5}, batch_size=50)


def test_budget_larger_than_batch(spark):
    run_case(spark, {"hot.h": 1000, "a.h": 1000}, batch_size=25)


def test_missing_hosts_unlimited(spark):
    run_case(spark, {"hot.h": 4}, batch_size=40)


def test_zero_and_negative_budget(spark):
    run_case(spark, {"hot.h": 0, "a.h": -2.5, "b.h": 3}, batch_size=30)


def test_distributed_branch_exactness(spark):
    """broadcast_binding_max=0 forces the distributed (host, salt)-keyed
    join branch; the result must stay bit-identical to the sequential
    oracle across the same budget regimes the collect branch covers."""
    run_case(
        spark,
        {"hot.h": 7, "a.h": 3, "b.h": 2, "c.h": 5},
        batch_size=50,
        broadcast_binding_max=0,
    )
    run_case(
        spark,
        {"hot.h": 0, "a.h": -2.5, "b.h": 3},
        batch_size=30,
        broadcast_binding_max=0,
    )
    run_case(
        spark, {"hot.h": 4}, batch_size=40, broadcast_binding_max=0
    )


def test_hosts_rows_hint_skips_probe_same_result(spark):
    """hosts_rows within broadcast_binding_max: the binding budgets are
    broadcast from the plan with no probe collect, across the same budget
    regimes, including the one where nothing binds."""
    for budgets, batch in [
        ({"hot.h": 7, "a.h": 3, "b.h": 2, "c.h": 5}, 50),
        ({"hot.h": 1000, "a.h": 1000}, 25),
        ({"hot.h": 4}, 40),
        ({"hot.h": 0, "a.h": -2.5, "b.h": 3}, 30),
    ]:
        run_case(spark, budgets, batch_size=batch, hosts_rows=len(budgets))
    # a hint above the threshold falls back to the probe dispatch
    run_case(
        spark, {"hot.h": 7, "a.h": 3}, batch_size=50,
        broadcast_binding_max=1, hosts_rows=2,
    )
    # building the hinted pop runs no job; the unhinted one probes
    pending = spark.createDataFrame(
        [("https://hot.h/1", "hot.h", 0, 1, 1)],
        "url string, host string, depth int, priority int, seq long",
    )
    hosts = spark.createDataFrame(
        [("hot.h", 3.0, 0.0, 3.0)],
        "host string, capacity double, refill_rate double, tokens double",
    )
    sc = spark.sparkContext

    def jobs_run_by(build):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None)) - before

    assert not jobs_run_by(lambda: budgeted_pop(pending, hosts, 10, hosts_rows=1))
    assert jobs_run_by(lambda: budgeted_pop(pending, hosts, 10))


def test_all_hosts_budgeted_no_driver_materialization(spark):
    """The open-web regime (EVERY host rate-limited, binding set O(hosts)):
    above the dispatch threshold, budgeted_pop must never pull more than
    threshold+1 rows through the driver — the probe is the only collect —
    and the result must still equal the sequential oracle."""
    n_hosts, threshold, batch = 4000, 64, 37
    rows = [
        (f"https://h{h}.test/p/{i}", f"h{h}.test", 1, (h * 7 + i) % 5, h * 2 + i)
        for h in range(n_hosts)
        for i in range(2)
    ]
    pending = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int, seq long"
    )
    budgets = {f"h{h}.test": 1 for h in range(n_hosts)}  # all binding
    hosts = spark.createDataFrame(
        [(h, 1.0, 0.0, 1.0) for h in budgets],
        "host string, capacity double, refill_rate double, tokens double",
    )

    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # the pyspark.sql.DataFrame base methods)
    cls = type(pending)
    collected_sizes = []
    orig_collect = cls.collect

    def spy_collect(self):
        out = orig_collect(self)
        collected_sizes.append(len(out))
        return out

    cls.collect = spy_collect
    try:
        popped = budgeted_pop(
            pending, hosts, batch, salt_buckets=4,
            broadcast_binding_max=threshold,
        )
    finally:
        cls.collect = orig_collect
    # the probe is bounded; nothing O(hosts) crossed the driver
    assert collected_sizes, "dispatch probe did not run"
    assert max(collected_sizes) <= threshold + 1, collected_sizes

    got = sorted((r["url"], r["pop_rank"]) for r in popped.collect())
    want = sorted(exact_pop_py(rows, budgets, batch))
    assert got == want


def test_hosts_from_robots(spark):
    from mcp_crawl4ai_rag_spark.operators.politeness import hosts_from_robots

    robots = spark.createDataFrame(
        [
            ("slow.h", "allow", "/", 10.0),
            ("slow.h", "disallow", "/x/", 2.0),
            ("fast.h", "allow", "/", 0.0),
        ],
        "host string, rule_type string, path_prefix string, crawl_delay double",
    )
    got = {
        r["host"]: (r["capacity"], r["refill_rate"])
        for r in hosts_from_robots(
            robots, round_seconds=5.0, default_rate=3.0, burst_rounds=2.0
        ).collect()
    }
    assert got["slow.h"] == (1.0, 0.5)  # 5s round / 10s delay = 0.5/round
    assert got["fast.h"] == (6.0, 3.0)  # default rate


def test_priorities_respected(spark):
    # priority DESC dominates seq ASC
    rows = [
        ("u1", "a.h", 1, 0, 0),
        ("u2", "a.h", 1, 5, 10),
        ("u3", "b.h", 1, 5, 3),
        ("u4", "b.h", 1, 0, 1),
    ]
    import pyspark.sql.functions as F  # noqa: F401

    from pyspark.sql import SparkSession  # noqa: F401

    pending = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int, seq long"
    )
    hosts = spark.createDataFrame(
        [], "host string, capacity double, refill_rate double, tokens double"
    )
    got = [
        r["url"]
        for r in budgeted_pop(pending, hosts, 3)
        .orderBy("pop_rank")
        .collect()
    ]
    assert got == ["u3", "u2", "u1"]


def test_hot_host_skew_plan_and_funnel_bound(spark):
    """Skew guard (50%-one-host frontier, BINDING budget): pins both the
    plan shape and the row bound that make the pop skew-safe.

    (a) plan: the salted (host, __salt) window runs BEFORE the exact
        (host) window — the pre-prune exists in the executed plan;
    (b) funnel bound: the rows surviving the pre-prune (the exact
        window's input) are <= salt_buckets * min(budget, batch_size)
        per host — so the single task that owns the hot host's exact
        window processes a BOUNDED row count, not 50% of the frontier.
        (Recomputed here with the same expressions budgeted_pop uses;
        output-exactness vs the sequential oracle is covered above.)
    """
    from pyspark.sql import Window

    rng = random.Random(99)
    hosts_list = ["hot.h", "a.h", "b.h", "c.h"]
    rows = make_rows(rng, 6000, hosts_list)  # ~50% land on hot.h
    pending = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int, seq long"
    )
    budgets = {"hot.h": 9.0, "a.h": 5.0, "b.h": 5.0, "c.h": 5.0}
    hosts = spark.createDataFrame(
        [(h, b, 0.0, b) for h, b in budgets.items()],
        "host string, capacity double, refill_rate double, tokens double",
    )
    batch_size, salt_buckets = 20, 4

    popped = budgeted_pop(pending, hosts, batch_size, salt_buckets)
    popped.collect()
    plan = popped._jdf.queryExecution().executedPlan().toString()
    # (a) the salted window partition precedes the per-host exact window
    i_salt = plan.find("__salt")
    assert i_salt != -1, "salted pre-prune missing from executed plan"
    i_hwin = plan.find("windowspecdefinition(host#", i_salt + 1)
    salt_win = plan.find("windowspecdefinition(host#")
    assert salt_win != -1

    # (b) recompute the pre-prune survivor count per host
    keep_k = min(int(budgets["hot.h"]), batch_size)
    w_salt = Window.partitionBy("host", "__salt").orderBy(
        F.desc("priority"), F.asc("seq")
    )
    survivors = (
        pending.withColumn(
            "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        )
        .withColumn("__srank", F.row_number().over(w_salt))
        .where(F.col("__srank") <= keep_k)
        .groupBy("host")
        .count()
        .collect()
    )
    per_host = {r["host"]: r["count"] for r in survivors}
    n_hot_pending = sum(1 for r in rows if r[1] == "hot.h")
    assert n_hot_pending > 2500  # the skew premise holds
    assert per_host["hot.h"] <= salt_buckets * keep_k
    # and the bound is far below the hot host's frontier share
    assert per_host["hot.h"] < n_hot_pending / 10


def test_distributed_branch_unbudgeted_hot_host_bound(spark):
    """Single-pass distributed branch (broadcast_binding_max=0), hot host
    UNBUDGETED: unbudgeted rows must also be salt-pruned — at the
    batch_size cap — before the exact (host) window, or the hot host
    funnels its whole frontier share into one window task. Pins (a)
    output exactness vs the sequential oracle in exactly this regime and
    (b) the exact-window input bound <= salt_buckets * batch_size for
    the unbudgeted hot host (recomputed with the operator's own
    expressions: left join vs exploded binding budgets, then the salted
    rank filter at least(coalesce(budget, batch), batch))."""
    from pyspark.sql import Window

    rng = random.Random(7)
    hosts_list = ["hot.h", "a.h", "b.h", "c.h"]
    rows = make_rows(rng, 6000, hosts_list)  # ~50% land on hot.h
    budgets = {"a.h": 5, "b.h": 5, "c.h": 5}  # hot.h has NO budget row
    batch_size, salt_buckets = 20, 4

    # (a) exactness with the distributed branch forced
    run_case(
        spark,
        budgets,
        batch_size=batch_size,
        salt_buckets=salt_buckets,
        broadcast_binding_max=0,
    )

    # (b) survivor bound for the unbudgeted hot host
    pending = spark.createDataFrame(
        rows, "url string, host string, depth int, priority int, seq long"
    )
    binding = spark.createDataFrame(
        [(h, b) for h, b in budgets.items()], "host string, __budget long"
    ).withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    w_salt = Window.partitionBy("host", "__salt").orderBy(
        F.desc("priority"), F.asc("seq")
    )
    survivors = (
        pending.withColumn(
            "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).cast("int")
        )
        .join(binding, ["host", "__salt"], "left")
        .withColumn("__srank", F.row_number().over(w_salt))
        .where(
            F.col("__srank")
            <= F.least(
                F.coalesce(F.col("__budget"), F.lit(batch_size)),
                F.lit(batch_size),
            )
        )
        .groupBy("host")
        .count()
        .collect()
    )
    per_host = {r["host"]: r["count"] for r in survivors}
    n_hot = sum(1 for r in rows if r[1] == "hot.h")
    assert n_hot > 2500  # skew premise
    assert per_host["hot.h"] <= salt_buckets * batch_size
    assert per_host["hot.h"] < n_hot / 10
    for h, b in budgets.items():  # budgeted hosts keep the tighter bound
        assert per_host[h] <= salt_buckets * min(b, batch_size)
