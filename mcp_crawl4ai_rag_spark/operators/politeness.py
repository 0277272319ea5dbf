"""Per-host politeness (token buckets) + robots rules evaluation.

The reference's politeness is architectural — a fixed worker pool
(core.py:86,234-237) and a 5 s per-page delay (apple_stealth_crawler.py:230)
bound per-host request rate because there is exactly one host. The north
rule generalizes this to explicit DataFrame state:

- ``hosts`` table (host, capacity, refill_rate, tokens): refilled each
  round, charged by actual pops; a host's pop budget for a round is
  floor(tokens). Unlimited budget (capacity=∞) degenerates to the
  reference's pure-FIFO behavior.
- robots rules: tiny table broadcast-joined on host; longest
  path-prefix match wins; no matching rule ⇒ allow. The reference's only
  allow-rule is the scope prefix filter (core.py:75,444), which is the
  special case of a single allow rule.

All pure DataFrame ops — the rules join is a broadcast hash join, the
budget is a window rank, nothing leaves the JVM. The crawl engine's driver
regime uses their driver-side twins over Arrow tables (refill_hosts_arrow,
charge_hosts_arrow, budgeted_pop_arrow, robots_evaluator), which give the
same rows.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.frames import local_frame


def with_host_and_path(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host/path extraction for *canonicalized* URLs (lowercased scheme and
    netloc) — no Python.

    One short anchored regex matches the scheme prefix; the host is the
    text up to the next '/', the path everything after the host (the
    semantics of oracle.simulator.robots_allows, line terminators
    included). No scheme prefix ⇒ host and path ""."""
    url = F.col(url_col)
    m = F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://", 0)
    rest = F.substring(url, F.length(m) + F.lit(1), F.lit(1 << 30))
    host = F.when(m == "", F.lit("")).otherwise(F.substring_index(rest, "/", 1))
    path = F.when(m == "", F.lit("")).otherwise(
        F.substring(rest, F.length(host) + F.lit(1), F.lit(1 << 30))
    )
    return df.withColumns({"host": host, "path": path})


def build_robots_rules(robots: DataFrame) -> DataFrame:
    """Collapse the robots rules table to one array per host, with
    wildcard rules pre-translated to ^-anchored regexes — the broadcast
    side of robots_allowed. Build (and cache()) ONCE for a static rules
    table: a long-running crawl re-evaluates robots every round, and the
    tiny groupBy shuffle + regex translation need not repeat."""
    # ^-anchored regex for wildcard rules: escape specials, * -> .*,
    # a trailing $ (escaped to \$ by the first pass) becomes the anchor.
    # U+0085/U+2028/U+2029 survive canonicalization and are line
    # terminators to Java, so the regex is DOTALL ((?s): * matches them)
    # and ends in \z, not $ (which also matches before a final one).
    esc = F.regexp_replace(
        F.col("path_prefix"), r"([.\\+?\[\](){}|^$])", r"\\$1"
    )
    body = F.replace(esc, F.lit("*"), F.lit(".*"))
    anchored = F.when(
        F.col("path_prefix").endswith("$"),
        F.concat(F.lit("(?s)^"), F.regexp_replace(body, r"\\\$$", ""), F.lit(r"\z")),
    ).otherwise(F.concat(F.lit("(?s)^"), body))
    is_re = F.col("path_prefix").contains("*") | F.col("path_prefix").endswith("$")
    return robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix").alias("prefix"),
                F.col("rule_type").alias("rtype"),
                is_re.alias("is_re"),
                anchored.alias("pattern"),
            )
        ).alias("__rules")
    )


def robots_rule_rows(
    rules: DataFrame, max_hosts: int = 64, max_rules: int = 256
) -> list | None:
    """A SMALL prebuilt rules table (build_robots_rules) collected once
    (bounded probe, the budgeted_pop precedent): one (host, rules) row per
    host, each host's rules in evaluation order — prefix length DESC,
    allow first. The first matching rule in that order IS the
    lexicographic max the join fold's array_max picks (longest match
    wins, equal-length conflicts resolve to allow). None when the table
    has more than ``max_hosts`` hosts or ``max_rules`` rules."""
    rows = rules.limit(max_hosts + 1).collect()
    if len(rows) > max_hosts:
        return None
    if sum(len(r["__rules"]) for r in rows) > max_rules:
        return None
    return [
        (
            r["host"],
            sorted(
                r["__rules"], key=lambda x: (-len(x["prefix"]), x["rtype"] != "allow")
            ),
        )
        for r in rows
    ]


def robots_evaluator(rule_rows: list):
    """The robots_rule_rows as a driver-side ``allowed(host, path)``, the
    Python twin of compile_robots_predicate: the first matching rule
    decides; no matching rule, an unknown or null host, or a null path
    allow. A wildcard rule's Java regex ``(?s)^…`` / ``(?s)^…\\z`` is the
    same Python regex with ``re.DOTALL`` and ``\\Z``."""
    by_host = {}
    for host, ordered in rule_rows:
        compiled = []
        for x in ordered:
            if x["is_re"]:
                pat = x["pattern"]
                if x["prefix"].endswith("$"):
                    pat = pat[: -len(r"\z")] + r"\Z"
                probe = re.compile(pat, re.DOTALL).match
                compiled.append((probe, True, x["rtype"] == "allow"))
            else:
                compiled.append((x["prefix"], False, x["rtype"] == "allow"))
        # a host listed twice: the compiled CASE takes its first branch;
        # a null host's branch never matches
        if host is not None:
            by_host.setdefault(host, compiled)

    def allowed(host: str | None, path: str | None) -> bool:
        if path is None:
            return True
        for probe, is_re, verdict in by_host.get(host, ()):
            if (probe(path) is not None) if is_re else path.startswith(probe):
                return verdict
        return True

    return allowed


def compile_robots_predicate(
    rules: "DataFrame | list", max_hosts: int = 64, max_rules: int = 256
) -> "F.Column | None":
    """Compile a SMALL prebuilt rules table — or its robots_rule_rows —
    into a literal keep-predicate.

    When the whole rules table is tiny, collect it once (robots_rule_rows)
    and emit a chained CASE over literal startswith/rlike probes —
    whole-stage codegen, regexes compiled once, and no per-batch broadcast
    join.

    Inlining trap: the predicate reads ``host`` and ``path`` once per
    CASE branch, and Catalyst inlines whatever expressions define those
    columns into every branch. With with_host_and_path's
    regexp_extract/substring tree that made the crawl round's filter
    outgrow Janino's 64 KB method limit: whole-stage codegen fell back
    and the stage ran interpreted, once per round. Feed it columns that
    come out of a UDF (functions.urls.admit_urls) or a join, which cannot
    be inlined. On a WIDE admission batch built with with_host_and_path
    the join+fold path stays competitive (the broadcast join
    materializes host/path once), so robots_allowed only takes this path
    when the caller opts in; the intended user is the crawl round's
    small per-batch frame, where this removes one broadcast join +
    interpreted fold per round.

    Rule semantics replicated exactly: per host, rules ordered by
    (prefix length DESC, allow-first); the first matching rule in that
    order IS the lexicographic max the fold's array_max picks (longest
    match wins, equal-length conflicts resolve to allow); no matching
    rule / unknown host / NULL path ⇒ allow. Returns None when the table
    exceeds the bounds — callers fall back to the join+fold path, which
    is the right shape for a genuinely large rules corpus."""
    rows = (
        rules if isinstance(rules, list)
        else robots_rule_rows(rules, max_hosts, max_rules)
    )
    if rows is None:
        return None
    path = F.col("path")
    host_pred = None
    for host, ordered in rows:
        chain = None
        for x in ordered:
            m = path.rlike(x["pattern"]) if x["is_re"] else path.startswith(x["prefix"])
            verdict = F.lit(x["rtype"] == "allow")
            chain = F.when(m, verdict) if chain is None else chain.when(m, verdict)
        keep = chain.otherwise(F.lit(True)) if chain is not None else F.lit(True)
        cond = F.col("host") == host
        host_pred = (
            F.when(cond, keep) if host_pred is None else host_pred.when(cond, keep)
        )
    return host_pred.otherwise(F.lit(True)) if host_pred is not None else F.lit(True)


def robots_allowed(
    df: DataFrame,
    robots: DataFrame | None = None,
    url_col: str = "url",
    prebuilt_rules: DataFrame | None = None,
    compiled: "F.Column | None" = None,
    try_compile: bool = False,
) -> DataFrame:
    """Keep rows whose URL passes robots evaluation.

    df must carry host/path columns (use with_host_and_path). robots:
    (host, rule_type, path_prefix, crawl_delay) — small → broadcast.
    Pass ``prebuilt_rules`` (build_robots_rules output, ideally cached)
    to skip rebuilding the rules aggregation per call.
    RFC 9309 matching: ``*`` matches any char run, a trailing ``$``
    anchors the rule to the path end; most-specific (longest-pattern)
    match wins; no matching rule ⇒ allow; equal-length conflicts resolve
    to allow (RFC: least restrictive).

    Shuffle-free: rules collapse to one array per host (tiny), broadcast
    hash join, then a per-row array fold picks the longest match — no
    window, no repartition, stays in whole-stage codegen except the
    broadcast build. Wildcard rules are translated to anchored regexes
    ONCE at broadcast-build time; plain prefix rules (the common case)
    keep the cheap ``startswith`` probe.
    """
    rules = prebuilt_rules if prebuilt_rules is not None else build_robots_rules(robots)
    if compiled is None and try_compile:
        compiled = compile_robots_predicate(rules)
    if compiled is not None:
        return df.where(compiled)
    joined = df.join(F.broadcast(rules), "host", "left")
    matches = F.filter(
        F.transform(
            F.col("__rules"),
            lambda r: F.when(
                F.when(r["is_re"], F.regexp_like(F.col("path"), r["pattern"]))
                .otherwise(F.col("path").startswith(r["prefix"])),
                F.struct(
                    F.length(r["prefix"]).alias("len"),
                    (r["rtype"] == "allow").alias("allow"),
                ),
            ),
        ),
        lambda m: m.isNotNull(),
    )
    best = F.array_max(matches)
    return (
        joined.withColumn("__best", best)
        .where(F.col("__rules").isNull() | F.col("__best").isNull() | F.col("__best")["allow"])
        .drop("__rules", "__best")
    )


def init_hosts(hosts: DataFrame) -> DataFrame:
    """(host, capacity, refill_rate) → + tokens(=capacity)."""
    return hosts.withColumn("tokens", F.col("capacity"))


def hosts_from_robots(
    robots: DataFrame,
    round_seconds: float = 1.0,
    default_rate: float = 1.0,
    burst_rounds: float = 1.0,
) -> DataFrame:
    """Derive the token-bucket table from robots crawl_delay rules.

    A host's refill rate is round_seconds / max(crawl_delay) tokens per
    round (one fetch per crawl_delay seconds); hosts without a delay rule
    get ``default_rate``. Capacity = rate x burst_rounds (how much unused
    budget may accumulate). This closes the loop robots → politeness that
    the reference approximates with a fixed per-page sleep
    (apple_stealth_crawler.py:230).
    """
    rates = robots.groupBy("host").agg(
        F.max("crawl_delay").alias("max_delay")
    ).select(
        "host",
        F.when(
            F.col("max_delay") > 0, F.lit(float(round_seconds)) / F.col("max_delay")
        )
        .otherwise(F.lit(float(default_rate)))
        .alias("refill_rate"),
    )
    return rates.select(
        "host",
        (F.col("refill_rate") * F.lit(float(burst_rounds))).alias("capacity"),
        "refill_rate",
    )


def refill_hosts(hosts: DataFrame) -> DataFrame:
    return hosts.withColumn(
        "tokens", F.least(F.col("capacity"), F.col("tokens") + F.col("refill_rate"))
    )


def refill_hosts_arrow(hosts: pa.Table) -> pa.Table:
    """refill_hosts on a driver-side hosts table. Like Spark's ``least``,
    min_element_wise skips a null operand and ranks NaN above numbers."""
    tokens = pc.min_element_wise(
        hosts["capacity"], pc.add(hosts["tokens"], hosts["refill_rate"])
    )
    return hosts.set_column(hosts.schema.get_field_index("tokens"), "tokens", tokens)


def charge_hosts_arrow(hosts: pa.Table, popped: dict) -> pa.Table:
    """charge_hosts on a driver-side hosts table: ``popped`` maps a host
    to its pops; a null host is never charged."""
    charge = pa.array(
        [popped.get(h, 0) if h is not None else 0 for h in hosts["host"].to_pylist()],
        pa.float64(),
    )
    return hosts.set_column(
        hosts.schema.get_field_index("tokens"), "tokens", pc.subtract(hosts["tokens"], charge)
    )


def charge_hosts(hosts: DataFrame, popped_counts: DataFrame) -> DataFrame:
    """popped_counts: (host, popped) — subtract actual pops. popped_counts
    is bounded by the batch, so it is broadcast: the hosts side is never
    shuffled."""
    return (
        hosts.join(F.broadcast(popped_counts), "host", "left")
        .withColumn("tokens", F.col("tokens") - F.coalesce(F.col("popped"), F.lit(0)))
        .drop("popped")
    )


def budgeted_pop(
    pending: DataFrame,
    hosts: DataFrame,
    batch_size: int,
    salt_buckets: int = 16,
    broadcast_binding_max: int = 65536,
    hosts_rows: int | None = None,
) -> DataFrame:
    """W1: the frontier pop. Per-host window rank bounded by the token
    budget, then global (priority DESC, seq ASC) top-``batch_size``.

    Replaces the reference's advisory lock + ``ORDER BY created_at ASC
    LIMIT n FOR UPDATE SKIP LOCKED`` (operations.py:61-83); the window-ranked
    snapshot IS the priority heap. Emits pop_rank (1-based pop order).

    Plan shape (two branches, union into one shuffle-free global top-k):

    - **Non-binding bypass.** For a host with no budget row (no
      politeness limit) — or one whose floor(tokens) >= batch_size, which
      provably cannot constrain the global top-k (see inline proof) —
      the per-host rank filter is an identity. Those rows skip BOTH
      window shuffles and flow straight into the final
      ``orderBy().limit()``, which compiles to TakeOrderedAndProject
      (per-partition heaps over the scan, no exchange). When NO budget
      binds (the common fast path — e.g. every host under its burst
      capacity), the join and union vanish entirely and the pop is a
      single-scan top-k.
    - **Budgeted hosts** (the genuinely rate-limited ones) go through the
      salted pre-prune + exact window: a naive per-host window puts a
      host holding 50% of the frontier into ONE task, so rank first
      within (host, xxhash64(url)%salt_buckets) and keep each bucket's
      top min(budget, batch_size) rows — provably a superset of every row
      the exact pop can emit (any popped row has true host-rank <=
      min(budget, batch_size), and a row's bucket-rank is <= its
      host-rank) — then the exact per-host window runs on <=
      salt_buckets * min(budget, batch_size) rows per host.

    Result is identical to the unpruned single-window pop (verified
    against the sequential oracle in tests/test_crawl_e2e.py and directly
    in tests/test_politeness_pop.py). The bypass is the scaling win when
    most of the frontier belongs to unlimited hosts: those rows never
    shuffle at all.

    **Binding-set cardinality dispatch.** The set of binding budgets is
    small when only a few hosts are rate-limited, but in the open-web
    configuration every host carries a crawl-delay and the set is O(total
    hosts). A single probe job (``limit(broadcast_binding_max + 1)``)
    decides the shape: within the threshold, the classic collect +
    broadcast path (bypass rows shuffle-free); above it, budgets stay
    distributed and the same semantics run as a (host, salt)-keyed
    shuffle join — the budget side exploded by salt bucket so a hot host
    spreads across ``salt_buckets`` join tasks and the join's exchange
    doubles as the salted window's partitioning. No O(hosts) driver
    materialization on either path (tests/test_politeness_pop.py pins
    the bound).

    ``hosts_rows`` — the row count of ``hosts``, when the caller knows it
    without a job (the crawl engine reads it from the snapshot's parquet
    footers). At or below ``broadcast_binding_max`` it bounds the binding
    set, so the probe is skipped and the broadcast path broadcasts the
    binding budgets straight from the plan: one job and one SQL execution
    fewer, identical output (an empty binding set leaves every row on the
    bypass).
    """
    budgets = hosts.select(
        "host", F.floor(F.col("tokens")).cast("long").alias("__budget")
    )
    # Only budgets that can BIND this round matter. A host with
    # floor(tokens) >= batch_size is unconstrained: its host-rank filter
    # (rank <= budget) cannot change the global top-k, because a same-host
    # row with host-rank r > batch_size has >= batch_size better same-host
    # rows ahead of it in the SAME (priority DESC, seq ASC) order the
    # global top-k uses — it can never be emitted anyway. So such hosts
    # take the bypass, and the windows only ever shuffle rows of
    # genuinely rate-limited hosts.
    #
    # Cardinality dispatch (the binding set is NOT always small: in the
    # open-web configuration every host carries a crawl-delay, so
    # __budget < batch_size holds for ~all hosts and the set is O(total
    # hosts) — 10^7-10^8 rows that must never be materialized on the
    # driver). One probe job fetches at most broadcast_binding_max + 1
    # rows; when the set fits, the classic collect + broadcast fast path
    # costs nothing extra (the broadcast join pulls the budgets through
    # the driver anyway). When it overflows, budgets stay distributed and
    # the identical bypass semantics run as a plain (host)-keyed join:
    # budget row absent => bypass column, present => the same salted
    # pre-prune + exact window on the joined side only.
    # the IS NOT NULL terms change nothing (a null host never joins, a null
    # budget never binds) but are what the optimizer pushes into the
    # budgeted arm's inner join: stating them keeps the broadcast side of
    # both union arms identical, so the arms share one broadcast exchange
    nonnull = F.col("host").isNotNull() & F.col("__budget").isNotNull()
    binding_df = budgets.where((F.col("__budget") < batch_size) & nonnull)
    w_global = Window.orderBy(F.desc("priority"), F.asc("seq"))
    if hosts_rows is not None and hosts_rows <= broadcast_binding_max:
        bud = binding_df
    else:
        probe = binding_df.limit(broadcast_binding_max + 1).collect()
        if not probe:
            # nothing binds: the pop IS the global top-k — one scan, no
            # join, no union; compiles to TakeOrderedAndProject
            # (per-partition heaps)
            return (
                pending.orderBy(F.desc("priority"), F.asc("seq"))
                .limit(batch_size)
                .withColumn("pop_rank", F.row_number().over(w_global))
            )
        bud = (
            local_frame(pending.sparkSession, probe, "host string, __budget long")
            .where(nonnull)
            if len(probe) <= broadcast_binding_max
            else None
        )
    salt_col = F.pmod(F.xxhash64("url"), F.lit(salt_buckets)).cast("int")
    keep_k = F.least(F.col("__budget"), F.lit(batch_size))
    w_salt = Window.partitionBy("host", "__salt").orderBy(
        F.desc("priority"), F.asc("seq")
    )
    w_host = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("seq"))
    if bud is not None:
        # small binding set (bounded by hosts_rows, or the probe returned
        # it whole): broadcast join keeps bypass rows shuffle-free — they
        # skip BOTH windows and flow straight into the
        # TakeOrderedAndProject heap.
        tagged = pending.join(F.broadcast(bud), "host", "left")
        bypass = tagged.where(F.col("__budget").isNull()).drop("__budget")
        pruned = (
            tagged.where(F.col("__budget").isNotNull())
            .withColumn("__salt", salt_col)
            .withColumn("__srank", F.row_number().over(w_salt))
            .where(F.col("__srank") <= keep_k)
            .drop("__salt", "__srank")
        )
        eligible = (
            pruned.withColumn("__hrank", F.row_number().over(w_host))
            .where(F.col("__hrank") <= F.col("__budget"))
            .drop("__budget", "__hrank")
        )
        out = bypass.unionByName(eligible)
    else:
        # binding set exceeds the broadcast threshold (the open-web
        # all-hosts-budgeted regime): never materialize it. Salt the join
        # key itself — budgets explode x salt_buckets (still one small row
        # group per host), pending tags its bucket — so (a) a host holding
        # half the frontier spreads over salt_buckets join tasks instead
        # of one, and (b) the join's hashpartitioning(host, __salt) is
        # exactly the salted window's partitioning: one exchange serves
        # both. SINGLE-PASS shape: instead of a bypass/budgeted union
        # (which makes Spark scan + exchange the whole frontier once per
        # union arm), both windows run over the joined frame and
        # unbudgeted rows pass the rank filters via the isnull(__budget)
        # disjunct — row populations per (host[, salt]) partition are
        # identical because a host is either wholly budgeted or wholly
        # not, so ranks equal the two-branch formulation's exactly
        # (pinned by test_distributed_branch_exactness).
        unb = F.col("__budget").isNull()
        bud_s = binding_df.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        )
        tagged = pending.withColumn("__salt", salt_col).join(
            bud_s, ["host", "__salt"], "left"
        )
        # Unbudgeted rows are pre-pruned too, at the batch_size cap: a
        # row whose salt-bucket rank exceeds batch_size has >= batch_size
        # same-bucket rows ahead of it in the SAME (priority DESC, seq)
        # order the global top-k uses, so it can never be emitted — the
        # identical superset argument as the budgeted keep_k. Without
        # this, a hot UNBUDGETED host would funnel its whole frontier
        # share into one w_host task in this branch (the broadcast
        # branch's bypass rows skip the windows entirely); with it, every
        # host — budgeted or not — reaches w_host with at most
        # salt_buckets * batch_size rows.
        pruned = (
            tagged.withColumn("__srank", F.row_number().over(w_salt))
            .where(
                F.col("__srank")
                <= F.least(
                    F.coalesce(F.col("__budget"), F.lit(batch_size)),
                    F.lit(batch_size),
                )
            )
            .drop("__salt", "__srank")
        )
        out = (
            pruned.withColumn("__hrank", F.row_number().over(w_host))
            .where(unb | (F.col("__hrank") <= F.col("__budget")))
            .drop("__budget", "__hrank")
        )
    return (
        out.orderBy(F.desc("priority"), F.asc("seq"))
        .limit(batch_size)
        .withColumn("pop_rank", F.row_number().over(w_global))
    )


def budgeted_pop_arrow(pending: pa.Table, hosts: pa.Table, batch_size: int) -> np.ndarray:
    """budgeted_pop on driver-side tables: the indices of the popped
    ``pending`` rows, in pop order (pop_rank = position + 1).

    Rows sort by (priority DESC nulls last, seq ASC nulls first), Spark's
    ``desc``/``asc``. A row's budget is floor(tokens) of its host's row in
    ``hosts`` (a NaN floors to 0, as the JVM's double-to-long cast does);
    a row binds when that budget is below ``batch_size`` and keeps its
    place while its rank among its host's rows is within the budget. A
    null host, a host with no row or a null budget never binds. The first
    ``batch_size`` rows that keep their place are popped."""
    n = pending.num_rows
    if n == 0 or batch_size <= 0:
        return np.zeros(0, dtype=np.int64)
    # keys of one np.lexsort: priority is an int, so -2**40 sorts below
    # every value (nulls last once negated); seq nulls go first
    prio = pc.fill_null(pending["priority"].cast(pa.int64()), -(1 << 40)).to_numpy()
    seq = pc.fill_null(
        pending["seq"].cast(pa.int64()), np.iinfo(np.int64).min
    ).to_numpy()
    order = np.lexsort((seq, -prio))
    hidx = pc.index_in(pending["host"], value_set=hosts["host"], skip_nulls=True)
    has = hidx.is_valid().to_numpy(zero_copy_only=False)
    hi = pc.fill_null(hidx, 0).to_numpy()
    tokens = hosts["tokens"].cast(pa.float64())
    t = pc.fill_null(tokens, 0.0).to_numpy(zero_copy_only=False)
    budget = np.where(np.isnan(t), 0.0, np.floor(t))
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    if not len(budget):  # no hosts: nothing binds
        return order[:batch_size]
    binding = (has & valid[hi] & (budget[hi] < batch_size))[order]
    keep = np.ones(n, dtype=bool)
    sel = np.flatnonzero(binding)
    if len(sel):
        # rank of each binding row among its host's rows, in pop order
        codes = hi[order][sel]
        g = np.argsort(codes, kind="stable")
        sc = codes[g]
        starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        sizes = np.diff(np.r_[starts, len(sc)])
        rank = np.empty(len(sel), dtype=np.int64)
        rank[g] = np.arange(len(sc)) - np.repeat(starts, sizes) + 1
        keep[sel] = rank <= budget[codes]
    return order[keep][:batch_size]
