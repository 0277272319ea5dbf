"""Time crawl rounds of either regime on a large pending frontier.

    python scripts/frontier_scale.py N driver|spark [ROUNDS]

The corpus is generate_web(seed=3, n_hosts=24, n_pages=3000). The
frontier is seeded with the corpus urls at priority 1 plus N-3000 filler
urls on the same hosts (not in the corpus) at priority 0, so every popped
page is a real corpus page while pending holds about N rows. The hot host
refills 32 tokens a round, batch 128, compact_every 8 (crawl_loop's
shape). ``driver`` lifts crawl.DRIVER_FRONTIER_MAX_URLS above N (the
default probe_broadcast_threshold, 1M, still caps the regime); ``spark``
sets it to 0. Prints one JSON line per round (wall seconds, Spark jobs,
phases, the driver copy's MB and the processes' RSS) and a summary whose
``steady_median_s`` is the median of rounds 2-7 and whose
``compact_median_s`` / ``compact_jobs`` are the median wall seconds and
the Spark jobs of the compaction rounds (every 8th; run 9 rounds or more
to see one).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from mcp_crawl4ai_rag_spark.operators import crawl as crawl_mod  # noqa: E402
from mcp_crawl4ai_rag_spark.operators.crawl import CrawlEngine  # noqa: E402
from mcp_crawl4ai_rag_spark.session import get_spark  # noqa: E402
from mcp_crawl4ai_rag_spark.sources.synthetic_web import generate_web  # noqa: E402


def status_mb(pid: int, field: str) -> int:
    """VmRSS / VmHWM of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field):
                return int(line.split()[1]) // 1024
    return 0


def main() -> None:
    n, regime = int(sys.argv[1]), sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    crawl_mod.DRIVER_FRONTIER_MAX_URLS = 10 * n if regime == "driver" else 0
    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "2g",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    web = generate_web(seed=3, n_hosts=24, n_pages=3000)
    hosts = [h for h, _, _ in web.hosts]
    hosts_df = spark.createDataFrame(
        [(h, 32.0, 32.0) if h == hosts[0] else (h, 1e9, 1e9) for h in hosts],
        "host string, capacity double, refill_rate double",
    )
    corpus = web.corpus_df(spark).cache()
    corpus.count()
    workdir = tempfile.mkdtemp(prefix="frontier-scale-")
    eng = CrawlEngine(spark, corpus, web.robots_df(spark), hosts_df, workdir,
                      batch_size=128, max_attempts=3, compact_every=8)
    real = spark.createDataFrame(
        [(u, 1, i) for i, u in enumerate(web.corpus)],
        "raw_url string, priority int, seed_idx long",
    )
    host_of = F.element_at(F.array(*map(F.lit, hosts)), (F.col("id") % len(hosts) + 1).cast("int"))
    filler = spark.range(n - len(web.corpus)).select(
        F.concat(F.lit("https://"), host_of, F.lit("/documentation/filler/"),
                 F.col("id").cast("string")).alias("raw_url"),
        F.lit(0).alias("priority"),
        (F.col("id") + len(web.corpus)).alias("seed_idx"),
    )
    seeded = eng.seed_df(real.unionByName(filler))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    walls, compacts = [], []
    for _ in range(rounds):
        bus.waitUntilEmpty(10_000)
        j0 = max(sc.statusTracker().getJobIdsForGroup(None) or [-1])
        t = time.perf_counter()
        m = eng.round()
        walls.append(time.perf_counter() - t)
        bus.waitUntilEmpty(10_000)
        fr = eng._frontier
        jobs = max(sc.statusTracker().getJobIdsForGroup(None)) - j0
        if m["round"] % eng.compact_every == 0:
            compacts.append((walls[-1], jobs))
        print(json.dumps({
            "round": m["round"], "popped": m["popped"], "wall_s": round(walls[-1], 3),
            "jobs": jobs,
            "phases": {k: round(v, 3) for k, v in m.get("phases", {}).items()},
            "copy_mb": None if fr is None else round(fr.nbytes / 1e6, 1),
            "py_rss_mb": status_mb(os.getpid(), "VmRSS"),
            "jvm_rss_mb": status_mb(jvm_pid, "VmRSS"),
        }), flush=True)
    print(json.dumps({
        "n": n, "regime": regime, "seeded": seeded, "seq_counter": eng.seq_counter,
        "steady_median_s": round(statistics.median(walls[1:7]), 3),
        "compact_median_s": (
            round(statistics.median(w for w, _ in compacts), 3) if compacts else None
        ),
        "compact_jobs": [j for _, j in compacts],
        "py_hwm_mb": status_mb(os.getpid(), "VmHWM"),
        "jvm_hwm_mb": status_mb(jvm_pid, "VmHWM"),
    }), flush=True)
    spark.stop()
    shutil.rmtree(workdir)


if __name__ == "__main__":
    main()
