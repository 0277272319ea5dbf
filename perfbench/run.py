"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for ``--seconds`` seconds, checks every operation's output and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` the per-layer
metrics (spans are written to ``.perfbench_out/``). Lines starting with
``#`` describe the environment and the run.

All files the run writes stay inside the checkout; the Spark JVM and its
Python workers are stopped before the run exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests; a high value
    means the timings of this run were disturbed from outside."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def gib(size: str) -> float:
    units = {"k": 2**-20, "m": 2**-10, "g": 1.0, "t": 2**10}
    return float(size[:-1]) * units[size[-1].lower()]


def check_environment(env: dict) -> int:
    """The pinned environment must fit this machine; returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    if env["cores"] > nproc:
        fail(f"pinned local[{env['cores']}] needs {env['cores']} cores, nproc={nproc}")
    if gib(env["driver_memory"]) > min(env["max_machine_gib"], mem_total_gib()) / 2:
        fail(f"driver memory {env['driver_memory']} does not fit this machine")
    return nproc


def start_session(env: dict, work: str):
    """Spark session pinned to config.json's environment; everything it
    writes goes under ``work``."""
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(work, "spark.log")
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')} "
        f"-Dperfbench.log={log_path}"
    )
    from mcp_crawl4ai_rag_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{env['cores']}]",
        shuffle_partitions=env["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": env["driver_memory"],
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()
    return spark, log_path


def check_pins(spark, env: dict) -> None:
    """The running session must carry every pinned setting."""
    conf = spark.sparkContext.getConf()
    pinned = {
        "spark.master": f"local[{env['cores']}]",
        "spark.driver.memory": env["driver_memory"],
        "spark.sql.shuffle.partitions": str(env["shuffle_partitions"]),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    for key, want in pinned.items():
        got = spark.conf.get(key) if key.startswith("spark.sql") else conf.get(key)
        if got != want:
            fail(f"environment pin {key}={want} not applied (got {got})")


def stop_session(spark) -> None:
    """Stop Spark, the JVM and every worker process, waiting for each."""
    from pyspark import SparkContext

    from tracing import process_tree

    tree = process_tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 30
    while any(alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mcp_crawl4ai_rag_spark", "__init__.py")):
        fail(f"no mcp_crawl4ai_rag_spark package under {ROOT}: run from a checkout")
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)

    import mcp_crawl4ai_rag_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(mcp_crawl4ai_rag_spark.__file__))) != ROOT:
        fail("mcp_crawl4ai_rag_spark is not imported from this checkout")
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    env = config["environment"]
    nproc = check_environment(env)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    # the peak covers set-up and the timed window only: the checkers'
    # collects would otherwise count towards the engine's memory
    rss = RssSampler().start()
    try:
        t0 = time.perf_counter()
        spark, log_path = start_session(env, work)
        session_s = time.perf_counter() - t0
        check_pins(spark, env)
        jvm = spark._jvm
        print(
            f"# nproc={nproc} mem_gib={mem_total_gib():.1f} spark={spark.version} "
            f"java={jvm.System.getProperty('java.version')} "
            f"master={spark.sparkContext.master} driver_memory={env['driver_memory']} "
            f"shuffle_partitions={env['shuffle_partitions']} "
            f"SPARK_LOCAL_DIRS={os.path.relpath(os.environ['SPARK_LOCAL_DIRS'], ROOT)}",
            flush=True,
        )
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](
            spark, args.seed, os.path.join(work, "data"), tracer,
            config["sizes"][args.workload], log_path,
        )
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        prep = []
        for _ in range(env["setup_reps"]):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + statistics.median(prep) + warm_s

        t, cpu0 = time.perf_counter(), cpu_times()
        wl.measure(args.seconds)
        window_s, steal = time.perf_counter() - t, steal_share(cpu0, cpu_times())
        peak_rss_mb = rss.stop() / 2**20
        wl.check()
        if args.trace:
            tracer.attach_spark_stats()
            layers = wl.layers()
            layers["session.start_s"] = session_s
            layers["process.peak_rss_mb"] = peak_rss_mb
            layers["trace.overhead_s"] = wl.overhead_s()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            spans_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            tracer.write(spans_path, {"workload": args.workload, "seed": args.seed,
                                      "window_s": window_s})
        e2e = wl.e2e()
        e2e["setup_s"] = setup_s
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass

    attempted, failed = wl.attempted(), wl.failed()
    if attempted == 0:
        attempted = failed = 1
    print(f"# window_s={window_s:.2f} cpu_steal={steal:.1%} ops={attempted} failed={failed} "
          f"setup: session={session_s:.2f} gen={gen_s:.2f} "
          f"prepare={','.join(f'{p:.2f}' for p in prep)} warmup={warm_s:.2f}")
    if args.trace:
        specs = bench["per_layer"]
        values = layers
        print(f"# spans written to {os.path.relpath(spans_path, ROOT)}; "
              f"tracing overhead {layers['trace.overhead_s']:.3f} s")
    else:
        specs = bench["end_to_end"]
        values = e2e
    metrics = {}
    for spec in specs:
        v = float(values.get(spec["name"], 0.0))
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        print(f"# {spec['name']} = {v:.6g} {spec['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
