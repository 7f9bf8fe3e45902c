"""Identity-resolution benchmark: one command, two workloads.

    python3 idbench/run.py --workload live_match|dedup_resolve \
        --seed N --seconds S --trace 0|1 [--corrupt] [--clients N]

Run from the root of a checkout.  Inputs are generated from the seed
into ``.bench_data/`` (once per seed) by a child process, so neither
generation time nor its memory reaches the figures.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_data")
CPUS = 4
DRIVER_MEMORY = "2g"
# set-ups per run; setup_s is their median
SETUPS = 3


def _metric_units() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json at the root of the checkout declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _environment(trace: bool, run_dir: str) -> str | None:
    """Spark settings for this process and the JVM it starts; with
    ``trace`` an uncompressed event log goes to ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def _generate(workload: str, seed: int) -> str:
    """The inputs' directory; a child process writes them on first use."""
    done = os.path.join(STATE, "inputs", workload, f"seed-{seed}")
    if os.path.exists(os.path.join(done, "DONE")):
        return done
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), os.path.join(STATE, "inputs")],
        check=True, capture_output=True, text=True, cwd=HERE,
    )
    return out.stdout.strip().splitlines()[-1]


def _stop_jvm() -> None:
    """End the JVM this process started, and wait for it and for every
    other descendant (Spark's Python workers) to exit."""
    import signal

    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its standard input closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def _end_to_end(name: str, setups: list[float], ops: list[dict], records: int, rss_mb: float) -> dict:
    """Requests are timed by the client; a pass from its build to the
    end of its write.  live_match's throughput counts the identities of
    the requests served over the measured wall time; dedup_resolve's
    counts its input records over the median pass."""
    done = [o for o in ops if o["ok"]]
    lat = [1000.0 * (o["end"] - o["start"]) for o in done]
    if name == "live_match":
        wall = max(o["end"] for o in ops) - min(o["start"] for o in ops)
        records_per_s = records * len(done) / wall
    else:
        records_per_s = records / (statistics.median(lat) / 1000.0) if lat else 0.0
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "records_per_s": records_per_s,
        "peak_rss_mb": rss_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("live_match", "dedup_resolve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help="change one output row; the check must fail")
    ap.add_argument("--clients", type=int, default=None, help="live_match clients (2, or 1 when traced)")
    args = ap.parse_args(argv)
    end_to_end, per_layer = _metric_units()

    sys.path.insert(0, ROOT)
    import backend_spark  # noqa: F401 — fail before generating anything if the program is absent

    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{os.getpid()}")
    log_dir = _environment(bool(args.trace), run_dir)
    data = _generate(args.workload, args.seed)

    import checks
    import workloads
    from spans import EventLog, RssSampler, Tracer, span_layers, spark_layer

    tracer = Tracer(bool(args.trace))
    kw = {}
    if args.workload == "live_match":
        kw["clients"] = args.clients or (1 if args.trace else workloads.LIVE_CLIENTS)
    w = workloads.WORKLOADS[args.workload](data, os.path.join(run_dir, "work"), tracer, args.corrupt, **kw)
    sampler = RssSampler()
    sampler.start()
    setups = []
    try:
        for k in range(SETUPS):
            if k:
                w.teardown()
            t0 = time.perf_counter()
            w.setup()
            setups.append(time.perf_counter() - t0)
        t_measure = time.perf_counter()
        ops = w.measure(args.seconds)
        sampler.pause()
        t_check = time.perf_counter()
        errors = w.check()
        t_done = time.perf_counter()
        app_id = w.spark.sparkContext.applicationId
    finally:
        w.teardown()
        sampler.close()
        _stop_jvm()
    failed = sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"idbench: failed operation: {o['error']}")
    if errors:
        print(f"idbench: {len(errors)} check failures: {checks.summarize(errors)}")
    records = w.records_per_op()
    e2e = _end_to_end(args.workload, setups, ops, records, sampler.peak_mb)
    print(f"idbench: {args.workload} seed={args.seed} ops={len(ops)} failed={failed} "
          f"setups_s={[round(s, 3) for s in setups]} measure_s={t_check - t_measure:.1f} "
          f"check_s={t_done - t_check:.1f} ops_ms={[round(1000 * (o['end'] - o['start'])) for o in ops]} "
          f"peak_mb_by_process={ {k: round(v / 2**20) for k, v in sampler.peak_by_process.items()} } "
          + json.dumps({k: round(v, 3) for k, v in e2e.items()}))
    if args.trace:
        log = EventLog.find(log_dir, app_id)
        ok_ops = [o for o in ops if o["ok"]]
        layer = {k: 0.0 for k in per_layer}
        layer.update(spark_layer(log, ok_ops))
        layer.update(span_layers(tracer, log, ok_ops))
        layer.update(w.layers(log, ok_ops))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
