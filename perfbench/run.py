"""Benchmark command for the extraction job, its resume path and the corpus
operators.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 12 --trace 0

Run from the repository root. Drives Spark from this one process at
``local[4]``, times calls into the program's public functions from outside,
checks their outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics from Spark's
event log). Generated inputs, scratch output and traced-run ledgers go to
``.perfbench/`` under the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import os

# Spark pins its Python workers' BLAS / OpenMP pools to the task's cores;
# the in-process parse timing and the workers inherit the same pinning
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CORES = 4
WORKLOADS = ("extract_job", "corpus_ops")


def _start_spark(tmp: str, trace_dir: str | None):
    from ragflow_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=16, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark, mem) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM and
    every Python worker ``mem`` saw to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and mem.alive():
        time.sleep(0.2)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import inputs
    import ledger
    import workloads

    work = os.path.join(STATE, "work", f"{args.workload}_{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    cache = os.path.join(STATE, "inputs")
    os.makedirs(cache, exist_ok=True)

    t_gen = time.perf_counter()
    makeup = None
    if args.workload == "corpus_ops":
        source = inputs.SF_DIR
    else:
        inputs.check_generator()
        source, makeup = inputs.ensure_pages(cache, args.seed)
    gen_s = time.perf_counter() - t_gen
    log(f"inputs ready ({gen_s:.1f}s)")

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(work, "eventlog")
        os.makedirs(trace_dir)
    t0 = time.perf_counter()
    spark = _start_spark(tmp, trace_dir)
    session_s = time.perf_counter() - t0
    log("session started")
    run = workloads.Run(spark, args.workload, work)
    mem = ledger.WorkerMemory()
    mem.start()
    try:
        gc0 = ledger.jvm_gc_ms(spark)
        if args.workload == "corpus_ops":
            res = workloads.corpus_ops(run, source, args.seconds, cache)
        else:
            res = workloads.extract_job(run, source, args.seconds)
        gc_ms = ledger.jvm_gc_ms(spark) - gc0
    finally:
        mem.stop()
        log("stopping spark")
        _stop_spark(spark, mem)

    log(f"spark stopped; passes {[round(w, 2) for w in res['walls']]}")
    walls = res["walls"]
    setup_s = res["setup_done"] - T_START - gen_s
    e2e = {
        "pass_s": _metric(statistics.median(walls), "s"),
        "pass_cpu_s": _metric(statistics.median(res["cpus"]), "s"),
        "worker_rss_mb": _metric(mem.peak_kb / 1024.0, "MB"),
        "setup_s": _metric(setup_s, "s"),
    }
    problems = list(res["problems"])
    if mem.peak_kb == 0:
        problems.append("no PySpark worker process was seen")
    detail = {
        "workload": args.workload, "seed": args.seed, "walls": walls,
        "cpus": res["cpus"], "session_s": session_s, "gen_s": gen_s,
        "problems": problems,
        "oracle_failing": res.get("failing", {}), "inputs": makeup,
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "out_mb": res["out_bytes"] / 1e6,
    }
    metrics = e2e
    if args.trace:
        import trace_metrics

        core = (workloads.core_times(source)
                if args.workload == "extract_job" else None)
        log("core timing done")
        spans = [s for s in run.spans if ":untimed:" not in s["label"]]
        reduced = ledger.reduce_event_log(
            ledger.event_log_files(trace_dir), spans)
        metrics = trace_metrics.per_layer(
            args.workload, reduced, len(walls), session_s, gc_ms, core,
            statistics.median(walls), setup_s, detail["out_mb"])
        log("event log reduced")
        detail["labels"] = {
            k: {kk: vv for kk, vv in v.items() if kk != "executions"}
            for k, v in reduced.items()}
        detail["per_layer"] = {k: v["value"] for k, v in metrics.items()}
        out = os.path.join(STATE, "ledger")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}_s{args.seed}.json"),
                  "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not problems,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
