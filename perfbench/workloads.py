"""The two workloads. Each starts its session, then runs whole timed passes
until the run's seconds are spent, then checks its outputs. The first pass
runs cold, as a spark-submit run of the job does (README "Cold passes").

Every call into the program goes through ``Run.call``, which labels the
Spark jobs it starts (``setJobDescription("<workload>:<call>")``) and
records the call's span for the event-log reducer of a traced run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import checks
import ledger

# 128 docs per partition, the density of bench.py's extract leaf
NUM_PARTITIONS = 4
TEMPLATE_CFG = {"ocr_backend": "fake"}
# partitions [0, RESUME_DONE) are manifested before each relaunch
RESUME_DONE = 3
EXTRACT_CALL = "run_extraction_job"
RELAUNCH_CALL = "relaunch"
CHECK_SAMPLE_EVERY = 16
# dup_clusters, doc_dsir and doc_quality_clf are left out to keep a cold
# corpus_ops run inside the benchmark's run budget (see README.md)
LEAVES = ("emb_ivf_pq_topk", "doc_char_lm", "doc_curation", "doc_exact_dedup",
          "doc_token_stats")


class Run:
    """State shared by one benchmark run: session, work dir, spans."""

    def __init__(self, spark, workload: str, work: str):
        self.spark = spark
        self.workload = workload
        self.work = work
        self.spans: list[dict] = []
        # CPU seconds of the process tree spent inside the timed calls of
        # the pass under way
        self.pass_cpu = 0.0

    @contextlib.contextmanager
    def call(self, name: str, timed: bool = True):
        label = f"{self.workload}:{name}" if timed else \
            f"{self.workload}:untimed:{name}"
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        start = ledger.now_ms()
        cpu0 = ledger.tree_cpu_s()
        try:
            yield label
        finally:
            if timed:
                self.pass_cpu += ledger.tree_cpu_s() - cpu0
            self.spans.append({"label": label, "start_ms": start,
                               "end_ms": ledger.now_ms()})
            sc.setJobDescription(None)

    def timed_passes(self, seconds: float, one_pass) -> dict:
        """Run whole passes until ``seconds`` of wall time are spent;
        return their walls and the CPU seconds of their timed calls."""
        walls: list[float] = []
        cpus: list[float] = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < seconds:
            self.pass_cpu = 0.0
            walls.append(one_pass(len(walls)))
            cpus.append(self.pass_cpu)
        return {"walls": walls, "cpus": cpus}


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _page_rows(pages_path: str) -> list[dict]:
    import pyarrow.parquet as pq

    from ragflow_spark.sources.pages import is_scanned_pdf

    rows = pq.read_table(pages_path).to_pylist()
    for r in rows:
        r["doc_id"] = int(r["url"].rsplit("/", 1)[1])
        r["scanned"] = is_scanned_pdf(r["doc_id"], "web")
    return rows


def extract_job(run: Run, pages_path: str, seconds: float) -> dict:
    """One round = a single-shot job over the pages into a fresh chunk
    table and manifest, then a relaunch of a job killed after manifesting
    partitions [0, RESUME_DONE). The killed state (those partitions of the
    single-shot output plus the manifest the job writes for them) is built
    and restored untimed before the relaunch."""
    from ragflow_spark.operators.extract import run_extraction_job
    from ragflow_spark.plans.manifest import write_manifest

    spark = run.spark
    pages = spark.read.parquet(pages_path)
    n_docs = _rows(pages_path)
    single = os.path.join(run.work, "single")
    state = os.path.join(run.work, "state")
    live = os.path.join(run.work, "live")
    done_dirs = [f"partition_id={p}" for p in range(RESUME_DONE)]

    def job(base, name, timed=True, attempt=1) -> float:
        t0 = time.perf_counter()
        with run.call(name, timed):
            run_extraction_job(pages, os.path.join(base, "chunks"),
                               os.path.join(base, "manifest"),
                               num_partitions=NUM_PARTITIONS, attempt=attempt,
                               template_cfg=TEMPLATE_CFG)
        return time.perf_counter() - t0

    def killed_state() -> dict:
        for path in (state, live):
            shutil.rmtree(path, ignore_errors=True)
        for d in done_dirs:
            shutil.copytree(os.path.join(single, "chunks", d),
                            os.path.join(state, "chunks", d))
        with run.call("write_manifest", timed=False):
            write_manifest(spark.read.parquet(os.path.join(state, "chunks")),
                           os.path.join(state, "manifest"), attempt=1,
                           num_partitions=NUM_PARTITIONS)
        shutil.copytree(state, live)
        return checks.tree_listing(live)

    setup_done = time.perf_counter()
    out_bytes: list[int] = []
    problems: list[str] = []
    failed = 0

    def relaunch_checks(before: dict, after: dict) -> None:
        rewritten = [rel for rel, meta in before.items()
                     if rel.split(os.sep)[1:2] and
                     rel.split(os.sep)[1] in done_dirs and
                     after.get(rel) != meta]
        if rewritten:
            problems.append(f"{len(rewritten)} done-partition files rewritten")
        m = checks.read_table(os.path.join(live, "manifest"),
                              ["partition_id", "attempt"])
        pids = m.column("partition_id").to_pylist()
        if set(pids) != set(range(NUM_PARTITIONS)):
            problems.append(f"manifested partitions {sorted(set(pids))}")
        second = {p for p, a in zip(pids, m.column("attempt").to_pylist())
                  if a == 2}
        if second != set(range(RESUME_DONE, NUM_PARTITIONS)):
            problems.append(f"relaunch manifested {sorted(second)}")

    def one_round(_i: int) -> float:
        nonlocal failed
        shutil.rmtree(single, ignore_errors=True)
        wall = job(single, EXTRACT_CALL)
        failed += checks.error_rows(os.path.join(single, "chunks"))
        written = checks.tree_bytes(single)

        before = killed_state()
        wall += job(live, RELAUNCH_CALL, attempt=2)
        after = checks.tree_listing(live)
        written += sum(size for rel, (size, _m) in after.items()
                       if before.get(rel) != after[rel])
        out_bytes.append(written)
        relaunch_checks(before, after)
        if (checks.chunk_digest(os.path.join(live, "chunks"))
                != checks.chunk_digest(os.path.join(single, "chunks"))):
            failed += 1
        return wall

    passes = run.timed_passes(seconds, one_round)
    problems += checks.check_extract_output(
        os.path.join(single, "chunks"), os.path.join(single, "manifest"),
        _page_rows(pages_path), NUM_PARTITIONS, CHECK_SAMPLE_EVERY,
        TEMPLATE_CFG)
    rounds = len(passes["walls"])
    return {
        **passes, "setup_done": setup_done,
        # per round: the single-shot job's docs, and the relaunch
        "attempted": (n_docs + 1) * rounds, "failed": failed,
        "problems": sorted(set(problems)),
        "out_bytes": statistics.median(out_bytes),
    }


def corpus_ops(run: Run, sf_dir: str, seconds: float, cache: str) -> dict:
    """One pass = every leaf built through ``__spark_entry__.queries()`` and
    collected with ``toPandas()``; the last pass's results are checked
    against the DuckDB oracles."""
    import __spark_entry__ as entry
    from ragflow_spark.operators.dedup import release

    spark = run.spark
    qs = entry.queries()
    results: dict = {}
    setup_done = time.perf_counter()

    def one_pass(_i: int) -> float:
        t0 = time.perf_counter()
        for leaf in LEAVES:
            with run.call(leaf):
                df = qs[leaf](spark, sf_dir)
                results[leaf] = df.toPandas()
                release(df)
        return time.perf_counter() - t0

    passes = run.timed_passes(seconds, one_pass)
    failing = checks.oracle_mismatches(results, entry.oracle_sql(), sf_dir,
                                       cache)
    n = len(passes["walls"])
    return {
        **passes, "setup_done": setup_done,
        "attempted": len(LEAVES) * n, "failed": len(failing) * n,
        "problems": [f"{leaf} differs from its DuckDB oracle"
                     for leaf in sorted(failing)],
        "failing": failing,
        "out_bytes": sum(int(pdf.memory_usage(deep=True).sum())
                         for pdf in results.values()),
    }


def core_times(pages_path: str) -> dict:
    """In-process parse of the same pages with ``run_template``, outside
    Spark, one pass; seconds per format and chunk count."""
    from ragflow_spark.core.templates import run_template

    out = {k: 0.0 for k in ("html", "pdf", "pdf_scan", "txt", "md", "json")}
    n_chunks = 0
    for r in _page_rows(pages_path):
        kind = "pdf_scan" if r["scanned"] else r["fmt"]
        t0 = time.perf_counter()
        chunks = run_template(r["parser"], r["html"], r["fmt"], r["lang"],
                              cfg=dict(TEMPLATE_CFG))
        out[kind] = out.get(kind, 0.0) + time.perf_counter() - t0
        n_chunks += len(chunks)
    out["chunks"] = n_chunks
    return out
