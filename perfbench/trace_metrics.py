"""Per-layer metrics of a traced run, named by module, from the reduced
event log. Every value is per timed pass; a layer a workload does not
reach reads 0 (README "Which metric moves what" gives the predictions).
"""

from __future__ import annotations

from workloads import EXTRACT_CALL, LEAVES, RELAUNCH_CALL

CORE_KINDS = ("html", "pdf", "pdf_scan", "txt", "md", "json")


def names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [
        ("session.start_s", "s"),
        ("sources.scan_s", "s"), ("sources.scan_mb", "MB"),
        ("partitioning.shuffle_mb", "MB"),
        ("partitioning.shuffle_write_s", "s"),
        ("partitioning.task_skew", "ratio"),
        ("extract.wall_s", "s"), ("extract.py_start_s", "s"),
        ("extract.py_init_s", "s"), ("extract.py_run_s", "s"),
        ("extract.tasks", "count"),
        ("extract.arrow_in_mb", "MB"), ("extract.arrow_out_mb", "MB"),
        ("core.parse_s", "s"),
        *((f"core.{k}_s", "s") for k in CORE_KINDS),
        ("core.chunks", "count"),
        ("manifest.write_s", "s"), ("manifest.build_s", "s"),
        ("manifest.resume_s", "s"),
        ("driver.jobs", "count"), ("driver.idle_s", "s"),
        ("relaunch.wall_s", "s"), ("relaunch.jobs", "count"),
        ("relaunch.idle_s", "s"), ("relaunch.py_run_s", "s"),
    ]
    for leaf in LEAVES:
        out += [(f"{leaf}.wall_s", "s"), (f"{leaf}.jobs", "count"),
                (f"{leaf}.idle_s", "s")]
    out += [
        ("udf.py_init_s", "s"), ("udf.py_run_s", "s"), ("udf.arrow_mb", "MB"),
        ("jvm.gc_s", "s"),
        ("sink.out_mb", "MB"),
        ("wall.pass_s", "s"), ("wall.setup_s", "s"),
    ]
    return out


def _manifest_phases(executions: list[dict]) -> tuple[float, float, float]:
    """Split run_extraction_job's SQL executions (in id order) into the
    resume phase (before the chunk write, plus the write's broadcast of
    the count-verified done set), the chunk write, and the build phase
    (the partition-id collect, the read-back and the manifest append)."""
    resume = write = build = 0.0
    phase = "resume"
    for ex in executions:
        insert = "InsertIntoHadoopFsRelationCommand" in ex["plan"]
        if insert and "/manifest" not in ex["plan"]:
            write += ex["busy_ms"]
            resume += ex["broadcast_ms"]
            phase = "build"
        elif phase == "build":
            build += ex["busy_ms"]
            if insert:
                phase = "resume"
        else:
            resume += ex["busy_ms"]
    return resume, write, build


def per_layer(workload: str, reduced: dict, passes: int, session_s: float,
              gc_ms: float, core: dict | None, pass_s: float,
              setup_s: float, out_mb: float) -> dict:
    v = {name: 0.0 for name, _u in names()}
    v["session.start_s"] = session_s
    v["jvm.gc_s"] = gc_ms / 1000.0 / passes
    v["wall.pass_s"] = pass_s
    v["wall.setup_s"] = setup_s
    v["sink.out_mb"] = out_mb
    recs = {lab.split(":", 1)[1]: rec for lab, rec in reduced.items()
            if lab.startswith(workload + ":")}
    for rec in recs.values():
        v["sources.scan_s"] += rec["scan_ms"] / 1e3
        v["sources.scan_mb"] += rec["input_bytes"] / 1e6
        v["partitioning.shuffle_mb"] += rec["shuffle_bytes"] / 1e6
        v["partitioning.shuffle_write_s"] += rec["shuffle_write_ns"] / 1e9
        v["driver.jobs"] += rec["jobs"]
        v["driver.idle_s"] += rec["idle_ms"] / 1e3
    skews = [rec["skew"] for call, rec in recs.items()
             if call != RELAUNCH_CALL]
    v["partitioning.task_skew"] = max(skews, default=0.0)
    ext = recs.get(EXTRACT_CALL)
    if ext is not None:
        v["extract.wall_s"] = ext["wall_ms"] / 1e3
        v["extract.py_start_s"] = ext["py_start_ms"] / 1e3
        v["extract.py_init_s"] = ext["py_init_ms"] / 1e3
        v["extract.py_run_s"] = ext["py_run_ms"] / 1e3
        v["extract.tasks"] = ext["py_tasks"]
        v["extract.arrow_in_mb"] = ext["arrow_in_bytes"] / 1e6
        v["extract.arrow_out_mb"] = ext["arrow_out_bytes"] / 1e6
        _resume, write, build = _manifest_phases(ext["executions"])
        v["manifest.write_s"] = write / 1e3
        v["manifest.build_s"] = build / 1e3
    rel = recs.get(RELAUNCH_CALL)
    if rel is not None:
        v["manifest.resume_s"] = _manifest_phases(rel["executions"])[0] / 1e3
        v["relaunch.wall_s"] = rel["wall_ms"] / 1e3
        v["relaunch.jobs"] = rel["jobs"]
        v["relaunch.idle_s"] = rel["idle_ms"] / 1e3
        v["relaunch.py_run_s"] = rel["py_run_ms"] / 1e3
    for leaf in LEAVES:
        rec = recs.get(leaf)
        if rec is None:
            continue
        v[f"{leaf}.wall_s"] = rec["wall_ms"] / 1e3
        v[f"{leaf}.jobs"] = rec["jobs"]
        v[f"{leaf}.idle_s"] = rec["idle_ms"] / 1e3
        v["udf.py_init_s"] += rec["py_init_ms"] / 1e3
        v["udf.py_run_s"] += rec["py_run_ms"] / 1e3
        v["udf.arrow_mb"] += (rec["arrow_in_bytes"]
                              + rec["arrow_out_bytes"]) / 1e6
    per_pass = {"session.start_s", "jvm.gc_s", "wall.pass_s", "wall.setup_s",
                "sink.out_mb", "partitioning.task_skew"}
    for name in v:
        if name not in per_pass and not name.startswith("core."):
            v[name] /= passes
    if core is not None:
        for k in CORE_KINDS:
            v[f"core.{k}_s"] = core[k]
        v["core.parse_s"] = sum(core[k] for k in CORE_KINDS)
        v["core.chunks"] = core["chunks"]
    units = dict(names())
    return {name: {"value": val, "unit": units[name]}
            for name, val in v.items()}
