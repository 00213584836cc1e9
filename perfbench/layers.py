"""Per-layer metrics of a traced run.

Layer names are the engine's module names.  Times and counts are sums
over the timed window divided by its passes (``adhoc_sf0.01``) or script
iterations (``etl_hiveql``, whose window also holds one star rebuild),
so runs with different pass counts compare directly.  The
``session`` metrics come from the set-ups and the warm-up pass.
"""

from __future__ import annotations

import statistics


def install(tracer) -> None:
    """Wrap the public functions that the benchmark does not call
    directly, so each call records a span."""
    import hive_spark.engine as engine
    import hive_spark.hqlscript as hqlscript

    def rewritten(args, out):
        return out != args[1]

    for module in (engine, hqlscript):
        tracer.wrap(module, "rewrite_statement", "hqlscript.rewrite", rewritten)
    tracer.wrap(engine, "spool_ctes", "plans.cte_spool", rewritten)


def _dur(spans) -> float:
    return sum(s["t1"] - s["t0"] for s in spans)


def _covered(spans, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of the spans."""
    total, end = 0.0, t0
    for s in sorted(spans, key=lambda s: s["t0"]):
        a, b = max(s["t0"], end), min(s["t1"], t1)
        if b > a:
            total += b - a
            end = b
    return total


def _timed(t: float, windows) -> bool:
    return any(a <= t <= b for a, b in windows)


def per_layer(bench, jobs, tasks) -> tuple[dict, dict]:
    """(metrics, extra): ``metrics`` are the per-layer metrics the run
    prints; ``extra`` holds times that read exactly zero on a workload
    (the layer does not run there, or local mode and the pinned heap
    leave nothing to measure), kept in the run summary only."""
    from spans import task_totals

    tr = bench.tracer
    windows = bench.windows
    n = len(bench.iterations)
    cores = bench.cores

    def named(name: str) -> list[dict]:
        return [s for s in tr.named(name) if _timed(s["t0"], windows)]

    def group_jobs(suffix: str) -> set:
        return {
            j["key"]
            for j in jobs
            if (j["group"] or "").endswith(suffix) and _timed(j["submit"], windows)
        }

    ops = named("op")
    build = named("operators.build")
    plans = named("catalyst.plan")
    execs = named("exec")
    ex = task_totals(tasks, group_jobs(":exec"))
    exec_s = _dur(execs)

    rewrites = named("hqlscript.rewrite")
    spools = named("plans.cte_spool")
    stmts = named("hqlscript.stmt")
    written = [s for s in stmts if "bytes_written" in s]
    live = sum(s["live_bytes"] for s in written)

    stars = named("star.build")
    star_keys = {
        j["key"]
        for j in jobs
        for s in stars
        if s["t0"] <= j["submit"] <= s["t1"]
    }
    st = task_totals(tasks, star_keys)
    star_s = _dur(stars)

    # every span that is a direct child of an op is a layer span
    op_ids = {s["id"] for s in ops}
    layer_spans = [s for s in tr.spans if s.get("parent") in op_ids and "t1" in s]

    m = {
        "session.start_s": (_dur(tr.named("session.start")[:1]), "s"),
        "session.catalog_s": (
            statistics.median(s["t1"] - s["t0"] for s in tr.named("session.catalog")),
            "s",
        ),
        "session.warmup_s": (
            statistics.median(s["t1"] - s["t0"] for s in tr.named("session.warmup")),
            "s",
        ),
        "operators.build_s": (_dur(build) / n, "s"),
        "operators.build_jobs": (len(group_jobs(":build")) / n, "count"),
        "operators.build_share": (_dur(build) / max(_dur(ops), 1e-9), "ratio"),
        "catalyst.plan_s": (_dur(plans) / n, "s"),
        "catalyst.analysis_s": (sum(s.get("analysis", 0) for s in plans) / n, "s"),
        "catalyst.optimization_s": (
            sum(s.get("optimization", 0) for s in plans) / n,
            "s",
        ),
        "catalyst.planning_s": (sum(s.get("planning", 0) for s in plans) / n, "s"),
        "exec.s": (exec_s / n, "s"),
        "exec.jobs": (len(group_jobs(":exec")) / n, "count"),
        "exec.stages": (ex["stages"] / n, "count"),
        "exec.tasks": (ex["tasks"] / n, "count"),
        "exec.task_run_s": (ex["run_s"] / n, "s"),
        "exec.task_cpu_s": (ex["cpu_s"] / n, "s"),
        "exec.core_busy_ratio": (ex["run_s"] / max(exec_s * cores, 1e-9), "ratio"),
        "exec.scan_bytes": (ex["scan_bytes"] / n, "bytes"),
        "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n, "bytes"),
        "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"] / n, "bytes"),
        "exec.spill_bytes": (ex["spill_bytes"] / n, "bytes"),
        "exec.failed_tasks": (ex["failed_tasks"] / n, "count"),
        "hqlscript.rewrite_s": (_dur(rewrites) / n, "s"),
        "hqlscript.rewritten_ratio": (
            sum(s.get("changed", False) for s in rewrites) / max(len(rewrites), 1),
            "ratio",
        ),
        "hqlscript.statements": (len(stmts) / n, "count"),
        "engine.sql_s": (_dur(named("engine.sql")) / n, "s"),
        "plans.cte_spool_ratio": (
            sum(s.get("changed", False) for s in spools) / max(len(spools), 1),
            "ratio",
        ),
        "dml.bytes_written": (sum(s["bytes_written"] for s in written) / n, "bytes"),
        "dml.files_written": (sum(s["files_written"] for s in written) / n, "count"),
        "dml.write_amp": (
            sum(s["bytes_written"] for s in written) / live if live else 0.0,
            "ratio",
        ),
        "star.jobs": (len(star_keys) / max(len(stars), 1), "count"),
        "star.tasks": (st["tasks"] / max(len(stars), 1), "count"),
        "star.core_busy_ratio": (st["run_s"] / max(star_s * cores, 1e-9), "ratio"),
        "star.bytes_written": (st["out_bytes"] / max(len(stars), 1), "bytes"),
        "trace.coverage_ratio": (
            sum(_covered(layer_spans, a, b) for a, b in windows)
            / sum(b - a for a, b in windows),
            "ratio",
        ),
        "trace.iteration_s": (statistics.median(bench.iterations), "s"),
    }
    extra = {
        "exec.gc_s": (ex["gc_s"] / n, "s"),
        "exec.shuffle_fetch_wait_s": (ex["fetch_wait_s"] / n, "s"),
        "star.build_s": (star_s / max(len(stars), 1), "s"),
    }
    for kind in ("ddl", "insert", "ctas", "update", "delete", "merge"):
        mine = [s for s in stmts if s.get("kind") == kind]
        extra[f"hqlscript.stmt_s.{kind}"] = (_dur(mine) / n, "s")
    return m, extra
