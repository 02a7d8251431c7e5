"""Per-layer metrics from traced iterations.

Each traced layer is named after the ``dbt_spark`` module it lives in; the
phase metric each should move is written down in ``PER_LAYER``.
``spark.plan_ms`` is the part of each statement (a query or an invocation)
during which no Spark job ran: analysis, optimisation, planning and the
Python that builds the plan or orchestrates nodes. ``traced_iterations`` runs iterations with the tracer installed and
returns the metrics of the last one, the traced wall times (for the tracing
overhead), and the counts that did not repeat exactly between iterations.
"""

from __future__ import annotations

import os
import time

from perfbench.sparkstats import StatementStats
from perfbench.trace import Tracer, percentile
from perfbench.workloads import THREADS

# name: (unit, better, the phase metric it should move). The phases are
# dag_views' parse_cold_s, parse_partial_s, run_s and warehouse_queries'
# headline_s, multistage_s; every one feeds iter_s.
PARSE = "parse_cold_s, parse_partial_s, run_s"
SPARK = "headline_s, multistage_s"
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s"),
    "session.scan_cache_hit_ratio": ("ratio", "higher", "headline_s"),
    "project.load_s": ("s", "lower", "parse_cold_s"),
    "plans.parse_s": ("s", "lower", PARSE),
    "plans.partial_hit_ratio": ("ratio", "higher", "parse_partial_s, run_s"),
    "plans.static_hit_ratio": ("ratio", "higher", "parse_cold_s"),
    "plans.manifest_write_s": ("s", "lower", PARSE),
    "plans.link_s": ("s", "lower", "run_s"),
    "plans.select_s": ("s", "lower", "run_s"),
    "plans.queue_gets": ("count", "lower", "run_s"),
    "plans.queue_empty_ratio": ("ratio", "lower", "run_s"),
    "plans.render_s": ("s", "lower", "run_s"),
    "plans.render_count": ("count", "lower", "run_s"),
    "runner.invoke_self_s": ("s", "lower", "run_s"),
    "runner.node_p50_ms": ("ms", "lower", "run_s"),
    "runner.node_p99_ms": ("ms", "lower", "run_s"),
    "runner.busy_ratio": ("ratio", "higher", "run_s"),
    "runner.run_results_write_s": ("s", "lower", "run_s"),
    "operators.view_s": ("s", "lower", "run_s"),
    "operators.view_count": ("count", "lower", "run_s"),
    "catalog.flush_s": ("s", "lower", "run_s"),
    "catalog.flush_views": ("count", "lower", "run_s"),
    "events.fire_count": ("count", "lower", "run_s; 0 on warehouse_queries"),
    "events.fire_s": ("s", "lower", "run_s"),
    "events.fire_p99_us": ("us", "lower", "run_s"),
    "events.log_bytes": ("bytes", "lower", "run_s"),
    "functions.pins": ("count", "lower", "multistage_s"),
    "functions.pin_s": ("s", "lower", "multistage_s"),
    "spark.plan_ms": ("ms", "lower", SPARK),
    "spark.exec_ms": ("ms", "lower", SPARK),
    "spark.jobs": ("count", "lower", SPARK),
    "spark.stages": ("count", "lower", SPARK),
    "spark.tasks": ("count", "lower", SPARK),
    "spark.executor_run_s": ("s", "lower", SPARK),
    "spark.shuffle_read_bytes": ("bytes", "lower", SPARK),
    "spark.shuffle_write_bytes": ("bytes", "lower", SPARK),
    "spark.spill_bytes": ("bytes", "lower", SPARK),
}

# counts that must repeat exactly between two traced iterations
COUNTS = [k for k, (u, _, _) in PER_LAYER.items() if u == "count"]


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def install(tracer: Tracer, spark) -> None:
    from dbt_spark import catalog, events, project, runner
    from dbt_spark.operators import materialize
    from dbt_spark.plans import graph, manifest, partial, static_parser

    w = tracer.wrap
    w(project.Project, "load", "project.load")
    w(runner.Engine, "parse", "plans.parse")
    w(partial.ParseCache, "get", "plans.partial_get",
      extra=lambda a, k, r: r is not None)
    w(static_parser, "static_extract", "plans.static_extract",
      extra=lambda a, k, r: r is not None)
    w(manifest.Manifest, "write", "plans.manifest_write")
    w(graph.Linker, "link_graph", "plans.link")
    w(graph, "select_nodes", "plans.select")
    w(graph.GraphQueue, "get", "plans.queue_get", extra=lambda a, k, r: r is None)
    w(materialize, "compile_sql", "plans.render")
    w(runner.Engine, "invoke", "runner.invoke")
    w(runner.Engine, "_execute_node", "runner.node")
    w(runner.Engine, "_write_run_results", "runner.run_results_write")
    w(materialize, "materialize_view", "operators.view")
    w(catalog.RelationStore, "flush_lazy_views", "catalog.flush")
    w(events.EventBus, "fire", "events.fire")
    w(type(spark.range(0)), "localCheckpoint", "functions.pin")


def _pending_views(tracer: Tracer):
    """Count the views each flush realizes (read before the flush runs)."""
    from dbt_spark import catalog

    wrapped = catalog.RelationStore.flush_lazy_views
    counts = []

    def counting(self, *a, **k):
        counts.append(len(self._lazy_views))
        return wrapped(self, *a, **k)

    catalog.RelationStore.flush_lazy_views = counting
    tracer._undo.append((catalog.RelationStore, "flush_lazy_views", wrapped))
    return counts


def _log_bytes(engines) -> int:
    total = 0
    for eng in engines:
        path = getattr(eng.events, "log_path", None)
        if path and os.path.isdir(os.path.dirname(path)):
            total += _dir_bytes(os.path.dirname(path))
    return total


def _metrics(run, stats: dict, flushed: int, scan: tuple, log_bytes: int,
             start_s: float) -> dict:
    def ratio(name):
        infos = run.infos(name)
        return sum(1 for i in infos if i) / len(infos) if infos else 0.0

    nodes = run.durations("runner.node")
    busy_wall = 0.0
    for inv in run.by_name.get("runner.invoke", ()):
        inside = [s for s in run.by_name.get("runner.node", ()) if inv[2] <= s[2] <= inv[3]]
        if inside:
            busy_wall += max(s[3] for s in inside) - min(s[2] for s in inside)
    fires = run.durations("events.fire")
    hits, misses = scan
    m = {
        "session.start_s": start_s,
        "session.scan_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "project.load_s": run.total_s("project.load"),
        "plans.parse_s": run.total_s("plans.parse"),
        "plans.partial_hit_ratio": ratio("plans.partial_get"),
        "plans.static_hit_ratio": ratio("plans.static_extract"),
        "plans.manifest_write_s": run.total_s("plans.manifest_write"),
        "plans.link_s": run.total_s("plans.link"),
        "plans.select_s": run.total_s("plans.select"),
        "plans.queue_gets": run.count("plans.queue_get"),
        "plans.queue_empty_ratio": ratio("plans.queue_get"),
        "plans.render_s": run.total_s("plans.render"),
        "plans.render_count": run.count("plans.render"),
        "runner.invoke_self_s": run.self_s("runner.invoke"),
        "runner.node_p50_ms": percentile(nodes, 50) * 1000.0,
        "runner.node_p99_ms": percentile(nodes, 99) * 1000.0,
        "runner.busy_ratio": sum(nodes) / (THREADS * busy_wall) if busy_wall else 0.0,
        "runner.run_results_write_s": run.total_s("runner.run_results_write"),
        "catalog.flush_s": run.total_s("catalog.flush"),
        "catalog.flush_views": flushed,
        "events.fire_count": run.count("events.fire"),
        "events.fire_s": sum(fires),
        "events.fire_p99_us": percentile(fires, 99) * 1e6,
        "events.log_bytes": log_bytes,
        "functions.pins": run.count("functions.pin"),
        "functions.pin_s": run.total_s("functions.pin"),
    }
    m["operators.view_s"] = run.total_s("operators.view")
    m["operators.view_count"] = run.count("operators.view")
    for k, v in stats.items():
        m[f"spark.{k}"] = v
    return {k: (v, PER_LAYER[k][0]) for k, v in m.items()}


def traced_iterations(wl, n: int, start_s: float) -> dict:
    from dbt_spark.session import scan_cache_stats

    tracer = Tracer()
    install(tracer, wl.spark)
    flushes = _pending_views(tracer)
    walls, phases, per_run = [], {}, []
    try:
        for _ in range(n):
            tracer.start_run()
            wl.stats = StatementStats(wl.spark)
            n_flush = len(flushes)
            scan0 = (scan_cache_stats["hits"], scan_cache_stats["misses"])
            log0 = _log_bytes(wl.engines())
            t0 = time.perf_counter()
            ph = tracer.call("iteration", wl.iterate, (), {})
            walls.append(time.perf_counter() - t0)
            for k, v in ph.items():
                phases.setdefault(k, []).append(v)
            scan = (scan_cache_stats["hits"] - scan0[0], scan_cache_stats["misses"] - scan0[1])
            per_run.append(_metrics(
                tracer.summary(tracer.run_id), dict(wl.stats.totals),
                sum(flushes[n_flush:]), scan, _log_bytes(wl.engines()) - log0, start_s))
    finally:
        wl.stats = None
        tracer.uninstall()
    unstable = [k for k in COUNTS if len({r[k][0] for r in per_run}) > 1]
    return {"metrics": per_run[-1], "walls": walls, "phases": phases,
            "unstable": unstable, "tracer": tracer}
