"""The benchmark workloads.

Each workload writes its inputs from the seed (``prepare``), runs its
warm-up passes (``warm``, part of set-up), checks its outputs outside the
timed region (``check``, before and after the timed loop), and runs timed
iterations of one closed-loop client (``iterate``, returning the seconds of
each phase).
``attempted``/``failed`` count nodes and queries; a failed or mismatched one
is a failure.

- ``dag_views``: 50 chains of 10 views (the reference's 2,000-model perf
  shape, 200 chains of 10, scaled to the run budget). An iteration is a
  cold parse, a partial parse and a ``run``. Spark only analyses plans; the
  time is in the engine's parse, link, render, scheduling, events, lazy-view
  flush and artifacts.
- ``warehouse_queries``: headline queries of ``bench.HEADLINE`` plus a
  multi-stage query with lineage pins and packed keys, each run through the
  ``noop`` sink and timed from building the DataFrame, since eager pins run
  at build time. Bound by Spark: at sf0.01 about half an iteration runs
  Spark jobs and the rest plans them (traced ``spark.exec_ms`` and
  ``spark.plan_ms``). Never enters the runner, the event bus or the catalog.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import numpy as np

from perfbench import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01  # scale of the generated tables (lineitem ~60,000 rows)
THREADS = 4  # the profile default the generated project runs with


class Workload:
    name = ""

    def __init__(self, work: str, data_dir: str, seed: int) -> None:
        self.work, self.data_dir, self.seed = work, data_dir, seed
        self.spark = None
        self.stats = None  # sparkstats.StatementStats while traced
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what[:300])

    def statement(self, fn):
        if self.stats is None:
            return fn()
        return self.stats.measure(fn)

    def prepare(self) -> None:
        pass

    def warm(self) -> None:
        raise NotImplementedError

    def iterate(self) -> dict[str, float]:
        raise NotImplementedError

    def check(self, final: bool) -> None:
        pass

    def iter_value(self, walls: list[float]) -> float:
        """The run's figure for one iteration: the median iteration."""
        return statistics.median(walls)

    def engines(self) -> list:
        return []


def chain_views(root: str, chains: int, depth: int, seed: int) -> dict[int, tuple[int, str]]:
    """Write a project of ``chains`` independent chains of ``depth`` views
    each: the head of a chain selects seed-drawn literals, every later view
    selects * from its predecessor. Returns {chain: (id, v)}, the row every
    view of that chain must hold."""
    rng = np.random.default_rng(seed)
    heads = {}
    files = {"dbt_project.yml": "name: perf_views\n"}
    for c in range(chains):
        ident, v = int(rng.integers(0, 1_000_000)), f"v{int(rng.integers(0, 1 << 30)):x}"
        heads[c] = (ident, v)
        for i in range(depth):
            files[f"models/chain_{c}/n_{c}_{i}.sql"] = (
                f"select {ident} as id, '{v}' as v" if i == 0
                else f"select * from {{{{ ref('n_{c}_{i - 1}') }}}}")
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    return heads


class DagViews(Workload):
    name = "dag_views"
    chains, depth = 50, 10
    # the engine keeps getting faster for thousands of nodes (JIT); these
    # passes take the timed window past the steepest part
    warm_iterations = 8

    def prepare(self) -> None:
        self.root = os.path.join(self.work, "project")
        self.heads = chain_views(self.root, self.chains, self.depth, self.seed)
        self.eng = None

    def warm(self) -> None:
        for _ in range(self.warm_iterations):
            self.iterate()

    def iterate(self) -> dict[str, float]:
        from dbt_spark.runner import Engine

        t0 = time.perf_counter()
        self.eng = Engine(self.root, spark=self.spark)
        self.eng.parse(partial=False)
        t1 = time.perf_counter()
        self.eng.parse(partial=True)
        t2 = time.perf_counter()
        res = self.statement(lambda: self.eng.invoke(["run"]))
        t3 = time.perf_counter()
        expect = self.chains * self.depth
        self.attempted += expect
        for r in res.results:
            if r.status != "success":
                self.fail(f"run: {r.unique_id} {r.status} {r.message}")
        if len(res.results) != expect or not res.success:
            self.fail(f"run: {len(res.results)} of {expect} nodes, success={res.success}")
        return {"parse_cold_s": t1 - t0, "parse_partial_s": t2 - t1, "run_s": t3 - t2}

    def check(self, final: bool) -> None:
        """The tail view of one chain holds its head's row."""
        c = self.seed % self.chains
        tail = f"n_{c}_{self.depth - 1}"
        self.attempted += 1
        rows = [tuple(r) for r in self.eng.store.read("main", tail).collect()]
        if rows != [self.heads[c]]:
            self.fail(f"{tail}: {rows} != {[self.heads[c]]}")

    def engines(self) -> list:
        return [self.eng] if self.eng else []


def _load_check_tool():
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_tool", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class WarehouseQueries(Workload):
    name = "warehouse_queries"
    # Every sixth headline query from the third, and one multi-stage query
    # (lineage pins on each peel round, packed graph keys): the full sets'
    # check pass does not fit the per-run time budget together with several
    # timed passes. Every one of these returns rows, and as many for every
    # seed (give or take a few for session_window_agg); from the first
    # query, the stride takes tpch_q20, which is empty for some seeds.
    HEADLINE_START, HEADLINE_STRIDE = 2, 6
    MULTISTAGE = ["kcore_copurchase"]
    # the first pass on a new session runs about twice as long as later ones
    # and the second is still slower than the rest
    warm_passes = 2

    def prepare(self) -> None:
        import bench

        self.headline = list(bench.HEADLINE[self.HEADLINE_START::self.HEADLINE_STRIDE])
        self.query_s: dict[str, list[float]] = {}

    def warm(self) -> None:
        """Untimed passes through the sink the timed passes use."""
        for _ in range(self.warm_passes):
            self._pass(self.headline + self.MULTISTAGE)
        self.query_s.clear()

    def check(self, final: bool) -> None:
        """Before the timed passes, collect every result and compare it with
        its DuckDB oracle, canonicalised as ``tools/check.py`` does. The
        timed passes rerun the same queries on the same inputs, and a query
        that fails there is counted by ``_pass``."""
        if final:
            return
        import duckdb

        from dbt_spark.queries import ORACLES, QUERIES

        tool = _load_check_tool()
        con = duckdb.connect()
        for t in tool.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t + '.parquet')}'")
        rows, rows_only = {}, []
        for name in self.headline + self.MULTISTAGE:
            self.attempted += 1
            try:
                status, detail, _, _ = tool.run_one(
                    name, QUERIES[name], ORACLES.get(name), self.spark, con, self.data_dir)
            except Exception as e:  # noqa: BLE001 — a failing query is a result
                status, detail = "ERROR", repr(e)
            if status in ("OK", "ROWS_ONLY"):  # ROWS_ONLY: no oracle, it must run
                rows[name] = detail
                if status == "ROWS_ONLY":
                    rows_only.append(name)
            else:
                self.fail(f"{name}: {status} {detail}")
        con.close()
        self.notes["query_rows"] = rows
        self.notes["rows_only"] = rows_only

    def _pass(self, names: list[str]) -> float:
        from dbt_spark.queries import QUERIES

        total = 0.0
        for name in names:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                self.statement(lambda: QUERIES[name](self.spark, self.data_dir)
                               .write.mode("overwrite").format("noop").save())
            except Exception as e:  # noqa: BLE001 — counted, the pass goes on
                self.fail(f"{name}: {e!r}")
            dt = time.perf_counter() - t0
            self.query_s.setdefault(name, []).append(dt)
            total += dt
        return total

    def iterate(self) -> dict[str, float]:
        return {"headline_s": self._pass(self.headline),
                "multistage_s": self._pass(self.MULTISTAGE)}

    def iter_value(self, walls: list[float]) -> float:
        """A pass at median speed: the sum of each query's median time, so a
        stall in one pass moves only the queries it hit."""
        medians = {k: statistics.median(v) for k, v in self.query_s.items()}
        self.notes["query_median_s"] = medians
        return sum(medians.values())


WORKLOADS = {w.name: w for w in (DagViews, WarehouseQueries)}


def make_inputs(work: str, seed: int) -> str:
    """Write the seeded source tables under ``work``; returns their directory."""
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, SF, seed)
    return data_dir
