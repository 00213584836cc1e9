"""The warehouse benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload adhoc_sf0.01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed, starts the engine, checks every answer against DuckDB in an
untimed warm-up pass, then repeats whole passes (``adhoc_sf0.01``) or
script iterations (``etl_hiveql``, followed by one cold star rebuild)
until ``--seconds`` have elapsed and at least ``--min-passes`` (default
``MIN_PASSES``) of them were timed.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones).  Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit, except the
span dump and summary kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

SETUPS = 3
DRIVER_HEAP = "2g"  # 4-core, 15 GB host; the sf0.01 working set is far below it
WORKLOADS = ("adhoc_sf0.01", "etl_hiveql")
# timed passes a run makes at least: enough for 20 latency samples, few
# enough that a run (JVM start, warm-up check, timed passes) stays under
# a minute
MIN_PASSES = 2


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (user ... guest_nice, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two readings; wall times inflate with it."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        return ref[5:]
    return ref


_WRITES = re.compile(
    r"(?i)(?:INSERT\s+OVERWRITE\s+TABLE|INSERT\s+INTO|CREATE\s+TABLE|UPDATE"
    r"|DELETE\s+FROM|MERGE\s+INTO)\s+(\w+)"
)


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Bench:
    """One run: the engine session, its inputs, the tracer and samples."""

    def __init__(self, args: argparse.Namespace, trace: bool):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.sf = args.sf
        self.min_passes = args.min_passes or MIN_PASSES
        self.tracer = spans.Tracer(trace)
        self.cores = _cores()
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{self.workload}-s{self.seed}-p{os.getpid()}"
        )
        self.data = os.path.join(self.work, "data")
        self.events = os.path.join(self.work, "events")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.rng = random.Random(self.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.ops = 0
        self.timed_s = 0.0
        self.iterations: list[float] = []
        self.windows: list[tuple[float, float]] = []  # wall clock, per pass
        self.setups: list[float] = []
        self.sessions: list = []  # kept alive: engine caches key on id(spark)
        self.spark = None
        self.engine = None
        self._op = 0

    # -- environment ---------------------------------------------------
    def isolate(self) -> None:
        """Point every engine scratch root at this run's directory."""
        for d in (self.work, self.events, self.warehouse):
            os.makedirs(d, exist_ok=True)
        os.environ["HIVE_SPARK_SCRATCH"] = os.path.join(self.work, "scratch")
        os.environ["HIVE_SPARK_LOCKDB"] = os.path.join(self.work, "hive_locks.sqlite")
        os.environ["HIVE_SPARK_QTEST_TMP"] = os.path.join(self.work, "qtest_tmp")
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work, "spark_local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        # the driver and its Python workers import the engine from the checkout
        sys.path.insert(0, ROOT)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ.pop("SPARK_LOCAL_DIRS", None)

    def conf(self) -> dict[str, str]:
        # A fixed heap (initial = maximum) keeps the JVM's peak RSS from
        # depending on when the heap happens to grow.  These options replace
        # get_session's, so its java.io.tmpdir setting is repeated here.
        jtmp = os.path.join(os.environ["SPARK_GRAFT_LOCAL_DIR"], "jtmp")
        c = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={jtmp}"
            ),
            "spark.sql.warehouse.dir": self.warehouse,
        }
        if self.tracer.enabled:
            c.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.events,
                    "spark.eventLog.compress": "false",
                }
            )
        return c

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """Set the engine up SETUPS times: start the session (the first
        set-up launches the JVM, the others restart the SparkContext
        inside it) and register the catalog."""
        from hive_spark.engine import Engine
        from hive_spark.operators import views
        from hive_spark.session import get_session

        span = self.tracer.span
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with span("session.start"):
                self.spark = get_session(
                    app_name="perfbench",
                    master=f"local[{self.cores}]",
                    shuffle_partitions=self.cores,
                    extra_conf=self.conf(),
                )
            self.sessions.append(self.spark)
            with span("session.catalog"):
                views(self.spark, self.data)
            self.setups.append(time.perf_counter() - t0)
        self.engine = Engine(self.spark, self.data)

    def config(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.tracer.enabled,
            "sf": self.sf,
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "commit": _commit(),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def stop(self) -> float:
        """Stop Spark and wait for its JVM to exit; return the peak RSS of
        the JVM plus this process.  Safe to call twice."""
        from pyspark import SparkContext

        rss = _hwm_mb("self")
        gw = SparkContext._gateway
        if gw is not None:
            rss += _hwm_mb(gw.proc.pid)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        return rss

    # -- operations --------------------------------------------------------
    def _group(self, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"pb:{self._op}:{phase}", self.workload)

    def query(self, name: str, build, layer: str) -> float:
        """Build, (traced: plan) and run one query into the noop sink."""
        span = self.tracer.span
        self._op += 1
        t0 = time.perf_counter()
        with span("op", op=name):
            self._group("build")
            with span(layer):
                df = build()
            if self.tracer.enabled:
                self._group("plan")
                with span("catalyst.plan") as rec:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    it = qe.tracker().phases().iterator()
                    while it.hasNext():
                        kv = it.next()
                        rec[kv._1()] = kv._2().durationMs() / 1e3
            self._group("exec")
            with span("exec"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def statement(self, kind: str, text: str) -> float:
        span = self.tracer.span
        self._op += 1
        targets = [] if kind == "ddl" else _WRITES.findall(text)
        dirs = [os.path.join(self.warehouse, t) for t in dict.fromkeys(targets)]
        before = {}
        if self.tracer.enabled:
            for d in dirs:
                before.update(_file_sizes(d))
        t0 = time.perf_counter()
        with span("op", op=kind):
            self._group("stmt")
            with span("hqlscript.stmt", kind=kind) as rec:
                self.engine.script(text)
        elapsed = time.perf_counter() - t0
        if rec is not None and dirs:
            after = {}
            for d in dirs:
                after.update(_file_sizes(d))
            new = {p: s for p, s in after.items() if before.get(p) != s}
            rec["bytes_written"] = sum(new.values())
            rec["files_written"] = len(new)
            rec["live_bytes"] = sum(after.values())
        return elapsed

    def star_build(self) -> float:
        from hive_spark.operators import tpcds

        self._op += 1
        t0 = time.perf_counter()
        with self.tracer.span("op", op="star_build"):
            self._group("star")
            with self.tracer.span("star.build"):
                tpcds.measure_cold_star_build(self.spark, self.data)
        return time.perf_counter() - t0

    def check(self, name: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.failures.append(name)

    @staticmethod
    def rows(df) -> list[tuple[str, ...]]:
        return wl.canon_rows(df.columns, [tuple(r) for r in df.collect()])

    def record(
        self,
        latencies: list[float],
        w0: float,
        p0: float,
        extra_ops: int = 0,
        iteration: bool = True,
    ) -> None:
        """Keep timed work that started at wall time w0 (perf_counter p0):
        a pass or iteration, or with ``iteration=False`` operations timed
        outside one.  ``extra_ops`` ran without a latency sample."""
        elapsed = time.perf_counter() - p0
        self.latencies.extend(latencies)
        self.ops += len(latencies) + extra_ops
        self.attempted += len(latencies) + extra_ops
        self.timed_s += elapsed
        if iteration:
            self.iterations.append(elapsed)
        self.windows.append((w0, time.time()))

    # -- workloads ---------------------------------------------------------
    def run_adhoc(self) -> None:
        from hive_spark.operators import full_registry

        registry = full_registry()

        def build(name, sql):
            if sql is None:
                return (lambda: registry[name].fn(self.spark, self.data)), (
                    "operators.build"
                )
            return (lambda: self.engine.sql(sql)), "engine.sql"

        # warm-up pass: every answer against DuckDB
        con = wl.duck_connect(self.data)
        with self.tracer.span("session.warmup"):
            for name, sql in [(q, None) for q in wl.ADHOC_QUERIES] + wl.adhoc_reports(
                self.rng
            ):
                rows = self.rows(build(name, sql)[0]())
                if name in wl.ROWCOUNT_ORACLES:
                    got = len(rows)
                    want = con.sql(wl.ROWCOUNT_ORACLES[name]).fetchone()[0]
                else:
                    got, want = rows, wl.duck_rows(con, sql or registry[name].oracle)
                self.check(name, got, want)
        con.close()
        log("warm-up pass checked")

        start = time.perf_counter()
        while (
            time.perf_counter() - start < self.seconds
            or len(self.iterations) < self.min_passes
        ):
            # drop the engine's persisted CTE spools: nothing is reused
            # across passes
            self.spark.catalog.clearCache()
            batch = [(q, None) for q in wl.ADHOC_QUERIES] + wl.adhoc_reports(self.rng)
            self.rng.shuffle(batch)
            w0, p0 = time.time(), time.perf_counter()
            lat = [self.query(name, *build(name, sql)) for name, sql in batch]
            self.record(lat, w0, p0)

    def _etl_iteration(self, timed: bool) -> tuple[list[str], list]:
        """The script and its reports once; returns the DuckDB replay of
        the script and the reports, for the check."""
        hive, duck = wl.etl_script(self.rng)
        reports = wl.etl_reports(self.rng)
        w0, p0 = time.time(), time.perf_counter()
        lat, ddl = [], 0
        for kind, text in hive:
            elapsed = self.statement(kind, text)
            if kind == "ddl":  # metadata only: counted, but not a latency sample
                ddl += 1
            else:
                lat.append(elapsed)
        for name, sql in reports:
            lat.append(self.query(name, lambda: self.engine.sql(sql), "engine.sql"))
        if timed:
            self.record(lat, w0, p0, extra_ops=ddl)
        return duck, reports

    def _etl_check(self, con, q3, duck: list[str], reports: list, star: bool) -> None:
        """Compare the tables the last iteration wrote and its reports
        (with ``star``, also tpcds_q3 and every star table's row count)
        against DuckDB over the same inputs and parameters."""
        self.spark.sparkContext.setJobGroup("pb:check", "answer checks")
        for stmt in duck:
            con.execute(stmt)
        for t in wl.ETL_TABLES:
            sql = wl.fingerprint_sql(con, t)
            self.check(t, self.rows(self.spark.sql(sql)), wl.duck_rows(con, sql))
        for name, sql in reports:
            self.check(name, self.rows(self.engine.sql(sql)), wl.duck_rows(con, sql))
        if star:
            from hive_spark.operators import tpcds

            self.check(
                "tpcds_q3",
                self.rows(q3.fn(self.spark, self.data)),
                wl.duck_rows(con, q3.oracle),
            )
            for name, body in tpcds._star_sql("duck"):
                con.execute(f"CREATE OR REPLACE VIEW {name} AS {body}")
                self.check(
                    f"star.{name}",
                    self.spark.table(name).count(),
                    con.sql(f"SELECT count(*) FROM {name}").fetchone()[0],
                )

    def run_etl(self) -> None:
        """A warm-up iteration, then the timed window: script iterations,
        then the process's first (cold) star rebuild and tpcds_q3 over it."""
        from hive_spark.operators import full_registry

        q3 = full_registry()["tpcds_q3"]
        con = wl.duck_connect(self.data)
        with self.tracer.span("session.warmup"):
            self._etl_check(con, q3, *self._etl_iteration(timed=False), star=False)
        log("warm-up iteration checked")
        start = time.perf_counter()
        while (
            time.perf_counter() - start < self.seconds
            or len(self.iterations) < self.min_passes
        ):
            self.spark.catalog.clearCache()
            last = self._etl_iteration(timed=True)
        w0, p0 = time.time(), time.perf_counter()
        lat = [
            self.star_build(),
            self.query(
                "tpcds_q3", lambda: q3.fn(self.spark, self.data), "operators.build"
            ),
        ]
        self.record(lat, w0, p0, iteration=False)
        self._etl_check(con, q3, *last, star=True)
        con.close()

    # -- metrics -----------------------------------------------------------
    def end_to_end(self, rss_mb: float) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (statistics.median(self.setups), "s"),
            "latency_p50_s": (statistics.median(self.latencies), "s"),
            "ops_per_min": (60.0 * self.ops / self.timed_s, "1/min"),
            "iteration_s": (statistics.median(self.iterations), "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    ap.add_argument("--min-passes", type=int, help="timed passes, at least")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hive_spark")):
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2

    b = Bench(args, bool(args.trace))
    try:
        b.isolate()
        sizes = datagen.write(args.seed, args.sf, b.data)
        log("inputs generated")
        b.setup()
        log(f"set-ups done: {[round(x, 2) for x in b.setups]}")
        config = {**b.config(), "tables": sizes}
        if b.tracer.enabled:
            layers.install(b.tracer)
        cpu0 = _cpu_times()
        (b.run_adhoc if args.workload.startswith("adhoc") else b.run_etl)()
        config["cpu_steal_share"] = _steal_share(cpu0, _cpu_times())
        b.tracer.unwrap()
        log(f"timed window done: {len(b.iterations)} passes")
        rss = b.stop()
        if b.tracer.enabled:
            jobs, tasks = spans.read_event_logs(b.events)
            metrics, extra = layers.per_layer(b, jobs, tasks)
        else:
            metrics, extra = b.end_to_end(rss), {}
    finally:
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)

    summary = {
        "config": config,
        "failures": b.failures,
        "samples": len(b.latencies),
        "iterations": len(b.iterations),
        "metrics": metrics,
        "extra": extra,
        "latencies": b.latencies,
        "iteration_walls": b.iterations,
        "setups": b.setups,
    }
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out, f"{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    if b.tracer.enabled:
        b.tracer.dump(os.path.join(out, f"{tag}.spans.json"))
    for k, (v, u) in {**metrics, **extra}.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(
        f"{args.workload} error_rate = {b.failed / max(b.attempted, 1):.6g} "
        f"({b.failed} of {b.attempted} failed: {b.failures})"
    )
    print(json.dumps({"config": config}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
