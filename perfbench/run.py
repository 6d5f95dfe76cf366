"""Benchmark of the graph -> tables sync pipeline.

    python3 perfbench/run.py --workload sync_wide --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  One process, one
``local[nproc]`` Spark session, one closed-loop client: each operation
starts when the previous one and its output check have finished.
Operations are full syncs, delta generations, SQL queries and graph
searches; every one is checked, and a failed check counts the
operation as failed.  Inputs come from ``gen.py`` and are checked by
``check.py``, both in a child process, so input generation and output
checks stay out of every metric, the driver's memory included.

Prints every metric by name with its unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Workloads, metrics and the layer map are described in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass(frozen=True)
class Workload:
    """``source``: ``docs`` runs the in-process collector path
    (``collect_plugin``), ``ndjson`` the remote-stream path
    (``from_json_lines`` + ``collect_to_files``)."""

    source: str
    node_index: bool


WORKLOADS = {
    "sync_wide": Workload("docs", False),
    "sync_tall": Workload("ndjson", True),
}

# One cycle of the closed loop: two full re-syncs of the live graph,
# then a delta generation, each write followed by the query mix on the
# tables it published.
CYCLE = ("sync", "mix", "sync", "mix", "delta", "mix")

END_TO_END_UNITS = {
    "setup_s": "s",
    "sync_s": "s",
    "delta_gen_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "driver_peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "B/B",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Oracle:
    """The child process that generates the inputs and checks the
    outputs (``check.py``).  ``state`` is the current state: its NDJSON
    path, doc counts and, after a generation, the delta's path."""

    def __init__(self, workload: str, seed: int, out: str, node_index: bool):
        cmd = [sys.executable, os.path.join(HERE, "check.py"), "--workload", workload,
               "--seed", str(seed), "--out", out]
        if node_index:
            cmd.append("--node-index")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self.state = self._read()
        with open(os.path.join(out, "model.json")) as f:
            self.model_json = json.load(f)
        with open(os.path.join(out, "plan.json")) as f:
            self.plan = json.load(f)

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with {self.proc.wait()}")
        return json.loads(line)

    def ask(self, op: str, **req) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, **req}, default=str) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def next(self) -> dict:
        self.state = self.ask("next")
        return self.state

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        finally:
            self.proc.wait(timeout=60)


class FileCollector:
    """A collector plugin (``CollectorPlugin`` protocol) whose graph is
    an NDJSON file: the docs stream from disk, so any doc list held in
    the driver is the program's own."""

    cloud = "bench"

    def __init__(self, path: str, model_json: list[dict]):
        self.graph = self
        self._path = path
        self._model = model_json

    def collect(self) -> None:
        pass

    def export_model(self) -> list[dict]:
        return self._model

    def export_docs(self):
        with open(self._path) as f:
            for line in f:
                yield json.loads(line)


class Bench:
    """The closed-loop client: one operation at a time against the
    tables under ``dest``, each checked, each timed into ``times``."""

    def __init__(self, spark, wl: Workload, oracle: Oracle, dest: str, tracer):
        from resotodatalink_spark.model.kinds import Model

        self.spark = spark
        self.wl = wl
        self.oracle = oracle
        self.model = Model.from_json(oracle.model_json)
        self.dest = dest
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = {"sync": [], "delta": [], "query": []}
        self.per_query: dict[str, list[float]] = {}
        self.stored_ratio: list[float] = []
        self.delta_stats: list[dict] = []

    def _op(self, kind: str, name: str, fn, check, **attrs) -> float:
        """Run one timed operation, then its (untimed) output check."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tr.span(name, group=True, op=kind, **attrs):
                out = fn()
            dt = time.perf_counter() - t0
            bad = check(out)
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            traceback.print_exc()
            self.failed += 1
            return float("nan")
        log(f"{name} {dt:.3f} s (check {time.perf_counter() - t0 - dt:.3f} s, "
            f"peak RSS {peak_rss_mb():.1f} MB)")
        if bad:
            self.failed += 1
            log(f"{name} FAILED its output check: " + "; ".join(bad[:5]))
        return dt

    def _check_published(self) -> list[str]:
        res = self.oracle.ask("tables", dest=self.dest)
        self.stored_ratio.append(res["stored_ratio"])
        return res["bad"]

    def sync(self) -> None:
        from resotodatalink_spark.operators.sync import collect_plugin, collect_to_files
        from resotodatalink_spark.sources.graph import GraphSource

        st = self.oracle.state
        if self.wl.source == "docs":
            def fn():
                return collect_plugin(
                    self.spark, FileCollector(st["path"], self.oracle.model_json),
                    self.dest, node_index=self.wl.node_index)

            def check(res):
                want = ("bench", st["nodes"], st["edges"])
                bad = [] if tuple(res) == want else [f"returned {res} != {want}"]
                return bad + self._check_published()
        else:
            def fn():
                return collect_to_files(
                    self.spark, GraphSource.from_json_lines(self.spark, st["path"]),
                    self.model, self.dest, node_index=self.wl.node_index)

            def check(_):
                return self._check_published()
        self.times["sync"].append(self._op(
            "sync", "operators.sync", fn, check,
            docs_in=st["nodes"] + st["edges"] + st["untyped"]))

    def delta(self) -> None:
        from pyspark.sql import functions as F

        from resotodatalink_spark.streaming.delta_sync import apply_delta_batch

        path = self.oracle.next()["delta_path"]

        def fn():
            docs = self.spark.read.text(path).select(
                F.col("value").alias("doc"))
            return apply_delta_batch(self.spark, docs, self.model, self.dest)

        def check(stats):
            self.delta_stats.append(stats)
            return self._check_published()

        self.times["delta"].append(
            self._op("delta", "operators.incremental", fn, check))

    def mix(self) -> None:
        from resotodatalink_spark.operators.search import execute_search
        from resotodatalink_spark.operators.sql import execute_sql
        from resotodatalink_spark.sinks.files import read_table
        from resotodatalink_spark.sources.graph import GraphSource

        st = self.oracle.state
        for name, q in self.oracle.plan["queries"].items():
            def fn(q=q):
                for t in q["tables"]:
                    read_table(self.spark, self.dest, t).createOrReplaceTempView(t)
                return [tuple(r) for r in execute_sql(self.spark, q["sql"]).collect()]

            dt = self._op("query", "operators.sql", fn,
                          lambda rows, name=name: self.oracle.ask(
                              "query", dest=self.dest, name=name, rows=rows)["bad"])
            self._record_query(name, dt)
        for name, text in self.oracle.plan["searches"].items():
            def fn(text=text):
                src = GraphSource.from_json_lines(self.spark, st["path"])
                return [r[0] for r in
                        execute_search(src, self.model, text).select("id").collect()]

            dt = self._op("query", "operators.search", fn,
                          lambda ids, name=name: self.oracle.ask(
                              "search", name=name, ids=ids)["bad"])
            self._record_query(name, dt)

    def _record_query(self, name: str, dt: float) -> None:
        self.times["query"].append(dt)
        self.per_query.setdefault(name, []).append(dt)

    def warm_up(self) -> float:
        """Set-up: the base publish, the query mix on it and one
        generation, each the first of its kind in the session and so
        carrying the JVM's warm-up.  They are checked like every
        operation (the checks untimed); returns their summed time and
        drops their samples."""
        for name in ("sync", "mix", "delta"):
            getattr(self, name)()
        took = sum(sum(ts) for ts in self.times.values())
        for samples in (self.times, self.per_query):
            for ts in samples.values():
                ts.clear()
        self.stored_ratio.clear()
        self.delta_stats.clear()
        return took

    def run(self, seconds: float, step=None) -> None:
        """Run whole cycles of ``CYCLE`` while the next one is expected
        to end within ``seconds`` (a cycle is expected to take as long,
        checks included, as the last one); the first always runs.  So
        every run holds the same mix of operations.  ``step(name)`` runs
        one step (default: the method of that name)."""
        step = step or (lambda name: getattr(self, name)())
        t0 = time.monotonic()
        last = 0.0
        while not last or time.monotonic() - t0 + last <= seconds:
            c0 = time.monotonic()
            for name in CYCLE:
                step(name)
            last = time.monotonic() - c0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def median(xs: list[float]) -> float:
    """Median of the samples that are not NaN (failed operations)."""
    xs = [x for x in xs if x == x]
    return float(statistics.median(xs)) if xs else float("nan")


def _p90(xs: list[float]) -> float:
    xs = [x for x in xs if x == x]
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def spark_session(work: str, trace: bool):
    from resotodatalink_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local  # PySpark's gateway handshake files
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-Xlog:all=warning:stderr:uptime,level,tags "
            f"-Djava.io.tmpdir={local} -Dderby.system.home={work}"),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(b: Bench, setup_s: float) -> dict[str, float]:
    q = [t * 1000 for t in b.times["query"]]
    return {
        "setup_s": setup_s,
        "sync_s": median(b.times["sync"]),
        "delta_gen_s": median(b.times["delta"]),
        "query_p50_ms": median(q),
        "query_p90_ms": _p90(q),
        "driver_peak_rss_mb": peak_rss_mb(),
        "stored_bytes_per_input_byte": median(b.stored_ratio),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="graph -> tables sync benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import resotodatalink_spark  # noqa: F401
    except ImportError as exc:
        log(f"the program is not in this checkout: {exc}")
        return 2

    wl = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    oracle = spark = None
    t_start = time.perf_counter()
    try:
        oracle = Oracle(args.workload, args.seed, os.path.join(work, "gen"),
                        wl.node_index)
        t0 = time.perf_counter()
        log(f"inputs {t0 - t_start:.2f} s")
        spark = spark_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        log(f"session {session_s:.2f} s, peak RSS {peak_rss_mb():.1f} MB")
        from tracing import NullTracer, Tracer

        tracer = Tracer(spark) if args.trace else NullTracer()
        b = Bench(spark, wl, oracle, os.path.join(work, "dest"), NullTracer())
        setup_s = session_s + b.warm_up()
        t_loop = time.perf_counter()
        log(f"set-up {t_loop - t0:.2f} s (setup_s {setup_s:.2f} s)")
        if args.trace:
            from layers import PER_LAYER_UNITS as units
            from layers import traced_run

            metrics = traced_run(b, tracer, args.seconds)
            tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
        else:
            b.run(args.seconds)
            metrics = end_to_end(b, setup_s)
            units = END_TO_END_UNITS
        log(f"loop {time.perf_counter() - t_loop:.2f} s")
        for name, v in metrics.items():
            print(f"{name} = {v:.6g} {units[name]}")
        print(f"ops attempted = {b.attempted}, failed = {b.failed}, "
              f"ops_failed_frac = {b.failed / max(b.attempted, 1):.6g}")
    finally:
        if spark is not None:
            stop_spark(spark)
        if oracle is not None:
            oracle.close()
        shutil.rmtree(work, ignore_errors=True)
    log(f"total {time.perf_counter() - t_start:.2f} s")
    # a metric with no successful sample is NaN; JSON has no NaN
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v if v == v else None, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
