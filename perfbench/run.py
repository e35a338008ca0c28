"""End-to-end benchmark of spark-graft on one workload.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 12 --trace 0

One run starts a fresh Spark session, warms the JVM with whole untimed
passes of the workload, then times passes until ``--seconds`` have passed
(at least ``MIN_TIMED_PASSES``), runs one untimed pass that collects every
output and checks it against its DuckDB oracle, and prints one JSON line
as the last line of standard output (perfbench/README.md has the details)::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``pass_cpu_s``, ``peak_rss_mb``); with ``--trace 1`` the run
turns on Spark's event log, puts spans around calls into the program and
reports the per-layer metrics instead. A line ``{"detail": ...}`` before
the result holds the per-pass values. The exit code is 0 only when every
operation succeeded and every checked output matched its oracle.

Inputs are made inside ``.perfbench/`` at the checkout root: ``corpus``
reads a fixed star schema (data seed 42) and the seed sets the query order
in each pass; ``sparkify_etl`` generates its JSON from the seed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

CORES = min(4, os.cpu_count() or 4)  # local[N]; fixed so both sides of a comparison match
DRIVER_MEM = "2g"
WARMUP_PASSES = 3
# C1 only: JIT warm-up completes within the warm-up passes, and C2's
# profile-dependent code no longer varies the speed of one JVM against the
# next. C1 alone gets a 48m code cache by default, which Spark can fill;
# 240m is the tiered default. Serial GC sizes the heap from free space after
# each collection, not from GC pause times, so peak memory does not depend
# on machine load. No perf-data file, which HotSpot would write to /tmp.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC -XX:-UsePerfData"
MIN_TIMED_PASSES = 3
# A pass is clean when the hypervisor took at most this share of the CPU
# time the pass wanted; up to MAX_EXTRA_PASSES more passes are run to
# collect MIN_TIMED_PASSES clean ones. The metrics are medians over the
# clean passes, or over the MIN_TIMED_PASSES passes with the least steal
# when fewer are clean.
STEAL_CLEAN = 0.05
MAX_EXTRA_PASSES = 1

STAR = {"seed": 42, "sf": 0.01, "n_docs": 1000, "n_vecs": 600}
SPARKIFY = {"data_seed": 42, "n_events": 4000, "n_songs": 80, "n_artists": 20}

CORPUS_QUERIES = (
    "dedup_exact_docs",
    "dedup_embedding_cosine",
    "dedup_corpus",
)
SPARKIFY_TABLES = ("songs", "artists", "users", "time", "songplays")


T_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class QueryWorkload:
    """Registry queries over the fixed star schema, each materialised
    through the noop sink (every row and column evaluated, nothing
    collected or written)."""

    def __init__(self, names, seed: int):
        self.names = list(names)
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(WORK, "star")

    def prepare(self) -> None:
        from perfbench import gen, oracle
        from dend_spark_data_lake_spark import queries as Q
        from tests.oracle_utils import duckdb_connection

        self.Q = Q
        manifest = gen.write_star(self.data_dir, **STAR)
        con = []

        def connect():
            if not con:
                con.append(duckdb_connection(self.data_dir))
            return con[0]

        self.expected = {}
        for name in self.names:
            sql = Q.REGISTRY[name].oracle
            if sql is None:
                raise RuntimeError(f"{name} has no oracle")
            self.expected[name] = oracle.cached_expected(
                os.path.join(WORK, "expected"), manifest, name, sql, connect
            )

    def ops(self) -> list[str]:
        return self.names

    def before_pass(self, p) -> None:
        pass

    def run_pass(self, spark, tracer, p: int, errors: list) -> None:
        self.Q.release_session_caches()
        spark.catalog.clearCache()
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            try:
                with tracer.span(f"q.{name}", group=name, query=name):
                    with tracer.span("queries.build", group="build"):
                        df = self.Q.REGISTRY[name].fn(spark, self.data_dir)
                    with tracer.span("queries.run", group="run"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # one failed query must not stop the run
                errors.append(f"pass {p} {name}: {exc!r}"[:500])
                _log(f"pass {p} {name} failed:\n{exc}"[:4000])

    def verify(self, spark, errors: list) -> None:
        from perfbench import oracle

        self.Q.release_session_caches()
        spark.catalog.clearCache()
        for name in self.names:
            try:
                df = self.Q.REGISTRY[name].fn(spark, self.data_dir)
                got = oracle.canonical(df.columns, [tuple(r) for r in df.collect()])
                bad = oracle.mismatch(got, self.expected[name])
                if bad:
                    errors.append(f"verify {name}: {bad}"[:500])
            except Exception as exc:
                errors.append(f"verify {name}: {exc!r}"[:500])
        self.Q.release_session_caches()

    def files_written(self) -> tuple[int, float]:
        return 0, 0.0


class SparkifyWorkload:
    """The reference ETL (plans.sparkify.run_sparkify_pipeline) over
    seeded Sparkify JSON; every pass writes the five partitioned Parquet
    tables into a fresh directory."""

    def __init__(self, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(WORK, "sparkify", f"seed{seed}")
        self.out_root = os.path.join(WORK, "sparkify-out")

    def prepare(self) -> None:
        from perfbench import gen, oracle
        from dend_spark_data_lake_spark.plans import sparkify

        self.sparkify = sparkify
        parent = os.path.dirname(self.data_dir)
        if os.path.isdir(parent):  # keep only this seed's input
            for d in os.listdir(parent):
                if d != os.path.basename(self.data_dir):
                    shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        manifest = gen.write_sparkify(self.data_dir, order_seed=self.seed, **SPARKIFY)
        self.song, self.log = (os.path.join(self.data_dir, d) for d in ("song_data", "log_data"))
        con = []

        def connect():
            if not con:
                con.append(oracle.sparkify_connection(self.song, self.log))
            return con[0]

        self.expected = {
            t: oracle.cached_expected(os.path.join(WORK, "expected"), manifest, f"sparkify_{t}",
                                      oracle.SPARKIFY_SQL[t], connect)
            for t in SPARKIFY_TABLES
        }
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.last_out = None

    def ops(self) -> list[str]:
        return list(SPARKIFY_TABLES)

    def before_pass(self, p) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.last_out = os.path.join(self.out_root, f"p{p}")

    def run_pass(self, spark, tracer, p: int, errors: list) -> None:
        try:
            with tracer.span("sparkify.pipeline", group="pipeline"):
                self.sparkify.run_sparkify_pipeline(spark, self.song, self.log, self.last_out)
        except Exception as exc:  # a failed pass must not stop the run
            errors.extend(f"pass {p} {t}: {exc!r}"[:500] for t in SPARKIFY_TABLES)
            _log(f"pass {p} failed:\n{exc}"[:4000])

    def verify(self, spark, errors: list) -> None:
        from perfbench import oracle

        out = os.path.join(self.out_root, "verify")
        try:
            tables = self.sparkify.run_sparkify_pipeline(spark, self.song, self.log, out)
        except Exception as exc:
            errors.extend(f"verify {t}: {exc!r}"[:500] for t in SPARKIFY_TABLES)
            return
        for t in SPARKIFY_TABLES:
            try:
                df = tables[t]
                got = oracle.canonical(df.columns, [tuple(r) for r in df.collect()])
                bad = oracle.mismatch(got, self.expected[t])
                if bad:
                    errors.append(f"verify {t}: {bad}"[:500])
            except Exception as exc:
                errors.append(f"verify {t}: {exc!r}"[:500])

    def files_written(self) -> tuple[int, float]:
        """Parquet files and MB under the last pass's output directory."""
        n, size = 0, 0
        for d, _, files in os.walk(self.last_out or self.out_root):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size / 1e6


def make_workload(name: str, seed: int):
    if name == "corpus":
        return QueryWorkload(CORPUS_QUERIES, seed)
    if name == "sparkify_etl":
        return SparkifyWorkload(seed)
    raise SystemExit(f"unknown workload {name!r}")


# --------------------------------------------------------------------------
# Session
# --------------------------------------------------------------------------


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and pin the
    time zone so collected timestamps compare against DuckDB's UTC."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(trace: bool):
    from dend_spark_data_lake_spark.session import configure_for_testdata, get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} {JVM_FLAGS}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return configure_for_testdata(spark)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it, also when the Py4J
    connection is already broken (a signal arrived mid-call)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception as exc:  # teardown goes on: the JVM is ended below
        _log(f"stopping Spark failed: {exc!r}")
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# One run
# --------------------------------------------------------------------------


def install_wrappers(tracer) -> None:
    """Spans around the program's public functions, in this process only.
    Modules that imported a function by name get the wrapper too."""
    from dend_spark_data_lake_spark import queries
    from dend_spark_data_lake_spark.operators import graph
    from dend_spark_data_lake_spark.plans import sparkify
    from dend_spark_data_lake_spark.sources import io

    def table_of(args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else "")
        return os.path.basename(str(path).rstrip("/"))

    tracer.wrap(graph, "connected_components", "graph.cc", group="cc")
    for mod in (io, queries):
        tracer.wrap(mod, "read_table", "sources.read_table")
    for mod in (io, sparkify):
        tracer.wrap(mod, "read_json_lines", "sources.read_json_lines")
    for mod in (io, sparkify):
        tracer.wrap(mod, "write_parquet", "sources.write_parquet", group="write", label=table_of)


def layer_metrics(tracer, passes: list[dict], log: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics of each traced pass, then the median over passes."""
    from perfbench import trace as T

    spans = tracer.spans
    selfs = T.self_times(spans)
    per_pass = []
    for rec in passes:
        if not rec["traced"]:
            continue
        root = rec["span"]
        members = T.subtree(spans, root)
        wall = spans[root]["end"] - spans[root]["start"]
        dur = {}
        for i in members:
            s = spans[i]
            key = s["name"] if "label" not in s else f"{s['name']}:{s['label']}"
            dur[key] = dur.get(key, 0.0) + (s["end"] - s["start"])
        jobs = [j for j in log["jobs"] if T.in_pass(j["group"], rec["index"])]
        tasks = [t for t in log["tasks"] if T.in_pass(t["group"], rec["index"])]
        stages = [s for s in log["stages"] if T.in_pass(s["group"], rec["index"])]
        busy = T._union_length([(max(j["start"], spans[root]["start"]),
                                 min(j["end"] or spans[root]["end"], spans[root]["end"]))
                                for j in jobs])
        task_cpu = sum(t["cpu_s"] for t in tasks)
        task_run = sum(t["run_s"] for t in tasks)
        m = {
            "queries.build_s": dur.get("queries.build", 0.0),
            "queries.build_jobs": sum(1 for j in jobs if "|build" in j["group"]),
            "queries.run_s": dur.get("queries.run", 0.0),
            "graph.cc_s": dur.get("graph.cc", 0.0),
            "graph.cc_calls": sum(1 for i in members if spans[i]["name"] == "graph.cc"),
            "graph.cc_jobs": sum(1 for j in jobs if "|cc" in j["group"]),
            "sources.input_mb": sum(t["input"] for t in tasks) / 1e6,
            "sources.json_scans": sum(
                1 for s in stages if any(n.startswith("Scan json") for n in s["scopes"])),
            "sources.write_s": sum(v for k, v in dur.items()
                                   if k.startswith("sources.write_parquet")),
            "driver.gap_s": wall - busy,
            "driver.jobs": len(jobs),
            "driver.stages": len(stages),
            "driver.py_cpu_s": rec["cpu"]["driver"],
            "exec.tasks": len(tasks),
            "exec.task_run_s": task_run,
            "exec.task_cpu_s": task_cpu,
            "exec.gc_s": sum(t["gc_s"] for t in tasks),
            "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 1e6,
            "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "exec.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "exec.busy_frac": task_run / (wall * CORES),
            "jvm.cpu_s": rec["cpu"]["jvm"],
            "jvm.overhead_cpu_s": rec["cpu"]["jvm"] - task_cpu,
            "pyworker.cpu_s": rec["cpu"]["pyworker"],
            "pyworker.run_s": sum(t["py_run_s"] for t in tasks),
            "pyworker.mb_sent": sum(t["py_sent"] for t in tasks) / 1e6,
            "self_sum_ratio": sum(selfs[i] for i in members) / wall,
        }
        m["sources.files_written"], m["sources.mb_written"] = rec["files"]
        for t in SPARKIFY_TABLES:
            m[f"sparkify.{t}.write_s"] = dur.get(f"sources.write_parquet:{t}", 0.0)
        for name in CORPUS_QUERIES:
            m[f"q.{name}.s"] = dur.get(f"q.{name}", 0.0)
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}, per_pass


def before_pass(spark, workload, p) -> None:
    """Untimed: a fresh output directory, and a full GC in the JVM and in
    Python, so no pass pays for garbage an earlier pass left behind."""
    workload.before_pass(p)
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()


def steal_adjusted(wall: float, cpu: float, steal: float) -> float:
    """Wall seconds with the hypervisor's CPU steal taken out.

    While the host runs other guests, every busy vCPU of the guest loses
    a share of its time (``steal`` in /proc/stat) and the pass stretches.
    With ``cpu`` CPU-seconds of work (steal excluded) and ``steal`` stolen
    seconds over a wall time ``wall``, the pass kept ``(cpu + steal) / wall``
    vCPUs busy on average; without the steal it would have taken
    ``wall * cpu / (cpu + steal)``. On an idle host steal is 0 and this is
    the wall time."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


# Compared at 0.01 resolution: compressed shuffle blocks vary by a few
# bytes from pass to pass with the order rows arrive in.
COUNT_GUARD = ("driver.jobs", "exec.tasks", "exec.shuffle_write_mb", "sources.input_mb")


def run(args) -> int:
    from perfbench import trace as T

    workload = make_workload(args.workload, args.seed)
    workload.prepare()
    _log("inputs and expected results ready")

    errors: list[str] = []
    attempted = 0
    t_setup = time.perf_counter()
    cpu_setup, steal_setup = T.cpu_by_role(T.process_tree())["total"], T.host_steal_s()
    t_session = time.perf_counter()
    spark = start_session(bool(args.trace))
    session_s = time.perf_counter() - t_session
    _log(f"session started in {session_s:.2f}s")
    tracer = T.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                      sc=spark.sparkContext if args.trace else None)
    tracer.enabled = False
    try:
        for p in range(WARMUP_PASSES):
            before_pass(spark, workload, f"w{p}")
            t_pass = time.perf_counter()
            workload.run_pass(spark, tracer, f"w{p}", errors)
            attempted += len(workload.ops())
            _log(f"warm-up pass {p} took {time.perf_counter() - t_pass:.2f}s")
        setup_s = steal_adjusted(time.perf_counter() - t_setup,
                                 T.cpu_by_role(T.process_tree())["total"] - cpu_setup,
                                 T.host_steal_s() - steal_setup)
        _log(f"set-up done in {time.perf_counter() - t_setup:.2f}s ({setup_s:.2f}s without steal)")

        passes: list[dict] = []
        t_window = time.perf_counter()
        while (len(passes) < MIN_TIMED_PASSES
               or time.perf_counter() - t_window < args.seconds
               or (sum(p["clean"] for p in passes) < MIN_TIMED_PASSES
                   and len(passes) < MIN_TIMED_PASSES + MAX_EXTRA_PASSES)):
            idx = len(passes)
            traced = bool(args.trace) and idx % 2 == 0
            before_pass(spark, workload, idx)
            if traced:
                install_wrappers(tracer)
            tracer.enabled = traced
            cpu0 = T.cpu_by_role(T.process_tree())
            steal0 = T.host_steal_s()
            t0 = time.perf_counter()
            with tracer.span("pass", group=str(idx)):
                if args.trace and not traced:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", f"{T.GROUP_PREFIX}|{idx}")
                workload.run_pass(spark, tracer, idx, errors)
            wall = time.perf_counter() - t0
            cpu1 = T.cpu_by_role(T.process_tree())
            steal = T.host_steal_s() - steal0
            tracer.enabled = False
            tracer.unwrap_all()
            if args.trace:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            passes.append({
                "index": idx, "traced": traced, "raw_wall_s": wall, "steal_s": steal,
                "clean": steal <= STEAL_CLEAN * (cpu1["total"] - cpu0["total"] + steal),
                "wall_s": steal_adjusted(wall, cpu1["total"] - cpu0["total"], steal),
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
                "span": next((i for i in range(len(tracer.spans) - 1, -1, -1)
                              if tracer.spans[i]["name"] == "pass"), None) if traced else None,
                "files": workload.files_written(),
            })
            attempted += len(workload.ops())

        _log(f"{len(passes)} timed passes done")
        workload.verify(spark, errors)
        attempted += len(workload.ops())
        peak_mb = T.peak_rss_mb(T.process_tree())
        _log("verification pass done")
    finally:
        stop_session(spark)
        _log("session stopped")

    failed = min(len(errors), attempted)
    timed = [p for p in passes if not p["traced"]] if args.trace else passes
    if sum(p["clean"] for p in timed) >= MIN_TIMED_PASSES:
        timed = [p for p in timed if p["clean"]]
    else:
        timed = sorted(timed, key=lambda p: p["steal_s"] / (p["cpu"]["total"] + p["steal_s"]))
        timed = timed[:MIN_TIMED_PASSES]
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "pass_s": [round(p["wall_s"], 4) for p in passes],
        "raw_pass_s": [round(p["raw_wall_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu"]["total"], 3) for p in passes],
        "host_steal_s": [round(p["steal_s"], 2) for p in passes],
        "traced": [p["traced"] for p in passes],
    }
    if args.trace:
        if not any(p["traced"] for p in passes):
            raise RuntimeError("no traced pass")
        log = T.read_event_log(os.path.join(WORK, "eventlog"))
        metrics, per_pass = layer_metrics(tracer, passes, log)
        for key in COUNT_GUARD:
            values = {round(m[key], 2) for m in per_pass}
            if len(values) != 1:
                errors.append(f"count guard: {key} differs across passes: {sorted(values)}")
        failed = min(len(errors), attempted)
        traced_pass_s = _median([p["wall_s"] for p in passes if p["traced"]])
        metrics["session.start_s"] = session_s
        metrics["trace.pass_s"] = traced_pass_s
        metrics["trace.overhead_s"] = traced_pass_s - _median([p["wall_s"] for p in timed])
        detail["counts"] = {k: round(per_pass[0][k], 2) for k in COUNT_GUARD}
        detail["self_sum_ratio"] = [round(m.pop("self_sum_ratio"), 4) for m in per_pass]
        metrics.pop("self_sum_ratio")
        tracer.write(os.path.join(WORK, "spans.jsonl"))
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median([p["wall_s"] for p in timed]),
            "pass_cpu_s": _median([p["cpu"]["total"] for p in timed]),
            "peak_rss_mb": peak_mb,
        }
        units = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
    detail["errors"] = errors[:20]
    detail["error_rate"] = failed / attempted
    print(json.dumps({"detail": detail}))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _layer_units() -> dict[str, str]:
    units = {}
    for k in ("session.start_s", "queries.build_s", "queries.run_s", "graph.cc_s",
              "sources.write_s", "driver.gap_s", "driver.py_cpu_s", "exec.task_run_s",
              "exec.task_cpu_s", "exec.gc_s", "jvm.cpu_s", "jvm.overhead_cpu_s",
              "pyworker.cpu_s", "pyworker.run_s", "trace.pass_s", "trace.overhead_s"):
        units[k] = "s"
    for k in ("queries.build_jobs", "graph.cc_calls", "graph.cc_jobs", "sources.json_scans",
              "sources.files_written", "driver.jobs", "driver.stages", "exec.tasks"):
        units[k] = "count"
    for k in ("sources.input_mb", "sources.mb_written", "exec.shuffle_read_mb",
              "exec.shuffle_write_mb", "exec.spill_mb", "pyworker.mb_sent"):
        units[k] = "MB"
    units["exec.busy_frac"] = "ratio"
    for t in SPARKIFY_TABLES:
        units[f"sparkify.{t}.write_s"] = "s"
    for name in CORPUS_QUERIES:
        units[f"q.{name}.s"] = "s"
    return units


LAYER_UNITS = _layer_units()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("corpus", "sparkify_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT]
    try:
        import dend_spark_data_lake_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    _environment()
    # SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 3


if __name__ == "__main__":
    sys.exit(main())
