"""The repository's benchmark: seeded workloads of declared queries and
pipeline jobs, each op timed through full materialisation.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the repository root. One run:

1. generates the fixture tables (``gen.py``: sf0.01 row counts, fixed
   fixture seed) into a run directory it owns under ``.perfbench_work/``,
   which also holds the engine's scratch directory, ``SPARK_LOCAL_DIRS``,
   ``TMPDIR``, the JVM's temp directory and the working directory
   (``spark-warehouse``); the directory is removed at the end. sf0.01
   keeps a whole run near a minute: a run pays a JVM start, a cold pass
   and warm-up passes before it measures;
2. sets up the engine N_SETUPS times (``get_spark`` + ``load_all`` + the
   fixture tables' footers) and reports the median as ``setup_s``. The
   first set-up launches the JVM; the others stop the session and start a
   new one in that JVM, so the median is the engine's own set-up work, and
   the JVM launch is kept as the first set-up in the detail file;
3. runs one untimed pass that checks every op's output (DuckDB oracle via
   the repository's differential hash, or committed expected stats);
4. runs WARMUP_PASSES untimed warm-up passes;
5. times passes for ``--seconds`` (the seed permutes op order within each
   pass) and prints the end-to-end metrics; with ``--trace 1`` it
   alternates untraced and traced passes and prints the per-layer metrics
   (``layers.py``) instead, with the tracing overhead.

Load model: a closed loop with one client. An op is issued only after the
previous one finished; Spark runs ``local[nproc]`` task threads. The driver
heap defaults to 2g (``SPARK_GRAFT_DRIVER_MEM``; the engine's own default
is 16g), which the fixture never comes near.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Per-op detail, spans and run conditions go to
``.perfbench_results/``. Exits non-zero if any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_ml_pipelines_example_spark"
FIXTURE_SF = 0.01
FIXTURE_SEED = 42
N_SETUPS = 5
WARMUP_PASSES = 1
DEDUP_OP = "pipeline.run_dedup"

# Each workload: the ops of one pass. Names are declared queries, except
# DEDUP_OP, the pipeline dedup job, which writes its own output. It runs the
# exact method: on this fixture the minhash method (banded pairs, then
# connected components) took 55 s cold and 24 s warm per call on a 4-core
# host, more than a whole run may take.
WORKLOADS = {
    # relational and analytic plans; no op starts a Spark job at build and
    # none runs Python workers, so this is the control for driver-side,
    # Python-worker and streaming changes
    "olap": [
        "q_tpch_q1",
        "q_tpch_q5",
        "q_agg_groupby",
        "q_agg_percentile",
        "q_fn_json",
        "q_join_salted_skew",
        "q_win_topk_per_group",
    ],
    # ops whose build runs Spark jobs (driver replays, an availableNow
    # stream, a pipeline job) or whose plan runs Python workers
    "jobs": [
        "q_ml_logreg_exact",
        "q_multimodal_decode",
        "q_stream_drift_monitor",
        DEDUP_OP,
    ],
}

# Expected output of ops without a DuckDB oracle, at the fixture above.
EXPECTED = {
    DEDUP_OP: {"input_docs": 500, "kept_docs": 499, "clusters": 499, "method": "exact"},
}

# op_p50_s stays in the detail file only: across seeds on a host with
# stolen CPU it spread wider than any bound the benchmark may set
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- run state


class RunDir:
    """A fresh directory per run for everything the run writes."""

    def __init__(self):
        base = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        self.data = os.path.join(self.path, "data")
        self.scratch = os.path.join(self.path, "scratch")
        self.cwd = os.path.join(self.path, "cwd")
        for d in (self.data, self.scratch, self.cwd, self.sub("local"), self.sub("tmp")):
            os.makedirs(d, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate(run: RunDir) -> None:
    """Point every place the engine, Spark and Python workers write at the
    run directory, and make the repository importable by Python workers.
    Must run before the JVM starts (environment) and before the first query
    is built (the engine reads its scratch root at call time)."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    os.environ["TMPDIR"] = run.sub("tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # the JVM's temp files go to the run directory too; no hsperfdata in /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={run.sub('tmp')}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(run.cwd)

    from spark_ml_pipelines_example_spark.queries import _util
    from spark_ml_pipelines_example_spark.sources import io

    _util.SCRATCH = run.scratch
    io._SCRATCH_ROOT = os.path.join(run.scratch, "parquet_us")


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: how fast the host ran then."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def conditions() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(),
        "cpu_probe_s": cpu_probe_s(),
        "commit": commit,
    }


# ---------------------------------------------------------------- engine


class Engine:
    """The engine as the benchmark drives it: a session, the registry and
    the ops of one workload."""

    def __init__(self, sf_dir: str, out_dir: str):
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.spark = None
        self.registry = None
        self.first_session_s = None
        self.first_registry_s = None

    def setup(self) -> float:
        """(Re)start the session, load the registry and every fixture table's
        footer; returns the wall time."""
        from spark_ml_pipelines_example_spark.plans.session import get_spark
        from spark_ml_pipelines_example_spark.sources.io import load_table
        from spark_ml_pipelines_example_spark.sources.schemas import TABLE_SCHEMAS

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        from spark_ml_pipelines_example_spark.queries.registry import load_all

        self.registry = load_all()
        t2 = time.perf_counter()
        for name in TABLE_SCHEMAS:
            load_table(self.spark, self.sf_dir, name)
        t3 = time.perf_counter()
        if self.first_session_s is None:
            self.first_session_s, self.first_registry_s = t1 - t0, t2 - t1
        return t3 - t0

    def build(self, op: str):
        """The op's frame, built: deferred builds (eager collects, replays,
        fits, stream runs) happen here. A pipeline job runs whole here and
        returns its stats dict."""
        from spark_ml_pipelines_example_spark.plans.deferred import DeferredFrame

        if op == DEDUP_OP:
            from spark_ml_pipelines_example_spark.pipeline import run_dedup

            stats = run_dedup(self.spark, self.sf_dir, self.out_dir, "exact", overwrite=True)
            stats.pop("output")
            return stats
        df = self.registry[op].fn(self.spark, self.sf_dir)
        if isinstance(df, DeferredFrame):
            df._jdf  # first attribute access runs the deferred build
        return df

    @staticmethod
    def materialise(df) -> None:
        """The timed action: write every row to the no-op sink, so the whole
        declared plan runs (``count()`` lets Catalyst prune columns). A
        pipeline job's stats need no action."""
        if not isinstance(df, dict):
            df.write.format("noop").mode("overwrite").save()

    @staticmethod
    def release() -> None:
        from spark_ml_pipelines_example_spark.operators._cache import release_tracked

        release_tracked()

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


# ---------------------------------------------------------------- checks


class Checker:
    """Compares each op's collected output with its DuckDB oracle using the
    repository's differential hash (tools/driver_sim.py), or with the
    committed expected stats for ops without an oracle."""

    def __init__(self, engine: Engine):
        import duckdb

        from tools.driver_sim import TABLES, _value_hash

        self.engine = engine
        self.value_hash = _value_hash
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(engine.sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def check(self, op: str) -> tuple[float, str | None]:
        """Build and collect the op; returns (engine seconds, mismatch or None)."""
        t0 = time.perf_counter()
        df = self.engine.build(op)
        if op in EXPECTED:
            spent = time.perf_counter() - t0
            self.engine.release()
            return spent, None if df == EXPECTED[op] else f"stats {df} != {EXPECTED[op]}"
        spdf = df.toPandas()
        spent = time.perf_counter() - t0
        self.engine.release()
        oracle = self.engine.registry[op].oracle
        if oracle is None:
            return spent, "no oracle and no expected stats"
        odf = self.con.execute(oracle).fetch_arrow_table().to_pandas()
        if len(spdf) != len(odf):
            return spent, f"rows {len(spdf)} != oracle {len(odf)}"
        if sorted(spdf.columns) != sorted(odf.columns):
            return spent, f"columns {sorted(spdf.columns)} != oracle {sorted(odf.columns)}"
        if self.value_hash(spdf) != self.value_hash(odf):
            return spent, "value hash differs from oracle"
        return spent, None


# ---------------------------------------------------------------- passes


def run_op(engine: Engine, op: str, tracer=None, spans=None, t_origin=0.0) -> dict:
    """One op: build, materialise into the no-op sink, release caches."""
    w0, p0 = time.time(), time.perf_counter()
    df = engine.build(op)
    w1, p1 = time.time(), time.perf_counter()
    engine.materialise(df)
    engine.release()
    w2, p2 = time.time(), time.perf_counter()
    rec = {"op": op, "s": p2 - p0, "build_s": p1 - p0}
    if tracer is not None:
        layers, jobs = tracer.collect(w0, w1, w2)
        rec.update(t0=w0, t_end=w2, layers=layers)
        rec["jobs"] = [j["id"] for j in jobs]
        add_spans(spans, op, w0, w1, w2, layers, jobs, t_origin)
    return rec


def add_spans(spans, op, w0, w1, w2, layers, jobs, t_origin) -> None:
    def span(name, start, end, parent):
        spans.append({
            "id": len(spans), "name": name, "parent": parent,
            "start": round(start - t_origin, 6), "end": round(end - t_origin, 6),
        })
        return len(spans) - 1

    root = span(f"op {op}", w0, w2, None)
    build = span("build", w0, w1, root)
    plan_end = w1 + layers["spark.plan_s"]
    span("plan", w1, plan_end, root)
    execute = span("exec", plan_end, w2, root)
    for j in jobs:
        if j["submitted"] is not None:
            span(f"job {j['id']}", j["submitted"], j["completed"] or w2,
                 build if j["phase"] == "build" else execute)


class Tally:
    """Ops attempted and ops that raised or returned wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []

    def fail(self, op: str, error: str) -> None:
        self.failures.append({"op": op, "error": error})
        log(f"op {op} failed: {error}")


def run_pass(engine, ops, rng, tally, tracer=None, spans=None, t_origin=0.0) -> dict:
    """One pass over the ops in a seed-permuted order."""
    order = list(ops)
    rng.shuffle(order)
    t0 = time.perf_counter()
    records = []
    for op in order:
        tally.attempted += 1
        try:
            records.append(run_op(engine, op, tracer, spans, t_origin))
        except Exception:
            tally.fail(op, traceback.format_exc(limit=4))
            engine.release()
    return {"s": time.perf_counter() - t0, "ops": records}


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(engine: Engine) -> float:
    """Driver JVM VmHWM plus this process's ru_maxrss."""
    jvm_pid = engine.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024.0


def layer_metrics(passes: list[dict], engine: Engine, untraced_s: float) -> dict:
    """Per-layer metrics: per-pass sums over the traced passes, median
    across passes."""
    per_pass = []
    for p in passes:
        sums: dict[str, float] = {}
        for rec in p["ops"]:
            for k, v in rec["layers"].items():
                sums[k] = sums.get(k, 0.0) + v
        op_s = sum(rec["s"] for rec in p["ops"])
        sums["queries.build_share"] = 100.0 * sums["queries.build_s"] / op_s
        # build-phase jobs run outside spark.exec_s, so only the action's
        # executor time counts here
        sums["spark.slot_util"] = sums["spark.exec_run_s"] / (
            max(sums["spark.exec_s"], 1e-9) * engine.spark.sparkContext.defaultParallelism
        )
        dedup = [r for r in p["ops"] if r["op"] == DEDUP_OP]
        sums["pipeline.dedup_jobs"] = sum(r["layers"]["spark.jobs"] for r in dedup)
        sums["pipeline.dedup_s"] = sum(r["s"] for r in dedup)
        sums["trace.pass_s"] = p["s"]
        per_pass.append(sums)
    out = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = out.pop("trace.pass_s") - untraced_s
    out["plans.session_s"] = engine.first_session_s
    out["queries.registry_s"] = engine.first_registry_s
    return out


LAYER_UNITS = {
    "plans.session_s": "s", "queries.registry_s": "s", "queries.build_s": "s",
    "queries.build_jobs": "count", "queries.build_share": "%",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.task_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.input_bytes": "B", "spark.output_bytes": "B",
    "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "pipeline.dedup_jobs": "count", "pipeline.dedup_s": "s",
    "legacy.count_s": "s", "trace.overhead_s": "s", "driver.peak_rss_mb": "MB",
    "warmup.cold_pass_s": "s", "warmup.last_pass_s": "s",
}


def legacy_count_pass(engine: Engine, ops) -> dict:
    """The count()-based timing of the r1-r12 bench history, per op."""
    out = {}
    for op in ops:
        if op == DEDUP_OP:
            continue
        t0 = time.perf_counter()
        engine.build(op).count()
        out[op] = time.perf_counter() - t0
        engine.release()
    return out


def check_pass(engine: Engine, ops, rng, tally) -> tuple[dict, float]:
    """The untimed correctness pass; returns per-op verdicts and the engine
    time of the pass (checking excluded)."""
    checker = Checker(engine)
    verdicts, spent = {}, 0.0
    order = list(ops)
    rng.shuffle(order)
    try:
        for op in order:
            tally.attempted += 1
            try:
                s, problem = checker.check(op)
                spent += s
            except Exception:
                problem = traceback.format_exc(limit=4)
                engine.release()
            verdicts[op] = problem or "ok"
            if problem:
                tally.fail(op, f"check: {problem}")
    finally:
        checker.close()
    return verdicts, spent


def warm_up(engine: Engine, ops, rng, tally) -> list[float]:
    """WARMUP_PASSES untimed passes after the cold checking pass. Pass time
    does not level off within a run's time budget: over eight more passes
    it kept falling by a further 25-35% (JIT) on a 4-core host. One pass
    leaves more of the budget to timed passes, whose median is reported;
    the pass times are kept in the detail file."""
    return [run_pass(engine, ops, rng, tally)["s"] for _ in range(WARMUP_PASSES)]


def measure(args, run: RunDir, tally: Tally) -> tuple[dict, dict]:
    import gen

    gen.write(run.data, FIXTURE_SF, FIXTURE_SEED)
    log("fixture written")
    isolate(run)
    ops = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    engine = Engine(run.data, run.sub("out"))
    detail: dict = {"workload": args.workload, "seed": args.seed, "ops": ops}
    try:
        setups = [engine.setup() for _ in range(N_SETUPS)]
        detail["setups_s"] = setups
        log(f"set up {N_SETUPS} times: {', '.join(f'{s:.2f}' for s in setups)} s")
        detail["checks"], cold = check_pass(engine, ops, rng, tally)
        log(f"checked {len(ops)} ops; engine time {cold:.2f} s")
        detail["warmup_pass_s"] = warm = warm_up(engine, ops, rng, tally)
        log(f"warm-up passes: {', '.join(f'{s:.2f}' for s in warm)} s")

        # timed window; a traced run alternates untraced and traced passes
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(engine.spark)
            detail["spans"] = spans = []
            detail["traced_passes"] = traced = []
        passes = []
        steal0 = steal_ticks()
        t0, t_origin = time.perf_counter(), time.time()
        try:
            while not passes or time.perf_counter() - t0 < args.seconds:
                passes.append(run_pass(engine, ops, rng, tally))
                if tracer is not None:
                    tracer.skip()
                    traced.append(run_pass(engine, ops, rng, tally, tracer, spans, t_origin))
            if tracer is not None:
                time.sleep(0.5)  # let streaming progress events in flight land
                tracer.assign_streaming([r for p in traced for r in p["ops"]])
        finally:
            if tracer is not None:
                tracer.close()
        steal1 = steal_ticks()
        log(f"timed {len(passes)} passes")
        detail["window"] = {
            "wall_s": time.perf_counter() - t0,
            "steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        }
        detail["passes"] = passes
        op_s = [r["s"] for p in passes for r in p["ops"]]
        detail["op_samples"] = len(op_s)
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(p["s"] for p in passes),
            "op_p50_s": statistics.median(op_s),
        }
        detail["end_to_end"] = metrics
        if args.trace:
            detail["legacy_count_s"] = counts = legacy_count_pass(engine, ops)
            metrics = layer_metrics(traced, engine, untraced_s=metrics["pass_s"])
            metrics.update({
                "driver.peak_rss_mb": peak_rss_mb(engine),
                "warmup.cold_pass_s": cold,
                "warmup.last_pass_s": warm[-1],
                "legacy.count_s": sum(counts.values()),
            })
        return metrics, detail
    finally:
        engine.stop()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "driver_sim.py")
    ):
        log(f"engine sources not found under {ROOT}; run from a repository checkout")
        return 2
    sys.path.insert(0, HERE)
    before = conditions()
    run = RunDir()
    tally = Tally()
    try:
        metrics, detail = measure(args, run, tally)
    finally:
        run.remove()
    log("engine stopped")
    detail["failures"] = tally.failures
    detail["conditions"] = {"before": before, "after": conditions()}
    units = LAYER_UNITS if args.trace else END_TO_END
    result = {
        "correct": not tally.failures,
        "attempted": tally.attempted,
        "failed": len(tally.failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    detail["result"] = result
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    log(f"detail written to .perfbench_results/{name}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
