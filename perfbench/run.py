"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard_stream --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its inputs from the seed
(cached under .perfbench/inputs), brings up a local Spark session on all
cores, runs the workload's ops for --seconds seconds, checks every op's
output against the engine's DuckDB oracle, and prints as its last stdout
line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run also instruments every layer (see tracing.py) and prints the
per-layer metrics instead. The line before it is a JSON detail record
(per-op latencies, failures, input sizes, the per-op trace breakdown).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "gmallbiguan_parent_spark"
SETUPS = 5          # session bring-ups per run; setup_s is their median
DRIVER_MEM = "2g"
WARMUP_SF = 0.001   # scale of the untimed warm-up cycle
MIB = 1024 * 1024

sys.path.insert(0, HERE)

import gen  # noqa: E402
from metrics import (PROBE_REF_S, RssSampler, dir_bytes, geomean, percentile, result_line,  # noqa: E402
                     speed_probe, tail_percentile)
from workloads import CURATION, SERVING, STREAMS, WORKLOADS, link_copy, run_op  # noqa: E402

E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
    "rows_per_s": "rows/s", "peak_rss_mb": "MiB",
}
ALL_OPS = SERVING + CURATION + STREAMS


def layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit."""
    units = {
        "session.bringup_s": "s", "session.first_job_s": "s", "session.warmup_s": "s",
        "io.load_table.calls": "count", "io.load_table.ms": "ms",
        "io.load_table.repeat_frac": "ratio",
        "pipelines.build_ms": "ms", "pipelines.build_jobs": "count",
        "pipelines.outside_jobs_ms": "ms",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.job_span_ms": "ms", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
        "spark.cpu_util": "ratio", "spark.gc_s": "s", "spark.deserialize_s": "s",
        "spark.shuffle_write_mb": "MiB", "spark.shuffle_read_mb": "MiB",
        "spark.fetch_wait_s": "s", "spark.spill_mb": "MiB", "spark.input_mb": "MiB",
        "spark.input_rows": "rows", "spark.task_failed_frac": "ratio",
        "spark.jobs_unattributed": "count",
        "index_store.build_s": "s", "index_store.build_jobs": "count",
        "index_store.bytes_written_mb": "MiB", "index_store.read_ms": "ms",
        "index_store.bytes_per_input_byte": "ratio",
        "streaming.replay_ms": "ms", "streaming.batches": "count",
        "streaming.empty_batch_frac": "ratio", "streaming.batch_ms_p50": "ms",
        "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
        "streaming.commit_ms": "ms", "streaming.state_rows": "rows",
        "streaming.state_mem_mb": "MiB", "streaming.checkpoint_mb": "MiB",
        "disk.local_dir_mb": "MiB", "mem.jvm_rss_mb": "MiB", "mem.python_rss_mb": "MiB",
        "mem.workers_rss_mb": "MiB", "trace.overhead_ratio": "ratio", "trace.cycles": "count",
    }
    units.update({f"op.{name}.ms": "ms" for name in ALL_OPS})
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str, wl, trace: bool) -> dict[str, str]:
    """Process environment for a self-contained run; returns the paths."""
    paths = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "index", "eventlog")}
    for p in paths.values():
        os.makedirs(p)
    # the Python workers import the package too, so PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap (-Xms = -Xmx, see PYSPARK_SUBMIT_ARGS) keeps the JVM's
    # resident size from following adaptive, timing-driven heap growth
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None
    if wl.index_store:
        os.environ["SPARK_GRAFT_INDEX_DIR"] = paths["index"]
    else:
        os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    args = [f'--driver-java-options "-Xms{DRIVER_MEM} -XX:-UsePerfData '
            f'-Djava.io.tmpdir={paths["tmp"]}"',
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{paths['eventlog']}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return paths


def bring_up(spark=None) -> tuple[object, float, float]:
    """(session, bring-up s, first-job s); stops `spark` first if given."""
    from gmallbiguan_parent_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    spark.range(0, 10_000, numPartitions=8).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.time() - t1


class Loop:
    """Runs cycles of the workload's ops and keeps every op's record."""

    def __init__(self, spark, wl, inputs: str, seed: int, scratch: str, tracer=None):
        self.spark, self.wl, self.inputs, self.seed = spark, wl, inputs, seed
        self.scratch, self.tracer = scratch, tracer
        self.cycles_run = 0
        self.probes: list[float] = []
        self.records: list[dict] = []

    def order(self) -> list[str]:
        shuffled = self.wl.shuffled
        fixed = [name for name in self.wl.ops if name not in shuffled]
        if not shuffled:
            return fixed
        return fixed + gen.request_order(self.seed * 1000 + self.cycles_run, list(shuffled))

    def cycle_dir(self, inputs: str) -> str:
        if not self.wl.fresh:
            return inputs
        return link_copy(inputs, os.path.join(self.scratch, f"cycle{self.cycles_run}"))

    def run_cycle(self, traced: bool = False, inputs: str | None = None) -> float:
        """One pass over the ops (on `inputs`, default the run's inputs);
        returns its wall time in seconds."""
        inputs = inputs or self.inputs
        fresh_dir = self.cycle_dir(inputs)
        cycle, recs = self.cycles_run, []
        self.cycles_run += 1
        t0 = time.time()
        for name in self.order():
            rec = {"op": name, "cycle": cycle, "inputs": inputs, "error": None}
            sf_dir = fresh_dir if name in self.wl.fresh else inputs
            self.probes.append(speed_probe())  # outside the op and its trace
            if traced:
                self.tracer.begin_op(name, cycle)
            rec["t0"] = time.time()
            try:
                rec["result"] = run_op(self.spark, name, sf_dir,
                                       self.tracer.built if traced else None)
            except Exception as e:  # an op failure is counted, not fatal
                traceback.print_exc()
                rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            rec["t1"] = time.time()
            if traced:
                self.tracer.end_op()
            recs.append(rec)
        self.records.extend(recs)
        return time.time() - t0


def check(records: list[dict]) -> dict[int, str]:
    """Compare each op's output with its DuckDB oracle on the same inputs
    (canonicalised as tools/verify_local.py does); returns
    {record index: problem} for the ops that fail."""
    from gmallbiguan_parent_spark.operators.index_store import MANIFEST
    from gmallbiguan_parent_spark.pipelines import all_oracles
    from tools.verify_local import rows_repr

    oracles = all_oracles()
    cache = OracleCache(os.path.join(WORK, "oracles"))
    problems = {}
    for i, rec in enumerate(records):
        name = rec["op"]
        if rec["error"]:
            problems[i] = rec["error"]
            continue
        if name == "ensure_index":
            if not os.path.exists(os.path.join(rec["result"], MANIFEST)):
                problems[i] = "index store has no manifest"
            continue
        want_cols, want_rows = cache.expected(rec["inputs"], oracles[name])
        cols, rows = rec["result"]
        got_rows = rows_repr(cols, [tuple(r) for r in rows])
        if sorted(cols) != want_cols:
            problems[i] = f"columns {sorted(cols)} != oracle {want_cols}"
        elif len(got_rows) != len(want_rows):
            problems[i] = f"{len(got_rows)} rows != oracle {len(want_rows)}"
        elif got_rows != want_rows:
            problems[i] = "values differ from oracle"
    cache.close()
    return problems


class OracleCache:
    """Canonical oracle results, keyed by the oracle SQL and a row-wise,
    order-insensitive digest of every table the SQL names. Seeds that
    only permute a table's rows share the entry; any changed row or
    changed SQL misses it."""

    def __init__(self, root: str):
        import duckdb

        self.root = root
        os.makedirs(root, exist_ok=True)
        self.con = duckdb.connect()
        self.digests: dict[tuple[str, str], str] = {}

    def _digest(self, inputs: str, table: str) -> str:
        key = (inputs, table)
        if key not in self.digests:
            total, n = self.con.execute(
                f"SELECT sum(hash(x)::HUGEINT), count(*) FROM '{inputs}/{table}.parquet' x"
            ).fetchone()
            self.digests[key] = f"{table}:{n}:{total}"
        return self.digests[key]

    def expected(self, inputs: str, sql: str) -> tuple[list[str], list[str]]:
        from tools.verify_local import rows_repr

        tables = [t for t in gen.TABLES if re.search(rf"\b{t}\b", sql)]
        key = hashlib.sha256("\n".join([sql] + [self._digest(inputs, t) for t in tables])
                             .encode()).hexdigest()
        path = os.path.join(self.root, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            return cols, rows
        for t in tables:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        res = self.con.execute(sql)
        names = [d[0] for d in res.description]
        cols, rows = sorted(names), rows_repr(names, res.fetchall())
        with open(path + ".tmp", "w") as fh:
            json.dump([cols, rows], fh)
        os.replace(path + ".tmp", path)
        return cols, rows

    def close(self) -> None:
        self.con.close()


def shutdown() -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    descendants = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in descendants:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    from metrics import _proc_table

    table = _proc_table()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        kids = [c for c, (pp, _, _) in table.items() if pp == p]
        out.extend(kids)
        stack.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, wl, run_dir)
    finally:
        if "pyspark" in sys.modules:  # a failed run still stops the JVM
            shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, run_dir: str) -> int:
    trace = bool(args.trace)
    phases = {"start": time.time()}
    inputs = gen.generate(os.path.join(WORK, "inputs"), args.seed, wl.sf)
    stats = gen.table_stats(inputs)
    paths = configure_env(run_dir, wl, trace)
    os.chdir(run_dir)  # spark-warehouse, derby.log and the like land here
    sampler = RssSampler().start()

    spark, ups, probes = None, [], []
    for _ in range(SETUPS):
        probes.append(speed_probe())
        spark, up_s, job_s = bring_up(spark)
        ups.append((up_s, job_s))
    setup_s = statistics.median(a + b for a, b in ups)
    phases["setup"] = time.time()

    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    loop = Loop(spark, wl, inputs, args.seed, os.path.join(run_dir, "cycles"), tracer)
    os.makedirs(loop.scratch)
    warmup_s = 0.0
    if wl.warmup or trace:
        warm_inputs = gen.generate(os.path.join(WORK, "inputs"), args.seed, WARMUP_SF)
        warmup_s = loop.run_cycle(inputs=warm_inputs)
    warm_records = len(loop.records)
    phases["warmup"] = time.time()

    # the window is a whole number of cycles sized from --seconds and the
    # workload's nominal cycle time, so a run does the same work on a
    # fast or a slow machine
    n_cycles = max(1, round(args.seconds / wl.cycle_s))
    if trace:  # traced/untraced pairs
        n_cycles += n_cycles % 2
    cycle_walls = {False: [], True: []}
    for i in range(n_cycles):
        # traced runs alternate traced/untraced cycles, the traced one
        # first: the session still warms across the window, so the
        # overhead ratio errs high rather than low
        traced = trace and i % 2 == 0
        if traced:
            tracer.install()
        cycle_walls[traced].append(loop.run_cycle(traced))
        if traced:
            tracer.uninstall()
    window = loop.records[warm_records:]
    window_s = window[-1]["t1"] - window[0]["t0"]
    local_mb = dir_bytes(paths["local"]) / MIB
    app_id = spark.sparkContext.applicationId
    sampler.stop()

    phases["window"] = time.time()
    problems = check(loop.records)
    phases["check"] = time.time()
    shutdown()
    phases["shutdown"] = time.time()

    n_ops = len(window)
    attempted = len(loop.records)  # warm-up ops are checked too
    lat_ms = [(r["t1"] - r["t0"]) * 1e3 for r in window]
    busy_s = sum(lat_ms) / 1e3  # one client: the ops back to back, no probes
    rows = sum(stats[t][0] for t in wl.input_tables)
    # each op's median over the window's cycles; op_p50_ms is their
    # geometric mean, so every op weighs the same and no single op's rank
    # among the others decides the figure
    op_ms = {name: percentile([ms for r, ms in zip(window, lat_ms) if r["op"] == name], 50)
             for name in dict.fromkeys(r["op"] for r in window)}
    raw = {
        "setup_s": setup_s,
        "ops_per_s": n_ops / busy_s,
        "op_p50_ms": geomean(op_ms.values()),
        "rows_per_s": rows * (n_ops / len(wl.ops)) / busy_s,
    }
    # The host's own speed drifts by a third from minute to minute, the
    # same for this process, the JVM and the workers. Times and rates are
    # reported at the nominal host speed: scaled by the run's median speed
    # probe against its nominal time.
    probes += loop.probes
    slowdown = statistics.median(probes) / PROBE_REF_S
    e2e = {
        "setup_s": raw["setup_s"] / slowdown,
        "ops_per_s": raw["ops_per_s"] * slowdown,
        "op_p50_ms": raw["op_p50_ms"] / slowdown,
        "rows_per_s": raw["rows_per_s"] * slowdown,
        "peak_rss_mb": sampler.peak_total / MIB,
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": trace, "sf": wl.sf,
        "inputs": {t: {"rows": stats[t][0], "bytes": stats[t][1]} for t in wl.input_tables},
        "phases_s": {k: phases[k] - phases["start"] for k in phases},
        "input_rows_per_cycle": rows, "cycles": loop.cycles_run, "window_s": window_s,
        "op_samples": n_ops,
        "ops_failed_frac": len(problems) / attempted,
        "failures": {f"{loop.records[i]['op']}#{i}": p for i, p in problems.items()},
        "op_ms": op_ms,
        "host": {"probes": len(probes), "probe_ms_median": statistics.median(probes) * 1e3,
                 "probe_ms_nominal": PROBE_REF_S * 1e3, "slowdown": slowdown},
        "raw": raw,
    }
    p90 = tail_percentile(lat_ms, 90)
    if p90 is not None:
        detail["op_p90_ms"] = p90

    if trace:
        metrics = trace_metrics(wl, loop, tracer, paths, app_id, stats)
        metrics.update({
            "session.bringup_s": statistics.median(a for a, _ in ups),
            "session.first_job_s": statistics.median(b for _, b in ups),
            "session.warmup_s": warmup_s,
            "disk.local_dir_mb": local_mb,
            "mem.jvm_rss_mb": sampler.peak["jvm"] / MIB,
            "mem.python_rss_mb": sampler.peak["python"] / MIB,
            "mem.workers_rss_mb": sampler.peak["workers"] / MIB,
            "trace.overhead_ratio": sum(cycle_walls[True]) / sum(cycle_walls[False]),
        })
        detail["per_op"] = metrics.pop("_per_op")
        units = layer_units()
        out = {k: (metrics[k], units[k]) for k in units}
    else:
        out = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
        detail["e2e"] = e2e
    print(json.dumps({"detail": detail}))
    print(result_line(not problems, attempted, len(problems), out), flush=True)
    return 0


def trace_metrics(wl, loop, tracer, paths, app_id, stats) -> dict:
    from tracing import assign_jobs, find_event_log, layer_metrics, op_breakdown, parse_event_log

    jobs = parse_event_log(find_event_log(paths["eventlog"], app_id))
    ops = [op for op in tracer.ops if op["t1"] is not None]
    unattributed = assign_jobs(ops, jobs, tracer.run_ids)
    cycles = len({op["cycle"] for op in ops})
    metrics = layer_metrics(ops, unattributed, cycles, int(os.environ["SPARK_GRAFT_CPUS"]),
                            ALL_OPS)
    corpus = sum(stats[t][1] for t in ("documents", "embeddings"))
    metrics["index_store.bytes_per_input_byte"] = (
        metrics["index_store.bytes_written_mb"] * MIB / corpus if wl.index_store else 0.0)
    metrics["trace.cycles"] = cycles
    metrics["_per_op"] = [op_breakdown(op) for op in ops]
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
