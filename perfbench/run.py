"""The engine's benchmark: one workload per run, in one process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

A run, from the root of a checkout of this repository:

1. generates the workload's input tables once (``perfbench/fixture.py``,
   cached under ``perfbench/.data``; not part of set-up time);
2. sets up three times (SparkSession, tables) and reports the median as
   ``setup_s``; the first set-up also imports the engine and starts the JVM;
3. runs every query once untimed, checks its collected result against the
   query's DuckDB oracle (``tools.check_contract.compare``) and takes the
   fingerprint of its forced result (this pass also warms the plans);
4. runs one untimed warm-up pass, then a fixed number of timed passes, each
   in an order drawn from ``--seed``, one query at a time (a closed loop
   with one client); the number of passes is ``--seconds`` divided by the
   workload's nominal pass time, at least two, so every run of a workload
   does the same work; every result's fingerprint must equal the
   oracle-checked one;
5. with ``--trace 1``, restarts the session with the event log and a
   streaming listener on, repeats the same passes instrumented and reports
   the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (each ``{"value", "unit"}``).  Anything else goes
to stderr.  Exit code 2 means the run could not start (for example, the
engine's source is missing).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEADLINE = [
    "mr_readme_sum", "mr_task1_mean", "mr_applicative", "mr_melt",
    "mr_task2_sparse", "mr_fold_vocab", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier", "join_orders_customer",
    "topk_orders", "window_topk_per_group", "asof_join_purchase_click",
    "dedup_exact", "dedup_minhash", "dedup_embedding", "text_stats",
    "sim_topk_bruteforce",
]
CUSTOM_FOLDS = [
    # custom, effectful folds that leave Catalyst for Arrow Python workers
    "mr_custom_fold_merge", "mr_product_median", "mr_group_reduce_keyed",
    "mr_group_reduce_ordered", "mr_filter_mapinpandas", "mr_assign_udf",
    # the cached-scan control
    "mr_shared_scan",
    # a stateful stream twin: micro-batches on stream threads
    "confseq_stream_stateful",
]
#: workload -> (queries, scale factor of its generated tables, nominal
#: seconds of one warm pass on a 4-vCPU VM, which turns --seconds into a
#: fixed number of passes)
WORKLOADS = {
    "headline": (HEADLINE, 0.01, 7.0),
    "custom_folds": (CUSTOM_FOLDS, 0.01, 8.0),
}
DATA_SEED = 42          # the tables are fixed; --seed orders the queries
SETUPS = 3
# Pass times keep falling for several passes after the check pass (JIT and
# Python-worker warm-up), so one more untimed pass runs before the timed ones.
WARM_PASSES = 1
MIN_PASSES = 2
RSS_PERIOD_S = 0.2
# The engine's default 8 GiB driver heap is sized for a large box and G1
# grows it lazily, so its RSS wandered by 1.5 GB between identical runs.  The
# inputs are a few MB; a 2 GiB heap bounds that share and keeps a run small.
DRIVER_MEMORY = "2g"

PER_LAYER_UNITS = {
    "session.start_s": "s", "sources.load_s": "s",
    "sources.input_bytes": "B", "sources.scan_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.exchanges": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_wait_s": "s",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_fetch_wait_s": "s", "exec.spill_bytes": "B",
    "pyworker.run_s": "s", "pyworker.start_s": "s",
    "pyworker.bytes_sent": "B", "pyworker.bytes_returned": "B",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.input_rows": "count",
    "cache.persisted_after": "count", "streaming.tmp_dirs_left": "count",
    "trace.overhead_s": "s",
    # peak RSS of the process tree over the whole run, and how it split at
    # the peak between this process, the JVM and the Python workers
    "memory.peak_rss_mb": "MB", "memory.driver_rss_mb": "MB",
    "memory.jvm_rss_mb": "MB", "memory.workers_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- processes

def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def _start_time(pid: int) -> str | None:
    fields = _stat_fields(pid)
    return fields[19] if fields else None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def program_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return os.path.basename(fh.read().split(b"\0")[0].decode())
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) from /proc, keeping the peak and how it
    splits between this process, the JVM and the other descendants."""

    def __init__(self):
        self.peak = 0
        self.peak_parts = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def sample(self):
        me, *others = process_tree(os.getpid())
        rss = {p: rss_bytes(p) for p in others}
        jvm = sum(v for p, v in rss.items() if program_name(p) == "java")
        parts = {"driver": rss_bytes(me), "jvm": jvm,
                 "workers": sum(rss.values()) - jvm}
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_processes(spark) -> None:
    """Stop Spark, then its JVM, and wait until every process this run
    started has exited (killing any that outlive a grace period)."""
    from pyspark import SparkContext

    # pid -> start time, so a reused pid is never mistaken for one of ours
    started = {p: _start_time(p) for p in process_tree(os.getpid())[1:]}
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while True:
        alive = [p for p, t in started.items() if _start_time(p) == t]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


# -------------------------------------------------------------------- data

def ensure_dataset(sf: float) -> str:
    """Path of the workload's tables, generated once per checkout in a
    subprocess (so its memory never counts towards this run's RSS)."""
    path = os.path.join(HERE, ".data", f"sf{sf}-seed{DATA_SEED}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        log(f"generating tables at sf{sf} into {path}")
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"),
                        path, str(sf), str(DATA_SEED)], check=True)
    from fixture import verify  # noqa: PLC0415

    verify(path, sf)
    return path


def oracle_frames(names: list[str], data_dir: str) -> dict:
    """Each query's expected result from its DuckDB oracle.  Oracle results
    do not depend on the engine, so they are cached next to the tables,
    keyed by the oracle's SQL text."""
    import duckdb

    from map_reduce_folds_spark.queries import ORACLES
    from map_reduce_folds_spark.sources import TABLES

    cache_path = os.path.join(data_dir, "oracles.pkl")
    cache: dict = {}
    if os.path.isfile(cache_path):
        with open(cache_path, "rb") as fh:   # written only by this function
            cache = pickle.load(fh)
    missing = [n for n in names if (n, ORACLES[n]) not in cache]
    if missing:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            for n in missing:
                cache[(n, ORACLES[n])] = con.sql(ORACLES[n]).fetchdf()
        finally:
            con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(cache, fh)
        os.replace(tmp, cache_path)
    return {n: cache[(n, ORACLES[n])] for n in names}


# ------------------------------------------------------------------- spark

class Bench:
    def __init__(self, names: list[str], data_dir: str, run_dir: str,
                 seed: int):
        from pyspark.sql import functions as F

        from map_reduce_folds_spark.queries import QUERIES

        self.F = F
        self.names = names
        self.queries = {n: QUERIES[n] for n in names}
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.fingerprints: dict[str, tuple] = {}
        self.pass_orders: list[list[str]] = []
        self.base_conf = {
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} "
                "-XX:-UsePerfData",
        }

    # --- set-up
    def setup(self, extra_conf: dict | None = None,
              t0: float | None = None) -> dict:
        """(Re)start the session and load the tables.  Returns the time of
        each step, counted from ``t0`` (default: now)."""
        from map_reduce_folds_spark.session import get_spark
        from map_reduce_folds_spark.sources import load_tables

        t0 = time.time() if t0 is None else t0
        if self.spark is not None:
            self.spark.stop()
        self.spark = spark = get_spark(
            app_name="mrf-perfbench",
            extra_conf={**self.base_conf, **(extra_conf or {})})
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        for df in load_tables(spark, self.data_dir).values():
            df.selectExpr("count(1)").collect()
        t2 = time.time()
        return {"setup_s": t2 - t0, "session.start_s": t1 - t0,
                "sources.load_s": t2 - t1}

    # --- forcing and checking
    def force(self, df):
        """bench.py's forcing action (count plus a hash over every column),
        plus an order-independent XOR of the row hashes as fingerprint."""
        F = self.F
        forced = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("double")).alias("h"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("x"))
        row = forced.collect()[0]
        return forced, (row["n"], row["x"])

    def fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.problems.append(f"{name}: {what}"[:500])
        log(f"FAIL {name}: {what}"[:500])

    def check_pass(self) -> float:
        """Untimed: collect each query, compare with its oracle, record the
        fingerprint.  Returns the pass's wall time."""
        from tools.check_contract import compare

        t0 = time.time()
        oracles = oracle_frames(self.names, self.data_dir)
        log(f"oracles: {time.time() - t0:.3f}s")
        for name in self.names:
            self.attempted += 1
            self.spark.catalog.clearCache()
            try:
                df = self.queries[name](self.spark, self.data_dir)
                got = df.toPandas()
                _, fp = self.force(df)
            except Exception as exc:  # noqa: BLE001 -- one query, one failure
                self.fail(name, f"{type(exc).__name__}: {exc}")
                continue
            problems = compare(name, got, oracles[name])
            if fp[0] != len(got):
                problems.append(f"forced count {fp[0]} != collected {len(got)}")
            if problems:
                self.fail(name, "oracle mismatch: " + "; ".join(problems))
            else:
                self.fingerprints[name] = fp
        return time.time() - t0

    def timed_passes(self, n_passes: int, probe=None):
        """Run ``n_passes`` passes of every query in seeded order.  ``probe``,
        if given, wraps each query call (trace mode).  Returns
        ``(pass_walls, {query: [latency...]})``."""
        rng = random.Random(self.seed)   # traced passes repeat the orders
        walls: list[float] = []
        lat: dict[str, list[float]] = {n: [] for n in self.names}
        while len(walls) < n_passes:
            order = rng.sample(self.names, len(self.names))
            if probe is None:
                self.pass_orders.append(order)
            t_pass = time.time()
            for name in order:
                self.attempted += 1
                self.spark.catalog.clearCache()
                try:
                    if probe is None:
                        t0 = time.perf_counter()
                        df = self.queries[name](self.spark, self.data_dir)
                        _, fp = self.force(df)
                        dt = time.perf_counter() - t0
                    else:
                        dt, fp = probe(name, len(walls))
                except Exception as exc:  # noqa: BLE001
                    self.fail(name, f"{type(exc).__name__}: {exc}")
                    continue
                if fp != self.fingerprints.get(name):
                    self.fail(name, f"fingerprint {fp} != checked "
                                    f"{self.fingerprints.get(name)}")
                    continue
                lat[name].append(dt)
            walls.append(time.time() - t_pass)
            log(f"pass {len(walls)}: {walls[-1]:.3f}s")
        return walls, lat


# ------------------------------------------------------------------ traced

class Tracer:
    """The instrumented passes of a ``--trace 1`` run."""

    def __init__(self, bench: Bench):
        from layers import Spans

        self.bench = bench
        self.spans = Spans()
        self.records: list[dict] = []
        self.tmp_dir = os.environ["TMPDIR"]
        self.log_dir = os.path.join(bench.run_dir, "eventlog")
        os.makedirs(self.log_dir)

    def start(self) -> None:
        from layers import BatchListener

        self.bench.setup({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
        })
        self.listener = BatchListener()
        self.bench.spark.streams.addListener(self.listener)

    def probe(self, name: str, pass_no: int):
        from layers import drain_listener_bus, query_phases_ms

        from map_reduce_folds_spark.plans import count_exchanges

        b = self.bench
        spark = b.spark
        tmp_before = set(os.listdir(self.tmp_dir))
        t0 = time.time()
        df = b.queries[name](spark, b.data_dir)
        t1 = time.time()
        forced, fp = b.force(df)
        t2 = time.time()
        rec = {"query": name, "pass": pass_no, "start": t0, "build_end": t1,
               "end": t2, "latency_s": t2 - t0, "queries.build_s": t1 - t0}
        rec.update(query_phases_ms(forced))
        rec["plans.exchanges"] = count_exchanges(forced)
        drain_listener_bus(spark)
        batches = self.listener.take()
        rec["streaming.batches"] = len(batches)
        rec["streaming.trigger_s"] = sum(x["trigger_s"] for x in batches)
        rec["streaming.add_batch_s"] = sum(x["add_batch_s"] for x in batches)
        rec["streaming.input_rows"] = sum(x["input_rows"] for x in batches)
        rec["batches"] = batches
        rec["cache.persisted_after"] = (
            spark.sparkContext._jsc.getPersistentRDDs().size())
        rec["streaming.tmp_dirs_left"] = len(
            set(os.listdir(self.tmp_dir)) - tmp_before)
        self.records.append(rec)
        return t2 - t0, fp

    def finish(self) -> None:
        """Stop the traced session (closing its event log) and attribute
        jobs, stages and tasks to each query's build and action windows."""
        from layers import (EXEC_COUNTERS, ExecIndex, drain_listener_bus,
                            read_event_log)

        drain_listener_bus(self.bench.spark)
        self.bench.spark.stop()
        self.index = index = ExecIndex(read_event_log(self.log_dir))
        for rec in self.records:
            build = index.window(rec["start"], rec["build_end"])
            action = index.window(rec["build_end"], rec["end"])
            rec["queries.build_jobs"] = build["exec.jobs"]
            rec["build_jobs"] = build.pop("jobs")
            rec["action_jobs"] = action.pop("jobs")
            for k in EXEC_COUNTERS:
                rec[k] = build[k] + action[k]

    def per_layer(self, setups: list[dict], traced_walls, untraced_walls):
        """Per-pass totals of every per-query counter, median over passes."""
        by_pass: dict[int, dict] = {}
        keys = [k for k in PER_LAYER_UNITS
                if k not in ("session.start_s", "sources.load_s",
                             "trace.overhead_s")
                and not k.startswith("memory.")]
        for rec in self.records:
            tot = by_pass.setdefault(rec["pass"], dict.fromkeys(keys, 0.0))
            for k in keys:
                tot[k] += rec[k]
        out = {k: statistics.median(t[k] for t in by_pass.values())
               for k in keys}
        for k in ("session.start_s", "sources.load_s"):
            out[k] = statistics.median(s[k] for s in setups)
        out["trace.overhead_s"] = (statistics.median(traced_walls)
                                   - statistics.median(untraced_walls))
        return out

    def write(self, path: str, summary: dict) -> None:
        index = self.index
        run = self.spans.add("run", min(r["start"] for r in self.records),
                             max(r["end"] for r in self.records))
        passes: dict[int, int] = {}
        for rec in self.records:
            if rec["pass"] not in passes:
                recs = [r for r in self.records if r["pass"] == rec["pass"]]
                passes[rec["pass"]] = self.spans.add(
                    "pass", recs[0]["start"], recs[-1]["end"], run,
                    number=rec["pass"])
            q = self.spans.add("query", rec["start"], rec["end"],
                               passes[rec["pass"]], query=rec["query"])
            b = self.spans.add("build", rec["start"], rec["build_end"], q)
            a = self.spans.add("action", rec["build_end"], rec["end"], q)
            for kind, parent in (("build", b), ("action", a)):
                for job in rec[f"{kind}_jobs"]:
                    j = self.spans.add("job", job["submit_ms"] / 1e3,
                                       job["end_ms"] / 1e3, parent,
                                       job_id=job["id"])
                    for sid in job["stage_ids"]:
                        if sid in index.stage_submit:   # skipped stages never ran
                            self.spans.add(
                                "stage", index.stage_submit[sid] / 1e3,
                                index.stage_end.get(sid, job["end_ms"]) / 1e3,
                                j, stage_id=sid, **index.stage_totals[sid])
            for x in rec["batches"]:
                start = datetime.fromisoformat(
                    x["timestamp"].replace("Z", "+00:00")).timestamp()
                self.spans.add("micro_batch", start, start + x["trigger_s"],
                               q, **x)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"summary": summary, "spans": self.spans.spans,
                       "queries": [{k: v for k, v in r.items()
                                    if k not in ("batches", "build_jobs",
                                                 "action_jobs")}
                                   for r in self.records]}, fh, indent=1)


# -------------------------------------------------------------------- main

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def run(args, run_dir: str) -> dict:
    names, sf, nominal_pass_s = WORKLOADS[args.workload]
    n_passes = max(MIN_PASSES, round(args.seconds / nominal_pass_s))
    data_dir = ensure_dataset(sf)
    result: dict = {"workload": args.workload, "seed": args.seed}
    with RssSampler() as rss:
        t_import = time.time()      # the first set-up includes the imports
        bench = Bench(names, data_dir, run_dir, args.seed)
        tracer = None
        try:
            setups = [bench.setup(t0=t_import)]
            setups += [bench.setup() for _ in range(SETUPS - 1)]
            check_s = bench.check_pass()
            warm_walls, _ = bench.timed_passes(WARM_PASSES)
            bench.pass_orders.clear()   # the timed passes repeat its order
            walls, lat = bench.timed_passes(n_passes)
            if args.trace:
                tracer = Tracer(bench)
                tracer.start()
                t_walls, _ = bench.timed_passes(n_passes, tracer.probe)
                tracer.finish()
        finally:
            stop_processes(bench.spark)
            rss.sample()
    medians = {n: statistics.median(v) for n, v in lat.items() if v}
    e2e = {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "pass_s": (statistics.median(walls), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(
            math.log(v) for v in medians.values())) if medians else 0.0, "s"),
    }
    memory = {"memory.peak_rss_mb": rss.peak / 2**20,
              **{f"memory.{k}_rss_mb": v / 2**20
                 for k, v in rss.peak_parts.items()}}
    result.update({
        "passes": len(walls), "pass_orders": bench.pass_orders,
        "pass_s_quartiles": quartiles(walls), "check_pass_s": check_s,
        "warm_pass_s": warm_walls,
        "setups_s": [s["setup_s"] for s in setups],
        "error_rate": bench.failed / max(1, bench.attempted),
        "query_median_s": medians, "problems": bench.problems,
        **memory,
    })
    if tracer is not None:
        per_layer = {**tracer.per_layer(setups, t_walls, walls), **memory}
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        path = os.path.join(HERE, ".out",
                            f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(path, {**result, "per_layer": per_layer,
                            "traced_pass_s": t_walls, "untraced_pass_s": walls})
        log(f"trace written to {path}")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    log(json.dumps(result))
    if not args.trace:
        log("  ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items())
            + f"  peak_rss_mb={memory['memory.peak_rss_mb']:.4g} MB"
              f"  error_rate={result['error_rate']:.4g} "
              f"({bench.failed}/{bench.attempted})")
    return {"correct": bench.failed == 0, "attempted": bench.attempted,
            "failed": bench.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "map_reduce_folds_spark",
                                       "__init__.py")):
        log(f"engine source not found under {ROOT}; run from a checkout")
        return 2
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-"
                                          f"{os.getpid()}")
    for sub in ("tmp", "jvm-tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import the engine by module path, and every temporary
    # file of the run stays in its own directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cwd = os.getcwd()
    os.chdir(os.path.join(run_dir, "work"))
    try:
        out = run(args, run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
