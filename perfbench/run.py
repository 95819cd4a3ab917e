"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see BENCHMARK.json for why each
exists): ``ngram_corpus`` and ``curation``. The seed makes the inputs (text
corpus or star schema) and shuffles the operation order of every pass; the
program only ever sees the generated inputs.

One client drives one SparkSession on ``local[nproc]`` in a closed loop:
each operation starts when the previous one has finished. A run

1. generates (or reuses, per seed) its inputs under ``.perfbench_work/``;
2. starts the session SESSION_STARTS times, each time in a new JVM, and
   registers the catalog in the last one;
3. runs every operation once and checks its output against DuckDB
   (failures count against ``success_rate``). This first, cold execution
   is the warm-up: ``setup_s`` is the median start, plus the catalog, plus
   the time the operations took in this pass (the checking is excluded);
4. times whole passes over the operations until ``--seconds`` have passed
   and at least MIN_PASSES passes ran (the first pass of a new JVM still
   warms its JIT; when tracing: untraced, traced, untraced at least),
   bracketed by the two calibration canaries of ``bench.py``.

The session runs with the engine's own defaults (``session.get_spark``),
sized to the machine and with its scratch files moved, plus the few
settings a workload names in its ``session_conf``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` untraced and traced passes alternate; traced passes put
every build, sink and release in its own Spark job group, read Spark's
status store after the pass, and report the per-layer metrics; spans go
to ``.perfbench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
import traceback

import tracing as tr
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# (name, unit) in the order BENCHMARK.json lists them.
END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("latency_p50_s", "s"),
    ("latency_tail_s", "s"), ("success_rate", "fraction"),
    ("recall", "fraction"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.release_s", "s"),
    ("session.persists", "count"),
    ("sources.catalog_s", "s"), ("sources.input_mb", "MB"),
    ("sources.write_s", "s"), ("sources.output_mb", "MB"),
    ("sources.output_per_input", "ratio"),
    ("functions.tokenize_s", "s"),
    ("ngram.scan_s", "s"), ("ngram.explode_s", "s"), ("ngram.agg_s", "s"),
    ("ngram.sort_s", "s"), ("ngram.partial_agg_ratio_n3", "ratio"),
    ("ngram.partial_agg_ratio_n5", "ratio"),
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("registry.build_frac", "fraction"),
    ("plans.exchanges", "count"), ("plans.sorts", "count"),
    ("plans.bnlj", "count"), ("plans.cached_scans", "count"),
    ("plans.broadcasts", "count"),
    ("exec.sink_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.peak_rss_mb", "MB"),
    ("exec.driver_gap_frac", "fraction"),
    ("exec.sched_floor_s", "s"),
    ("harness.gap_s", "s"), ("harness.trace_overhead_frac", "fraction"),
]
# Each start launches a JVM, about 7 s on a 4-core machine, so a run
# starts two and reports their median.
SESSION_STARTS = 2
MIN_PASSES = 2
TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest order statistic with at least ``beyond`` samples above
    it, as (value, percentile, samples beyond). Below ``2 * beyond``
    samples that statistic would sit under the median, so the maximum is
    reported instead, with 0 samples beyond it."""
    s = sorted(samples)
    n = len(s)
    if n < 2 * beyond:
        return s[-1], 100.0, 0
    k = n - beyond - 1
    return s[k], 100.0 * (k + 1) / n, n - k - 1


def success_rate(failed: int, attempted: int) -> float:
    return 1.0 - failed / attempted


def harden_env() -> None:
    """Process environment for a self-contained run: every core, a heap
    sized to the machine, the package importable by Python workers, and
    every scratch file inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb()}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # fewer glibc malloc arenas in the JVM: its resident set then
        # varies less from run to run
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    })
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def heap_mb() -> int:
    """Spark driver heap: a quarter of the machine's memory, at most 2 GB (the
    inputs are a few MB; the engine's own default is sized for 32 cores)."""
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    return max(512, min(2048, mem_mb // 4))


def spark_conf(wl) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        **wl.session_conf,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


# --- window health -----------------------------------------------------------

class Canaries:
    """bench.py's two fixed-work calibration numbers (a single-core md5
    chain and a 32-task range hash) plus the load average, taken before
    and after the timed passes. The range DataFrame is built and run once
    untimed, so both readings time the same warm plan."""

    def __init__(self, spark):
        self.range_hash = spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(pmod(xxhash64(id), 4096)) as s")
        self.range_hash.collect()

    def read(self) -> dict:
        h = b"x" * 1000
        t0 = time.perf_counter()
        for _ in range(200000):
            h = hashlib.md5(h).digest()
        out = {"py_md5_chain_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        self.range_hash.collect()
        out["spark_range_hash_s"] = time.perf_counter() - t0
        out["loadavg"] = os.getloadavg()
        return out


class RssSampler:
    """Peak resident set of the JVM and its descendant processes (the
    Python workers), sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_mb(root: int) -> float:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE") / 1e6

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._tree_rss_mb(self.pid))


# --- phases ------------------------------------------------------------------

def start_session(wl):
    from hadoop_mapreduce_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(wl))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(wl) -> tuple[object, dict]:
    """Start the session SESSION_STARTS times, each in a new JVM, then
    register the catalog in the last one. Returns that session and the
    set-up times."""
    starts, spark = [], None
    for _ in range(SESSION_STARTS):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = start_session(wl)
        starts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.catalog(spark)
    return spark, {"starts_s": starts, "start_s": statistics.median(starts),
                   "catalog_s": time.perf_counter() - t0}


def check_pass(spark, wl) -> list[dict]:
    from hadoop_mapreduce_spark.session import release_caches

    results = []
    for op in wl.ops:
        t0 = time.perf_counter()
        try:
            program_s, err = wl.check(spark, op)
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc()
            program_s, err = time.perf_counter() - t0, f"{type(e).__name__}: {e}"[:500]
        finally:
            release_caches()
        results.append({"op": op, "error": err, "program_s": program_s,
                        "s": time.perf_counter() - t0})
        if err:
            print(f"perfbench: check failed: {op}: {err}", file=sys.stderr)
    return results


def run_op(spark, wl, op: str) -> str | None:
    from hadoop_mapreduce_spark.session import release_caches

    try:
        wl.sink(wl.build(spark, op), op)
        return None
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        traceback.print_exc()
        return f"{type(e).__name__}: {e}"[:500]
    finally:
        release_caches()


def timed_pass(spark, wl, order) -> tuple[float, list[float], int]:
    lat, failed = [], 0
    t0 = time.perf_counter()
    for op in order:
        a = time.perf_counter()
        failed += run_op(spark, wl, op) is not None
        lat.append(time.perf_counter() - a)
    return time.perf_counter() - t0, lat, failed


def sched_floor(spark, reps: int = 5) -> float:
    df = spark.range(1)
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def noop_time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def traced_pass(spark, wl, order, tracer) -> tuple[dict, list[dict]]:
    """One pass with a job group per phase, then (outside the pass wall)
    the status-store walk and stage probes. Returns the pass totals of
    every per-layer metric and the per-operation rows."""
    from hadoop_mapreduce_spark.session import release_caches

    ops, instr = [], 0.0
    with tracer.span("pass") as ps:
        for op in order:
            row = {"op": op}
            with tracer.span(op, kind="op"):
                with tracer.span("build") as b:
                    df = wl.build(spark, op)
                # plan shape of the built DataFrame while the caches its
                # builder made still exist; instrumentation, so not wall
                with tracer.span("explain") as e:
                    row.update(tr.plan_shape(df))
                with tracer.span("sink") as s:
                    wl.sink(df, op)
                with tracer.span("release") as r:
                    r["persists"] = release_caches()
            instr += e["dur"]
            ops.append((row, b, s, r))
    wall = ps["dur"] - instr

    rows, intervals = [], []
    for row, b, s, r in ops:
        op = row["op"]
        bj, sj = tr.jobs_of_group(spark, b["group"]), tr.jobs_of_group(spark, s["group"])
        jobs = bj + sj
        intervals += [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        row.update({
            "build_s": b["dur"], "sink_s": s["dur"], "release_s": r["dur"],
            "persists": r["persists"], "build_jobs": len(bj), "jobs": len(jobs),
            **{k: sum(j[k] for j in jobs) for k in (
                "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb")},
            "output_mb": wl.output_mb(op),
        })
        row.update(stage_probes(spark, wl, op, row, tracer))
        rows.append(row)

    tot = {k: sum(r.get(k, 0.0) for r in rows) for k in (
        "build_s", "sink_s", "release_s", "persists", "build_jobs", "jobs",
        "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb", "input_mb", "output_mb", "write_s",
        "tokenize_s", "scan_s", "explode_s", "agg_s", "sort_s",
        *tr.PLAN_NODES)}
    text = wl.text_column(spark)
    if text is not None:
        tot["tokenize_s"] = tokenize_probe(text, tracer)
    with tracer.span("sched_floor"):
        floor = sched_floor(spark)
    m = {
        "session.release_s": tot["release_s"],
        "session.persists": tot["persists"],
        "sources.input_mb": tot["input_mb"],
        "sources.write_s": tot["write_s"],
        "sources.output_mb": tot["output_mb"],
        "sources.output_per_input": (tot["output_mb"] / tot["input_mb"]
                                     if tot["input_mb"] else 0.0),
        "functions.tokenize_s": tot["tokenize_s"],
        "ngram.scan_s": tot["scan_s"], "ngram.explode_s": tot["explode_s"],
        "ngram.agg_s": tot["agg_s"], "ngram.sort_s": tot["sort_s"],
        **{f"ngram.partial_agg_ratio_n{n}": partial_agg_ratio(rows, f"ngram_n{n}")
           for n in (3, 5)},
        "registry.build_s": tot["build_s"],
        "registry.build_jobs": tot["build_jobs"],
        "registry.build_frac": tot["build_s"] / wall,
        **{f"plans.{k}": tot[k] for k in tr.PLAN_NODES},
        "exec.sink_s": tot["sink_s"], "exec.jobs": tot["jobs"],
        **{f"exec.{k}": tot[k] for k in (
            "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb")},
        "exec.driver_gap_frac": (
            wall - tr.covered(intervals, ps["start"], ps["end"])) / wall,
        "exec.sched_floor_s": floor,
        "harness.gap_s": wall - tot["build_s"] - tot["sink_s"] - tot["release_s"],
        "wall_s": wall,
    }
    return m, rows


def partial_agg_ratio(rows: list[dict], op: str) -> float:
    """Shuffle records written by the map side of ``op``'s aggregation, per
    n-gram occurrence: 1 when map-side partial aggregation combines nothing."""
    for r in rows:
        if r["op"] == op and r.get("occurrences"):
            return r["shuffle_records"] / r["occurrences"]
    return 0.0


def stage_probes(spark, wl, op, row, tracer) -> dict:
    """Self times of the n-gram program's stages: each prefix of the
    program forced through the noop sink, successive differences taken,
    the last against the program run itself, so they sum to its wall."""
    stages = wl.prefixes(spark, op)
    if not stages:
        return {}
    prev, out = 0.0, {}
    for stage, df in stages:
        with tracer.span(f"prefix:{stage}", op=op) as sp:
            t = noop_time(df)
        out[f"{stage}_s"] = t - prev
        prev = t
        if stage == "agg":
            out["shuffle_records"] = sum(j["shuffle_write_records"] for j in
                                         tr.jobs_of_group(spark, sp["group"]))
    out["write_s"] = row["build_s"] + row["sink_s"] + row["release_s"] - prev
    out["occurrences"] = wl.occurrences(op)
    return out


def tokenize_probe(text, tracer) -> float:
    """Tokenizer cost on a text column: tokenise-and-noop minus
    scan-and-noop of the same column."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize

    with tracer.span("probe:tokenize"):
        scan = noop_time(text)
        tok = noop_time(text.select(tokenize(normalize_text(F.col(text.columns[0])))))
    return tok - scan


# --- run ---------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM; the
    next session then launches a new one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def run(args) -> dict:
    phases = {"start": time.perf_counter()}
    wl = workloads.make(args.workload, WORK, args.seed)
    phases["inputs"] = time.perf_counter()
    spark, setup_times = setup(wl)
    phases["setup"] = time.perf_counter()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        checks = check_pass(spark, wl)
        phases["check"] = time.perf_counter()
        setup_times["warm_s"] = sum(c["program_s"] for c in checks)
        setup_times["setup_s"] = (setup_times["start_s"] + setup_times["catalog_s"]
                                  + setup_times["warm_s"])
        attempted = len(checks)
        failed = sum(1 for c in checks if c["error"])
        canaries = Canaries(spark)
        health = {"nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
                  "before": canaries.read()}
        phases["canaries_before"] = time.perf_counter()

        rng = random.Random(args.seed)
        walls, lat, traced = [], [], []
        tracer = None
        if args.trace:
            tracer = tr.Tracer(f"{args.workload}-s{args.seed}", spark)
        deadline = time.perf_counter() + args.seconds
        with RssSampler(jvm_pid) as rss:
            while True:
                order = rng.sample(wl.ops, len(wl.ops))
                if tracer is not None and len(traced) < len(walls):
                    traced.append(traced_pass(spark, wl, order, tracer))
                else:
                    wall, l, f = timed_pass(spark, wl, order)
                    walls.append(wall)
                    lat += l
                    attempted += len(l)
                    failed += f
                # a traced run ends on an untraced pass, so that at least one
                # untraced pass after the first (which still warms the JIT)
                # is there to compare the traced ones with
                if time.perf_counter() >= deadline and (
                        len(walls) > len(traced) > 0 if tracer is not None
                        else len(walls) >= MIN_PASSES):
                    break
        phases["passes"] = time.perf_counter()
        health["after"] = canaries.read()
        phases["canaries_after"] = time.perf_counter()
    finally:
        wl.close()
        stop_spark(spark)
    phases["stop"] = time.perf_counter()

    detail = {
        "workload": args.workload, "seed": args.seed, "health": health,
        "phases_s": {b: phases[b] - phases[a] for a, b in zip(phases, list(phases)[1:])},
        "setup": setup_times, "pass_walls_s": walls, "operations": len(lat),
        "peak_rss_mb": rss.peak_mb,
        "checks": checks,
        "inputs": wl.stats,
    }
    if args.trace:
        m = {k: statistics.median(p[0][k] for p in traced)
             for k in traced[0][0]}
        m["session.start_s"] = setup_times["start_s"]
        m["sources.catalog_s"] = setup_times["catalog_s"]
        m["exec.peak_rss_mb"] = rss.peak_mb
        m["harness.trace_overhead_frac"] = (
            m.pop("wall_s") / statistics.median(walls[1:]) - 1)
        metrics = {n: {"value": m[n], "unit": u} for n, u in PER_LAYER}
        spans_path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        tracer.write(spans_path)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
        detail["layers_by_op"] = [rows for _, rows in traced]
    else:
        value, pct, beyond = tail(lat)
        detail["latency_tail"] = {"percentile": pct, "samples_beyond": beyond,
                                  "samples": len(lat)}
        values = {
            "setup_s": setup_times["setup_s"],
            "wall_s": statistics.median(walls),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": value,
            "success_rate": success_rate(failed, attempted),
            "recall": wl.recall,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print("perfbench-detail " + json.dumps(detail, default=str), flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_mapreduce_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # the oracle harness
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    harden_env()
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
