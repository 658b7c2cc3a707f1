#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload iterative --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 7 --seconds 10 --trace 1

A run does, in order:

1. generates the workload's tables with ``scripts/gen_testdata.py`` from
   ``--seed`` (cached under ``perfbench/.cache`` by sf, seed and
   generator source);
2. sets up three times -- ``get_spark`` plus ``load_all_queries`` -- in
   two throwaway processes and then in this one;
3. computes each query's DuckDB oracle (cached by data, sf and SQL text);
4. runs the workload's query list once in the fresh session, collecting
   every result and comparing it with its oracle through
   ``tests/compare.py`` (the comparison is outside the timed region);
5. runs one untimed warm-up pass, then ``--seconds`` worth of timed
   passes: the count is ``--seconds`` over the workload's nominal pass
   time, so every run of a workload does the same work. A pass builds
   each query and then runs it into the noop sink. Queries run one after
   another in a fixed order; nothing is unpersisted between them.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones of BENCHMARK.json; with ``--trace 1`` they are the per-layer ones,
read from Spark's status store per job group and from ``/proc``. A traced
run interleaves untraced and traced passes, so it also reports its own
tracing overhead, and writes its span tree to ``perfbench/.out``.
The line before the last one is a detail record: seed, sf, table row
counts, sample counts, result row counts and the failed share.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(BENCH_DIR, ".cache")
OUT = os.path.join(BENCH_DIR, ".out")
SETUP_SAMPLES = 3  # this process plus SETUP_SAMPLES - 1 throwaway ones
MB = 1024 * 1024
T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench {time.monotonic() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def load_spec() -> tuple[dict, dict]:
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return workloads, bench


def preflight() -> None:
    """Fail fast, before any result is printed, outside a spark-graft
    checkout."""
    needed = [
        "BENCHMARK.json",
        "spark_graft/__init__.py",
        "scripts/gen_testdata.py",
        "tests/compare.py",
    ]
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: run from a spark-graft checkout; missing {missing}")


def launcher_env(local_dir: str) -> None:
    """Environment that Spark's JVM and Python workers inherit."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    # keep the JVM's temp files in the run dir and its perf-data file out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData"
    # no \r console progress bars in the output
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# --------------------------------------------------------------- inputs


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def dataset(sf: float, seed: int) -> str:
    """Directory of the generated tables for (sf, seed); generated once."""
    gen = os.path.join(ROOT, "scripts", "gen_testdata.py")
    out = os.path.join(CACHE, "data", f"sf{sf:g}_seed{seed}_{_file_digest(gen)}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, gen, "--sf", str(sf), "--seed", str(seed), "--out", tmp],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        os.replace(tmp, out)
    return out


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }


def oracle_results(sf_dir: str, names: list[str]) -> dict:
    """DuckDB oracle frame per query, cached by (data dir, SQL text)."""
    import duckdb
    import pandas as pd

    from spark_graft.registry import REGISTRY
    from spark_graft.sources.tables import TABLES

    os.makedirs(os.path.join(CACHE, "oracle"), exist_ok=True)
    con = None
    results = {}
    for name in names:
        sql = REGISTRY[name].oracle
        key = hashlib.sha256(f"{os.path.basename(sf_dir)}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(CACHE, "oracle", f"{key}.pkl")
        if not os.path.isfile(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            tmp = f"{path}.tmp{os.getpid()}"
            con.execute(sql).df().to_pickle(tmp)
            os.replace(tmp, path)
        # written by this benchmark only (see above)
        results[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return results


# ---------------------------------------------------------- spark setup


@contextmanager
def stdout_to_stderr():
    """The JVM inherits fd 1 at launch; point it at stderr so nothing the
    JVM prints can land on the result line."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def setup() -> tuple[object, float, float]:
    """get_spark then load_all_queries; returns (spark, get_spark_s, load_s)."""
    import spark_graft
    from spark_graft.session import get_spark

    with stdout_to_stderr():
        t0 = time.perf_counter()
        spark = get_spark("spark-graft-perfbench")
        t1 = time.perf_counter()
        spark_graft.load_all_queries()
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its children."""
    from pyspark import SparkContext

    jvm_pid = jvm_process(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while jvm_pid and _alive(jvm_pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def setup_probe() -> None:
    """Child mode: one fresh-process set-up; prints its timings as JSON."""
    spark, get_spark_s, load_s = setup()
    stop_spark(spark)
    print(json.dumps({"get_spark_s": get_spark_s, "load_s": load_s}))


def probe_setups(n: int) -> list[dict]:
    samples = []
    for _ in range(n):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            check=True,
            stdout=subprocess.PIPE,
            text=True,
        ).stdout
        samples.append(json.loads(out.strip().splitlines()[-1]))
    return samples


# ------------------------------------------------------------ /proc view


def jvm_process(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
    except OSError:
        pass
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _cpu_s(pid: int) -> float:
    """utime+stime of pid plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


class ProcSampler:
    """Samples the JVM and its Python workers from /proc on a thread:
    peak summed RSS and peak worker count."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_rss = 0
        self.peak_workers = 0
        self._lock = threading.Lock()  # the main thread samples and resets too
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        workers = _descendants(self.jvm_pid)
        rss = _rss_bytes(self.jvm_pid) + sum(_rss_bytes(p) for p in workers)
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_workers = max(self.peak_workers, len(workers))

    def worker_cpu_s(self) -> float:
        return sum(_cpu_s(p) for p in _descendants(self.jvm_pid))

    def reset_workers(self) -> None:
        with self._lock:
            self.peak_workers = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


# --------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (run > pass > query > phase > job) plus the Spark
    status-store counters of every job a phase's job group launched."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.counted_stages: set[int] = set()

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str, parent: int) -> dict:
        """Counters of the jobs of `group`; adds one span per job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
             "input_mb", "input_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"),
            0,
        )
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            self.span(
                "job",
                parent,
                sub.get().getTime() / 1e3 if sub.isDefined() else self.spans[parent]["start"],
                done.get().getTime() / 1e3 if done.isDefined() else self.spans[parent]["end"],
                job_id=jid,
                status=jd.status().toString(),
            )
            c["jobs"] += 1
            c["stages"] += jd.numCompletedStages() + jd.numFailedStages()
            c["tasks"] += jd.numCompletedTasks() + jd.numFailedTasks() + jd.numKilledTasks()
            c["failed_tasks"] += jd.numFailedTasks()
            ids = jd.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in self.counted_stages:
                    continue
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self.counted_stages.add(sid)
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["input_mb"] += sd.inputBytes() / MB
                c["input_rows"] += sd.inputRecords()
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return c

    def self_time(self, sid: int) -> float:
        """Span duration minus the part its children cover."""
        s = self.spans[sid]
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans
            if c["parent"] == sid
        )
        covered, reached = 0.0, s["start"]
        for a, b in ivs:
            if b > reached:
                covered += b - max(a, reached)
                reached = b
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


# ---------------------------------------------------------------- passes


def check_pass(spark, sf_dir: str, names: list[str], oracles: dict) -> tuple[float, dict]:
    """Collect every result once and compare it with its oracle. The
    comparison is excluded from the returned pass time."""
    from compare import assert_frames_match

    from spark_graft.registry import REGISTRY

    wall, per_query = 0.0, {}
    for name in names:
        t0 = time.perf_counter()
        try:
            pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
        except Exception:
            wall += time.perf_counter() - t0
            per_query[name] = {"ok": False, "rows": None, "error": traceback.format_exc(limit=3)}
            continue
        wall += time.perf_counter() - t0
        try:
            assert_frames_match(pdf, oracles[name], name)
            per_query[name] = {"ok": True, "rows": len(pdf)}
        except AssertionError as e:
            per_query[name] = {"ok": False, "rows": len(pdf), "error": str(e)[:500]}
    return wall, per_query


def timed_pass(spark, sf_dir: str, names: list[str], failures: dict, per_query: dict) -> float:
    """One untraced pass: build, then noop sink, per query. Appends each
    query's seconds to per_query."""
    from spark_graft.registry import REGISTRY

    t0 = time.perf_counter()
    for name in names:
        tq = time.perf_counter()
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            failures[name] = failures.get(name, 0) + 1
            traceback.print_exc()
        per_query.setdefault(name, []).append(time.perf_counter() - tq)
    return time.perf_counter() - t0


def traced_pass(spark, sf_dir: str, names: list[str], failures: dict,
                tracer: Tracer, run_span: int, index: int) -> tuple[float, dict]:
    """One traced pass; returns (wall, per-layer sums of this pass)."""
    from spark_graft.registry import REGISTRY

    layers = {
        "operators.build_s": 0.0, "operators.build_jobs": 0, "operators.build_driver_s": 0.0,
        "catalyst.plan_s": 0.0, "sink.write_s": 0.0, "sink.jobs": 0, "staging.rdds_left": 0,
    }
    spark_c: dict[str, float] = {}
    pass_span = tracer.span("pass", run_span, time.time(), 0.0, index=index)
    t0 = time.perf_counter()
    for name in names:
        q_span = tracer.span("query", pass_span, time.time(), 0.0, query=name)
        before = persisted_ids(spark)
        df = None
        for phase in ("build", "plan", "sink"):
            group = f"perfbench:{index}:{name}:{phase}"
            tracer.begin(group)
            start = time.time()
            try:
                if phase == "build":
                    df = REGISTRY[name].fn(spark, sf_dir)
                elif phase == "plan":
                    df._jdf.queryExecution().executedPlan()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                failures[name] = failures.get(name, 0) + 1
                traceback.print_exc()
                df = None
            sid = tracer.span(phase, q_span, start, time.time())
            c = tracer.jobs(group, sid)
            tracer.spans[sid].update(c)
            for k, v in c.items():
                spark_c[k] = spark_c.get(k, 0) + v
            dur = tracer.spans[sid]["end"] - start
            if phase == "build":
                layers["operators.build_s"] += dur
                layers["operators.build_jobs"] += c["jobs"]
                layers["operators.build_driver_s"] += tracer.self_time(sid)
            elif phase == "plan":
                layers["catalyst.plan_s"] += dur
            else:
                layers["sink.write_s"] += dur
                layers["sink.jobs"] += c["jobs"]
            if df is None:
                break
        tracer.end_group()
        left = len(persisted_ids(spark) - before)
        tracer.spans[q_span].update(end=time.time(), rdds_left=left)
        layers["staging.rdds_left"] += left
    wall = time.perf_counter() - t0
    tracer.spans[pass_span]["end"] = time.time()
    cores = spark.sparkContext.defaultParallelism
    layers.update({
        "spark.jobs": spark_c.get("jobs", 0),
        "spark.stages": spark_c.get("stages", 0),
        "spark.tasks": spark_c.get("tasks", 0),
        "spark.failed_tasks": spark_c.get("failed_tasks", 0),
        "spark.executor_run_s": spark_c.get("run_s", 0.0),
        "spark.executor_cpu_s": spark_c.get("cpu_s", 0.0),
        "spark.core_busy": spark_c.get("run_s", 0.0) / (wall * cores),
        "spark.gc_s": spark_c.get("gc_s", 0.0),
        "spark.shuffle_write_mb": spark_c.get("shuffle_write_mb", 0.0),
        "spark.shuffle_read_mb": spark_c.get("shuffle_read_mb", 0.0),
        "spark.spill_mb": spark_c.get("spill_mb", 0.0),
        "sources.input_mb": spark_c.get("input_mb", 0.0),
        "sources.input_rows": spark_c.get("input_rows", 0),
    })
    return wall, layers


# ------------------------------------------------------------------ main


def run(args) -> dict:
    workloads, bench = load_spec()
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads)}")
    wl = workloads[args.workload]
    sf = args.sf if args.sf is not None else wl["sf"]
    names = wl["queries"]
    # Every run of a workload does the same work: --seconds buys a fixed
    # number of passes of the workload's nominal length.
    n_passes = max(2 if args.trace else 1, round(args.seconds / wl["nominal_pass_s"]))
    sys.path.insert(0, os.path.join(ROOT, "tests"))

    sf_dir = dataset(sf, args.seed)
    rows = table_rows(sf_dir)
    log(f"data {sf_dir}")
    probes = probe_setups(SETUP_SAMPLES - 1)
    spark, get_spark_s, load_s = setup()
    log("set up")
    oracles = oracle_results(sf_dir, names)
    log("oracles ready")
    setups = [(p["get_spark_s"], p["load_s"]) for p in probes] + [(get_spark_s, load_s)]
    jvm_pid = jvm_process(spark)
    failures: dict[str, int] = {}
    query_s: dict[str, list[float]] = {}
    walls, traced_walls, layer_samples = [], [], []
    tracer = Tracer(spark) if args.trace else None
    run_span = tracer.span("run", None, time.time(), 0.0, workload=args.workload) if tracer else None
    # /proc is sampled on a thread, so only traced runs do it
    procs = ProcSampler(jvm_pid) if tracer else nullcontext()
    try:
        with procs:
            first_pass_s, checked = check_pass(spark, sf_dir, names, oracles)
            log(f"checked in {first_pass_s:.2f}s")
            # passes keep getting faster for a while after the first; one
            # more untimed pass keeps that trend out of the median
            log(f"warm-up pass: {timed_pass(spark, sf_dir, names, failures, {}):.2f}s")
            # a traced run interleaves untraced and traced passes as
            # U T T U U T T ..., so the warm-up trend favours neither
            for index in range(n_passes):
                traced = tracer is not None and index % 4 in (1, 2)
                if traced:
                    cpu0 = procs.worker_cpu_s()
                    procs.reset_workers()
                    wall, layers = traced_pass(spark, sf_dir, names, failures, tracer, run_span, index)
                    procs.sample()
                    layers["pyworker.cpu_s"] = procs.worker_cpu_s() - cpu0
                    layers["pyworker.procs"] = procs.peak_workers
                    traced_walls.append(wall)
                    layer_samples.append(layers)
                else:
                    walls.append(timed_pass(spark, sf_dir, names, failures, query_s))
                log(f"pass {index}{' traced' if traced else ''}: {(traced_walls if traced else walls)[-1]:.2f}s")
    finally:
        stop_spark(spark)
        log("stopped")

    attempted = len(names) * (2 + len(walls) + len(traced_walls))
    failed = sum(not q["ok"] for q in checked.values()) + sum(failures.values())
    setup_s = statistics.median(g + l for g, l in setups)
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s", "samples": len(setups)},
        "warm_pass_s": {"value": statistics.median(walls), "unit": "s", "samples": len(walls),
                        "max": max(walls)},
        "failed_share": {"value": failed / attempted, "unit": "ratio", "samples": attempted},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "table_rows": rows,
        "queries": checked,
        "failures_in_passes": failures,
        "end_to_end": e2e,
        "first_pass_s": first_pass_s,
        "pass_walls_s": walls,
        "query_median_s": {k: statistics.median(v) for k, v in query_s.items()},
    }
    if tracer:
        per_layer = {
            k: statistics.median(s[k] for s in layer_samples) for k in layer_samples[0]
        }
        per_layer["session.get_spark_s"] = statistics.median(g for g, _ in setups)
        per_layer["registry.load_s"] = statistics.median(l for _, l in setups)
        per_layer["warmup.first_pass_s"] = first_pass_s
        per_layer["peak_rss_mb"] = procs.peak_rss / MB
        per_layer["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        tracer.spans[run_span]["end"] = time.time()
        trace_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        detail.update(per_layer=per_layer, traced_pass_walls_s=traced_walls, trace_file=trace_path)
        wanted = bench["per_layer"]
        values = per_layer
    else:
        wanted = bench["end_to_end"]
        values = {k: v["value"] for k, v in e2e.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {
        "detail": detail,
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
    }


def run_all(args) -> None:
    """Every workload, one fresh process each; prints one JSON line per
    workload with its end-to-end (or, traced, per-layer) detail."""
    workloads, _ = load_spec()
    for name in workloads:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        lines = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        key = "per_layer" if args.trace else "end_to_end"
        print(json.dumps({"workload": name, "correct": result["correct"], key: detail[key]}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", help="a workload of perfbench/workloads.json, or 'all'")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor (self-test)")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    preflight()
    if args.setup_probe:
        setup_probe()
        return
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "all":
        run_all(args)
        return
    run_dir = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    launcher_env(run_dir)
    try:
        out = run(args)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
