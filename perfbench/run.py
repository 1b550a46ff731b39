"""Benchmark for retail-datalakehouse-spark: one command, three workloads.

    python3 perfbench/run.py --workload mart|corpus|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from ``--seed``
into a temporary directory under the working directory, starts one Spark
session on ``local[<half the cores>]`` with a bounded driver heap, runs one
cold pass over the workload's ops, unmeasured warm-up passes, then a fixed
number of measured passes (one per ``PASS_S[workload]`` of ``--seconds``,
at least ``MIN_PASSES``), checks every output, and prints one JSON object
as its last line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes a span file (see
README.md).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402

PKG = "retail_datalakehouse_spark"
SF = 0.01
DRIVER_MEM = "2g"
# measured passes of an untraced run, at least: three where the per-run
# time budget allows it, so that the median rejects one disturbed pass
MIN_PASSES = {"mart": 2, "corpus": 3, "ingest": 2}
# unmeasured passes after the cold one. ingest has none: its set-up and cold
# pass already run every verb, its second pass is within 20% of the later
# ones, and one more of its passes would not fit the per-run time budget
WARM_UP_PASSES = {"mart": 1, "corpus": 1, "ingest": 0}
# nominal warm-pass seconds: --seconds buys one measured pass per PASS_S
PASS_S = {"mart": 6.0, "corpus": 5.0, "ingest": 6.0}
TAIL_GRID = (99, 95, 90, 75)
STILL_ROUNDS = 4  # GC rounds the live heap must hold still for


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail(recs: list[dict]) -> tuple[float, str]:
    """The highest percentile of TAIL_GRID with at least ten samples beyond
    it. Below 40 samples no percentile has; the tail is then the median
    latency of the slowest op, taken over the measured passes."""
    xs = [r["latency"] for r in recs]
    for p in TAIL_GRID:
        if len(xs) - math.ceil(p / 100.0 * len(xs)) >= 10:
            return percentile(xs, p), f"p{p}"
    by_op: dict[str, list[float]] = {}
    for r in recs:
        by_op.setdefault(r["name"], []).append(r["latency"])
    return max((tracing.median(v) for v in by_op.values()), default=0.0), "slowest op"


def measured_passes(workload: str, seconds: float) -> int:
    """Measured passes of an untraced run: fixed by the workload and
    ``--seconds`` alone, so neither host nor code speed changes which ops
    are measured."""
    return max(MIN_PASSES[workload], math.ceil(seconds / PASS_S[workload]))


def cores() -> int:
    """Spark's task slots: half the host's cores. The other half runs what
    is on every op's critical path beside the tasks: the driver's Python
    and JVM threads (query build, planning, scheduling), GC and JIT
    threads, and Python UDF workers. With every core given to tasks, a
    shared host's contention lands on that path and the figures measure
    the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def storage_mb(sc) -> float:
    return sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    ) / 2**20


def release_cached(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def cal_probe(spark) -> float:
    """Constant work: range -> xxhash64 -> shuffle -> two-level agg."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (
        spark.range(0, 10_000_000, 1, cores())
        .select((F.xxhash64("id") % 4096).alias("k"))
        .groupBy("k").count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("mx"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat; steal
    is time the hypervisor ran something else on this machine's CPUs."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def retained_heap_mb(spark) -> float:
    """Driver heap live after forced GCs, plus cached block bytes.

    Freeing what the run left takes several rounds: Python's GC drops the
    py4j proxies that pin query plans in the JVM, the JVM's GC then frees
    the plans, and Spark's ContextCleaner frees broadcast blocks on its own
    thread after that. So collect on both sides until the live heap has
    held still for STILL_ROUNDS rounds, and keep the least."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    samples = []
    while len(samples) < 16:
        gc.collect()
        jvm.java.lang.System.gc()
        samples.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        last = samples[-STILL_ROUNDS:]
        if len(last) == STILL_ROUNDS and max(last) - min(last) < 0.5:
            break
        time.sleep(0.2)
    return min(samples) + storage_mb(spark.sparkContext)


class Runner:
    """Times a workload's ops pass by pass; keeps one record per op."""

    def __init__(self, spark, tracer, workload):
        self.spark, self.sc = spark, spark.sparkContext
        self.tracer, self.workload = tracer, workload
        self.records: list[dict] = []
        self.checks: list[tuple[str, bool, str]] = []

    def run_pass(self, idx: int, traced: bool) -> None:
        for op in self.workload.ops(verify=idx == 0):
            self.records.append(self.run_op(op, idx, traced))

    def run_op(self, op, idx: int, traced: bool) -> dict:
        if op.before:
            op.before()
        group = f"p{idx}.{op.name}"
        self.sc.setJobGroup(group, op.name)
        rec = {"pass": idx, "name": op.name, "kind": op.kind, "group": group,
               "traced": traced, "error": None}
        size_before = self.workload.table_bytes() if op.kind == "write" else 0
        df = jplan = rows = None
        tr = self.tracer
        with tr.span(op.name, "op", kind=op.kind, group=group, pass_no=idx) as span:
            tr.current_op = span
            try:
                if op.kind == "write":
                    op.run()
                else:
                    with tr.span("build", "queries") as s_build:
                        df = op.run()
                    with tr.span("plan", "plan") as s_plan:
                        jplan = df._jdf.queryExecution().executedPlan()
                    with tr.span("exec", "exec") as s_exec:
                        if op.collect:
                            rows = df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed op is reported, not fatal
                rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        tr.current_op = None
        rec["latency"] = span["end"] - span["start"]
        rec["wall"] = (span["wall_start"], span["wall_end"])
        if op.kind != "write" and rec["error"] is None:
            for key, s in (("build", s_build), ("plan", s_plan), ("exec", s_exec)):
                rec[key] = s["end"] - s["start"]
                rec[f"{key}_wall"] = (s["wall_start"], s["wall_end"])
            rec["python_nodes"] = (
                len(tracing.PY_NODE_RE.findall(jplan.toString())) if traced else 0
            )
        if op.kind == "write":
            rec["bytes_added"] = self.workload.table_bytes() - size_before
        if op.check and rec["error"] is None:
            try:
                ok, detail = op.check(df, rows)
            except Exception as e:  # noqa: BLE001
                ok, detail = False, f"check error {type(e).__name__}: {e}"
            self.checks.append((group, ok, detail))
            if not ok:
                rec["error"] = f"check failed: {detail}"
        rec["persisted_mb_left"] = storage_mb(self.sc)
        release_cached(self.spark)
        return rec


def run(args, tmp: str) -> dict:
    trace = bool(args.trace)
    run_id = uuid.uuid4().hex[:12]
    tracer = tracing.Tracer(run_id)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    n_cores = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)

    from retail_datalakehouse_spark.catalog import TESTDATA_TABLES
    from retail_datalakehouse_spark.session import build_spark

    t = time.perf_counter()
    data_dir = os.path.join(tmp, "data")
    datagen.write(data_dir, args.seed, args.sf)
    gen_s = time.perf_counter() - t

    event_dir = os.path.join(tmp, "eventlog")
    os.makedirs(event_dir)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -XX:ParallelGCThreads={n_cores} -XX:ConcGCThreads=1"
        ),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = build_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("OFF")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        return _measure(args, spark, tracer, trace, tmp, data_dir, n_cores,
                        {"session_s": session_s, "gen_s": gen_s, "jvm_pid": jvm_pid},
                        TESTDATA_TABLES, event_dir)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _measure(args, spark, tracer, trace, tmp, data_dir, n_cores, boot, tables, event_dir):
    import workloads as W

    t = time.perf_counter()
    from retail_datalakehouse_spark import queries as Q

    Q.all_queries()
    import_s = time.perf_counter() - t
    checker = W.Checker(data_dir, tables)
    if args.workload == "ingest":
        wl = W.IngestWorkload(spark, data_dir, args.seed, checker, os.path.join(tmp, "ingest"))
    else:
        names = W.MART if args.workload == "mart" else W.CORPUS
        wl = W.QueryWorkload(args.workload, names, spark, data_dir, args.seed, checker)
    setup_s = time.perf_counter() - T0

    listener = _stream_listener(spark) if trace else None
    probes = [cal_probe(spark)]
    runner = Runner(spark, tracer, wl)
    phase = {"probe": time.perf_counter()}
    ticks = cpu_ticks()
    runner.run_pass(0, False)
    phase["cold"] = time.perf_counter()
    idx = 1
    for _ in range(WARM_UP_PASSES[args.workload]):
        runner.run_pass(idx, False)
        idx += 1
    phase["warm_up"] = time.perf_counter()
    untraced_warm, traced_warm = [], []
    if trace:
        # untraced, traced, traced, untraced: each side gets one early and
        # one late pass, so warm-up drift does not bias the overhead ratio
        schedule = (False, True, True, False)
    else:
        # a fixed count, so every run of every commit runs the same ops
        schedule = (False,) * measured_passes(args.workload, args.seconds)
    for traced in schedule:
        remove = tracing.instrument(tracer) if traced else None
        runner.run_pass(idx, traced)
        (traced_warm if traced else untraced_warm).append(idx)
        idx += 1
        if remove:
            remove()
    probes.append(cal_probe(spark))
    heap_mb = retained_heap_mb(spark)
    rss_mb = _peak_rss_mb(boot["jvm_pid"])
    phase["window"] = time.perf_counter()
    steal = [b - a for a, b in zip(ticks, cpu_ticks())]
    final = wl.final_checks()
    runner.checks += final
    endm = wl.end_metrics()
    phase["end"] = time.perf_counter()

    recs = runner.records
    cal_ref = _cal_ref(n_cores)
    e2e_passes = untraced_warm
    pass_sum = lambda i: sum(r["latency"] for r in recs if r["pass"] == i)  # noqa: E731
    warm = [r for r in recs if r["pass"] in e2e_passes]
    of_kind = lambda kind: [r for r in warm if r["kind"] == kind]  # noqa: E731
    lat = lambda kind: [r["latency"] for r in of_kind(kind)]  # noqa: E731
    reads, writes, streams = lat("read"), lat("write"), lat("stream")
    attempted = len(recs) + len(final)
    failed = sum(1 for r in recs if r["error"]) + sum(1 for _n, ok, _d in final if not ok)
    query_tail, tail_kind = tail(of_kind("read"))
    write_tail, wtail_kind = tail(of_kind("write"))
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": pass_sum(0),
        "warm_pass_s": tracing.median(pass_sum(i) for i in e2e_passes),
        "query_p50_s": tracing.median(reads),
        "query_tail_s": query_tail,
        "retained_heap_mb": heap_mb,
    }
    extra = {
        "write_p50_s": tracing.median(writes),
        "write_tail_s": write_tail,
        "stream_p50_s": tracing.median(streams),
        "space_amp": endm.get("space_amp", 0.0),
        "op_fail_ratio": failed / attempted,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cores": n_cores,
        "run_id": tracer.run_id, "passes": idx, "warm_passes": len(e2e_passes),
        "read_samples": len(reads), "query_tail": tail_kind,
        "write_samples": len(writes), "write_tail": wtail_kind,
        "stream_samples": len(streams),
        "pass_s": [pass_sum(i) for i in range(idx)],
        "phase_end_s": {k: v - T0 for k, v in phase.items()},
        "input_gen_s": boot["gen_s"], "session_s": boot["session_s"], "import_s": import_s,
        "cal_probe_s": probes, "cal_ref_s": cal_ref,
        "host_drift": probes[-1] / cal_ref if cal_ref else None,
        "host_steal_share": steal[0] / steal[1] if steal[1] else None,
    }
    for name, ok, detail in runner.checks:
        if not ok:
            print(f"CHECK FAIL {name}: {detail}")
    for r in recs:
        if r["error"]:
            print(f"OP FAIL p{r['pass']} {r['name']}: {r['error']}")
    units = {**_units("end_to_end"), **_units("per_layer")}
    for k, v in {**e2e, **extra}.items():
        print(f"metric {k} = {v:.6g} {units[k]}")
    print("info " + json.dumps(info))
    if trace:
        layer = _layer_metrics(
            runner, tracer, traced_warm, untraced_warm, n_cores, boot, rss_mb, probes,
            endm, wl, event_dir, spark, listener,
        )
        metrics = {**layer, **extra}
        out = {k: {"value": metrics.get(k, 0.0), "unit": u}
               for k, u in _units("per_layer").items()}
        _write_trace(args, tracer, runner, info, metrics, e2e, extra)
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in _units("end_to_end").items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


# ---------------------------------------------------------------- per layer


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json (the one list of metrics)."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _cal_ref(n_cores: int):
    with open(os.path.join(HERE, "calibration.json")) as f:
        return json.load(f)["cal_probe_ref_s"].get(str(n_cores))


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stream_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "run": str(p.runId),
                "ts": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _layer_metrics(runner, tracer, traced, untraced, n_cores, boot, rss_mb, probes,
                   endm, wl, event_dir, spark, listener) -> dict:
    """Per-layer metrics: per traced pass, then the median over those passes."""
    med = tracing.median
    by_pass = {i: [r for r in runner.records if r["pass"] == i] for i in traced}
    q_ops = {i: [r for r in by_pass[i] if r["kind"] != "write" and not r["error"]]
             for i in traced}
    layer_spans: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s.get("pass_no") in traced:
            layer_spans.setdefault(s["layer"], []).append(s)

    def per_pass(layer, fn):
        return med(sum(fn(s) for s in layer_spans.get(layer, []) if s["pass_no"] == i)
                   for i in traced)

    def op_sum(key, i):
        return sum(r[key] for r in q_ops[i])

    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    one = lambda s: 1  # noqa: E731
    m = {
        "session.start_s": boot["session_s"],
        "session.jvm_peak_rss_mb": rss_mb,
        "catalog.load_s": per_pass("catalog", dur),
        "catalog.load_calls": per_pass("catalog", one),
        "queries.build_s": med(op_sum("build", i) for i in traced),
        "queries.build_share": med(
            op_sum("build", i) / sum(op_sum(k, i) for k in ("build", "plan", "exec"))
            for i in traced if q_ops[i]),
        "queries.persisted_mb_left": med(
            sum(r["persisted_mb_left"] for r in by_pass[i]) for i in traced),
        "plan.s": med(op_sum("plan", i) for i in traced),
        "plan.python_nodes": med(op_sum("python_nodes", i) for i in traced),
        "exec.s": med(op_sum("exec", i) for i in traced),
        "operators.driver_s": per_pass("operators", dur),
        "operators.calls": per_pass("operators", one),
    }
    m.update(_event_metrics(_event_log(event_dir, spark), by_pass, q_ops, traced, n_cores))
    if wl.name == "ingest":
        m.update(_stream_metrics(listener, by_pass, traced))
        for verb in ("append", "merge", "delete_mor", "update_mor", "optimize_incremental",
                     "read", "read_version", "changes_feed"):
            m[f"table_format.{verb}_s"] = med(
                dur(s) for s in layer_spans.get("table_format", []) if s["name"] == verb)
        m["table_format.head_resolve_s"] = per_pass("table_format.head", dur)
        m["table_format.write_amp"] = med(
            sum(r.get("bytes_added", 0) for r in by_pass[i]) / wl.pass_batch_bytes[i]
            for i in traced)
        m["table_format.files_live"] = endm["files_live"]
        m["table_format.manifest_kb"] = endm["manifest_kb"]
        m["table_format.commit_retries"] = sum(
            1 for s in layer_spans.get("table_format.commit", [])
            if s.get("error") == "CommitConflict")
    pass_s = lambda i: sum(r["latency"] for r in runner.records if r["pass"] == i)  # noqa: E731
    m["host.cal_probe_s"] = probes[-1]
    m["trace.overhead_ratio"] = med(map(pass_s, traced)) / med(map(pass_s, untraced))
    return m


def _event_metrics(ev, by_pass, q_ops, traced, n_cores) -> dict:
    """Executor and Python-operator figures of each pass's ops, by job group.
    A job submitted inside an op's exec phase is executor work; one
    submitted while ``fn()`` built the DataFrame is a driver-side job."""
    med = tracing.median
    group_op = {r["group"]: r for i in traced for r in q_ops[i]}
    exec_tasks: dict[int, list] = {i: [] for i in traced}
    build_jobs: dict[int, int] = {i: 0 for i in traced}

    def within(wall, t):
        return wall[0] - 0.05 <= t <= wall[1] + 0.05

    for jid, grp in ev["job_group"].items():
        r = group_op.get(grp)
        if r is not None and within(r["build_wall"], ev["job_submit"][jid]):
            build_jobs[r["pass"]] += 1
    for t in ev["tasks"]:
        r = group_op.get(t["group"])
        if r is not None and within(r["exec_wall"], t["job_submit"]):
            exec_tasks[r["pass"]].append(t)
    tsum = lambda i, k: sum(t[k] for t in exec_tasks[i])  # noqa: E731
    m = {
        "queries.driver_jobs": med(build_jobs.values()),
        "exec.tasks": med(len(exec_tasks[i]) for i in traced),
        "exec.task_run_s": med(tsum(i, "run_s") for i in traced),
        "exec.task_cpu_s": med(tsum(i, "cpu_s") for i in traced),
        "exec.gc_s": med(tsum(i, "gc_s") for i in traced),
        "exec.core_busy_ratio": med(
            tsum(i, "run_s") / (n_cores * sum(r["exec"] for r in q_ops[i]))
            for i in traced if q_ops[i]),
    }
    for key in ("shuffle_write", "shuffle_read", "spill", "input"):
        m[f"exec.{key}_mb"] = med(tsum(i, f"{key}_b") / 2**20 for i in traced)
    skews = []
    for i in traced:
        stages: dict[int, list[float]] = {}
        for t in exec_tasks[i]:
            stages.setdefault(t["stage"], []).append(t["dur_s"])
        skews += [max(d) / med(d) for d in stages.values() if len(d) >= 2 and med(d) > 0]
    m["exec.task_skew"] = med(skews)
    group_pass = {r["group"]: i for i in traced for r in by_pass[i]}
    job_pass = {jid: group_pass.get(g) for jid, g in ev["job_group"].items()}
    py = {i: {} for i in traced}
    for jid, key, val in ev["py_updates"]:
        if job_pass.get(jid) in py:
            acc = py[job_pass[jid]]
            acc[key] = acc.get(key, 0.0) + val
    for name, key, scale in (("python_run_s", "python_run_ms", 1e-3),
                             ("python_boot_s", "python_boot_ms", 1e-3),
                             ("mb_to_python", "bytes_to_python", 1 / 2**20),
                             ("mb_from_python", "bytes_from_python", 1 / 2**20),
                             ("rows_from_python", "rows_from_python", 1.0)):
        m[f"arrow.{name}"] = med(py[i].get(key, 0.0) * scale for i in traced)
    return m


def _event_log(event_dir, spark) -> dict:
    _stop(spark)
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if not files:
        return {"tasks": [], "py_updates": [], "job_group": {}, "job_submit": {}}
    return tracing.read_event_log(max(files, key=os.path.getsize))


def _stream_metrics(listener, by_pass, traced) -> dict:
    med = tracing.median
    stream_ops = {i: [r for r in by_pass[i] if r["kind"] == "stream"] for i in traced}
    per = {i: [] for i in traced}
    for p in listener.progress if listener else []:
        ts = _iso_epoch(p["ts"])
        for i in traced:
            if any(r["wall"][0] - 0.5 <= ts <= r["wall"][1] + 0.5 for r in stream_ops[i]):
                per[i].append(p)
                break
    out = {}
    d = lambda p, k: p["duration_ms"].get(k, 0)  # noqa: E731
    out["streaming.batches"] = med(len(per[i]) for i in traced)
    out["streaming.trigger_ms_p50"] = med(
        med(d(p, "triggerExecution") for p in per[i]) for i in traced)
    out["streaming.add_batch_ms"] = med(sum(d(p, "addBatch") for p in per[i]) for i in traced)
    out["streaming.planning_ms"] = med(sum(d(p, "queryPlanning") for p in per[i]) for i in traced)
    out["streaming.wal_commit_ms"] = med(sum(d(p, "walCommit") for p in per[i]) for i in traced)
    out["streaming.input_rows"] = med(sum(p["input_rows"] for p in per[i]) for i in traced)

    def last_state(i, k):
        last: dict[str, list] = {}
        for p in per[i]:
            last[p["run"]] = p["state"]
        return sum(s[k] for st in last.values() for s in st)

    out["streaming.state_rows"] = med(last_state(i, 0) for i in traced)
    out["streaming.state_mb"] = med(last_state(i, 1) / 2**20 for i in traced)
    return out


def _write_trace(args, tracer, runner, info, metrics, e2e, extra) -> None:
    selfs = tracer.self_times()
    spans = [
        {"name": s["name"], "layer": s["layer"], "start": s["start"] - T0,
         "end": s["end"] - T0, "parent": s["parent"], "id": s["id"], "run": s["run"],
         "self_s": selfs[s["id"]], **({"error": s["error"]} if "error" in s else {})}
        for s in sorted(tracer.spans, key=lambda s: s["start"])
    ]
    path = os.path.join(".perfbench-out", f"trace-{args.workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "info": info, "per_layer": metrics, "end_to_end_untraced_passes": e2e,
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in runner.checks],
            "ops": runner.records, "spans": spans,
        }, f, indent=1, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("mart", "corpus", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale factor")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: run from the repository root ({PKG}/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still removes its temp dir and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=root)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
