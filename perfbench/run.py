"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 13 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  relational    8 JVM-bound registry queries (joins, windows, TPC-H, CDC)
  llm_curation  6 driver- and Python-bound registry queries (dedup, text
                statistics, similarity search, blobs)
  kpi_stream    the reference's six streaming KPIs fed open loop with CSV
                segments, upserted into sqlite

Run from the repository root. Inputs are generated from --seed into a run
directory under `.bench_run/`, which is the run's TMPDIR, working
directory and checkpoint base, and is deleted at the end. Spark runs at
local[nproc] in this one Spark driver process.

With --trace 0 the run prints every end-to-end metric; with --trace 1 it
records spans around each call into the package's layers plus Spark's own
counters (status tracker, event log, streaming progress), prints every
per-layer metric and writes the spans to `.bench_traces/`. Either way the
last line of stdout is one JSON object: correct, attempted, failed,
metrics. Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("relational", "llm_curation", "kpi_stream")
SF_SCALE = 1.0  # datagen scale 1.0 == sf0.1
# Driver heap, fixed at its maximum from the start: with the session's
# default (grow up to 8g on demand) peak memory varied by a quarter between
# identical runs, and a small heap keeps runs light on a shared host.
HEAP = "2g"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            out.setdefault(ppid, []).append(int(pid))
    return out


def _tree_pss_mb(root_pid: int) -> float:
    """Proportional set size, in MB, of `root_pid` and its descendants:
    pages shared by forked Python workers are counted once."""
    children, frontier, total = _children(), [root_pid], 0
    while frontier:
        pid = frontier.pop()
        frontier += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class RssSampler(threading.Thread):
    """Memory of this process and its descendants, sampled every 0.5 s."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(name="rss-sampler", daemon=True)
        self.period, self.samples = period_s, []  # [(epoch s, MB)]
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.wait(self.period):
            self.samples.append((time.time(), _tree_pss_mb(os.getpid())))

    def stop(self) -> None:
        self.halt.set()
        self.join()

    def peak(self, t0: float, t1: float) -> float:
        """Peak of the samples taken between epoch seconds t0 and t1."""
        s = sorted(mb for t, mb in self.samples if t0 <= t <= t1)
        _log(f"memory in the measured window: peak {s[-1]:.0f} MB, "
             f"p50 {s[len(s) // 2]:.0f} MB over {len(s)} samples; "
             f"peak of the whole run {max(mb for _, mb in self.samples):.0f} MB")
        return s[-1]


def _tree(root_pid: int) -> set[int]:
    """Every descendant of `root_pid`."""
    children, frontier, out = _children(), [root_pid], set()
    while frontier:
        for c in children.get(frontier.pop(), []):
            out.add(c)
            frontier.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and every Python worker and wait
    until each is gone."""
    from pyspark import SparkContext

    spark.stop()
    tree = _tree(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        # Spark is stopped and its event log closed. The JVM's exit hooks
        # would only delete files under the run directory, which is
        # removed anyway, and took ten seconds on a busy disk: kill it.
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.time() + 10
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SF_SCALE,
                    help="table scale, 1.0 = sf0.1 (self-test uses less)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: tamper with one result")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkstreaming_spark")):
        _log(f"no sparkstreaming_spark package under {ROOT}")
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)
    try:
        return _run(args, run_id, run_dir, tmp)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(args, run_id: str, run_dir: str, tmp: str) -> int:
    import tempfile

    tempfile.tempdir = None  # pick up the run's TMPDIR
    spec = _spec()
    host = {"nproc": os.cpu_count(), "load1_start": os.getloadavg()[0]}
    cpu_start = _cpu_jiffies()
    if args.workload != "kpi_stream":
        _prepare(args, run_dir)
    rss = RssSampler()
    rss.start()
    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    event_dir = os.path.join(run_dir, "events")
    tracer = None
    if args.trace:
        from perfbench import trace

        os.makedirs(event_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
        tracer = trace.Tracer(run_id)

    t_setup = time.perf_counter()
    from sparkstreaming_spark import session

    spark = session.get_spark("perfbench", extra_conf=extra)
    get_spark_s = time.perf_counter() - t_setup
    if tracer is not None:
        _log(f"trace: {trace.instrument(tracer)} layer functions wrapped")
        listener = trace.ProgressListener()
        spark.streams.addListener(listener)

    metrics: dict[str, float] = {}
    layer: dict[str, float] = {}
    failures: list[str] = []
    try:
        work = _kpi if args.workload == "kpi_stream" else _batch
        attempted, window = work(args, spark, run_dir, tracer, metrics,
                                 layer, failures, get_spark_s)
    finally:
        host["load1_end"] = os.getloadavg()[0]
        total, steal = (b - a for a, b in zip(cpu_start, _cpu_jiffies()))
        host["steal"] = steal / max(total, 1)
        rss.stop()
        _stop_spark(spark)
    metrics["peak_rss_mb"] = rss.peak(*window)

    if tracer is not None:
        if args.workload == "kpi_stream":
            layer.update(_stream_layers(listener.events, window))
            counters = trace.read_event_log(
                event_dir, window_ms=(1e3 * window[0], 1e3 * window[1]))
        else:  # per timed pass, like the status-tracker counts
            n = layer.pop("passes")
            counters = {k: v / n for k, v in
                        trace.read_event_log(event_dir, groups="t").items()}
        for k, v in counters.items():
            layer.setdefault(k, v)
        layer["session.get_spark_s"] = get_spark_s
        layer["streaming.ckpt_bytes_left"] = float(
            _dir_bytes(tmp) + _dir_bytes(os.path.join(run_dir, "ckpt")))
        trace_path = os.path.join(ROOT, ".bench_traces", f"{run_id}.jsonl")
        tracer.dump(trace_path, host)
        _log(f"trace: {len(tracer.spans)} spans -> {trace_path}")
        absent = [m["name"] for m in spec["per_layer"] if m["name"] not in layer]
        if absent:
            _log(f"trace: not exercised by {args.workload}, printed as 0: "
                 + " ".join(absent))

    failed = len(failures)
    for f in failures:
        _log(f"FAILED {f}")
    # steal: share of CPU time the hypervisor gave to other guests
    print(f"host nproc={host['nproc']} load1 start={host['load1_start']:.2f} "
          f"end={host['load1_end']:.2f} steal={host['steal']:.3f}")
    print(f"failed_ratio = {failed / attempted:.6f} ({failed}/{attempted})")
    if tracer is None:
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    else:
        out = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec["per_layer"]}
    for n, m in out.items():
        print(f"{n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def _names(workload: str) -> list[str]:
    from perfbench import batch

    return batch.RELATIONAL if workload == "relational" else batch.LLM_CURATION


def _prepare(args, run_dir) -> None:
    """Tables and oracle results, made by a child process before Spark
    starts so that neither counts in the run's memory."""
    import subprocess

    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-m", "perfbench.batch",
                    os.path.join(run_dir, "data"), os.path.join(run_dir, "want"),
                    str(args.seed), str(args.scale), *_names(args.workload)],
                   check=True, timeout=150)
    _log(f"prepare: tables and oracle results in {time.perf_counter() - t0:.2f}s")


def _batch(args, spark, run_dir, tracer, metrics, layer, failures,
           get_spark_s) -> tuple[int, tuple[float, float]]:
    from perfbench import batch
    from sparkstreaming_spark.suite import all_queries

    names = _names(args.workload)
    data_dir = os.path.join(run_dir, "data")
    registry = all_queries()
    if args.corrupt:
        _corrupt(registry, names[0])
    gate_s, gate_fail, rows = batch.gate_pass(
        spark, registry, names, data_dir, os.path.join(run_dir, "want"))
    failures += [f"{n}: {m}" for n, m in gate_fail.items()]
    # Then one untimed pass in the timed form (noop writes): without it the
    # first timed pass ran about a tenth slower than the ones after it.
    t_warm = time.perf_counter()
    _, failed = batch.timed_pass(spark, registry, names, data_dir)
    warm_s = time.perf_counter() - t_warm
    failures += [f"{n}: raised in the warm-up pass" for n in failed]
    attempted = 2 * len(names)

    # the window: whole passes, as many as fit in --seconds, at least one
    passes, t0, window_start = [], time.perf_counter(), time.time()
    while True:
        tag = f"t{len(passes)}"
        res, failed = batch.timed_pass(spark, registry, names, data_dir, tracer, tag)
        attempted += len(names)
        failures += [f"{n}: raised in timed pass {tag}" for n in failed]
        passes.append(res)
        last = sum(b + e for _, b, e in res)
        if time.perf_counter() - t0 + last > args.seconds:
            break
    window = (window_start, time.time())
    walls = [sum(b + e for _, b, e in p) for p in passes]
    lat = [b + e for p in passes for _, b, e in p]
    _log(f"setup: get_spark {get_spark_s:.2f}s + gate pass {gate_s:.2f}s + "
         f"warm-up pass {warm_s:.2f}s; passes {[round(w, 3) for w in walls]}; "
         f"{len(lat)} query runs")
    for name, b, e in passes[-1]:
        _log(f"  {name}: fn {b:.3f}s + write {e:.3f}s")
    metrics.update({
        "setup_s": get_spark_s + gate_s + warm_s,
        "wall_s": statistics.median(walls),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": _pct(lat, 0.9),
        "sustained_rows_per_s": statistics.median(
            sum(rows.values()) / w for w in walls),
    })
    if tracer is not None:
        _batch_layers(spark, tracer, passes, layer)
    return attempted, window


def _batch_layers(spark, tracer, passes, layer) -> None:
    """Per-pass layer figures of the timed passes (job groups "t<i>:...")."""
    from perfbench import trace

    sc, n = spark.sparkContext, len(passes)
    build = sum(b for p in passes for _, b, _ in p)
    exec_ = sum(e for p in passes for _, _, e in p)
    counts = {"build": [0, 0, 0], "exec": [0, 0, 0]}
    for i, p in enumerate(passes):
        for name, _, _ in p:
            for phase, acc in counts.items():
                for j, c in enumerate(trace.job_counts(sc, f"t{i}:{name}:{phase}")):
                    acc[j] += c
    jobs, stages, tasks = (b + e for b, e in zip(counts["build"], counts["exec"]))
    layer.update({
        "trace.wall_s": (build + exec_) / n,
        "suite.build_s": build / n,
        "suite.build_jobs": counts["build"][0] / n,
        "spark.exec_s": exec_ / n,
        "spark.jobs": jobs / n,
        "spark.stages": stages / n,
        "spark.tasks": tasks / n,
    })
    for mod in ("dedup", "textstats", "similarity", "multimodal", "operators"):
        layer[f"{mod}.build_s"] = tracer.inclusive_s(mod, "t") / n
    for mod, v in tracer.self_s("t").items():
        layer[f"{mod}.self_s"] = v / n
    layer["passes"] = n


def _kpi(args, spark, run_dir, tracer, metrics, layer, failures,
         get_spark_s) -> tuple[int, tuple[float, float]]:
    from perfbench import dbconn, kpi

    log_dir = None
    if tracer is not None:
        log_dir = os.path.join(run_dir, "dblog")
        os.makedirs(log_dir)
    r = kpi.run(spark, run_dir, args.seed, args.seconds, log_dir, args.corrupt)
    failures += r.failures
    if not r.latencies_s:
        raise RuntimeError(f"no segment committed: {r.failures}")
    q = len(r.latencies_s) // 4
    quarters = [statistics.median(r.latencies_s[i * q:(i + 1) * q] or [0])
                for i in range(4)]
    _log(f"setup: get_spark {get_spark_s:.2f}s + first commit "
         f"{r.setup_stream_s:.2f}s; {len(r.latencies_s)} latency samples, "
         f"median by window quarter {[round(x, 2) for x in quarters]}; "
         f"generator late max {r.late_ms_max:.1f}ms")
    span = max(r.commit_span_s, 1e-3)  # one batch held every segment
    metrics.update({
        "setup_s": get_spark_s + r.setup_stream_s,
        "wall_s": span,
        "latency_p50_s": statistics.median(r.latencies_s),
        "latency_p90_s": _pct(r.latencies_s, 0.9),
        "sustained_rows_per_s": r.measured_rows / span,
    })
    if tracer is not None:
        writes = dbconn.read_logs(log_dir)
        upserts = [s[6] - s[5] for s in tracer.spans
                   if s[3].endswith("UpsertSink.__call__")]
        layer.update({
            "trace.wall_s": span,
            "sinks.upsert_ms_p50": _p50(1e3 * u for u in upserts),
            "sinks.db_write_ms_p50": _p50(ms for ms, _ in writes),
            "sinks.rows_written": float(sum(n for _, n in writes)),
            "sinks.failed_batches": float(sum(len(s.errors) for s in r.sinks)),
            "gen.late_ms_max": r.late_ms_max,
        })
        for mod, v in tracer.self_s().items():
            layer[f"{mod}.self_s"] = v
    return r.attempted, r.window


def _p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _stream_layers(events: list[dict], window: tuple[float, float]) -> dict:
    """Streaming figures from the progress events of the measured window."""
    events = [e for e in events
              if datetime.fromisoformat(e["timestamp"]).timestamp() >= window[0]]
    data = [e for e in events if e["numInputRows"] > 0]

    def dur(key: str) -> float:
        return _p50(e["durationMs"].get(key, 0) for e in data)

    last = {e["name"]: e for e in events}
    ops = [op for e in last.values() for op in e["stateOperators"]]
    return {
        "spark.exec_s": sum(e["durationMs"].get("addBatch", 0) for e in data) / 1e3,
        "sources.input_rows": float(sum(e["numInputRows"] for e in data)),
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.batches": float(len(data)),
        "streaming.empty_batches": float(len(events) - len(data)),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.state_commit_ms_p50": _p50(
            sum(op["commitTimeMs"] for op in e["stateOperators"]) for e in data),
        "streaming.state_rows": float(sum(op["numRowsTotal"] for op in ops)),
        "streaming.state_memory_bytes": float(
            sum(op["memoryUsedBytes"] for op in ops)),
    }


def _corrupt(registry, name) -> None:
    """Self-test hook: make `name` return one duplicated row."""
    import dataclasses

    spec = registry[name]

    def fn(spark, data_dir):
        df = spec.fn(spark, data_dir)
        return df.union(df.limit(1))

    registry[name] = dataclasses.replace(spec, fn=fn)


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Everything this run started has ended and its files are gone. Skip
    # the interpreter's exit hooks: py4j's would retry, for seconds, to
    # reach the JVM that _stop_spark already ended.
    os._exit(code)
