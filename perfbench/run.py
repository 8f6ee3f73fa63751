#!/usr/bin/env python3
"""Pipeline benchmark: a Kafka -> validate -> operators -> ClickHouse pipeline
started through the REST API, driven by a separate load process.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Each run builds the program from source if needed (perfbench/build.py) and
starts a load process (LoadMain: loopback Kafka broker, type-validating
ClickHouse server, seeded generator, expected-output model). A round launches
a pipeline process (PipelineHost: ApiServer over PipelineService). For each
pipeline of the round, the run POSTs a pipeline config and starts it, then
waits until the load process has seen every expected row in the sink, and
checks that none of the pipeline's queries stopped with an error. Metrics
are medians over the round's timed pipelines.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 the per-layer
ones, and writes a span file under the build directory. See README.md.
"""
import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time
import urllib.error
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

# Per-workload sizing, per second of --seconds: a drain preloads
# `eps * seconds` events (orders, for stateful_drain). A run launches one
# pipeline process. Its first pipelines drain the `warmup` sizes untimed
# (JIT and lazy set-up, which users pay once per process); the next `timed`
# pipelines are timed and their medians reported. A stateful drain takes
# ~20 s cold whatever its size, with the default 200 state partitions, so
# it gets one cold, timed pipeline: the runs of a measurement set must fit
# its time limit on a slow host too.
WORKLOADS = {
    "ingest_drain": {"eps": 8000, "warmup": [60000], "timed": 2},
    "stateful_drain": {"eps": 500, "warmup": [], "timed": 1},
}

# the pipeline process's maximum heap: tools/run.sh's default, no -Xms
PIPELINE_XMX = "8g"
# a query that stops with an error on the micro-batch after its data does
# so within this long of that data batch's end
QUIET_S = 2.0

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

CLK_TCK = os.sysconf("SC_CLK_TCK")
# every child must have answered by then: a run ends within 180 s of the
# build finishing (set in main)
DEADLINE = None
# set on SIGTERM: children are killed instead of asked to quit
STOPPING = False


def stop(*_):
    global STOPPING
    STOPPING = True
    sys.exit(143)


def left():
    """Seconds until the run's deadline."""
    return DEADLINE - time.monotonic()


def cores():
    return len(os.sched_getaffinity(0))


class Jvm:
    """A child JVM speaking one JSON line per command on stdin/stdout."""

    def __init__(self, main, args, classes, work, xmx, env=None):
        self.log = open(work / f"{main.split('.')[-1]}.log", "ab")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xmx{xmx}", "-Dspark.ui.enabled=false",
               f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", build.classpath(classes), main, *args]
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, bufsize=0, env={**os.environ, **(env or {})})
        self.pid = self.proc.pid

    def read(self):
        while True:
            wait = left()
            if wait <= 0 or not select.select([self.proc.stdout], [], [], wait)[0]:
                raise RuntimeError(f"pid {self.pid}: no reply within the run's time limit; see {self.log.name}")
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"pid {self.pid} exited (rc={self.proc.poll()}); see {self.log.name}")
            line = line.strip()
            if line.startswith(b"{"):
                return json.loads(line)

    def send(self, obj):
        self.proc.stdin.write((json.dumps(obj) + "\n").encode())
        self.proc.stdin.flush()
        reply = self.read()
        if "error" in reply:
            raise RuntimeError(f"{obj.get('cmd')}: {reply['error']}")
        return reply

    def close(self, timeout=30):
        if STOPPING:
            timeout = 0
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(b'{"cmd":"quit"}\n')
                self.proc.stdin.flush()
                self.proc.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()

    def cpu_s(self):
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK

    def peak_rss_mb(self):
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM")


class Spans:
    def __init__(self):
        self.items = []

    def add(self, key, name, start_s, end_s, parent=""):
        self.items.append({"key": key, "name": name, "start_us": int(start_s * 1e6),
                           "end_us": int(end_s * 1e6), "parent": parent})


def rest(port, method, path, body=None, spans=None, name=None, parent=""):
    t = time.time()
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method=method,
                                 data=body.encode() if body is not None else None,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            status, payload = r.status, r.read()
    except urllib.error.HTTPError as e:
        status, payload = e.code, e.read()
    end = time.time()
    if spans is not None and name:
        spans.add(f"rest/{name}/{t}", name, t, end, parent)
    if status >= 300:
        raise RuntimeError(f"{method} {path} -> {status}: {payload[:500]!r}")
    return json.loads(payload or b"null"), (end - t) * 1000.0


def prepare(load, idx, req):
    """Generate input `idx` into the load process's broker and model."""
    return load.send({"cmd": "prepare", "round": idx, **req})


def start_pipeline(r, load, prep, spans):
    """Create and start a prepared input's pipeline on the running pipeline
    process through the REST API; its drain is timed from the start call."""
    port, key = r["port"], r["key"]
    p = {"prep": prep, "pid": prep["pipeline_id"]}
    _, p["create_ms"] = rest(port, "POST", "/api/v1/pipeline", prep["config"], spans, "api.create", key)
    p["dlq_dir"] = str(r["hwork"] / "dlq" / p["pid"])
    load.send({"cmd": "go", "dlq_dir": p["dlq_dir"]})
    p["cpu0"] = r["host"].cpu_s()
    _, p["start_ms"] = rest(port, "POST", f"/api/v1/pipeline/{p['pid']}/start", None, spans, "api.start", key)
    health, _ = rest(port, "GET", f"/api/v1/pipeline/{p['pid']}/health", None, spans, "api.health", key)
    if not health.get("query_active"):
        raise RuntimeError(f"query not active after start: {health}")
    return p


def launch(load, classes, work, idx, n_cores, trace, req, spans):
    """Prepare round `idx`'s first input (input `idx * 100`; its k-th is
    `idx * 100 + k`), then launch a pipeline process and start its first
    pipeline over it; setup_s is the time from launch until that start
    returned."""
    prep = prepare(load, idx * 100, req)
    hwork = work / f"round{idx}"
    (hwork / "tmp").mkdir(parents=True)
    rk = f"round/{idx}"
    t_launch = time.time()
    host = Jvm("perfbench.PipelineHost", [str(hwork), str(n_cores), "1" if trace else "0"],
               classes, hwork, PIPELINE_XMX, env={"SPARK_LOCAL_DIRS": str(hwork / "spark-local")})
    r = {"host": host, "hwork": hwork, "key": rk, "t_launch": t_launch}
    try:
        hello = host.read()
        r["port"] = hello["api_port"]
        r["session_boot_ms"] = hello["session_boot_ms"]
        spans.add(f"boot/{idx}", "spark.session_boot", t_launch, time.time(), rk)
        p = start_pipeline(r, load, prep, spans)
        r["setup_s"] = time.time() - t_launch
    except BaseException:
        finish(r, spans, trace=False)
        raise
    return r, p


def finish(r, spans, trace):
    """Stop the pipeline process and collect its spans."""
    r["host"].close()
    spans.add(r["key"], "round", r["t_launch"], time.time())
    idx = r["key"].split("/")[1]
    span_file = r["hwork"] / "spans.json"
    if trace and span_file.is_file():
        for s in json.loads(span_file.read_text()):
            s["key"] = f"{idx}:{s['key']}"
            s["parent"] = f"{idx}:{s['parent']}" if s["parent"] else r["key"]
            spans.items.append(s)
    shutil.rmtree(r["hwork"], ignore_errors=True)


def measure(r, p, load, trace, spans, ladder=False, last=False):
    """Wait for a started pipeline's expected output, check it and that no
    query stopped with an error, collect its figures, and terminate the
    pipeline unless it is the process's last."""
    host, port, pid_ = r["host"], r["port"], p["pid"]
    t_go = time.time()
    res = load.send({"cmd": "await", "timeout_s": max(1.0, left() - 20)})
    spans.add(f"drain/{pid_}", "pipeline.drain", t_go, time.time(), r["key"])
    cpu_s = host.cpu_s() - p["cpu0"]
    # the DLQ companion query runs on its own cadence: give it time to
    # land every expected dead letter
    deadline = time.time() + 30
    while True:
        st, _ = rest(port, "GET", f"/api/v1/pipeline/{pid_}/dlq/state")
        dlq_rows = st["rows"]
        if dlq_rows >= res["expected_dlq"] or time.time() > deadline:
            break
        time.sleep(0.2)
    # a query that fails on the micro-batch after the data fails the run
    fails = host.send({"cmd": "failures", "quiet_s": QUIET_S, "wait_s": max(0.0, min(30.0, left() - 20))})
    for e in fails["errors"]:
        print(f"pipeline {pid_}: {e}", file=sys.stderr)
    out = {
        "setup_s": r["setup_s"], "cpu_s": cpu_s, "peak_rss_mb": host.peak_rss_mb(),
        "session_boot_ms": r["session_boot_ms"], "create_ms": p["create_ms"],
        "start_ms": p["start_ms"], "dlq_rows": dlq_rows, **res,
        "query_failures": fails["query_failures"], "settle_s": fails["settle_s"],
        "failed": res["failed_rows"] + abs(dlq_rows - res["expected_dlq"]) + fails["query_failures"],
        "throughput_eps": res["appended"] / res["drain_s"],
    }
    if trace:
        out["layers"] = host.send({"cmd": "stats", "pipeline_id": pid_, "wait_s": max(0.0, left() - 60)})
    if ladder:
        # a ladder rung that runs the whole pipeline costs about one drain
        out["ladder"] = host.send({"cmd": "ladder", "config": p["prep"]["config"],
                                   "appended": res["appended"], "rung_s": res["drain_s"],
                                   "budget_s": left() - 15})
        # a ladder rung's query that stopped with an error fails the run too
        lf = host.send({"cmd": "failures", "quiet_s": 0, "wait_s": 0})
        for e in lf["errors"]:
            print(f"ladder of {pid_}: {e}", file=sys.stderr)
        out["failed"] += lf["query_failures"]
    if not last:
        rest(port, "POST", f"/api/v1/pipeline/{pid_}/terminate")
    # the sink's durable retry budget: one file per batch that failed
    budget = r["hwork"] / "ckpt" / pid_ / "graft_retry_budget"
    out["retries"] = sum(int(f.read_text().strip() or 0) for f in budget.glob("[0-9]*")) \
        if budget.is_dir() else 0
    return out


def request(workload, seconds, size=None):
    return {"size": size or int(WORKLOADS[workload]["eps"] * seconds)}


def run_round(load, classes, work, workload, idx, n_cores, trace, seconds, spans, ladder=False,
              timed_n=None):
    """One pipeline process from launch to stop: the workload's untimed
    warm-up pipelines, then `timed_n` (default from WORKLOADS) timed ones,
    each a new pipeline on a new input. Returns every pipeline's figures,
    each marked timed or not."""
    w = WORKLOADS[workload]
    n = w["timed"] if timed_n is None else timed_n
    sizes = w["warmup"] + [None] * n
    last = len(sizes) - 1
    r, p = launch(load, classes, work, idx, n_cores, trace, request(workload, seconds, sizes[0]), spans)
    outs = []
    try:
        for k, size in enumerate(sizes):
            if k:
                if trace:
                    r["host"].send({"cmd": "reset"})
                p = start_pipeline(r, load, prepare(load, idx * 100 + k, request(workload, seconds, size)),
                                   spans)
            out = measure(r, p, load, trace, spans, ladder=ladder and k == last, last=k == last)
            outs.append({**out, "timed": k >= len(sizes) - n})
    finally:
        finish(r, spans, trace)
    return outs


def timed(outs):
    return [o for o in outs if o["timed"]]


def end_to_end(outs):
    med = lambda k: stats.median([o[k] for o in outs])
    return {
        "throughput_eps": {"value": med("throughput_eps"), "unit": "1/s"},
        "setup_s": {"value": outs[0]["setup_s"], "unit": "s"},
        "cpu_s_per_mevent": {"value": stats.median([o["cpu_s"] / o["appended"] * 1e6 for o in outs]),
                             "unit": "s"},
    }


PER_LAYER_UNITS = {
    "api.create_ms": "ms", "api.start_ms": "ms", "spark.session_boot_ms": "ms",
    "pipeline.query_failures": "count", "process.peak_rss_mb": "MB",
    "batch.count": "count", "batch.trigger_ms_p50": "ms", "batch.latest_offset_ms_p50": "ms",
    "batch.query_planning_ms_p50": "ms", "batch.add_batch_ms_p50": "ms",
    "batch.wal_commit_ms_p50": "ms", "batch.commit_offsets_ms_p50": "ms", "batch.tasks": "count",
    "kafka.read_eps": "1/s", "kafka.rows_read_per_event": "ratio",
    "ingest.parse_eps": "1/s", "ingest.corrupt_rows": "count",
    "filter.rows_out": "count", "join.rows_out": "count",
    "operators.eps": "1/s", "state.partitions": "count", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.commit_ms_p50": "ms", "state.update_ms_p50": "ms",
    "state.dropped_by_watermark": "count",
    "sink.map_eps": "1/s", "sink.handler_ms_p50": "ms", "sink.share_of_batch": "ratio",
    "sink.insert_posts": "count", "sink.rows_per_post": "count", "sink.retries": "count",
    "sink.dlq_rows": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.stages": "count", "spark.jobs": "count",
    "loadgen.cpu_s": "s", "scaling.eps_1core": "1/s",
    "trace.overhead_frac": "ratio",
}


def per_layer(first, traced, plain, one):
    """Per-layer metrics of a traced run: `first` is the traced process's
    first pipeline (its create and start are part of setup_s), `traced` its
    last; `plain` and `one` the timed figures of the untraced and 1-core
    rounds, or None when they did not fit in the run."""
    layers = traced["layers"]
    ladder = traced["ladder"]
    posts = traced["insert_posts"]
    med = lambda outs, k: stats.median([o[k] for o in outs])
    overhead = 1.0 - traced["throughput_eps"] / med(plain, "throughput_eps") if plain else 0.0
    v = {
        "api.create_ms": first["create_ms"], "api.start_ms": first["start_ms"],
        "spark.session_boot_ms": traced["session_boot_ms"],
        "pipeline.query_failures": traced["query_failures"],
        "process.peak_rss_mb": traced["peak_rss_mb"],
        "kafka.rows_read_per_event": layers["kafka.input_rows"] / traced["appended"],
        "sink.insert_posts": posts,
        "sink.rows_per_post": traced["sink_rows"] / posts if posts else 0.0,
        "sink.retries": traced["retries"],
        "loadgen.cpu_s": traced["loadgen_cpu_s"],
        "scaling.eps_1core": med(one, "throughput_eps") if one else 0.0,
        "trace.overhead_frac": overhead,
    }
    v.update({k: layers[k] for k in PER_LAYER_UNITS if k in layers})
    v.update(ladder)
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    global DEADLINE
    DEADLINE = time.monotonic() + 170
    work = build.out_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = Spans()
    signal.signal(signal.SIGTERM, stop)
    load = Jvm("perfbench.LoadMain", [a.workload, str(a.seed)], classes, work, "2g")
    try:
        load.read()
        n = cores()
        if a.trace:
            t = time.monotonic()
            # one timed drain per round: three rounds must fit in one run
            outs = run_round(load, classes, work, a.workload, 0, n, True, a.seconds, spans,
                             ladder=True, timed_n=1)
            traced = outs[-1]
            # rounds whose cost is above the time left are skipped (and
            # their metrics reported as 0): a stateful round on one core
            # takes minutes with 200 state partitions
            est = time.monotonic() - t - traced["ladder"].pop("ladder_s")
            plain = one = None
            if left() > 1.3 * est + 10:
                plain = run_round(load, classes, work, a.workload, 1, n, False, a.seconds, spans,
                                  timed_n=1)
                outs += plain
            if left() > 2 * est + 10:
                one = run_round(load, classes, work, a.workload, 2, 1, False, a.seconds, spans,
                                timed_n=1)
                outs += one
            metrics = per_layer(outs[0], traced, plain and timed(plain), one and timed(one))
            out_dir = build.out_dir() / "spans"
            out_dir.mkdir(parents=True, exist_ok=True)
            span_file = out_dir / f"{a.workload}-seed{a.seed}.json"
            span_file.write_text(json.dumps({"spans": spans.items,
                                             "self_ms": stats.self_times(spans.items)}))
            print(f"spans: {span_file}", file=sys.stderr)
        else:
            outs = run_round(load, classes, work, a.workload, 0, n, False, a.seconds, spans)
            metrics = end_to_end(timed(outs))
    finally:
        load.close()
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(r["appended"] for r in outs)
    failed = sum(r["failed"] for r in outs)
    for r in outs:
        print(json.dumps({k: v for k, v in r.items() if k not in ("layers",)}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
