#!/usr/bin/env python3
"""HTTP full-cache enrichment benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-check

Run from the repository root. One run builds the program if needed
(perfbench/build.py), generates the seeded inputs, serves the payload from
a separate endpoint process (perfbench/endpoint.py), drives one workload in
a JVM (perfbench/scala), checks every answer, and prints as its last line
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A line before it, prefixed `detail:`, carries what the metrics leave out
(tail percentile and sample count, streaming engine phases, layer self
times). A failed check makes the run exit with code 1.

--self-check runs every workload at tiny sizes with the real checks, and
then enrich_refresh against an endpoint that never advances its version,
which must fail the refresh check.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
STALE_SLACK_S = 1.0  # fetch time allowed on top of the refresh interval

# rows: payload rows; events/users: probe table of the batch workloads;
# batch_rows: probe rows per micro-batch; setups: set-ups per run (the
# median is setup_s); warmup: seconds of untimed ops before the window.
WORKLOADS = {
    "enrich_warm": dict(rows=100_000, events=100_000, users=1500, ttl="PT1H",
                        setups=3, warmup=6),
    # Every op reloads; a traced op reads the cache once before its query,
    # and that read must still be fresh when the query's scan reads it.
    "enrich_refresh": dict(rows=100_000, events=100_000, users=1500, ttl="PT0.1S",
                           trace_ttl="PT1S", setups=3, warmup=6),
    "stream_enrich": dict(rows=100_000, batch_rows=200_000, ttl="PT2S", publish_ms=1500,
                          setups=3, warmup=6),
}
TINY = dict(rows=2000, events=5000, users=300, batch_rows=5000, setups=1, warmup=0.5)

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def ttl_seconds(iso):
    assert iso.startswith("PT")
    v = iso[2:]
    return float(v[:-1]) * {"S": 1, "M": 60, "H": 3600}[v[-1]]


class Endpoint:
    def __init__(self, work, rows, seed, frozen):
        port_file = os.path.join(work, "endpoint.port")
        cmd = [sys.executable, os.path.join(HERE, "endpoint.py"), "--rows", str(rows),
               "--seed", str(seed), "--port-file", port_file] + (["--frozen"] if frozen else [])
        self.proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                                     stderr=open(os.path.join(work, "endpoint.log"), "w"))
        t0 = time.time()
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.time() - t0 > 60:
                self.stop()
                raise RuntimeError("endpoint did not start")
            time.sleep(0.02)
        with open(port_file) as f:
            self.base = "http://127.0.0.1:%s" % f.read().strip()

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def run_jvm(classes, work, args, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opts = []
    for p in JVM_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += ["-Xms2g", "-Xmx2g", "-Xss8m",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
             "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
             "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + opts + ["-cp", cp, "perfbench.PerfBench"] + \
        ["%s=%s" % kv for kv in args.items()]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("JVM run timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError("JVM run failed (exit %d):\n%s" % (proc.returncode, tail))
    with open(args["out"]) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def check_query_result(rows, expected):
    """rows: [tier, n, sum_score, min_version, max_version] per tier."""
    got = {r[0]: (r[1], r[2], r[4]) for r in rows}
    if len(got) != len(rows) or set(got) != set(expected):
        return "tiers %s != %s" % (sorted(map(str, got)), sorted(map(str, expected)))
    for t, (n, s, v) in expected.items():
        gn, gs, gv = got[t]
        if gn != n or gs != s or gv != v:
            return "tier %s: got (%s, %r, %s), want (%s, %r, %s)" % (t, gn, gs, gv, n, s, v)
    for r in rows:
        if r[0] is not None and r[3] != r[4]:
            return "tier %s mixes versions %s..%s" % (r[0], r[3], r[4])
    return None


def check_query_ops(w, res, exp, stats):
    failures = []
    for s in res.get("setup_results", []):
        e = check_query_result(s["result"], exp.answer(s["version"]))
        if e:
            failures.append("setup: " + e)
    counts = {int(k): v for k, v in stats["payload"].items()}
    for op in res["ops"]:
        e = check_query_result(op["result"], exp.answer(op["version"]))
        if not e and w == "enrich_refresh":
            if counts.get(op["version"], 0) != 1:
                e = "version %d was requested %d times, want exactly 1" % (
                    op["version"], counts.get(op["version"], 0))
            elif op["loads"] != 1:
                e = "op made %d cache loads, want 1" % op["loads"]
        if not e and w == "enrich_warm" and op["loads"] != 0:
            e = "warm op reloaded the snapshot (%d loads)" % op["loads"]
        if e:
            failures.append("op %d: %s" % (op["id"], e))
    return len(res["ops"]) + len(res.get("setup_results", [])), failures


def check_stream(res, cfg, ttl_s):
    failures = []
    rows = cfg["batch_rows"]
    progress = {p["batch"]: p for p in res["progress"]}
    pubs = sorted((t, v) for v, t in res["publishes"])

    def latest_published(t):
        best = None
        for pt, v in pubs:
            if pt <= t:
                best = v if best is None else max(best, v)
        return best

    setup = res.get("setup_results", [])
    for s in setup:
        n, matched, vmin, vmax, ssum, sexp = s["result"]
        if n != rows or matched != n or vmin != vmax or ssum != sexp:
            failures.append("setup load: %s" % (s["result"],))
    for b in res["batches"]:
        n, matched, vmin, vmax, ssum, sexp = b["result"]
        e = None
        p = progress.get(b["batch"])
        if n != rows or (p is not None and p["input_rows"] != n):
            e = "count %s, input rows %s, want %d" % (n, p and p["input_rows"], rows)
        elif matched != n:
            e = "%d of %d rows unmatched" % (n - matched, n)
        elif vmin != vmax:
            e = "batch mixes versions %s..%s" % (vmin, vmax)
        elif ssum != sexp:
            e = "score sum %s, want %s" % (ssum, sexp)
        else:
            need = latest_published(b["start"] - ttl_s - STALE_SLACK_S)
            newest = latest_published(b["end"])
            if need is not None and vmax < need:
                e = "saw version %d, older than one refresh interval (want >= %d)" % (vmax, need)
            elif newest is not None and vmax > newest:
                e = "saw version %d, never published by %.3f" % (vmax, b["end"])
        if e:
            failures.append("batch %d: %s" % (b["batch"], e))
    return len(res["batches"]) + len(setup), failures


# ----------------------------------------------------------------- metrics

def tail(values):
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None, None
    p = math.floor(100 * (n - 10) / n)
    idx = math.ceil(p / 100 * n) - 1
    return p, sorted(values)[idx]


def end_to_end(w, res, cfg):
    extra = {}
    if w == "stream_enrich":
        w0, w1 = res["window"]
        b = res["batches"]
        walls = [y["end"] - x["end"] for x, y in zip(b, b[1:]) if w0 < y["end"] <= w1]
        rows = cfg["batch_rows"] * len(walls)
        cpu = res["window_cpu_s"] / len(walls)
    else:
        ops = [o for o in res["ops"] if o["timed"]]
        walls = [o["wall_s"] for o in ops]
        rows = cfg["events"] * len(ops)
        cpu = sum(o["cpu_s"] for o in ops) / len(ops)
        extra = {"gc_ms_per_op": statistics.fmean(o["gc_ms"] for o in ops),
                 "jit_ms_per_op": statistics.fmean(o["jit_ms"] for o in ops)}
    p, t = tail(walls)
    metrics = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (t, "s"),
        "rows_per_s": (rows / sum(walls), "1/s"),
        "cpu_s_per_op": (cpu, "s"),
        "heap_retained_mb": (res["heap_loaded_mb"] - res["heap_base_mb"], "MB"),
    }
    return metrics, dict(extra, ops=len(walls), op_tail_percentile=p)


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[3], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c[4], s[4]), min(c[5], s[5])) for c in kids.get(s[0], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s[0]] = (s[5] - s[4]) - covered
    return out


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def per_layer(w, res, stats):
    spans = res["spans"]
    if w == "stream_enrich":
        w0, w1 = res["window"]
        batches = res["batches"]
        timed = [b for a, b in zip(batches, batches[1:]) if w0 < b["end"] <= w1]
        timed_ids = {b["batch"] for b in timed}
        loads = [b["loads"] for b in timed]
        windows = {b["batch"]: (a["end"], b["end"]) for a, b in zip(batches, batches[1:])}
    else:
        timed = [o for o in res["ops"] if o["timed"]]
        timed_ids = {o["id"] for o in timed}
        loads = [o["loads"] for o in timed]
        windows = {o["id"]: (o["start"], o["start"] + o["wall_s"]) for o in res["ops"]}
    trace_ops = [t for t in res["trace_ops"] if t["op"] in timed_ids]
    st = self_times(spans)
    # per-op self time of every layer, plus the op's untraced remainder
    layer_self = {}
    untraced = []
    for op in sorted(timed_ids):
        if op not in windows:
            continue
        a, b = windows[op]
        mine = [s for s in spans if s[2] == op]
        names = {s[0]: s[1] for s in mine}
        # the op window minus its top-level layer spans (a batch op has no
        # "op" span; its window is the cycle between two batch ends)
        top = [[s[0], s[1], op, -9, s[4], s[5]] for s in mine
               if s[1] != "op" and names.get(s[3], "op") == "op"]
        op_self = self_times([[-9, "op", op, -1, a, b]] + top)[-9]
        acc = {}
        for s in mine:
            if s[1] != "op":
                acc[s[1]] = acc.get(s[1], 0.0) + st[s[0]]
        # op time no layer span covers: outside the query, or inside it
        # but outside every Spark phase and job
        acc["untraced"] = op_self + acc.pop("query", 0.0)
        untraced.append(acc["untraced"])
        for k, v in acc.items():
            layer_self.setdefault(k, []).append(v)
    walls = [windows[o][1] - windows[o][0] for o in timed_ids if o in windows]
    mean_wall = sum(walls) / len(walls)
    self_share = {k: sum(v) / len(walls) / mean_wall for k, v in sorted(layer_self.items())}

    def span_ms(name):
        return med([(s[5] - s[4]) * 1e3 for s in spans if s[1] == name])

    def op_med(k):
        return med([t.get(k, 0.0) for t in trace_ops])

    def op_mean(k):  # for Spark's whole-millisecond timings
        return statistics.fmean([t.get(k, 0.0) for t in trace_ops]) if trace_ops else 0.0

    probes = res["probes"]
    requests = sum(stats["payload"].values())
    metrics = {
        "sources.http.fetch_ms": (med([p["fetch_ms"] for p in probes]), "ms"),
        "sources.http.fetch_bytes": (med([p["fetch_bytes"] for p in probes]), "bytes"),
        "sources.http.requests": (requests, "count"),
        "sources.http.retries": (requests - res["loads_total"], "count"),
        "sources.http.parse_ms": (med([p["parse_ms"] for p in probes]), "ms"),
        "sources.http.parse_rows": (med([p["parse_rows"] for p in probes]), "count"),
        "sources.http.cache_get_miss_ms": (span_ms("sources.http.cache_get_miss"), "ms"),
        "sources.http.cache_get_hit_ms": (span_ms("sources.http.cache_get_hit"), "ms"),
        "sources.http.cache_loads": (sum(loads), "count"),
        "sources.http.cache_hit_ratio": (sum(1 for x in loads if x == 0) / len(loads), "ratio"),
        "sources.http.scan_rows": (op_med("scan_rows"), "count"),
        "sources.http.cache_retained_mb": (res["cache_retained_mb"], "MB"),
        "plans.analysis_ms": (op_mean("analysis_ms"), "ms"),
        "plans.optimization_ms": (op_mean("optimization_ms"), "ms"),
        "plans.planning_ms": (op_mean("planning_ms"), "ms"),
        "plans.broadcast_collect_ms": (op_mean("broadcast_collect_ms"), "ms"),
        "plans.broadcast_build_ms": (op_mean("broadcast_build_ms"), "ms"),
        "plans.broadcast_send_ms": (op_mean("broadcast_send_ms"), "ms"),
        "plans.broadcast_bytes": (op_med("broadcast_bytes"), "bytes"),
        "plans.broadcast_rows": (op_med("broadcast_rows"), "count"),
        "enrich.probe_task_ms": (op_mean("probe_task_ms"), "ms"),
        "enrich.probe_cpu_ms": (op_med("probe_cpu_ms"), "ms"),
        "enrich.rows_out": (op_med("rows_out"), "count"),
        "trace.untraced_ms": (med(untraced) * 1e3, "ms"),
        "trace.op_p50_s": (med(walls), "s"),
    }
    detail = {"self_time_share_of_op_wall": self_share,
              "self_time_accounted": sum(v for k, v in self_share.items() if k != "untraced")}
    if w == "stream_enrich":
        prog = {p["batch"]: p for p in res["progress"]}
        tp = [prog[b] for b in sorted(timed_ids) if b in prog]
        for key, name in (("latestOffset", "latest_offset_ms"), ("queryPlanning", "query_planning_ms"),
                          ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            detail["streaming." + name] = med([p.get(key) for p in tp])
        detail["streaming.refresh_batches"] = sum(1 for x in loads if x > 0)
    return metrics, detail


# -------------------------------------------------------------------- run

def one_run(workload, seed, seconds, trace, cfg, frozen=False):
    t_start = time.time()
    if trace and "trace_ttl" in cfg:
        cfg = dict(cfg, ttl=cfg["trace_ttl"])
    classes = build.build()
    work = os.path.join(os.getcwd(), ".bench_build", "perfbench", "work",
                        "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    endpoint = None
    try:
        deadline = time.time() + DEADLINE_S
        args = dict(workload=workload, seed=seed, seconds=seconds, trace=trace,
                    setups=cfg["setups"], warmup=cfg["warmup"], ttl=cfg["ttl"], rows=cfg["rows"],
                    schema=inputs.SCHEMA, scoreCentsSql=inputs.score_cents_sql(seed),
                    out=os.path.join(work, "result.json"), work=work)
        exp = None
        if workload != "stream_enrich":
            ev_ids, users = inputs.make_events(cfg["events"], cfg["users"], cfg["rows"], seed)
            args["events"] = os.path.join(work, "events.parquet")
            inputs.write_events(args["events"], ev_ids, users)
            exp = inputs.Expected(users, cfg["rows"], seed)
        else:
            args["batchRows"] = cfg["batch_rows"]
            args["publishMs"] = cfg["publish_ms"]
        endpoint = Endpoint(work, cfg["rows"], seed, frozen)
        args.update(url=endpoint.base + "/payload", shadow=endpoint.base + "/shadow",
                    control=endpoint.base)
        log("run: %s seed=%d seconds=%s trace=%d (inputs ready in %.1f s)" % (
            workload, seed, seconds, trace, time.time() - t_start))
        res = run_jvm(classes, work, args, deadline)
    finally:
        if endpoint:
            endpoint.stop()
    ttl_s = ttl_seconds(cfg["ttl"])
    # endpoint request counts, read before the run's closing heap check
    stats = json.loads(res["endpoint_stats"])
    if workload == "stream_enrich":
        attempted, failures = check_stream(res, cfg, ttl_s)
    else:
        attempted, failures = check_query_ops(workload, res, exp, stats)
    for f in failures[:20]:
        log("check failed: " + f)
    if trace:
        metrics, detail = per_layer(workload, res, stats)
    else:
        metrics, detail = end_to_end(workload, res, cfg)
    shutil.rmtree(work, ignore_errors=True)
    detail.update(workload=workload, seed=seed, trace=trace, wall_s=round(time.time() - t_start, 1))
    summary = {"correct": not failures, "attempted": attempted, "failed": len(failures),
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return summary, detail


def self_check():
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            cfg = dict(WORKLOADS[w], **TINY)
            s, _ = one_run(w, 7, 2, trace, cfg)
            # too few ops at tiny sizes for op_tail_s; every other metric is set
            good = s["correct"] and s["failed"] == 0 and all(
                m["value"] is not None for k, m in s["metrics"].items() if k != "op_tail_s")
            print("self-check %-15s trace=%d: %s (%d ops)" % (
                w, trace, "PASS" if good else "FAIL", s["attempted"]), flush=True)
            ok &= good
    cfg = dict(WORKLOADS["enrich_refresh"], **TINY)
    s, _ = one_run("enrich_refresh", 7, 2, 0, cfg, frozen=True)
    caught = not s["correct"] and s["failed"] > 0
    print("self-check enrich_refresh, endpoint never advances: %s (%d of %d ops failed)" % (
        "PASS, stale snapshot detected" if caught else "FAIL, stale snapshot not detected",
        s["failed"], s["attempted"]), flush=True)
    return 0 if ok and caught else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if a.self_check:
        return self_check()
    if not a.workload:
        ap.error("--workload is required")
    summary, detail = one_run(a.workload, a.seed, a.seconds, a.trace, WORKLOADS[a.workload])
    print("detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps(summary), flush=True)
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception as e:  # no result line on a broken run
        log("run failed: %s" % e)
        sys.exit(2)
