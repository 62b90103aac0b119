#!/usr/bin/env python3
"""Live-stream benchmark for the packaged `format("graft-shards")` source.

Run from the repository root:

    python3 perfbench/run.py --workload latest-drain --seed 1 --seconds 25 --trace 0

Builds the library from source (`perfbench/build.py`), stages the seeded
inputs (`perfbench/gen.py`), runs the stream program
(`perfbench/src/graft/perfbench/StreamBench.scala`) and turns what it
recorded into metrics. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` -- end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. An operation is one
published file; a file never committed counts as failed, and a sink state
that differs from the generator's ground truth fails the run (exit 1).
`perfbench/README.md` defines every metric.
"""

import argparse
import datetime
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
from metrics import Span, percentile, self_times, tail_percentile  # noqa: E402

WORK_ROOT = ".perfbench_work"
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"

WORKLOADS = {
    # a staged backlog of many small files that appears behind a query
    # subscribed at `latest` over retained history, drained under a file cap
    # (`maxFilesPerTrigger`, so `RecordAdmission` is bypassed); 100 uniform
    # keys and a 4 -> 8 re-shard halfway through the backlog
    "latest-drain": dict(position="latest", keys=100, zipf_s=0.0, rate=8000, file_records=250,
                         shards=4, reshard_to=8, history_records=20000, replay_p=0.0,
                         replay_len=0, cap=0, max_files=100, fail_at="1,2,3"),
    # a staged backlog drained from `trim_horizon` under a record cap, with
    # Zipf keys and replay runs
    "failover-catchup": dict(position="trim_horizon", keys=5000, zipf_s=1.0, rate=5000,
                             file_records=500, shards=4, reshard_to=None, history_records=0,
                             replay_p=0.25, replay_len=100, cap=25000, max_files=0,
                             fail_at="1,2,3"),
}

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def stage(w, seed, seconds, work):
    """Write every input file for one run: `rate` x `seconds` records of
    backlog. Returns the timed files as (file id, records), the ground truth
    and the stream program's conf."""
    conf = {"position": w["position"], "stream": "stream", "checkpoint": "checkpoint",
            "sink": "sink", "cap": w["cap"], "max_files": w["max_files"], "fail_at": w["fail_at"]}
    now = time.time()
    # warm-up: three capped batches of ten files each, so that class loading,
    # codegen and JIT are paid in set-up, not by the first timed batches
    warm = gen.plan_files([seed, 0], records=30 * w["file_records"], rate=w["rate"],
                          keys=w["keys"], zipf_s=w["zipf_s"], file_records=w["file_records"],
                          shards_before=w["shards"])
    gen.publish(warm, os.path.join(work, "warmup", "stream"), 0, now - 7200)
    conf.update(warmup_stream="warmup/stream", warmup_checkpoint="warmup/checkpoint",
                warmup_sink="warmup/sink", warmup_cap=10 * w["file_records"])
    records = seconds * w["rate"]
    backlog = gen.plan_files([seed, 2], records=records, rate=w["rate"], keys=w["keys"],
                             zipf_s=w["zipf_s"], file_records=w["file_records"],
                             shards_before=w["shards"], shards_after=w["reshard_to"],
                             reshard_at=records // 2 if w["reshard_to"] else None,
                             replay_p=w["replay_p"], replay_len=w["replay_len"],
                             first_id=w["history_records"])
    stream = os.path.join(work, "stream")
    if w["position"] == "latest":
        history = gen.plan_files([seed, 1], records=w["history_records"], rate=w["rate"],
                                 keys=w["keys"], zipf_s=w["zipf_s"],
                                 file_records=w["file_records"], shards_before=w["shards"])
        gen.publish(history, stream, 0, now - 3600)
        # the backlog must appear after the subscribe: the stream program
        # moves it into place at t0
        rows = gen.stage(backlog, os.path.join(work, "staging"), stream, len(history))
        with open(os.path.join(work, "plan.tsv"), "w") as fh:
            for fid, _, _, _, src, dst in rows:
                fh.write(f"{fid}\t{os.path.relpath(src, work)}\t{os.path.relpath(dst, work)}\n")
        conf.update(plan="plan.tsv")
        plan = [(fid, n) for fid, _, _, n, _, _ in rows]
    else:
        gen.publish(backlog, stream, 0, now - 600)
        plan = [(i, len(f["cols"]["event_id"])) for i, f in enumerate(backlog)]
    return plan, gen.ground_truth(backlog), conf


def epoch_ms(iso):
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def read_source_log(checkpoint):
    """file id -> micro-batch that admitted it, from the file source's own log."""
    admitted = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    fid = int(os.path.basename(e["path"]).split("-")[1].split(".")[0])
                    admitted[fid] = min(e["batchId"], admitted.get(fid, e["batchId"]))
    return admitted


def state_ms(p):
    ops = p.get("stateOperators", [])
    return sum(o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0) +
               o.get("commitTimeMs", 0) for o in ops)


def analyse(w, work, plan, truth, setup_start, trace):
    events = [json.loads(l) for l in open(os.path.join(work, "events.jsonl"))]
    by = {}
    for e in events:
        by.setdefault(e["ev"], []).append(e)
    t0 = by["t0"][0]["t_ms"]
    end = by["end"][0]
    starts = sorted(by.get("start", []), key=lambda e: e["t_ms"])
    fails = sorted(by.get("fail", []), key=lambda e: e["t_ms"])
    progress = [json.loads(l) for l in open(os.path.join(work, "progress.jsonl"))]
    for p in progress:
        p["start_ms"] = epoch_ms(p["timestamp"])
        p["commit_ms"] = p["start_ms"] + p["durationMs"]["triggerExecution"]
    # batches that ran data through the sink, keyed by id; a batch replayed
    # after a failure keeps the progress of the run that committed it
    runs = {s["run_id"] for s in starts}
    batches = {p["batchId"]: p for p in progress
               if p["runId"] in runs and "addBatch" in p["durationMs"]}
    # a `latest` query's subscribe batch commits in set-up, before t0
    timed = {b: p for b, p in batches.items() if p["commit_ms"] >= t0}
    admitted = read_source_log(os.path.join(work, "checkpoint"))
    pubs = {e["file"]: e for e in by.get("publish", [])}

    files = []
    for fid, n in plan:
        b = admitted.get(fid)
        # every file is due at t0; a published one is available once moved
        avail = max(t0, pubs[fid]["pub_ms"]) if fid in pubs else t0
        files.append(dict(id=fid, due=t0, avail=avail, n=n, batch=b,
                          commit=batches[b]["commit_ms"] if b in batches else None))
    committed = [f for f in files if f["commit"] is not None]
    latencies = [f["commit"] - f["due"] for f in committed]

    final = {}
    with open(os.path.join(work, "final.tsv")) as fh:
        for line in fh:
            k, n, lo, hi = map(int, line.split("\t"))
            final[k] = (n, lo, hi)
    correct = final == truth
    failed = len(files) - len(committed)
    if not correct:
        failed = max(failed, 1)

    # time without service: from each injected failure to the first commit
    # after it, which replays the uncommitted batch
    windows = [(f["t_ms"], min(p["commit_ms"] for p in batches.values()
                               if p["start_ms"] >= f["t_ms"])) for f in fails]
    restart_s = statistics.median((c - t) / 1000.0 for t, c in windows)
    down = sum(c - t for t, c in windows if t >= t0)
    drain_s = (end["t_ms"] - t0 - down) / 1000.0
    records = sum(n for n, _, _ in final.values())

    e2e = {
        "setup_s": (t0 / 1000.0 - setup_start, "s"),
        "commit_latency_p50_ms": (percentile(latencies, 0.5), "ms"),
        "commit_latency_p95_ms": (tail_percentile(latencies, 0.95), "ms"),
        "throughput_rps": (records / drain_s, "records/s"),
        "restart_s": (restart_s, "s"),
        "cpu_s": (end["cpu_s"], "CPU-s"),
        "heap_retained_mb": (end["heap_retained_mb"], "MB"),
    }
    diag = {"contended": end["contended"], "spin_ms": end["spin_ms"], "steal_s": end["steal_s"],
            "files": len(files),
            "latency_samples": len(latencies), "failed_share": failed / len(files),
            "restarts": len(fails), "batches": len(timed), "keys_checked": len(truth)}
    layers = per_layer(w, work, files, timed, batches, by, t0, end, fails) if trace else {}
    return correct, len(files), failed, e2e, layers, diag


def per_layer(w, work, files, timed, batches, by, t0, end, fails):
    bs = [timed[b] for b in sorted(timed)]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in bs]  # noqa: E731
    ops = [o for p in bs for o in p.get("stateOperators", [])]
    custom = lambda name: sum(o.get("customMetrics", {}).get(name, 0) for o in ops)  # noqa: E731
    hits, misses = custom("loadedMapCacheHitCount"), custom("loadedMapCacheMissCount")
    last_ops = bs[-1].get("stateOperators", []) if bs else []
    every_sink = sorted(by.get("sink", []), key=lambda e: e["start_ms"])
    sinks = [e for e in every_sink if e["start_ms"] >= t0]
    sink_ms = [e["end_ms"] - e["start_ms"] for e in sinks]
    jobs = [j for j in by.get("job", []) if j["start_ms"] >= t0]
    seen, replayed = set(), 0
    for e in every_sink:
        replayed += e["batch"] in seen
        seen.add(e["batch"])

    # backlog at each epoch commit: files already available that a later
    # batch admits, and the age of the oldest (MillisBehindLatest)
    backlog, lag = [0], [0.0]
    for p in bs:
        waiting = [f for f in files if f["avail"] <= p["commit_ms"] and
                   (f["batch"] is None or f["batch"] > p["batchId"])]
        backlog.append(len(waiting))
        lag.append(max((p["commit_ms"] - f["avail"] for f in waiting), default=0.0))
    idle = sum(max(0.0, b["start_ms"] - a["commit_ms"]) for a, b in zip(bs, bs[1:])
               if a["runId"] == b["runId"])
    restore = [state_ms(min((p for p in batches.values() if p["start_ms"] >= f["t_ms"]),
                            key=lambda p: p["start_ms"])) for f in fails]
    spans = build_spans(bs, sinks, jobs, files)
    selfs = self_times(spans)
    layer_self = {}
    for s in spans:
        if s.trace.startswith("batch-"):
            layer = s.name.split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s.id]
    with open(os.path.join(work, "spans.jsonl"), "w") as fh:
        for s in spans:
            fh.write(json.dumps(dict(s.as_dict(), self=selfs[s.id])) + "\n")
    in_file = lambda name: [s.duration for s in spans if s.name == name]  # noqa: E731
    trigger_sum = sum(dur("triggerExecution")) or 1.0

    m = {
        "gen.files": (len(files), "count"),
        "gen.records": (sum(f["n"] for f in files), "count"),
        "gen.publish_ms": (max(f["avail"] for f in files) - t0, "ms"),
        "sources.latest_offset_ms_p50": (percentile(dur("latestOffset"), 0.5), "ms"),
        "sources.latest_offset_ms_sum": (sum(dur("latestOffset")), "ms"),
        "sources.latest_offset_share": (sum(dur("latestOffset")) / trigger_sum, "ratio"),
        "sources.get_batch_ms_p50": (percentile(dur("getBatch"), 0.5), "ms"),
        "sources.files_per_batch": (len([f for f in files if f["batch"] is not None]) / len(bs),
                                    "files"),
        "sources.admit_fill": (statistics.mean(
            p["numInputRows"] / w["cap"] if w["cap"] else
            sum(f["batch"] == p["batchId"] for f in files) / w["max_files"] for p in bs), "ratio"),
        "sources.backlog_files_max": (max(backlog), "files"),
        "sources.lag_ms_max": (max(lag), "ms"),
        "engine.batches": (len(bs), "count"),
        "engine.trigger_ms_p50": (percentile(dur("triggerExecution"), 0.5), "ms"),
        "engine.trigger_ms_max": (max(dur("triggerExecution")), "ms"),
        "engine.trigger_ms_sum": (sum(dur("triggerExecution")), "ms"),
        "engine.planning_ms_p50": (percentile(dur("queryPlanning"), 0.5), "ms"),
        "engine.wal_commit_ms_p50": (percentile(dur("walCommit"), 0.5), "ms"),
        "engine.commit_offsets_ms_p50": (percentile(dur("commitOffsets"), 0.5), "ms"),
        "engine.idle_ms": (idle, "ms"),
        "engine.jobs": (len(jobs), "count"),
        "engine.stages": (sum(j["stages"] for j in jobs), "count"),
        "engine.tasks": (sum(j["tasks"] for j in jobs), "count"),
        "engine.task_run_s": (sum(j["run_ms"] for j in jobs) / 1000.0, "s"),
        "engine.scheduler_delay_s": (sum(j["sched_ms"] for j in jobs) / 1000.0, "s"),
        "engine.shuffle_bytes": (sum(j["shuffle_bytes"] for j in jobs), "bytes"),
        "engine.scan_bytes": (sum(j["input_bytes"] for j in jobs), "bytes"),
        "state.update_ms": (sum(o.get("allUpdatesTimeMs", 0) for o in ops), "ms"),
        "state.commit_ms": (sum(o.get("commitTimeMs", 0) for o in ops), "ms"),
        "state.share": (sum(state_ms(p) for p in bs) / trigger_sum, "ratio"),
        "state.rows_total": (sum(o.get("numRowsTotal", 0) for o in last_ops), "rows"),
        "state.rows_updated": (sum(o.get("numRowsUpdated", 0) for o in ops), "rows"),
        "state.memory_bytes": (sum(o.get("memoryUsedBytes", 0) for o in last_ops), "bytes"),
        "state.cache_hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "state.restore_ms": (statistics.median(restore) if restore else 0.0, "ms"),
        "sink.write_ms_p50": (percentile(sink_ms, 0.5), "ms"),
        "sink.write_ms_sum": (sum(sink_ms), "ms"),
        "sink.rows": (sum(o.get("numRowsUpdated", 0) for o in ops
                          if o.get("operatorName") != "dedupe"), "rows"),
        "sink.replayed_batches": (replayed, "count"),
        "latency.backlog_ms_p50": (percentile(in_file("file.backlog"), 0.5), "ms"),
        "latency.in_batch_ms_p50": (percentile(in_file("file.in_batch"), 0.5), "ms"),
        "jvm.gc_s": (end["gc_s"], "s"),
        "jvm.peak_rss_mb": (end["hwm_kb"] / 1024.0, "MB"),
    }
    for layer in ("sources", "engine", "sink", "exec"):
        m[f"self_ms.{layer}"] = (layer_self.get(layer, 0.0), "ms")
    return m


def layer_table(m):
    """Self time per layer along the micro-batch path, as shares of trigger time."""
    total = m["engine.trigger_ms_sum"][0]
    lines = [f"  {'layer':<34}{'ms':>10}{'share':>9}"]
    for layer in ("sources", "engine", "sink", "exec"):
        v = m[f"self_ms.{layer}"][0]
        lines.append(f"  {'self time: ' + layer:<34}{v:10.0f}{v / total:9.1%}")
    lines.append(f"  {'trigger time (all batches)':<34}{total:10.0f}{1:9.1%}")
    for name, share in (("sources.latest_offset_ms_sum", "sources.latest_offset_share"),):
        lines.append(f"  {name:<34}{m[name][0]:10.0f}{m[share][0]:9.1%}")
    for name in ("state.update_ms", "state.commit_ms"):
        v = m[name][0]
        lines.append(f"  {name + ' (task-summed)':<34}{v:10.0f}{v / total:9.1%}")
    lines.append(f"  {'engine.idle_ms (between batches)':<34}{m['engine.idle_ms'][0]:10.0f}")
    return lines


# Spark's order of the micro-batch phases it reports in `durationMs`
PHASES = [("latestOffset", "sources.latest_offset"), ("walCommit", "engine.wal_commit"),
          ("getBatch", "sources.get_batch"), ("queryPlanning", "engine.planning"),
          ("addBatch", "engine.add_batch"), ("commitOffsets", "engine.commit_offsets")]


def build_spans(bs, sinks, jobs, files):
    """Spans per micro-batch (batch -> phases laid out in Spark's order from
    their reported durations; the sink call and its Spark jobs at their
    measured times) and per file (publish -> admit -> commit)."""
    spans = []
    last_sink = {}
    for e in sinks:
        last_sink[e["batch"]] = e
    jobs_by = {}
    for j in jobs:
        jobs_by.setdefault(int(j["batch"]), []).append(j)
    start_of = {}
    for p in bs:
        b, tr = p["batchId"], f"batch-{p['batchId']}"
        start_of[b] = p["start_ms"]
        root = f"b{b}"
        spans.append(Span(root, "engine.batch", p["start_ms"], p["commit_ms"], None, tr))
        t = p["start_ms"]
        for key, name in PHASES:
            d = p["durationMs"].get(key, 0)
            spans.append(Span(f"{root}.{key}", name, t, t + d, root, tr))
            t += d
        s = last_sink.get(b)
        if s:
            spans.append(Span(f"{root}.sink", "sink.write", s["start_ms"], s["end_ms"],
                              f"{root}.addBatch", tr))
            for j in jobs_by.get(b, []):
                if s["start_ms"] <= j["start_ms"] <= s["end_ms"]:
                    spans.append(Span(f"{root}.job{j['job']}", "exec.job", j["start_ms"],
                                      j["end_ms"], f"{root}.sink", tr))
    for f in files:
        if f["commit"] is None:
            continue
        root, tr = f"f{f['id']}", f"file-{f['id']}"
        admit = max(start_of[f["batch"]], f["avail"])
        spans.append(Span(root, "file.latency", f["due"], f["commit"], None, tr))
        spans.append(Span(f"{root}.pub", "file.publish", f["due"], f["avail"], root, tr))
        spans.append(Span(f"{root}.wait", "file.backlog", f["avail"], admit, root, tr))
        spans.append(Span(f"{root}.batch", "file.in_batch", admit, f["commit"], root, tr))
    return spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # half the cores: the stream thread, the publisher, the JVM's own threads
    # and other tenants of a shared host keep the rest, so that a run
    # measures the program and not the scheduler
    ap.add_argument("--cores", type=int, default=max(1, os.cpu_count() // 2),
                    help="Spark local[n] threads (default: half the cores)")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    cp = build.ensure_built()
    setup_start = time.time()  # set-up is timed from here; a cached build costs nothing
    work = os.path.abspath(os.path.join(WORK_ROOT, args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan, truth, conf = stage(w, args.seed, args.seconds, work)
    conf.update(cores=args.cores, trace=args.trace)
    with open(os.path.join(work, "bench.conf"), "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in conf.items())

    # keep the JVM's scratch files (Spark block manager, temp files) inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", *JDK17_OPENS, "-cp", cp, "graft.perfbench.StreamBench", work]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(f"perfbench: stream program failed ({rc})\n")
        return 1

    correct, attempted, failed, e2e, layers, diag = analyse(
        w, work, plan, truth, setup_start, args.trace == 1)
    print("perfbench " + json.dumps(dict(diag, workload=args.workload, seed=args.seed)))
    shown = layers if args.trace else e2e
    for name, (value, unit) in e2e.items():
        print(f"  {name:<24} {value:12.4f} {unit}")
    if args.trace:
        print("\n".join(layer_table(layers)))
    if not correct:
        sys.stderr.write("perfbench: sink state differs from the generator's ground truth\n")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
