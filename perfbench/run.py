#!/usr/bin/env python3
"""Outside-in benchmark of the sarkac Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (`perfbench/build.py`). Each run gets private
input, warehouse, checkpoint and sink directories under `.bench_build/`,
drives the program through its public entry points in a fresh JVM,
checks every output, and prints one JSON line: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Workloads, their reasons and the metric map are described
in `perfbench/DESCRIPTION.json`. A failed run keeps its directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT

LIVE = {"topics": 50, "rate": 2000}
# 3 triggers of 30 event-time minutes against the 1 h retention: the
# third expires the first trigger's store segment
BACKFILL = {"topics": 100, "files": 90, "file_s": 60, "per_topic_file": 7,
            "files_per_trigger": 30}
# the program's sf0.01 test tables, read in place
BATCH_TABLES = os.path.join(BENCH, "data", "sf0.01")
BATCH_QUERIES = [
    "q_audio_estate_merge", "q_cross_snapshot_dedup", "q_extract_long", "q_join_revenue",
    "q_source_quantiles", "q_split", "q_tfidf", "q_window_stats",
]
# A generator later than this behind its schedule makes the run invalid.
LAG_LIMIT_MS = 1000.0
RUN_LIMIT_S = 170.0

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class RunError(Exception):
    pass


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return t[7], sum(t)


def harness(workload: str, run: str, deadline: float, **opts) -> dict:
    """Run the JVM harness for `workload`; returns its raw measurements."""
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation keeps the collector's work alike from run to run
    cmd = ["java", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "harness", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Harness", workload, run]
    cmd += [f"{k}={v}" for k, v in opts.items()]
    steal0, total0 = cpu_ticks()
    with open(os.path.join(run, "jvm.log"), "ab") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=log, cwd=run,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError(f"{workload}: harness timed out")
    if r.returncode != 0:
        raise RunError(f"{workload}: harness exited {r.returncode}; see jvm.log")
    with open(os.path.join(run, "harness.json")) as fh:
        h = json.load(fh)
    steal1, total1 = cpu_ticks()
    h["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return h


# ---- workloads ---------------------------------------------------------

def trigger_layer(phase: str, p: dict, layer: dict) -> None:
    """Per-layer metrics of one stream phase from its measured triggers."""
    trig = p["triggers"]
    pre = f"streaming.{phase}."
    ms = [t["trigger_ms"] for t in trig]
    messages = sum(t["messages"] for t in trig)
    layer[f"sources.{phase}.input_rows"] = messages
    layer[f"sources.{phase}.rows_read"] = sum(t["rows_read"] for t in trig)
    layer[f"sources.{phase}.latest_offset_ms_p50"] = checks.median(
        [t["latest_offset_ms"] for t in trig])
    layer[pre + "wall_s"] = p["wall_s"]
    layer[pre + "cpu_s"] = p["cpu_s"]
    layer[pre + "triggers"] = len(trig)
    layer[pre + "msgs_per_s"] = messages / (sum(ms) / 1000.0)
    layer[pre + "trigger_ms_p50"] = checks.median(ms)
    for k in ("planning_ms", "commit_ms", "emit_ms"):
        layer[pre + k + "_p50"] = checks.median([t[k] for t in trig])
    layer[pre + "process_batch_ms_p50"] = checks.median(
        [t["add_batch_ms"] - t["emit_ms"] for t in trig])
    for k in ("store_rows_end", "cooldown_keys_end", "cached_bytes_end", "anomalies_detected"):
        layer[pre + k] = p[k]
    tt = p["trigger_trace"]
    if tt:
        for k in ("jobs", "stages", "tasks", "task_cpu_ms", "gc_ms", "shuffle_bytes", "driver_ms"):
            layer[pre + k + "_per_trigger"] = sum(t[k] for t in tt) / len(tt)
        layer[pre + "spill_bytes"] = sum(t["spill_bytes"] for t in tt)
        layer[f"sources.{phase}.input_bytes"] = sum(t["input_bytes"] for t in tt)


def stream_check(run: str, phase: str, planted, windows, p: dict, layer: dict):
    """(attempted, failed, matched): the phase's sink must hold exactly the
    expected records; `matched` lists (produced_ms, durable_ms) of each."""
    expected = gen.expected_records(planted, windows)
    records = checks.read_sink(os.path.join(run, f"sink_{phase}"))
    missing, spurious = checks.compare_records(expected, [r[1:] for r in records])
    if missing or spurious:
        print(f"[perfbench] {phase}: {missing} missing, {spurious} spurious of "
              f"{len(expected)} expected anomaly records", file=sys.stderr)
    pre = f"streaming.{phase}."
    layer[pre + "anomalies_emitted"] = len(records)
    det = p["anomalies_detected"]
    layer[pre + "emit_ratio"] = len(records) / det if det else 0.0
    durable = {t["batch"]: t["durable_ms"] for t in p["triggers"]}
    want = set(expected)
    matched = [(r[4], durable[r[0]]) for r in records if r[1:] in want and r[0] in durable]
    return len(expected) + len(p["triggers"]), missing + spurious, matched


def stream(run: str, seed: int, seconds: float, trace: bool, deadline: float):
    """A closed backfill drain, then the live open loop, in one JVM."""
    live, bf = os.path.join(run, "live"), BACKFILL
    os.makedirs(live)
    planted_bf = gen.write_backfill(os.path.join(run, "backfill", "src"), seed, bf["topics"],
                                    bf["files"], bf["file_s"], bf["per_topic_file"],
                                    bf["files_per_trigger"])
    gen.write_warmup(os.path.join(run, "warm"), LIVE["topics"], int(time.time() * 1000) - 1000,
                     200)
    proc = subprocess.Popen([sys.executable, os.path.join(BENCH, "gen.py"), "live", live,
                             str(seed), str(seconds), str(LIVE["rate"]), str(LIVE["topics"])])
    try:
        h = harness("stream", run, deadline, topics=LIVE["topics"], cores=cores(),
                    trace=int(trace), backfillTopics=bf["topics"],
                    maxFiles=bf["files_per_trigger"])
        proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RunError("generator failed")
    with open(os.path.join(live, "planted.json")) as fh:
        planted_live = json.load(fh)
    with open(os.path.join(live, "done")) as fh:
        done = json.load(fh)
    layer = {}
    a1, f1, matched = stream_check(run, "live", planted_live, [900], h["live"], layer)
    a2, f2, _ = stream_check(run, "backfill", planted_bf, [900, 3600], h["backfill"], layer)
    for phase in ("live", "backfill"):
        trigger_layer(phase, h[phase], layer)
    lat = [durable - produced for produced, durable in matched]
    tail = checks.tail_percentile(lat)
    layer["detect.latency_p50_ms"] = checks.median(lat)
    layer["detect.latency_p90_ms"], layer["detect.latency_p90_pct"] = \
        (tail[1], tail[0]) if tail else (0.0, 0)
    layer["detect.samples"] = len(lat)
    layer["generator.lag_ms_max"] = done["lag_ms_max"]
    if trace:
        layer["streaming.backfill.speedup_vs_1core"] = \
            h["one_core_wall_s"] / h["backfill"]["wall_s"]
    valid = done["lag_ms_max"] <= LAG_LIMIT_MS
    return (h, h["live"]["cpu_s"] + h["backfill"]["cpu_s"],
            h["live"]["wall_s"] + h["backfill"]["wall_s"], layer, a1 + a2, f1 + f2, valid)


def expected_digests() -> dict:
    with open(os.path.join(BENCH, "expected_digests.json")) as fh:
        return json.load(fh)


def batch_cold(run: str, seed: int, seconds: float, trace: bool, deadline: float):
    h = harness("batch_cold", run, deadline, sfDir=BATCH_TABLES, cores=cores(),
                trace=int(trace), queries=",".join(BATCH_QUERIES))
    want = expected_digests()
    failed = 0
    got = {}
    for q in BATCH_QUERIES:
        got[q] = list(checks.digest_parquet(os.path.join(run, "out", q)))
        if got[q] != want.get(q):
            failed += 1
            print(f"[perfbench] {q}: digest {got[q]} != expected {want.get(q)}",
                  file=sys.stderr)
    with open(os.path.join(run, "digests.json"), "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
    layer = {"sources.warehouse_bytes_written": h["warehouse_bytes"]}
    for k in ("artifact_build_s", "artifacts_built", "memo_bytes_end", "cached_bytes_end"):
        layer["core." + k] = h[k]
    for q, s in h["query_s"].items():
        layer[f"query.{q}.wall_s"] = s
    for t in h["query_trace"]:
        layer[f"query.{t['query']}.task_cpu_s"] = t["task_cpu_s"]
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_bytes", "spill_bytes",
              "input_bytes", "gc_s", "driver_s"):
        layer["queries." + k] = sum(t[k] for t in h["query_trace"])
    layer["queries.wall_s"] = h["wall_s"]
    layer["queries.cpu_s"] = h["cpu_s"]
    layer["queries.wall_p50_s"] = checks.median(list(h["query_s"].values()))
    return h, h["cpu_s"], h["wall_s"], layer, len(BATCH_QUERIES), failed, True


WORKLOADS = {"stream": stream, "batch_cold": batch_cold}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        build.build()
    except (OSError, RuntimeError) as e:
        print(f"[perfbench] cannot build: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout compiles; its limit starts after the build
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)
    run = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        h, cpu, wall, layer, attempted, failed, valid = WORKLOADS[a.workload](
            run, a.seed, a.seconds, bool(a.trace), deadline)
    except (RunError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] run failed: {e!r}; run directory kept at {run}", file=sys.stderr)
        return 1
    e2e = {"cpu_s": cpu, "heap_retained_mb": h["heap_retained_mb"],
           "setup_s": h["setup_cpu_s"]}
    layer["setup.wall_s"] = h["setup_wall_s"]
    layer["process.peak_rss_mb"] = h["peak_rss_mb"]
    layer["host.steal_frac"] = h["steal_frac"]
    layer["check.failed_frac"] = failed / attempted
    layer["harness.trace_overhead_frac"] = h["trace_handler_s"] / wall
    if not valid:
        print("[perfbench] generator fell behind its schedule: run invalid", file=sys.stderr)
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layer if a.trace else e2e
    # a per-layer metric that does not apply to the workload reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in want}
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": valid and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
