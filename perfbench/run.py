#!/usr/bin/env python3
"""The repo's benchmark: two closed-loop workloads against the engine's
public entry points, every answer checked.

    python3 perfbench/run.py --workload elt_incremental --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for the why of each):
  elt_incremental        initial Pipeline.run, then one incremental run per
                         arriving change batch
  warehouse_read_mostly  SQL point lookups, range scans, aggregates and top-N
                         on the `graft` catalog, one morMerge upsert in ten;
                         its traced run also runs a fixed subset of
                         SparkEntry.queries, checked against DuckDB

Steps of one run: build the engine and the JVM harness if their sources
changed (build.py), generate the seeded inputs (datagen.py), run the JVM
side (scala/perfbench), check query-key results against DuckDB (oracle.py),
and reduce the raw record to metrics (stats.py). The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Lines before it print every metric by name and unit, the workload's
named detail metrics and the run conditions. The full record is kept in
perfbench/.work/results/. The exit code is non-zero on any failed check.

One option beyond the four above: --sf (scale factor, default 0.01).
Sessions run at local[N] with N shuffle partitions, N = the CPUs this
process may run on (nproc).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEFAULT_SF = 0.01
# the JVM run may take --seconds plus this much for set-up and checks
JVM_MARGIN_S = 165
TAIL_MIN_PERCENTILE = 51   # a tail lies above the median

# batches generated per run; elt_incremental stops early if it runs out
WORKLOADS = {"elt_incremental": 32, "warehouse_read_mostly": 1}
QUERY_KEYS = [
    "q04_merge_upsert", "q21_revenue_by_nation", "q42_sessions", "q50_token_stats",
    "q57_minhash_lsh", "q60_cosine_topk", "q124_pps_sample", "q132_index_bm25",
    "q138_runtime_pruned_join", "q149_stream_sink_upsert",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
OP_KINDS = ["elt_run", "read_point", "read_scan", "upsert", "query"]
LAYERS = ["pipeline", "sources", "state", "sink", "catalog", "queries", "spark"]

END_TO_END = [("setup_s", "s"), ("op_s_p50", "s"), ("op_s_mean", "s"),
              ("storage_bytes_per_row", "B/row"),
              ("heap_live_peak_mb", "MB")]


def per_layer():
    """[(name, unit, better)] — the same list for every workload; a layer a
    workload does not exercise reports 0."""
    m = [("pipeline.initial_load_s", "s", "lower"),
         ("pipeline.run_s_p50", "s", "lower"),
         ("pipeline.replay_s_p50", "s", "lower"),
         ("pipeline.driver_gap_s", "s", "lower")]
    m += [(f"pipeline.resource_s.{t}", "s", "lower") for t in TABLES]
    m += [("trace.overhead_s", "s", "lower"), ("trace.unspanned_s", "s", "lower"),
          ("sources.extract_s", "s", "lower"),
          ("sources.rows_read_per_row_extracted", "ratio", "lower"),
          ("state.advance_s", "s", "lower")]
    for mode in ["merge", "replace", "append", "mor_merge"]:
        m += [(f"sink.commit_s.{mode}", "s", "lower"),
              (f"sink.jobs_per_commit.{mode}", "count", "lower")]
    m += [("sink.shuffle_bytes_per_commit", "B", "lower")]
    for t in ["orders", "lineitem"]:
        m += [(f"sink.files_rewritten_per_commit.{t}", "count", "lower"),
              (f"sink.bytes_written_per_change_byte.{t}", "ratio", "lower")]
    m += [(f"sink.live_data_files.{t}", "count", "lower") for t in TABLES]
    m += [(f"sink.live_delete_files.{t}", "count", "lower") for t in TABLES]
    m += [("sink.storage_bytes_per_row", "B/row", "lower")]
    for c in ["point", "scan"]:
        m += [(f"catalog.plan_s.{c}", "s", "lower"), (f"catalog.exec_s.{c}", "s", "lower"),
              (f"catalog.files_scanned_per_read.{c}", "count", "lower"),
              (f"catalog.files_skipped_ratio.{c}", "ratio", "higher"),
              (f"catalog.rows_scanned_per_row_returned.{c}", "ratio", "lower"),
              (f"catalog.delete_files_applied_per_read.{c}", "count", "lower")]
    for k in QUERY_KEYS:
        m += [(f"queries.key_s.{k}", "s", "lower"), (f"queries.jobs.{k}", "count", "lower"),
              (f"queries.shuffle_bytes.{k}", "B", "lower")]
    for op in OP_KINDS:
        m += [(f"spark.jobs_per_op.{op}", "count", "lower"),
              (f"spark.tasks_per_op.{op}", "count", "lower"),
              (f"spark.shuffle_write_bytes_per_op.{op}", "B", "lower"),
              (f"spark.spill_bytes_per_op.{op}", "B", "lower"),
              (f"spark.task_skew.{op}", "ratio", "lower")]
    m += [(f"self_s.{layer}", "s", "lower") for layer in LAYERS]
    return m


# ---------------------------------------------------------------- reduction

def _dur(x):
    return (x["t1"] - x["t0"]) / 1000.0


def _med(xs):
    return stats.median(xs) if xs else 0.0


def _jobs_in(jobs, t0, t1):
    return [j for j in jobs if t0 - 1 <= j["start"] <= t1 + 1]


def _skew(jobs):
    ts = [t for j in jobs for t in j["task_ms"]]
    if not ts:
        return 0.0
    m = stats.median(ts)
    return max(ts) / m if m > 0 else 1.0


def reduce_layers(raw):
    """Per-layer metrics of a traced run from its raw record."""
    ops, spans, jobs, samples = raw["ops"], raw["spans"], raw["jobs"], raw["samples"]
    spans = [s for s in spans if s["op"] >= 0 and s["t1"] >= s["t0"]]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    out = {name: 0.0 for name, _, _ in per_layer()}

    def put(name, value):
        assert name in out, name
        out[name] = float(value)

    for name, xs in samples.items():
        if name in out:
            put(name, _med(xs))
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    elt = [o for o in ops if o["kind"] == "elt_run"]
    put("pipeline.run_s_p50", _med([_dur(o) for o in elt if not o["traced"]]))
    put("pipeline.replay_s_p50", _med([_dur(o) for o in elt if o["traced"]]))
    put("pipeline.driver_gap_s",
        _med([stats.driver_gap(o["t0"], o["t1"], job_iv) / 1000.0 for o in elt]))
    for t in TABLES:
        put(f"pipeline.resource_s.{t}", _med([_dur(s) for s in spans if s["name"] == f"load.{t}"]))

    traced = [o for o in ops if o["traced"]]
    diffs = []   # per kind: median traced minus median untraced, weighted by count
    for kind in OP_KINDS:
        t = [_dur(o) for o in traced if o["kind"] == kind]
        u = [_dur(o) for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            diffs.append((stats.median(t) - stats.median(u), len(t) + len(u)))
    if diffs:
        put("trace.overhead_s", sum(d * n for d, n in diffs) / sum(n for _, n in diffs))
    self_sum = {layer: 0.0 for layer in LAYERS}
    for o in traced:
        per = stats.layer_self_times(by_op.get(o["id"], []), job_iv)
        for layer, v in per.items():
            self_sum[layer] = self_sum.get(layer, 0.0) + v / 1000.0
    gaps = [stats.unspanned(by_op.get(o["id"], [])) for o in traced]
    put("trace.unspanned_s", _med([g / 1000.0 for g in gaps if g is not None]))
    for layer in LAYERS:
        if traced:
            put(f"self_s.{layer}", self_sum.get(layer, 0.0) / len(traced))

    def per_op_sum(pred):
        return _med([sum(_dur(s) for s in by_op.get(o["id"], []) if pred(s))
                     for o in elt if o["traced"]])

    put("sources.extract_s", per_op_sum(lambda s: s["layer"] == "sources"))
    put("state.advance_s", per_op_sum(lambda s: s["name"] == "advance"))

    def jobs_of(x):
        return _jobs_in(jobs, x["t0"], x["t1"])

    for mode in ["merge", "replace", "append"]:
        ws = [s for s in spans if s["name"] == f"write.{mode}"]
        put(f"sink.commit_s.{mode}", _med([_dur(s) for s in ws]))
        put(f"sink.jobs_per_commit.{mode}", _med([len(jobs_of(s)) for s in ws]))
        if mode == "merge":
            put("sink.shuffle_bytes_per_commit",
                _med([sum(j["shuffle_write"] for j in jobs_of(s)) for s in ws]))
    ups = [o for o in ops if o["kind"] == "upsert"]
    put("sink.commit_s.mor_merge", _med([_dur(o) for o in ups]))
    put("sink.jobs_per_commit.mor_merge", _med([len(jobs_of(o)) for o in ups]))

    for k in QUERY_KEYS:
        ks = [o for o in ops if o["kind"] == "query" and o["tag"] == k]
        put(f"queries.key_s.{k}", _med([_dur(o) for o in ks]))
        put(f"queries.jobs.{k}", _med([len(jobs_of(o)) for o in ks]))
        put(f"queries.shuffle_bytes.{k}",
            _med([sum(j["shuffle_write"] for j in jobs_of(o)) for o in ks]))

    for kind in OP_KINDS:
        per = [jobs_of(o) for o in ops if o["kind"] == kind]
        put(f"spark.jobs_per_op.{kind}", _med([len(js) for js in per]))
        put(f"spark.tasks_per_op.{kind}", _med([sum(j["tasks"] for j in js) for js in per]))
        put(f"spark.shuffle_write_bytes_per_op.{kind}",
            _med([sum(j["shuffle_write"] for j in js) for js in per]))
        put(f"spark.spill_bytes_per_op.{kind}", _med([sum(j["spill"] for j in js) for js in per]))
        put(f"spark.task_skew.{kind}", _med([_skew(js) for js in per]))
    return out


def reduce_end_to_end(raw, pre_s):
    info, samples, ops = raw["info"], raw["samples"], raw["ops"]
    durs = [_dur(o) for o in ops]
    setup = (pre_s + info.get("jvm_start_s", 0.0) + info.get("session_start_s", 0.0)
             + _med(samples.get("setup.prep_s", [])))
    return {
        "setup_s": setup,
        "op_s_p50": _med(durs),
        "op_s_mean": sum(durs) / len(durs) if durs else 0.0,
        "storage_bytes_per_row": _med(samples.get("sink.storage_bytes_per_row", [])),
        "heap_live_peak_mb": float(info.get("heap_live_peak_mb", 0.0)),
    }


def detail(raw, failed, attempted):
    """The named detail metrics this workload measures, with a tail where
    the run supports one: ten samples beyond a percentile of at least
    TAIL_MIN_PERCENTILE."""
    ops, samples = raw["ops"], raw["samples"]
    out = {}

    def series(name, unit, xs):
        if not xs:
            return
        out[f"{name}_p50"] = (stats.median(xs), unit, len(xs))
        t = stats.tail(xs)
        if t and t[0] >= TAIL_MIN_PERCENTILE:
            out[f"{name}_tail"] = (t[1], unit, f"p{t[0]} of {t[2]}")

    if "pipeline.initial_load_s" in samples:
        out["elt_initial_load_s"] = (samples["pipeline.initial_load_s"][0], "s", 1)
    series("elt_run_s", "s", [_dur(o) for o in ops if o["kind"] == "elt_run"])
    series("read_point_s", "s", [_dur(o) for o in ops if o["kind"] == "read_point"])
    series("read_scan_s", "s", [_dur(o) for o in ops if o["kind"] == "read_scan"])
    series("upsert_s", "s", [_dur(o) for o in ops if o["kind"] == "upsert"])
    qs = [o for o in ops if o["kind"] == "query"]
    if qs:
        n = len(QUERY_KEYS)
        sweeps = [sum(_dur(o) for o in qs[i:i + n]) for i in range(0, len(qs) - n + 1, n)]
        series("query_sweep_s", "s", sweeps)
    if "sink.storage_bytes_per_row" in samples:
        out["storage_bytes_per_row"] = (samples["sink.storage_bytes_per_row"][0], "B/row", 1)
    out["heap_live_peak_mb"] = (raw["info"].get("heap_live_peak_mb", 0.0), "MB", 1)
    out["ops_failed_ratio"] = (failed / max(attempted, 1), "ratio", attempted)
    return out


# ---------------------------------------------------------------- running

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_mb():
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
        return max(1024, min(3072, total_kb // 1024 // 4))
    except (OSError, StopIteration, ValueError):
        return 2048


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def engine_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_jvm(cp, args, work, heap, timeout):
    cmd = (["java", f"-Xmx{heap}m", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xss16m",
            "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    a = ap.parse_args()
    nproc = len(os.sched_getaffinity(0))
    load_start = loadavg()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t_built = time.monotonic()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    sizes = datagen.write_inputs(inputs, a.seed, a.sf, WORKLOADS[a.workload])
    pre_s = time.monotonic() - t_built

    heap = heap_mb()
    raw_path = os.path.join(work, "raw.json")
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--inputs", inputs, "--work", work, "--out", raw_path,
                "--threads", str(nproc), "--keys", ",".join(QUERY_KEYS)]
    budget = a.seconds + JVM_MARGIN_S - (time.monotonic() - t_built)
    code = run_jvm(cp, jvm_args, work, heap, max(budget, 30))
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"[perfbench] JVM run failed (exit {code})", file=sys.stderr)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)

    failures = [c for c in raw["checks"] if not c["ok"]]
    bad_keys = {}
    if os.path.isdir(os.path.join(work, "results")):
        import oracle
        verdicts = oracle.check(os.path.join(inputs, "base"), os.path.join(work, "results"),
                                QUERY_KEYS)
        bad_keys = {k: v for k, v in verdicts.items() if v}
        failures += [{"name": f"oracle.{k}", "ok": False, "detail": v} for k, v in bad_keys.items()]
    ops = raw["ops"]
    failed_ops = [o for o in ops if not o["ok"] or o["tag"] in bad_keys]
    attempted = max(len(ops), 1)
    failed = len(failed_ops) + (1 if failures and not failed_ops else 0)
    correct = not failures and not failed_ops and bool(ops)

    if a.trace:
        metrics = reduce_layers(raw)
        units = {n: u for n, u, _ in per_layer()}
    else:
        metrics = reduce_end_to_end(raw, pre_s)
        units = dict(END_TO_END)
    conditions = dict(raw["info"].get("conditions", {}))
    conditions["jvm_args"] = [x.replace(work, "<work>") for x in conditions.get("jvm_args", [])]
    conditions.update({
        "nproc": nproc, "local_threads": nproc,
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "jvm_heap": f"-Xmx{heap}m -XX:+UseG1GC", "engine_commit": engine_commit(),
        "engine_source_sha256": build.engine_digest(), "sf": a.sf, "seed": a.seed,
        "seconds": a.seconds, "inputs": sizes,
    })
    named = detail(raw, failed, attempted)
    result = {
        "workload": a.workload, "trace": a.trace, "conditions": conditions,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "named": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
        "info": {k: v for k, v in raw["info"].items() if k != "conditions"},
        "failures": failures[:20] + [{"op": o["kind"], "tag": o["tag"], "error": o["error"]}
                                     for o in failed_ops[:20]],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", name + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    if correct:
        shutil.rmtree(work, ignore_errors=True)

    print("conditions " + json.dumps(conditions, sort_keys=True))
    for k, (v, u, n) in named.items():
        print(f"named {a.workload} {k} = {v:.6g} {u} ({n})")
    for k, v in metrics.items():
        print(f"metric {a.workload} {k} = {v:.6g} {units[k]}")
    for fl in result["failures"]:
        print("FAILED " + json.dumps(fl), file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
