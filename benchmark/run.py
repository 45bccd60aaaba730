#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 benchmark/run.py --workload cdc_serve --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (benchmark/build.py), makes
the workload's inputs from the seed (benchmark/gen.py), drives them through
the program in one JVM (benchmark/harness), checks the outputs apart from
the program (benchmark/check.py) and prints, as its last line, one JSON
object: correct, attempted, failed and the metrics -- the end-to-end ones
with --trace 0, the per-layer ones with --trace 1. See benchmark/README.md.

Extra options: --master local[N] (default local[4]), --record FILE (append
the result to a JSON-lines file for compare.py), --trace-out FILE (keep the
spans of a traced run), --corrupt replica|oracle|gates (damage the output
before the check, to see the check fail).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # no __pycache__ in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
WORKLOADS = ("cdc_serve", "olap_mix", "dedup_gates")
DEADLINE_S = 175     # the whole run, build excluded

# cdc_serve: replica size, batch size and how many batches are queued
CDC = dict(n_keys=10_000, batch_events=2_000, n_batches=12, hot_keys=1_000)
# olap_mix: the query list (README says why each is there)
MIX = ["cdc_snapshot", "cdc_snapshot_merge", "cdc_scd2", "cdc_archive_stats",
       "q3_shipping_priority", "q_moving_avg", "q_asof_join", "ann_lsh"]
# dedup_gates: corpus sizes, feed files (= micro-batches per lane), plants
GATES = dict(n_docs=1_500, n_vecs=800, n_files=2, planted_docs=10, planted_vecs=5)
LANES = ("text", "emb", "image", "audio", "video")

def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, inp):
    if workload == "cdc_serve":
        gen.cdc_feed(inp, seed, **CDC)
        return {}
    if workload == "olap_mix":
        gen.tables(os.path.join(inp, "tables"), seed)
        return {}
    return gen.gate_feed(inp, seed, **GATES)


# -------------------------------------------------------------------- jvm

def run_jvm(built, args, run_dir, budget):
    jar, jars, jsa = built
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
               SPARK_GRAFT_INDEX_DIR=str(run_dir / "ann_index"))
    (run_dir / "tmp").mkdir()
    cmd = build.java_cmd(jar, jars, run_dir, args, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")


# ---------------------------------------------------------------- metrics

def stream_batches(res, queries=None):
    return [p for p in res["progress"]
            if p["rows"] > 0 and (queries is None or p["query"] in queries)]


def ops_summary(workload, res, facts):
    """Operations attempted and failed, latencies of the ones that did not
    fail, and items done. cdc_serve: each batch is two operations, the
    micro-batch and its replica read, the set-up's warm-up batch included
    (it is checked too); latency and items count the timed batches.
    olap_mix: each query, in every round."""
    ops = res["ops"]
    if workload == "cdc_serve":
        lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
        return 2 * len(res["batches"]), facts["failed_reads"], lat, len(ops) * CDC["batch_events"]
    if workload == "olap_mix":
        bad = lambda o: o.get("failed") or o["query"] in facts.get("failed_queries", [])  # noqa: E731
        ok = [o for o in ops if not bad(o)]
        return len(ops), len(ops) - len(ok), [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ok], len(ok)
    batches = stream_batches(res, LANES)
    lat = [p["duration_ms"]["triggerExecution"] / 1e3 for p in batches]
    return len(batches), 0, lat, sum(p["rows"] for p in batches)


def end_to_end(workload, res, facts):
    attempted, failed, lat, items = ops_summary(workload, res, facts)
    wall = (res["end_ms"] - res["start_ms"]) / 1e3
    c = res["counters"]
    return attempted, failed, {
        "setup_s": (res["start_ms"] - res["jvm_start_ms"]) / 1e3,
        "items_per_s": items / wall,
        "op_p50_s": med(lat),
        "cpu_ms_per_item": c["cpu_ns"] / 1e6 / max(1, items),
        "write_bytes_per_item": (c["output_bytes"] + c["shuffle_write_bytes"]) / max(1, items),
        "live_heap_mb": res["live_old_gen_bytes"] / 2**20,
    }


def with_units(values):
    """The result's metrics, each with its unit from BENCHMARK.json."""
    unlisted = sorted(set(values) - set(UNITS))
    if unlisted:
        raise SystemExit(f"metrics not listed in BENCHMARK.json: {unlisted}")
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > cur:
            total += e - max(s, cur)
            cur = e
    return total / 1e3


def dir_bytes(path):
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) if os.path.isdir(path) else 0


def per_layer(workload, res, facts):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    m = {}
    attempted = max(1, len(res["ops"]) if workload != "dedup_gates" else len(stream_batches(res, LANES)))
    c = res["counters"]
    m.update({
        "spark.jobs": c["jobs"] / attempted, "spark.stages": c["stages"] / attempted,
        "spark.tasks": c["tasks"] / attempted, "spark.failed_tasks": c["failed_tasks"] / attempted,
        "spark.sched_delay_s": c["sched_delay_ms"] / 1e3 / attempted,
        "spark.task_run_s": c["run_ms"] / 1e3 / attempted,
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"] / attempted,
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"] / attempted,
        "spark.spill_bytes": c["spill_bytes"] / attempted,
        "spark.gc_s": c["gc_ms"] / 1e3 / attempted})
    # micro-batch engine and state store, over every streaming query
    sb = stream_batches(res)
    stateful = [p for p in sb if p["state_rows_total"] or p["state_bytes"]]
    d = lambda p, *ks: sum(p["duration_ms"].get(k, 0) for k in ks) / 1e3  # noqa: E731
    m.update({
        "stream.trigger_s": med([d(p, "triggerExecution") for p in sb]),
        "stream.add_batch_s": med([d(p, "addBatch") for p in sb]),
        "stream.planning_s": med([d(p, "queryPlanning") for p in sb]),
        "stream.offsets_s": med([d(p, "latestOffset", "getBatch") for p in sb]),
        "stream.commit_s": med([d(p, "walCommit", "commitOffsets") for p in sb]),
        "state.rows_total": max([p["state_rows_total"] for p in stateful], default=0),
        "state.rows_updated": mean([p["state_rows_updated"] for p in stateful]),
        "state.update_s": med([p["state_update_ms"] / 1e3 for p in stateful]),
        "state.commit_s": med([p["state_commit_ms"] / 1e3 for p in stateful]),
        "state.bytes": max([p["state_bytes"] for p in stateful], default=0)})
    # streaming.MaxwellStream
    # the timed batches: batch 0 ends the set-up
    b = sorted((x for x in res.get("batches", []) if x["batch"] > 0), key=lambda x: x["batch"])
    bounds = facts.get("boundaries", [])[1:]
    changed = [x["touched"] for x in bounds]
    rewritten = [x["apply"]["output_records"] for x in b if "apply" in x]
    cover = 0.0
    if workload == "cdc_serve":
        spans = [(x["apply_start_ms"], x["read_end_ms"]) for x in b] + \
                [(p["start_ms"], p["start_ms"] + p["duration_ms"]["triggerExecution"]) for p in sb]
        cover = union_s(spans, res["start_ms"], res["end_ms"]) / ((res["end_ms"] - res["start_ms"]) / 1e3)
    m.update({
        "maxwell.apply_s": med([(x["apply_end_ms"] - x["apply_start_ms"]) / 1e3 for x in b]),
        "maxwell.apply_jobs": mean([x["apply"]["jobs"] for x in b if "apply" in x]),
        "maxwell.buckets_touched": mean([x["buckets_touched"] for x in b if "apply" in x]),
        "maxwell.rows_changed": mean(changed),
        "maxwell.rows_rewritten": mean(rewritten),
        "maxwell.useful_ratio": sum(changed) / sum(rewritten) if sum(rewritten) else 0.0,
        "maxwell.replica_bytes_written": mean([x["apply"]["output_bytes"] for x in b if "apply" in x]),
        "maxwell.replica_files": b[-1].get("replica_files", 0) if b else 0,
        "maxwell.read_s": med([(x["read_end_ms"] - x["apply_end_ms"]) / 1e3 for x in b]),
        "maxwell.read_bytes": mean([x["read_counters"]["input_bytes"] for x in b if "read_counters" in x]),
        "maxwell.archive_bytes_written": dir_bytes(res["archive"]) / len(b) if b else 0,
        "maxwell.dead_lettered": facts.get("dead_letters", 0),
        "maxwell.bootstrap_s": res.get("setup_detail", {}).get("bootstrap_s", 0.0),
        "maxwell.ddl_s": res.get("setup_detail", {}).get("ddl_s", 0.0),
        "maxwell.span_coverage": cover})
    # GraftSql / graft_run, Guards, operators
    q = [o for o in res["ops"] if workload == "olap_mix" and not o.get("failed")]
    rounds = max(1, len({o["round"] for o in q}))
    ph = lambda k: sum(o["phases_ms"].get(k, 0) for o in q) / 1e3 / rounds  # noqa: E731
    m.update({
        "graftsql.analysis_s": ph("analysis"), "graftsql.optimization_s": ph("optimization"),
        "graftsql.planning_s": ph("planning"),
        "guards.eager_s": sum(o["action_ms"] - o["start_ms"] for o in q) / 1e3 / rounds,
        "guards.eager_jobs": sum(o["eager"]["jobs"] for o in q if "eager" in o) / rounds,
        "operators.exec_s": sum(o["end_ms"] - o["action_ms"] for o in q) / 1e3 / rounds,
        "operators.result_rows": sum(o["rows"] for o in q) / rounds})
    for name in MIX:
        m[f"operators.q.{name}_s"] = med([(o["end_ms"] - o["start_ms"]) / 1e3 for o in q if o["query"] == name])
    # gate lanes
    gate_ops = [o for o in res["ops"] if workload == "dedup_gates"]
    for lane in LANES:
        lb = stream_batches(res, [lane]) if workload == "dedup_gates" else []
        lo = [o for o in gate_ops if o["lane"] == lane and "counters" in o]
        m.update({
            f"gate.{lane}.batch_s": med([d(p, "triggerExecution") for p in lb]),
            f"gate.{lane}.state_commit_s": med([p["state_commit_ms"] / 1e3 for p in lb]),
            f"gate.{lane}.shuffle_bytes": mean([o["counters"]["shuffle_write_bytes"] for o in lo]),
            f"gate.{lane}.state_rows": max([p["state_rows_total"] for p in lb], default=0),
            f"gate.{lane}.pairs": facts.get("pairs", {}).get(lane, 0)})
    return m


def spans(workload, res):
    """The run's spans, from the harness's records: the set-up, each
    operation and the calls inside it, and one span per micro-batch from
    the engine's progress reports."""
    out, nxt = [], 0

    def add(parent, name, start, end, **attrs):
        nonlocal nxt
        nxt += 1
        out.append(dict(id=nxt, parent=parent, name=name, start_ms=start, end_ms=end, **attrs))
        return nxt

    add(0, "setup", res["jvm_start_ms"], res["start_ms"])
    run = add(0, workload, res["start_ms"], res["end_ms"])
    for o in res["ops"]:
        op = add(run, "op", o["start_ms"], o["end_ms"],
                 **{k: o[k] for k in ("query", "lane", "round", "batch") if k in o})
        if "action_ms" in o:
            add(op, "graft_run.submit", o["start_ms"], o["action_ms"])
            add(op, "graft_run.collect", o["action_ms"], o["end_ms"])
    for b in res.get("batches", []):
        add(run, "MaxwellStream.applyBatchToReplica", b["apply_start_ms"], b["apply_end_ms"], batch=b["batch"])
        add(run, "MaxwellStream.typedReplica.read", b["apply_end_ms"], b["read_end_ms"], batch=b["batch"])
    for p in stream_batches(res):
        add(run, f"stream.{p['query']}", p["start_ms"], p["start_ms"] + p["duration_ms"]["triggerExecution"],
            batch=p["batch"])
    return out


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--record")
    ap.add_argument("--trace-out")
    ap.add_argument("--corrupt", choices=("replica", "oracle", "gates"))
    a = ap.parse_args()
    built = build.build()
    t_start = time.time()
    work_root = ROOT / ".bench_work"
    work_root.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=work_root))
    try:
        t0 = time.time()
        inp = run_dir / "input"
        inp.mkdir()
        planted = make_inputs(a.workload, a.seed, str(inp))
        log(f"inputs in {time.time() - t0:.1f}s")
        args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "input": inp,
                "work": run_dir / "work", "out": run_dir / "result.json", "master": a.master,
                "queries": ",".join(MIX)}
        t0 = time.time()
        run_jvm(built, args, run_dir, DEADLINE_S - (time.time() - t_start))
        log(f"harness in {time.time() - t0:.1f}s")
        res = json.loads((run_dir / "result.json").read_text())
        log(f"set-up {res['setup_phases']}, timed {(res['end_ms'] - res['start_ms']) / 1e3:.1f}s, "
            f"{len(res['ops'])} ops: {[round((o['end_ms'] - o['start_ms']) / 1e3, 2) for o in res['ops']]}")
        t0 = time.time()
        if a.workload == "cdc_serve":
            errs, facts = check.check_cdc(res, str(inp), a.corrupt)
        elif a.workload == "olap_mix":
            errs, facts = check.check_olap(res, str(inp / "tables"), a.corrupt)
        else:
            errs, facts = check.check_gates(res, str(inp), planted, a.corrupt)
        log(f"checks in {time.time() - t0:.1f}s")
        for e in errs:
            log(f"CHECK FAILED: {e}")
        attempted, failed, e2e = end_to_end(a.workload, res, facts)
        if a.trace:
            log("traced end-to-end: " + json.dumps({k: round(v, 6) for k, v in e2e.items()}))
            metrics = with_units(per_layer(a.workload, res, facts))
            if a.trace_out:
                Path(a.trace_out).write_text(json.dumps(spans(a.workload, res)))
        else:
            metrics = with_units(e2e)
        out = {"correct": not errs, "attempted": attempted, "failed": failed, "metrics": metrics}
        if a.record:
            with open(a.record, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                    "facts": {k: v for k, v in facts.items() if k != "boundaries"},
                                    **out}) + "\n")
        print(json.dumps(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
