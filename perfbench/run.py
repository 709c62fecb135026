"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_trickle|query_mix \
        --seed N --seconds S --trace 0|1

Builds the engine and the JVM harness from source (`build.py`), runs one
workload in a fresh JVM, checks the outputs, and prints health lines and,
as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from metrics import (attribute_files, driver_gap, geomean, percentile,  # noqa: E402
                     self_times, tail)

ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".bench_runs")
DATA = os.path.join(HERE, "data", "sf0.001")
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ("ingest_trickle", "query_mix")
RUN_LIMIT_S = 175  # whole run, build excluded

E2E = {"setup_s": "s", "cpu_s": "s", "op_p50_s": "s", "result_p50_s": "s"}
PHASES = {"latest_offset_s": "latestOffset", "get_batch_s": "getBatch",
          "query_planning_s": "queryPlanning", "add_batch_s": "addBatch",
          "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets"}
COUNTER_S = {"sched_delay_s": ("sched_delay_ms", 1e3), "task_run_s": ("task_run_ms", 1e3),
             "task_cpu_s": ("task_cpu_ns", 1e9), "task_gc_s": ("task_gc_ms", 1e3),
             "task_deser_s": ("task_deser_ms", 1e3), "plan_s": ("plan_ms", 1e3)}
COUNTER_N = ("tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def health(**kv):
    print("health: " + " ".join(f"{k}={v}" for k, v in kv.items()))


def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


# ---------------------------------------------------------------- ingest

def trickle(raw):
    """Metrics and checks of an ingest_trickle run."""
    qid = raw["query_id"]
    prog = sorted((p for p in raw["progress"] if p["query"] == qid), key=lambda p: p["batch"])
    batches = [p for p in prog if p["rows"] > 0]
    files = raw["files"]
    n = len(files)
    notes = []
    try:
        owner, batch_rows = attribute_files([f["name"] for f in files], [f["rows"] for f in files],
                                            {int(b): fs for b, fs in raw["batch_files"].items()})
    except ValueError as e:
        notes.append(f"attribution failed: {e}")
        owner, batch_rows = [None] * n, {}
    # the pipeline's observed rows_in also counts what its isEmpty probe read
    overcount = sum(p["rows_in"] for p in batches) - sum(batch_rows.values())
    end = {p["batch"]: p["timestamp_ms"] + p["duration_ms"]["triggerExecution"] for p in batches}
    committed = raw["committed_per_file"]
    failed = 0
    fresh = []
    for f, b in zip(files, owner):
        if b is None or b not in end or committed.get(f["name"]) != f["rows"]:
            failed += 1
        else:
            fresh.append((end[b] - f["due_ms"]) / 1e3)
    failed += len(set(committed) - {f["name"] for f in files})
    if raw["committed_checksum"] != raw["expected_checksum"]:
        notes.append("checksum of committed GPS columns differs from the generated input")
        failed = n
    batch_s = [p["duration_ms"]["triggerExecution"] / 1e3 for p in batches]
    last_arrival = max(f["arrived_ms"] for f in files)
    # files that had arrived by the last arrival but were not yet committed
    backlog = sum(1 for b in owner if end.get(b, float("inf")) > last_arrival)
    ft_p, ft = tail(fresh) if fresh else (None, None)
    bt_p, bt = tail(batch_s) if batch_s else (None, None)
    e2e = {
        "op_p50_s": percentile(batch_s, 50) if batch_s else None,
        "result_p50_s": percentile(fresh, 50) if fresh else None,
    }
    lag = max(f["arrived_ms"] - f["due_ms"] for f in files) / 1e3
    health(workload="ingest_trickle", files=n, batches=len(batches),
           batch_p50_s=fmt(e2e["op_p50_s"]), batch_tail_s=fmt(bt), batch_tail_pct=bt_p,
           batch_samples=len(batch_s), freshness_p50_s=fmt(e2e["result_p50_s"]),
           freshness_tail_s=fmt(ft), freshness_tail_pct=ft_p, freshness_samples=len(fresh),
           gen_lag_max_s=fmt(lag), backlog_files_end=backlog, rows_in_overcount=overcount)
    layer = {}
    if raw["trace"]:
        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0
        ph = {k: mean([p["duration_ms"].get(v, 0) / 1e3 for p in batches]) for k, v in PHASES.items()}
        other = mean([(p["duration_ms"]["triggerExecution"] -
                       sum(p["duration_ms"].get(v, 0) for v in PHASES.values())) / 1e3
                      for p in batches])
        idle = mean([(b["timestamp_ms"] - end[a["batch"]]) / 1e3 for a, b in zip(batches, batches[1:])])
        q = max(1, len(batch_s) // 4)
        batch_ids = {str(p["batch"]) for p in batches}
        jobs = [j for j in raw["jobs"] if j[2] in batch_ids]
        writes = raw["sink_writes"]
        c = raw["counters"]
        done = [f for f, b in zip(files, owner) if b is not None]
        layer.update({
            "source.files": len(done),
            "source.input_records": sum(batch_rows.values()),
            "source.input_bytes": sum(f["bytes"] for f in done),
            "pipeline.batches": len(batches),
            "pipeline.jobs_per_batch": len(jobs) / len(batches) if batches else 0.0,
            **{"pipeline." + k: v for k, v in ph.items()},
            "pipeline.other_s": other,
            "pipeline.idle_s": idle,
            "pipeline.batch_p50_drift":
                percentile(batch_s[-q:], 50) / percentile(batch_s[:q], 50) if batch_s else 0.0,
            "pipeline.batch_tail_s": bt or 0.0,
            "pipeline.freshness_tail_s": ft or 0.0,
            "sink.calls": len(writes),
            "sink.write_s": mean([(e - s) / 1e3 for _b, s, e in writes]),
            "sink.output_rows": c.get("write_rows", 0),
            "sink.output_bytes": c.get("write_bytes", 0),
            "sink.files_written": c.get("write_files", 0),
            "gen.lag_max_s": lag,
            "gen.backlog_files_end": backlog,
        })
        ops = [(str(p["batch"]), p["timestamp_ms"], end[p["batch"]]) for p in batches]
        layer["spark.driver_gap_s"] = sum(
            driver_gap(s, e, [(j[3], j[4]) for j in jobs if j[2] == op]) for op, s, e in ops) / 1e3
    return e2e, n, failed, notes, layer


# ---------------------------------------------------------------- queries

def query_mix(raw, golden):
    """Metrics and checks of a query_mix run."""
    expect = golden["hashes"]
    notes = []
    for w in raw["warm"]:
        if "error" in w:
            notes.append(f"{w['name']}: {w['error']}")
        elif (w["rows"], w["hash"]) != (expect[w["name"]]["rows"], expect[w["name"]]["hash"]):
            notes.append(f"{w['name']}: result differs from the oracle-checked golden hash")
    timed = raw["timed"]
    for t in timed:
        if "error" in t:
            notes.append(f"pass {t['pass']} {t['name']}: {t['error']}")
        elif t["rows"] != expect[t["name"]]["rows"]:
            notes.append(f"pass {t['pass']} {t['name']}: {t['rows']} rows, expected {expect[t['name']]['rows']}")
    ok = [t for t in timed if "error" not in t]
    runs = {}
    for t in ok:
        runs.setdefault(t["name"], []).append(t)
    wall = {n: percentile([(t["end_ms"] - t["start_ms"]) / 1e3 for t in ts], 50) for n, ts in runs.items()}
    passes = {}
    for t in timed:
        passes.setdefault(t["pass"], []).append(t)
    pass_s = [sum((t["end_ms"] - t["start_ms"]) / 1e3 for t in ts) for ts in passes.values()
              if len(ts) == len(golden["headlines"]) and all("error" not in t for t in ts)]
    complete = len(wall) == len(golden["headlines"])
    e2e = {
        "op_p50_s": geomean(wall.values()) if complete else None,
        "result_p50_s": percentile(pass_s, 50) if pass_s else None,
    }
    slowest = max(wall, key=wall.get) if wall else None
    health(workload="query_mix", passes=len(passes), complete_passes=len(pass_s),
           pass_s=fmt(e2e["result_p50_s"]), query_geomean_s=fmt(e2e["op_p50_s"]),
           slowest_query=slowest, slowest_query_s=fmt(wall.get(slowest)))
    layer = {}
    if raw["trace"]:
        jobs_by_op = {}
        for j in raw["jobs"]:
            jobs_by_op.setdefault(j[1], []).append(j)
        for n, ts in runs.items():
            layer[f"query.{n}.build_s"] = percentile([(t["built_ms"] - t["start_ms"]) / 1e3 for t in ts], 50)
            layer[f"query.{n}.exec_s"] = percentile([(t["end_ms"] - t["built_ms"]) / 1e3 for t in ts], 50)
            layer[f"query.{n}.jobs"] = percentile(
                [len(jobs_by_op.get(f"p{t['pass']}:{n}", [])) for t in ts], 50)
        layer["spark.driver_gap_s"] = sum(
            driver_gap(s, e, [(j[3], j[4]) for j in jobs_by_op.get(op, [])])
            for op, s, e in raw["ops"]) / 1e3
    return e2e, len(raw["warm"]) + len(timed), len(notes), notes, layer


# ---------------------------------------------------------------- shared

def common_layer(raw, layer, names):
    """Adds the Spark, state-store and JVM metrics and returns exactly the
    declared per-layer set, with 0 for what the workload does not exercise."""
    c = raw.get("counters", {})
    jobs = raw.get("jobs", [])
    state = [s for p in raw["progress"] if p["timestamp_ms"] >= raw["window_start_ms"]
             for s in p["state"]]
    layer.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(raw.get("stages", [])),
        "spark.codegen_s": raw.get("codegen_s", 0.0),
        **{"spark." + k: c.get(src, 0) / div for k, (src, div) in COUNTER_S.items()},
        **{"spark." + k: c.get(k, 0) for k in COUNTER_N},
        "state.commit_s": sum(s["commit_ms"] for s in state) / 1e3,
        "state.rows_total": max((s["rows_total"] for s in state), default=0),
        "state.memory_bytes": max((s["memory_bytes"] for s in state), default=0),
        "jvm.gc_s": raw["gc_s"],
        "jvm.live_heap_mb": raw["live_heap_mb"],
        "jvm.peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    })
    return {name: layer.get(name, 0) for name in names}


def spans(raw):
    """All spans of a traced run as (id, parent, name, start, end): the
    harness's own, micro-batches and their phases from streaming progress,
    and Spark jobs and stages from the listener."""
    out = [(s[0], s[1], s[3], s[4], s[5]) for s in raw["spans"]]
    next_id = max((s[0] for s in out), default=0) + 1
    by_op = {s[2]: s for s in raw["spans"] if s[3] in ("build", "exec")}
    parent_of_batch = {}
    if raw["workload"] == "ingest_trickle":
        root = next(s[0] for s in out if s[2] == "workload.ingest_trickle")
        writes = {}
        for b, s, e in raw["sink_writes"]:
            writes.setdefault(b, []).append((s, e))
        for p in sorted((p for p in raw["progress"] if p["query"] == raw["query_id"] and p["rows"] > 0),
                        key=lambda p: p["batch"]):
            bid, t = next_id, p["timestamp_ms"]
            next_id += 1
            out.append((bid, root, "micro-batch", t, t + p["duration_ms"]["triggerExecution"]))
            parent_of_batch[str(p["batch"])] = bid
            for label in PHASES.values():  # progress gives durations; laid out in run order
                d = p["duration_ms"].get(label, 0)
                out.append((next_id, bid, "phase." + label, t, t + d))
                if label == "addBatch":
                    for s, e in writes.get(str(p["batch"]), []):
                        out.append((next_id + 1, next_id, "sink.write", s, e))
                        next_id += 1
                next_id += 1
                t += d
    job_span = {}
    for j in raw["jobs"]:
        parent = parent_of_batch.get(j[2], 0)
        ph = [s for s in raw["spans"] if s[2] == j[1] and s[3] in ("build", "exec")
              and s[4] <= j[3] <= s[5]]
        if ph:
            parent = ph[0][0]
        elif j[1] in by_op:
            parent = by_op[j[1]][0]
        job_span[j[0]] = next_id
        out.append((next_id, parent, "spark.job", j[3], j[4]))
        next_id += 1
    for st in raw["stages"]:
        out.append((next_id, job_span.get(st[3], 0), "spark.stage", st[1], st[2]))
        next_id += 1
    return out


def run_jvm(args, work, raw_path, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(*build.build()) + [
        "perfbench.Harness", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"),
        "--out", raw_path, "--data", DATA]
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    t_launch = time.time()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    return t_launch


def main():
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for p in (DATA, GOLDEN):
        if not os.path.exists(p):
            raise SystemExit(f"missing {p}")
    with open(GOLDEN) as f:
        golden = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    build.build()  # the first run in a checkout compiles; not part of the run limit
    deadline = time.time() + RUN_LIMIT_S
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw_path = os.path.join(work, "raw.json")
        t_launch = run_jvm(args, work, raw_path, deadline)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.workload == "ingest_trickle":
        e2e, attempted, failed, notes, layer = trickle(raw)
    else:
        e2e, attempted, failed, notes, layer = query_mix(raw, golden)
    e2e["setup_s"] = raw["window_start_ms"] / 1e3 - t_launch
    e2e["cpu_s"] = raw["cpu_s"]
    for note in notes:
        health(check=json.dumps(note))
    health(error_rate=f"{failed / max(1, attempted):.4g}", attempted=attempted, failed=failed,
           setup_s=fmt(e2e["setup_s"]), cpu_s=fmt(e2e["cpu_s"]), peak_rss_mb=fmt(raw["peak_rss_kb"] / 1024.0),
           cores=raw["cores"], seed=args.seed)
    missing = [k for k, v in e2e.items() if v is None]
    correct = failed == 0 and not missing
    if missing:
        health(check=json.dumps(f"no samples for {', '.join(missing)}"))

    last = os.path.join(RUNS, f"last_untraced_{args.workload}.json")
    if args.trace:
        metrics = common_layer(raw, layer, per_layer)
        sp = spans(raw)
        selfs = self_times(sp)
        by_name = {}
        for sid, _p, name, _s, _e in sp:
            key = "query" if name.startswith("query.") else name
            by_name[key] = by_name.get(key, 0.0) + selfs[sid] / 1e3
        top = sorted(by_name.items(), key=lambda kv: -kv[1])[:8]
        health(self_time_s=",".join(f"{k}:{v:.3f}" for k, v in top), spans=len(sp))
        with open(os.path.join(RUNS, f"spans_{args.workload}_seed{args.seed}.json"), "w") as f:
            json.dump({"fields": ["id", "parent", "name", "start_ms", "end_ms"], "spans": sp}, f)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            health(trace_overhead=",".join(
                f"{k}:{e2e[k]:.4g}/{base[k]:.4g}={e2e[k] / base[k] - 1:+.1%}"
                for k in E2E if e2e.get(k) and base.get(k)))
        else:
            health(trace_overhead="n/a (no untraced run of this workload in this checkout yet)")
        units = per_layer
    else:
        metrics = {k: e2e[k] for k in E2E}
        units = E2E
        if correct:
            with open(last, "w") as f:
                json.dump(metrics, f)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if v is not None else 0.0, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
