"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the engine and the JVM runner from
source (see build.py), generates the seeded inputs (gen.py), runs the
workload's operations in a closed loop on local[<all cores>], checks every
output (oracle.py), writes the full record to
`<build>/records/<workload>_seed<seed>_trace<t>.json`, prints every metric by
name and unit, then one compact summary line and, last, the result JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

JOIN_ROWS = 1 << 20
OLAP_TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"]

# nominal_pass_s: the pass wall on a 4-core machine; a run makes
# round(seconds / nominal_pass_s) whole passes, so the sample count of a run
# never depends on how fast the machine happens to be
WORKLOADS = {
    "olap_star": dict(
        tables=OLAP_TABLES,
        # TPC-H-shaped queries (Q3, Q5, Q18, Q9, Q6, Q13), the reference's
        # core operators (sort, group-by, inner and broadcast-star joins) and
        # its join microbenchmark
        ops=["q63", "q64", "q161", "q202", "q205", "q176", "q13", "q16", "q22", "q29",
             "join_microbench"],
        nominal_pass_s=9.0, warmup_ops=1,
        input_rows=sum(gen.SHAPE[t] for t in OLAP_TABLES) + 2 * JOIN_ROWS),
    "incremental_mv": dict(
        tables=["documents"], arrivals=gen.ARRIVALS, nominal_pass_s=22.0, warmup_ops=4,
        input_rows=gen.SHAPE["documents"]),
    # runnable, but not registered in BENCHMARK.json (see perfbench/README.md)
    "llm_curation": dict(
        tables=["documents", "embeddings"],
        ops=["q294", "q298", "q49", "q99"],
        nominal_pass_s=5.0, warmup_ops=1,
        input_rows=gen.SHAPE["documents"] + gen.SHAPE["embeddings"]),
}

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170  # a run ends within this, build time aside


def run_jvm(w, args, data, work, out, deadline):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work, "--out", out,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--nominal-pass-s", str(w["nominal_pass_s"]), "--tables", ",".join(w["tables"]),
            "--join-rows", str(JOIN_ROWS), "--warmup-ops", str(w["warmup_ops"])]
    if "ops" in w:
        cmd += ["--ops", ",".join(w["ops"])]
    if "arrivals" in w:
        cmd += ["--arrivals", str(w["arrivals"])]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=log)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: the run did not finish in {RUN_LIMIT_S} s")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][-5:]
        sys.exit(f"perfbench: the JVM exited with {rc}: " + " | ".join(tail))
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


def check(rec, data, out):
    """Names every failed sample: it threw, or an output differs from its
    oracle, or from the op's first (oracle-checked) output."""
    chk = oracle.Checker(data, os.path.join(out, "results"), rec["oracle_sql"])
    verdict = {}  # output key -> None (ok) or the reason it failed
    for key in rec["first_hash"]:
        try:
            if key == "join_microbench":
                verdict[key] = chk.join_microbench(JOIN_ROWS)
            elif key.startswith("nd_decisions_"):
                verdict.update(chk.arrival_views(int(key[-2:])))
            elif not key.startswith(("nd_pairs_", "curation_report_")):
                verdict[key] = chk.query(key)
        except Exception as e:  # a check that cannot run is a failure
            verdict[key] = f"check error: {type(e).__name__}: {e}"
    failures = []
    for s in rec["samples"]:
        reason = s["error"]
        for key, h, _rows in s["outputs"]:
            reason = reason or verdict.get(key) or (
                None if h == rec["first_hash"][key] else f"{key}: output differs from run 1")
        s["failure"] = reason
        if reason:
            failures.append({"op": s["op"], "pass": s["pass"], "reason": reason[:300]})
    return failures


def end_to_end(w, rec, gen_s):
    untraced = [s for s in rec["samples"] if not s["traced"]]
    walls = [s["wall_s"] for s in untraced]
    pass_s = stats.per_op_median_sum(untraced)
    tail_v, tail_pct, tail_n = stats.tail(walls)
    setup = statistics.median(x["session_s"] + x["table_load_s"] for x in rec["setups"])
    m = {"setup_s": gen_s + rec["jvm_boot_s"] + setup + rec["warmup_s"],
         "pass_s": pass_s, "op_p50_s": statistics.median(walls), "op_tail_s": tail_v,
         "rows_per_s": w["input_rows"] / pass_s,
         "retained_heap_mb": rec["retained_heap_mb"]}
    notes = {"op_tail": {"percentile": tail_pct, "samples": tail_n},
             "input_rows_per_pass": w["input_rows"], "gen_s": gen_s}
    joins = [s["wall_s"] for s in untraced if s["op"] == "join_microbench"]
    if joins:
        notes["join_gibs"] = join_gibs(statistics.median(joins))
    return m, notes


def join_gibs(wall):
    """The reference's formula: (bytes_in + bytes_out) / elapsed, for two
    sides of two float64 columns and a three-column result."""
    return (JOIN_ROWS * 2 * 2 * 8 + JOIN_ROWS * 3 * 8) / wall / 2 ** 30


def per_layer(rec):
    spans = [dict(zip(["id", "name", "layer", "op", "parent", "start", "end"], s))
             for s in rec["spans"]]
    by_id = {s["id"]: s for s in spans}
    traced = [s for s in rec["samples"] if s["traced"]]
    n_ops = len({s["op"] for s in rec["samples"]})
    passes = len(traced) / n_ops
    window_ops = {s["span_op"] for s in traced}
    counters = defaultdict(float)
    for sid, c in rec["listener_by_span"].items():
        sp = by_id.get(int(sid))
        if sp and sp["op"] in window_ops:
            for k, v in c.items():
                counters[k] += v / passes
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    dur = lambda layer, name: [s["end"] - s["start"] for s in spans  # noqa: E731
                               if s["layer"] == layer and s["name"] == name]
    wall = sum(s["wall_s"] for s in traced) / passes

    # per arrival, from the state-dir records (the pass's own, or the probe's)
    inc = rec["streaming"]
    arrivals = sorted({(r["pass"], r["arrival"]) for r in inc})
    per_arr = defaultdict(lambda: defaultdict(float))
    for r in inc:
        a = per_arr[(r["pass"], r["arrival"])]
        a["files"] += r["files_written"]
        a["bytes"] += r["bytes_written"]
        a["input"] = r["input_bytes"]
        a["state_files"], a["state_bytes"] = r["state_files"], r["state_bytes"]
        a["folds"] += r["fold"]
        ops_of = [s for s in spans if s["op"] == r["op"] and s["layer"] == "streaming"]
        a["apply_s"] += sum(s["end"] - s["start"] for s in ops_of)
        a["jobs"] += sum(rec["listener_by_span"].get(str(s["id"]), {}).get("jobs", 0)
                         for s in spans if s["op"] == r["op"])
    root = {s["op"]: s["name"] for s in spans if s["parent"] < 0}
    view_by_arr = defaultdict(float)  # arrival -> view-read seconds
    for s in spans:
        if s["layer"] == "view":
            view_by_arr[root[s["op"]][-2:]] += s["end"] - s["start"]
    n_passes = max(1, len({p for p, _ in arrivals}))
    a = [per_arr[k] for k in arrivals]
    joins = dur("operators", "Joins.join")
    probes = rec["probes"]
    m = {
        "engine.session_s": med([x["session_s"] for x in rec["setups"]]),
        "engine.table_load_s": med([x["table_load_s"] for x in rec["setups"]]),
        "sources.scan_s": counters["scan_s"], "sources.input_bytes": counters["input_bytes"],
        "sources.input_rows": counters["input_rows"],
        "sources.files_read": counters["files_read"],
        "operators.join_s": med(joins),
        "operators.join_gibs": join_gibs(med(joins)) if joins else 0.0,
        "operators.shuffle_write_bytes": counters["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": counters["shuffle_read_bytes"],
        "operators.spill_bytes": counters["spill_bytes"],
        "functions.enrich_s": med(dur("functions", "enrich")),
        "llm.candidates_s": med(dur("llm", "minhashCandidates")),
        "llm.verify_s": med(dur("llm", "jaccardVerify")),
        "llm.lsh_candidates": probes["lsh_candidates"],
        "llm.lsh_verified": probes["lsh_verified"],
        "llm.lsh_precision": probes["lsh_verified"] / max(1, probes["lsh_candidates"]),
        "streaming.apply_s": med([x["apply_s"] for x in a]),
        "streaming.view_read_s": med(list(view_by_arr.values())) / n_passes,
        "streaming.jobs_per_batch": statistics.mean(x["jobs"] for x in a),
        "streaming.files_written_per_batch": statistics.mean(x["files"] for x in a),
        "streaming.write_amp": sum(x["bytes"] for x in a) / max(1, sum(x["input"] for x in a)),
        "streaming.state_files": statistics.mean(x["state_files"] for x in a),
        "streaming.state_bytes": statistics.mean(x["state_bytes"] for x in a),
        "streaming.folds": sum(x["folds"] for x in a) / n_passes,
        "spark.jobs": counters["jobs"], "spark.stages": counters["stages"],
        "spark.tasks": counters["tasks"], "spark.failed_tasks": counters["failed_tasks"],
        "spark.task_run_s": counters["task_run_s"], "spark.task_cpu_s": counters["task_cpu_s"],
        "spark.gc_s": counters["gc_s"], "spark.sched_wait_s": counters["sched_wait_s"],
        "spark.core_util": counters["task_run_s"] / (wall * rec["cores"]),
        "spark.storage_mb": rec["storage_mb"],
        "trace.overhead_s": stats.per_op_median_sum(traced) - stats.per_op_median_sum(
            [s for s in rec["samples"] if not s["traced"]]),
    }
    notes = {"self_s": stats.self_times(spans), "streaming_arrivals": len(a),
             "lsh_precision_base": probes["lsh_candidates"]}
    return m, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    build.build()
    deadline = time.monotonic() + RUN_LIMIT_S - 10  # checks and record after the JVM

    name = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    run_dir = os.path.join(build.build_dir(), "runs", name)
    data, work, out = (os.path.join(run_dir, d) for d in ("data", "work", "out"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    t = time.perf_counter()
    gen.generate(data, args.seed, sorted(set(w["tables"]) | {"documents"}))
    gen_s = time.perf_counter() - t

    rec = run_jvm(w, args, data, work, out, deadline)
    failures = check(rec, data, out)
    attempted = len(rec["samples"])
    e2e, e2e_notes = end_to_end(w, rec, gen_s)
    layer, layer_notes = per_layer(rec) if args.trace else ({}, {})
    queries = defaultdict(list)
    for s in rec["samples"]:
        if s["op"].startswith("q"):
            queries[f"query.{s['op']}_s"].append(s["wall_s"])
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": e2e, "end_to_end_notes": e2e_notes,
        "fail_frac": len(failures) / attempted, "failures": failures,
        "per_layer": layer, "per_layer_notes": layer_notes,
        "per_query_s": {k: statistics.median(v) for k, v in sorted(queries.items())},
        "canaries": {"before": rec["canary_before"], "after": rec["canary_after"]},
        "jvm": {k: v for k, v in rec.items() if k not in ("oracle_sql", "first_hash")},
    }
    rec_dir = os.path.join(build.build_dir(), "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{name}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        registered = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = layer if args.trace else e2e
    units = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in registered[k]}
    missing = {m["name"] for m in registered[kind]} ^ set(metrics)
    if missing:
        sys.exit(f"perfbench: {kind} metrics differ from BENCHMARK.json: {sorted(missing)}")
    shown = e2e if not args.trace else {**e2e, **layer}
    for k, v in shown.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(f"metric fail_frac {len(failures) / attempted:.6g} ratio")
    if "join_gibs" in e2e_notes:
        print(f"metric join_gibs {e2e_notes['join_gibs']:.6g} GiB/s")
    slow = sorted(record["per_query_s"].items(), key=lambda kv: -kv[1])[:5]
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "fail_frac": record["fail_frac"],
               "failed": sorted({f["op"] for f in failures})[:10],
               "e2e": {k: round(v, 4) for k, v in e2e.items()},
               "tail": e2e_notes["op_tail"], "slowest": {k: round(v, 3) for k, v in slow},
               "canary": {k: {n: round(x, 3) for n, x in v.items()}
                          for k, v in record["canaries"].items()},
               "record": os.path.relpath(rec_path, build.ROOT)}
    print("PERFBENCH_SUMMARY " + json.dumps(summary, separators=(",", ":")))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
