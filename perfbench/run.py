#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client drives the engine through
its public entry points, one workload per run.

    python3 perfbench/run.py --workload mr_kernel --seed 1 --seconds 10 --trace 0

Workloads: mr_kernel, catalog_read, table_rw (see
perfbench/README.md).  The run builds the engine from source (reused
while unchanged), writes the seeded inputs, sets up, times the ops,
checks every output outside the timed window, and prints a record line
and, as the last line, one JSON object: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.  Everything it writes stays under the build dir
(`$CARGO_TARGET_DIR`, default `.bench_build`).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

JVM_TIMEOUT_S = 170
XMX = "3g"
# JIT compiler threads per workload where the JVM's default (three on
# 4 CPUs) is not used.  table_rw's warm pass is short, so C2 compiles
# still run during its timed pass and compete with the four task
# threads: with two compiler threads its op_p50_s spread 0.049-0.067
# (IQR/median, two sets of ten runs), with three 0.177 (five runs).
# catalog_read's ops all run cold and wait on the compiler: with two
# threads its op_p50_s spread 0.242, with three 0.121.
JIT_THREADS = {"table_rw": 2}
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "peak_rss_mb": "MB"}


def _file_hash(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def _cached(path, write):
    if not os.path.exists(os.path.join(path, "DONE")):
        shutil.rmtree(path, ignore_errors=True)
        sizes = write(path)
        with open(os.path.join(path, "DONE"), "w") as fh:
            json.dump(sizes, fh)
    return path


def prepare_inputs(bdir, workload, seed):
    """Input generation (not part of setup_s).  The base tables depend
    on gen.py only and are cached; the corpora are written per seed."""
    tag = _file_hash(os.path.join(HERE, "gen.py"))
    data = {"base": _cached(os.path.join(bdir, "data", f"base-{tag}"), gen.write_base)}
    if workload == "mr_kernel":
        for regime in wl.REGIMES:
            d = os.path.join(bdir, "data", f"corpus-{seed}-{regime}")
            shutil.rmtree(d, ignore_errors=True)
            gen.write_corpus(d, seed, regime)
            data[regime] = d
    return data


def write_plan(path, workload, seconds, trace, ops, run_dir, data):
    lines = [("workload", workload), ("cores", str(cores())),
             ("trace", "1" if trace else "0"),
             ("outputs", os.path.join(run_dir, "out"))]
    if workload == "table_rw":
        lines.append(("warehouse", os.path.join(run_dir, "warehouse")))
        lineitem = os.path.join(data["base"], "lineitem.parquet")
        lines += [("setup_sql", s) for s in wl.table_setup_sql(lineitem)]
    lines.append(("warm_passes", str(wl.warm_passes(workload))))
    for p, on in enumerate(wl.pass_flags(workload, seconds, trace)):
        lines.append(("pass", str(p), "1" if on else "0"))
    warm = os.path.join(run_dir, "out", "warm")
    lines += [("warm_op", op["kind"], op["label"], op["arg"], warm)
              for op in wl.warm_ops(workload, data)]
    for op in ops:
        if op["kind"] == "query":
            op["out"] = os.path.join(run_dir, "out", f"op{op['id']}")
        elif op["kind"] == "startjob":
            op["out"] = os.path.join(run_dir, "out", f"op{op['id']}.tsv")
        elif op["label"].endswith("_select"):
            op["out"] = "select"
        else:
            op["out"] = ""
        lines.append(("op", str(op["id"]), str(op["pass"]), op["kind"], op["label"],
                      op["arg"], op["out"]))
    for line in lines:
        assert all("\t" not in f and "\n" not in f for f in line), line
    with open(path, "w") as fh:
        fh.write("".join("\t".join(line) + "\n" for line in lines))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, classpath, plan, result, run_dir, log):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap is not fixed: it grows as far as the engine's allocation
    # needs, so VmHWM follows it.  The parallel collector sizes the heap
    # by allocation; G1 (the JDK default) grows it by measured pause
    # time, which made peak RSS differ by 20-25% between runs of the
    # same inputs.  With the JVM's default thread counts, table_rw's
    # peak RSS spread 0.096-0.107 (IQR/median) between runs; with two
    # collector and two compiler threads, 0.018-0.054.
    jit = ([f"-XX:CICompilerCount={JIT_THREADS[workload]}"]
           if workload in JIT_THREADS else [])
    cmd = (["java", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2"] + jit +
           ["-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"] +
           build.ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", classpath, "graftbench.Driver", plan, result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"driver JVM timed out after {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"driver JVM exited with {rc}:\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def check_outputs(workload, ops, res, run_dir, data, timed):
    """({op id: (ok, message)} for every op whose output was checked,
    table_rw's replay record)."""
    import check
    oracles = res.get("oracles", {})
    checker = check.Checker(ROOT, os.path.join(run_dir, "tmp"),
                            os.path.join(build.build_dir(ROOT), "oracles"))
    results = {}
    for op in ops:
        if not op["ok"]:
            continue
        if op["kind"] == "startjob":
            results[op["id"]] = checker.startjob_op(op, oracles["mr_wordcount"])
        elif op["kind"] == "query":
            results[op["id"]] = checker.query_op(op, oracles.get(op["label"]))
    replay = {}
    if workload == "table_rw":
        lineitem = os.path.join(data["base"], "lineitem.parquet")
        statements, replay = check.check_table_rw(
            ROOT, ops, os.path.join(run_dir, "out"), wl.table_setup_duck(lineitem), timed)
        results.update(statements)
    return results, replay


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    load0 = os.getloadavg()[0]
    try:
        classpath = build.build(ROOT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    bdir = build.build_dir(ROOT)
    data = prepare_inputs(bdir, args.workload, args.seed)
    run_dir = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    trace = bool(args.trace)
    ops, n_passes = wl.plan_ops(args.workload, args.seed, args.seconds, trace, data)
    plan = os.path.join(run_dir, "plan.tsv")
    write_plan(plan, args.workload, args.seconds, trace, ops, run_dir, data)
    res = run_jvm(args.workload, classpath, plan, os.path.join(run_dir, "result.json"), run_dir,
                  os.path.join(run_dir, "driver.log"))
    by_id = {o["id"]: o for o in ops}
    done = res["ops"]
    for d in done:
        d.update({k: v for k, v in by_id[d["id"]].items() if k not in d})
    # End-to-end numbers come from the timed passes an untraced run
    # makes (warm passes are set-up); a traced run's extra passes
    # measure the tracing overhead and, on table_rw, run the stream
    # drain.
    span = wl.timed_passes(args.workload, args.seconds)
    checks, replay = check_outputs(args.workload, done, res, run_dir, data, span)
    acct = stats.accounting(done, checks)
    load1 = os.getloadavg()[0]

    timed = [o for o in done if o["pass"] in span]
    latencies = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in timed]
    tail_v, tail_k, tail_n = stats.tail(latencies)
    walls = {p["pass"]: p["wall_s"] for p in res["passes"]}
    e2e = {"setup_s": res["setup"]["total_s"],
           "wall_s": stats.median(walls[p] for p in span),
           "op_p50_s": stats.median(latencies),
           "op_tail_s": tail_v,
           "peak_rss_mb": res["jvm"]["vmhwm_mb"]}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": os.cpu_count(), "session_cores": res["cores"],
                 "driver_xmx_mb": res["jvm"]["xmx_mb"], "load1_start": load0,
                 "load1_end": load1, "scale_factor": 0.1, "seed": args.seed,
                 "git_commit": git_commit(),
                 "source_sha256": open(os.path.join(bdir, "classes.stamp")).read()[:16]},
        "passes": n_passes, "warm_passes": wl.warm_passes(args.workload), "ops": len(done),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "error_rate": {"value": acct["error_rate"], "unit": "ratio"},
        "wrong_rate": {"value": acct["wrong_rate"], "unit": "ratio"},
        "op_tail": {"ops_averaged": tail_k, "samples": tail_n},
        "setup": res["setup"],
        "jvm": res["jvm"],
        "warm_failures": res["warm_failures"],
        "op_latency_s": [[o["label"], round(lat, 4)] for o, lat in zip(timed, latencies)],
        "failed_ops": [f"{o['label']}#{o['id']}: {o['error']}" for o in done if not o["ok"]],
        "wrong_ops": [f"{by_id[i]['label']}#{i}: {m}" for i, (ok, m) in sorted(checks.items())
                      if not ok],
        "table": dict(res.get("table") or {}, **replay),
    }
    if trace:
        drains = [o for o in done if o["label"] in wl.STREAM_DRAIN]
        after = span.stop
        metrics = layers.per_layer(args.workload, timed, drains, res, replay,
                                   [walls[p] for p in span], walls[after + 1] / walls[after])
        record["per_op"] = layers.per_op(timed + drains)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(bdir, "records"), exist_ok=True)
    rec_path = os.path.join(bdir, "records",
                            f"{args.workload}-{args.seed}-{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for regime in wl.REGIMES:
        if regime in data:
            shutil.rmtree(data[regime], ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": acct["wrong"] == 0 and replay.get("final_table_ok", True),
                      "attempted": acct["attempted"], "failed": acct["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
