#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Builds the program first (perfbench/build.py), then starts one local[4] JVM
that sets up the workload, runs closed-loop ops for --seconds of op time and
writes one JSON record per op. This script checks every op's output and
prints {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.

--size smoke runs the same code on tiny inputs. --record stores the run's
outputs as the expected outputs of its seed under perfbench/expected/.
Work files go to .bench_work/ in the checkout; the span file of a traced run
is kept at .bench_work/spans-<workload>-<seed>.json.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_json(path, default=None):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def run_jvm(classes, workload, seed, seconds, trace, size, work, out):
    layers = load_json(os.path.join(HERE, "layers.json"))
    queries = ",".join(f"{q}:{layers['layers'][q]}" for q in layers["sweep"])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"size={size}", f"work={work}", f"out={out}", f"queries={queries}"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload {workload} exceeded {JVM_TIMEOUT_S} s; stopping it", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


# ---- output checks -----------------------------------------------------------

def check_pit(op, ref):
    if op["rows"] <= 0:
        return "no feature rows written"
    if (op["rows"], op["obs"]["digest"]) != (ref["rows"], ref["digest"]):
        return f"features rows/digest {op['rows']}/{op['obs']['digest']} != {ref['rows']}/{ref['digest']}"
    return None


def check_query(op, ref, unstable):
    if op["rows"] != ref["rows"]:
        return f"{op['key']} returned {op['rows']} rows, expected {ref['rows']}"
    if "digest" in op["obs"] and op["key"] not in unstable and op["obs"]["digest"] != ref["digest"]:
        return f"{op['key']} digest {op['obs']['digest']} != {ref['digest']}"
    return None


def check_ops(workload, seed, ops, expected):
    """Returns the failure message of each op (None when it passed). Ops are
    compared with the shipped expected outputs of the seed when there are
    some, else with the warm-up's output for the same key."""
    shipped = expected.get(str(seed), {})
    unstable = set(expected.get("unstable_digest", []))
    first = {}
    result = []
    for op in ops:
        if op["error"]:
            result.append(op["error"])
            continue
        key = op["key"]
        if workload == "pit_features":
            ref = shipped.get(key) or first.setdefault(key, {"rows": op["rows"], "digest": op["obs"]["digest"]})
            result.append(check_pit(op, ref))
        else:
            ref = shipped.get(key) or first.setdefault(key, {"rows": op["rows"], "digest": op["obs"].get("digest")})
            if op["phase"] == "local1":
                op = dict(op, obs={})  # float sums may differ at one core: rows only
            result.append(check_query(op, ref, unstable))
    return result


def record_expected(workload, seed, ops, path):
    """Stores the outputs of a run as the expected outputs of its seed. A
    query digest that differs from an earlier recording of the same seed is
    listed as unstable (checked by row count only)."""
    expected = load_json(path, {})
    entry = {}
    for op in ops:
        if op["phase"] not in ("warmup", "timed") or op["error"] or op["key"] in entry:
            continue
        if "digest" in op["obs"]:
            entry[op["key"]] = {"rows": op["rows"], "digest": op["obs"]["digest"]}
    old = expected.get(str(seed), {})
    if workload == "query_sweep":
        unstable = set(expected.get("unstable_digest", []))
        unstable |= {q for q in entry if q in old and old[q]["digest"] != entry[q]["digest"]}
        expected["unstable_digest"] = sorted(unstable)
    old.update(entry)
    expected[str(seed)] = dict(sorted(old.items()))
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


# ---- metrics -----------------------------------------------------------------

def e2e_metrics(setup, timed):
    clock = sum(op["latency_s"] for op in timed)
    lat = [op["latency_s"] for op in timed]
    return {
        "setup_s": setup["session_s"] + statistics.median(setup["inputs_s"]) + setup["warmup_s"],
        "ops_per_s": len(timed) / clock,
        "rows_per_s": sum(op["rows"] for op in timed) / clock,
        "op_p50_s": statistics.median(lat),
    }


def run_one(args, classes):
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "records.jsonl")
    try:
        code = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace, args.size, work, out)
        records = []
        if os.path.exists(out):
            with open(out) as f:
                records = [json.loads(line) for line in f if line.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    fatal = [r for r in records if r["kind"] == "fatal"]
    setup = next((r for r in records if r["kind"] == "setup"), None)
    ops = [r for r in records if r["kind"] == "op"]
    timed = [r for r in ops if r["phase"] == "timed"]
    trace = next((r for r in records if r["kind"] == "trace"), None)
    if code != 0 or fatal or setup is None or not timed or (args.trace == 1 and trace is None):
        msg = fatal[0]["error"] if fatal else f"the JVM exited with code {code}"
        print(f"{args.workload}: run failed: {msg}", file=sys.stderr)
        return None

    print(f"{args.workload} setup: session {setup['session_s']:.2f} s, inputs "
          f"{', '.join(f'{x:.2f}' for x in setup['inputs_s'])} s, warm-up {setup['warmup_s']:.2f} s",
          file=sys.stderr)
    # Expected outputs are recorded at the bench size only.
    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    if args.record and args.size == "bench":
        record_expected(args.workload, args.seed, ops, exp_path)
    expected = load_json(exp_path, {}) if args.size == "bench" else {}
    failures = check_ops(args.workload, args.seed, ops, expected)
    # Every op after the warm-up is attempted: the timed window, plus the
    # untraced and local[1] reruns of a traced run.
    attempted = [(op, f) for op, f in zip(ops, failures) if op["phase"] != "warmup"]
    warm_bad = [f for op, f in zip(ops, failures) if op["phase"] == "warmup" and f]
    failed = sum(1 for _, f in attempted if f)
    for op, f in zip(ops, failures):
        if f:
            print(f"{args.workload} {op['phase']} {op['key']}: FAILED {f}", file=sys.stderr)

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.trace == 1:
        got = trace["metrics"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        with open(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(trace["spans"], f)
    else:
        got = e2e_metrics(setup, timed)
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_frac = {failed / len(attempted):.6g} ratio "
          f"({failed} of {len(attempted)} ops; op_p50_s over {len(timed)} timed ops)")
    return {"correct": failed == 0 and not warm_bad, "attempted": len(attempted), "failed": failed,
            "metrics": metrics}


def main():
    workloads = [w["name"] for w in load_json(os.path.join(ROOT, "BENCHMARK.json"))["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "smoke"], default="bench")
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    try:
        classes = build.build()
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    if args.workload == "all":
        ok = True
        for w in workloads:
            res = run_one(argparse.Namespace(**dict(vars(args), workload=w)), classes)
            ok = ok and res is not None and res["correct"]
        return 0 if ok else 1
    res = run_one(args, classes)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
