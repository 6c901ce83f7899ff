"""The repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload fda_daily --seed 1 --seconds 6 --trace 0

Generates the workload's inputs from the seed, builds the engine and the
harness from source if needed (build.py), runs the harness JVM on
local[nproc], checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones from a
traced replay of the same operations. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as git would commit it

WORKLOADS = ("fda_daily", "pdf_enrich", "corpus_queries")
SETUPS = 3           # set-ups per run: one cold, then warm ones; setup_s is the warm median
JVM_TIMEOUT_S = 165  # the whole run must end within 180 s


def declared_metrics():
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def read_cpu():
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def cpu_window(prev, cur):
    """Host shares over a window between two /proc/stat snapshots (fields:
    user nice system idle iowait irq softirq steal), as tools/hostmon.py."""
    d = [c - p for c, p in zip(cur, prev)]
    tot = sum(d) or 1
    return {"busy_pct": round(100 * (1 - (d[3] + d[4]) / tot), 1),
            "steal_pct": round(100 * d[7] / tot, 2),
            "iowait_pct": round(100 * d[4] / tot, 2)}


def host_sample(seconds=0.25):
    a = read_cpu()
    time.sleep(seconds)
    return cpu_window(a, read_cpu())


def end_to_end(w, rec):
    ops = [o for o in rec["ops"] if o["error"] is None]
    busy = sum(o["latency_s"] for o in ops)
    if w == "corpus_queries":
        per = {}
        for o in ops:
            per.setdefault(o["name"], []).append(o["latency_s"])
        p50 = statistics.median(statistics.median(v) for v in per.values())
        q = rec["check"]["queries"]
        out = sum(q[o["name"]]["out_bytes"] for o in ops)
        inp = sum(q[o["name"]]["in_bytes"] for o in ops)
    else:
        kind = "tick" if w == "fda_daily" else "batch"
        p50 = statistics.median(o["latency_s"] for o in ops if o["kind"] == kind)
        out = sum(o["out_bytes"] for o in ops)
        inp = sum(o["in_bytes"] for o in ops)
    return {"setup_s": statistics.median(rec["setup_s"][1:]),
            "docs_per_s": sum(o["docs"] for o in ops) / busy,
            "op_p50_s": p50,
            "out_bytes_per_in_byte": out / inp,
            "peak_rss_mb": rec["peak_rss_mb"]}


def run_jvm(args, archive_flag, run_dir, inputs, cores):
    import build
    record = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = build.harness_command(tmp, archive_flag) + [
        "perfbench.Main", f"workload={args.workload}", f"input={inputs}",
        f"root={run_dir}/state", f"seconds={args.seconds}", f"trace={args.trace}",
        f"cores={cores}", f"seed={args.seed}", f"setups={SETUPS}", f"record={record}"]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=build.harness_env(), cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(record) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write(f"perfbench: the engine sources are missing under {ROOT}/src; "
                         "run from the root of a checkout of the repository\n")
        return 2
    import build
    import check
    import gen

    cores = len(os.sched_getaffinity(0))
    archive_flag = build.build()
    run_dir = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "input")
    os.makedirs(inputs)
    try:
        t_gen = time.time()
        manifest = gen.GENERATORS[args.workload](inputs, args.seed)
        t_gen = time.time() - t_gen
        host_before = host_sample()
        cpu0, t_jvm = read_cpu(), time.time()
        rec = run_jvm(args, archive_flag, run_dir, inputs, cores)
        host_run = cpu_window(cpu0, read_cpu())
        t_check = time.time()
        bad, msgs = check.CHECKS[args.workload](rec, manifest)
        t_done = time.time()
        host_after = host_sample()
        bad |= {i for i, o in enumerate(rec["ops"]) if o["error"] is not None}
        msgs += [f"op {i}: {o['error']}" for i, o in enumerate(rec["ops"]) if o["error"]]
        attempted = len(rec["ops"])
        summary = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "error_rate": len(bad) / max(attempted, 1), "check_messages": msgs[:20],
            "setup_cold_s": rec["setup_s"][0], "setup_warm_s": rec["setup_s"][1:],
            "wall_s": rec["wall_s"],
            "phases_s": {"generate": round(t_gen, 2), "jvm": round(t_check - t_jvm, 2),
                         "check": round(t_done - t_check, 2)},
            "ops": [(o["name"], round(o["latency_s"], 4)) for o in rec["ops"]],
            "host": {"before": host_before, "run": host_run, "after": host_after},
        }
        e2e_units, layer_units = declared_metrics()
        if args.trace:
            tr = rec["trace"]
            metrics = {k: {"value": tr["metrics"][k], "unit": u} for k, u in layer_units.items()}
            first = tr["ops"][0]
            summary["first_op_layers"] = {"name": first["name"], "latency_s": first["latency_s"],
                                          "layers": first["layers"]}
        else:
            values = end_to_end(args.workload, rec)
            metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}
        records = os.path.join(HERE, ".work", "records")
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
                  "w") as f:
            json.dump({"summary": summary, "record": rec}, f)
        print(json.dumps(summary))
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
