#!/usr/bin/env python3
"""graft benchmark: one named workload from one seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout.  It builds the library and the
harness from source (`build.py`), generates the workload's inputs from
the seed (`gen.py`), runs the harness in one JVM with Spark local[N]
(N = min(4, nproc)), checks the outputs against the DuckDB oracles and
the harness's invariants (`analyze.py`), and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every `end_to_end` metric of BENCHMARK.json (`--trace 0`) or every
`per_layer` metric (`--trace 1`).  The line before it carries the run
facts; the full result also goes to .bench_work/results/.
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

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("changefeed", "curation_cold")
# the harness must end well inside the 180 s a run may take
JVM_TIMEOUT_S = 170


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat: steal is time
    a virtual machine's CPUs waited for the host."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def commit(root):
    try:
        return subprocess.check_output(
            ["git", "-C", root, "rev-parse", "HEAD"],
            stderr=subprocess.DEVNULL).decode().strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run_jvm(cmd, work, log, serve):
    """Run the harness; while it waits for its oracle results, `serve`
    them (DuckDB runs only then, never during a timed region)."""
    request = f"{work}/out/oracle/request.json"
    served = False
    deadline = time.time() + JVM_TIMEOUT_S
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            while p.poll() is None:
                if time.time() > deadline:
                    raise TimeoutError
                if not served and os.path.exists(request):
                    serve()
                    served = True
                time.sleep(0.02)
            rc = p.returncode
        except (TimeoutError, KeyboardInterrupt):
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"perfbench: harness failed ({rc}); log in {log}")


def steal_pct(a, b):
    if not a or not b or b[1] == a[1]:
        return None
    return round(100.0 * (b[0] - a[0]) / (b[1] - a[1]), 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load0, ticks0 = loadavg(), cpu_ticks()
    cp, src_digest = build.build(root, HERE)

    work = os.path.join(root, ".bench_work", "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "warm", "out", "tmp"):
        os.makedirs(os.path.join(work, d))
    man = gen.generate(a.workload, a.seed, f"{work}/in", seconds=a.seconds)
    gen.generate(a.workload, a.seed, f"{work}/warm", warmup=True)

    cores = max(1, min(4, os.cpu_count() or 1))
    oracle_dir = f"{work}/out/oracle"
    cache = os.path.join(root, ".bench_work", "oracle", man["digest"])
    t0 = time.time()
    run_jvm(build.java_cmd(cp, f"{work}/tmp") + [
        "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores),
        "--in", f"{work}/in", "--warm", f"{work}/warm",
        "--work", work, "--out", f"{work}/out"], work, f"{work}/jvm.log",
        lambda: analyze.serve_oracles(oracle_dir, a.workload, f"{work}/in", cache))
    jvm_s = time.time() - t0
    with open(f"{work}/out/raw.json") as f:
        raw = json.load(f)

    names = spec["per_layer" if a.trace else "end_to_end"]
    res = analyze.analyze(a.workload, raw, man, f"{work}/in", oracle_dir,
                          [m["name"] for m in spec["per_layer"]])
    missing = [m["name"] for m in names if m["name"] not in res["metrics"]]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in names}
    facts = dict(raw["facts"], workload=a.workload, seed=a.seed,
                 trace=a.trace, input_digest=man["digest"],
                 source_digest=src_digest, commit=commit(root),
                 loadavg_start=load0, loadavg_end=loadavg(),
                 cpu_steal_pct=steal_pct(ticks0, cpu_ticks()),
                 jvm_wall_s=round(jvm_s, 3))
    full = dict(facts=facts, checks=res["checks"], samples=res["samples"],
                metrics=res["metrics"])
    os.makedirs(os.path.join(root, ".bench_work", "results"), exist_ok=True)
    with open(os.path.join(root, ".bench_work", "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({"facts": facts}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
