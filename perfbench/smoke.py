"""Self-test of the benchmark on the smallest inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced with
`--smoke` and fails unless each run exits 0 with a correct result, every
declared metric comes out with its declared unit, and every per-layer
metric is fed by at least one workload. It also prints the tracing
overhead: the traced run's latency p50 minus the untraced one's.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", "1", "--seconds", "3",
                        "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    fed = next(json.loads(line[len("perfbench: fed "):]) for line in p.stderr.splitlines()
               if line.startswith("perfbench: fed "))
    return json.loads(p.stdout.strip().splitlines()[-1]), fed


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    fed_layers = set()
    bad = []
    for w in spec["workloads"]:
        name = w["name"]
        lat = {}
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res, fed = run(name, trace)
            if trace:
                fed_layers.update(fed)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                bad.append(f"{name} trace={trace}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{name} trace={trace}: correct={res['correct']} "
                           f"attempted={res['attempted']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{name} trace={trace}: metrics differ from BENCHMARK.json")
            lat[trace] = res["metrics"]["trace.latency_p50_ms" if trace else "latency_p50_ms"]["value"]
            print(f"{name} trace={trace}: ok, {len(got)} metrics", flush=True)
        print(f"{name}: tracing overhead {lat[1] - lat[0]:+.1f} ms on latency p50 "
              f"({lat[0]:.1f} untraced, {lat[1]:.1f} traced)")
    unfed = [m["name"] for m in spec["per_layer"] if m["name"] not in fed_layers]
    if unfed:
        bad.append(f"per-layer metrics no workload feeds: {unfed}")
    for b in bad:
        print("FAIL " + b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
