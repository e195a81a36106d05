#!/usr/bin/env python3
"""Self-tests of the benchmark itself:

1. a tiny-corpus smoke pass of every workload, traced and untraced, is
   correct (no failed operation);
2. the metric names and units each pass emits equal BENCHMARK.json's;
3. the golden text of the planted mega documents equals single-pass
   Extractor.extract on them (SelfTest main, two seeds).

    python3 perfbench/selftest.py
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    if sorted(w["name"] for w in bench["workloads"]) != sorted(run.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from run.WORKLOADS")

    for workload in run.WORKLOADS:
        for trace in (0, 1):
            args = argparse.Namespace(workload=workload, seed=7, seconds=1, trace=trace)
            res = run.run(args, tiny=True)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{workload} trace={trace}"
            if got != want[trace]:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want[trace]))} or units differ")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: smoke pass not correct: {json.dumps(res)[:300]}")
            print(f"selftest: {tag}: {len(got)} metrics, correct={res['correct']}", file=sys.stderr)

    classes = run.build(run.spark_jars())
    r = subprocess.run(["java", "-Xmx2g", "-cp", classes + os.pathsep + os.path.join(run.spark_jars(), "*"),
                        "perfbench.SelfTest", "1", "2"])
    if r.returncode != 0:
        problems.append("planted mega documents differ from their golden text")

    for p in problems:
        print(f"selftest FAILED: {p}", file=sys.stderr)
    print("selftest: ok" if not problems else f"selftest: {len(problems)} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
