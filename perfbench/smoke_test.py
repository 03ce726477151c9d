"""Smoke test of the benchmark: a toy-size run of every workload, untraced and
traced. Each must exit 0, pass every correctness gate, and print exactly the
metrics BENCHMARK.json names for its mode, each with its declared unit. A copy
holding only BENCHMARK.json and perfbench/ must fail without a result.

    python3 perfbench/smoke_test.py      # from the repository root; ~5 min
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def last_json(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", "3", "--seconds", "2",
                                    "--trace", str(trace), "--size", "toy"],
                cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            r = last_json(p.stdout)
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(r)}")
                continue
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: gates failed: {r['failed']} of {r['attempted']}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                wrong = sorted(k for k in got if k in declared[trace] and got[k] != declared[trace][k])
                problems.append(f"{tag}: missing {missing}, extra {extra}, wrong unit {wrong}")
            print(f"ok? {tag}: {len(got)} metrics, {r['attempted']} checked", flush=True)

    with tempfile.TemporaryDirectory(dir=HERE, prefix=".smoke-") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", ".spans", ".smoke-*",
                                                      "__pycache__"))
        p = subprocess.run(bench["command"] + ["--workload", "extract_archives", "--seed", "1",
                                               "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare copy: exit {p.returncode}, stdout {p.stdout[-300:]!r}")

    if problems:
        print("\n".join(["FAIL"] + problems))
        sys.exit(1)
    print("PASS")


if __name__ == "__main__":
    main()
