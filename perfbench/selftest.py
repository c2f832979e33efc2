#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload it runs the benchmark twice through run.py:
  * untraced, with correct answers: every end-to-end metric in BENCHMARK.json
    is printed by name with its unit, in both the readable lines and the JSON
    result, and the run reports fail_frac 0 and exits 0;
  * traced, with one planted wrong answer: every per-layer metric is printed
    with its unit, fail_frac is above 0, the result says correct=false and the
    run exits non-zero.
Exits 1 on the first failed expectation.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, plant):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"] + (["--plant-wrong"] if plant else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def expect(ok, what):
    if not ok:
        print(f"selftest FAILED: {what}")
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, plant, metrics in ((0, False, bench["end_to_end"]), (1, True, bench["per_layer"])):
            rc, lines = run(w, trace, plant)
            tag = f"{w} trace={trace} plant_wrong={plant}"
            expect(lines and lines[-1].startswith("{"), f"{tag}: last stdout line is not JSON")
            res = json.loads(lines[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys {set(res)}")
            expect(set(res["metrics"]) == {m["name"] for m in metrics},
                   f"{tag}: metrics {sorted(res['metrics'])}")
            for m in metrics:
                expect(res["metrics"][m["name"]]["unit"] == m["unit"], f"{tag}: unit of {m['name']}")
                pat = re.compile(rf"^\[graftbench\] {re.escape(m['name'])}=\S+ {re.escape(m['unit'])}$")
                expect(any(pat.match(l) for l in lines), f"{tag}: no line for {m['name']} [{m['unit']}]")
            frac = [float(m.group(1)) for l in lines for m in [re.match(r"^\[graftbench\] fail_frac=(\S+) ratio", l)] if m]
            expect(len(frac) == 1, f"{tag}: fail_frac line")
            if plant:
                expect(frac[0] > 0 and res["failed"] > 0 and res["correct"] is False and rc != 0,
                       f"{tag}: planted wrong answer not caught (fail_frac={frac[0]}, rc={rc})")
            else:
                expect(frac[0] == 0 and res["failed"] == 0 and res["correct"] is True and rc == 0,
                       f"{tag}: clean run failed (fail_frac={frac[0]}, rc={rc})")
            print(f"selftest ok: {tag}")
    print("selftest passed")


if __name__ == "__main__":
    main()
