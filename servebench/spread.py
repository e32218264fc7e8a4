#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
spread (interquartile distance over the median), with every run's wall time.

    python3 servebench/spread.py --workloads serve,cdc_ingest --seeds 1-10 --seconds 8 [--trace 1]

Run from the root of a checkout. Each run's result line is appended to
servebench/target/out/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    os.makedirs(os.path.join(BENCH, "target", "out"), exist_ok=True)
    log = open(os.path.join(BENCH, "target", "out", "spread.jsonl"), "a")
    for w in a.workloads.split(","):
        rows, walls = [], []
        for s in seeds(a.seeds):
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", a.trace],
                               capture_output=True, text=True)
            walls.append(time.time() - t)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print("%s seed %d failed (exit %d): %s" % (w, s, p.returncode, p.stderr.strip()[-300:]))
                continue
            r = json.loads(lines[-1])
            rows.append(r)
            diag = [l for l in lines if l.startswith("[servebench] diag ")]
            log.write(json.dumps({"workload": w, "seed": s, "wall_s": walls[-1], "result": r,
                                  "diag": diag[-1] if diag else ""}) + "\n")
            log.flush()
            print("%s seed %d: %.0f s, correct=%s attempted=%d failed=%d" % (
                w, s, walls[-1], r["correct"], r["attempted"], r["failed"]), flush=True)
        if not rows:
            continue
        print("== %s: %d runs, wall median %.0f s, max %.0f s" % (
            w, len(rows), statistics.median(walls), max(walls)))
        for name in rows[0]["metrics"]:
            v = [r["metrics"][name]["value"] for r in rows]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            print("  %-34s median %12.4f %-6s spread %.3f" % (
                name, med, rows[0]["metrics"][name]["unit"], spread))


if __name__ == "__main__":
    main()
