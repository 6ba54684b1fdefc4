#!/usr/bin/env python3
"""Check that the traced run's counters repeat exactly for one seed.

    python3 lakebench/test_repeat.py [--workloads ...] [--seed N]

Runs `run.py --trace 1` twice per workload with the same seed and compares
every per-layer count (jobs, bytes, files read, micro-batches and the ratios
built from them) between the two runs. Timings are not compared. Exits 1 if
a count differs or a run fails. Run it from the repository root.

Two byte counters hold values the engine makes different on every run, so
they are listed with their difference but do not fail the test:
- `catalog.*` bytes and `catalog.rewrite_ratio`: FileStats rows name the
  data files, and Spark puts a random job id into every file name;
- `dq.output_bytes`: quarantined rows carry the time they were written.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_SUFFIXES = (".jobs", "_bytes", ".files_read", ".batches", ".jobs_per_batch",
                  ".shuffle_bytes_per_doc", ".scan_amplification", ".files_read_ratio",
                  ".rewrite_ratio")


def run_specific(key):
    return (key.startswith("catalog.") and key.endswith(("_bytes", ".rewrite_ratio"))) \
        or key == "dq.output_bytes"


def layers(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    found = [l for l in p.stdout.splitlines() if l.startswith("[lakebench] layers ")]
    if p.returncode != 0 or not found:
        return None
    return json.loads(found[-1][len("[lakebench] layers "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+",
                    default=["policy_daily_load", "curation_daily_ops"])
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        first, second = layers(w, a.seed), layers(w, a.seed)
        if first is None or second is None:
            print(f"FAIL {w}: a traced run failed")
            ok = False
            continue
        keys = sorted(k for k in first if k.endswith(COUNT_SUFFIXES))
        diff = [(k, first[k], second.get(k)) for k in keys if first[k] != second.get(k)]
        failing = [d for d in diff if not run_specific(d[0])]
        for k, x, y in diff:
            tag = "note" if run_specific(k) else "FAIL"
            print(f"{tag} {w}: {k} {x} != {y}")
        print(f"{'ok  ' if not failing else 'FAIL'} {w}: "
              f"{len(keys) - len(diff)}/{len(keys)} counts repeat, "
              f"{len(diff) - len(failing)} run-specific")
        ok = ok and not failing
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
