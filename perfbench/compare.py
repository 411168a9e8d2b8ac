#!/usr/bin/env python3
"""Compare two benchmark reports of the same workload and seed.

    python3 perfbench/compare.py .bench_build/out/A.json .bench_build/out/B.json

Reports whether the input fingerprints match (a changed container writer or
generator changes the digest, and then the runs do not measure the same
inputs), and whether the deterministic Spark counters of the single-client
operations (jobs, stages, shuffle records) repeated operation by operation.
Exits 1 when the inputs differ.
"""
import json
import sys

COUNTERS = ("spark.jobs", "spark.stages", "spark.shuffle_records")


def ops(report):
    """Single-client operations keyed by (phase, client, seq)."""
    return {(o["phase"], o["client"], o["seq"]): o for o in report["ops"]
            if o["error"] is None}


def main():
    a, b = (json.load(open(p)) for p in sys.argv[1:3])
    fa, fb = a["fingerprint"], b["fingerprint"]
    same_inputs = (fa["input_sha256"] == fb["input_sha256"]
                   and a["workload"] == b["workload"] and fa["seed"] == fb["seed"])
    print(f"workload {a['workload']} seed {fa['seed']}: inputs "
          f"{'identical' if same_inputs else 'DIFFER'} "
          f"({fa['input_sha256'][:16]} vs {fb['input_sha256'][:16]})")
    if not same_inputs:
        sys.exit(1)
    clients = {o["client"] for o in a["ops"] if o["phase"] != "setup"}
    if len(clients) > 1:
        print("several clients: operation order is not deterministic, counters not compared")
        return
    oa, ob = ops(a), ops(b)
    common = sorted(set(oa) & set(ob))
    for c in COUNTERS:
        diff = [k for k in common if oa[k]["spark"][c] != ob[k]["spark"][c]]
        print(f"{c}: {'repeated' if not diff else 'DIFFERED'} on "
              f"{len(common) - len(diff)}/{len(common)} common operations")


if __name__ == "__main__":
    main()
