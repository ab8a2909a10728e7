#!/usr/bin/env python3
"""Compare two benchmark reports (before / after).

    python3 perfbench/compare.py <before.json> <after.json>

Reports are the `report-<workload>-s<seed>-t<trace>.json` files run.py
writes under .bench_build/perfbench/out/. The two must carry the same
environment stamp (cores, local[N], shuffle partitions, heap, JVM and its
flags, Spark, Scala) and the same workload, seed, run length and trace
mode; otherwise the comparison is refused (exit 2). The source digest and
git commit may differ: that is what is being compared.
"""
import json
import sys

MUST_MATCH = ("nproc", "master", "shuffle_partitions", "driver_heap_mb", "jvm", "jvm_flags",
              "spark", "scala", "workload", "seed", "seconds", "trace")


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(sys.argv[1]) as f:
        a = json.load(f)
    with open(sys.argv[2]) as f:
        b = json.load(f)
    diff = [k for k in MUST_MATCH if a["stamp"].get(k) != b["stamp"].get(k)]
    if diff:
        for k in diff:
            print(f"stamp differs: {k}: {a['stamp'].get(k)!r} vs {b['stamp'].get(k)!r}")
        print("refusing to compare outputs with different stamps")
        sys.exit(2)
    print(f"{a['stamp']['workload']} seed {a['stamp']['seed']}: "
          f"{a['stamp']['source_digest']} -> {b['stamp']['source_digest']}")
    for name, ma in a["end_to_end"].items():
        mb = b["end_to_end"].get(name)
        if mb and ma["value"]:
            print(f"  {name:24s} {ma['value']:12.4f} -> {mb['value']:12.4f} {ma['unit']:5s} "
                  f"x{mb['value'] / ma['value']:.3f}")
    for name, va in a.get("per_layer", {}).items():
        vb = b.get("per_layer", {}).get(name)
        if vb is not None and va:
            print(f"  {name:40s} {va:12.4f} -> {vb:12.4f} x{vb / va:.3f}")


if __name__ == "__main__":
    main()
