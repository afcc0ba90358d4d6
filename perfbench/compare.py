#!/usr/bin/env python3
"""Compare two benchmark detail records (the line before the result line,
also saved as .bench_build/results/<workload>-seed<n>-trace<t>.json).

    python3 perfbench/compare.py BASE.json NEW.json

Prints new/base for every metric both records carry. Refuses (exit 2) when
the records come from different core counts, workloads or trace modes:
such numbers are not comparable.
"""
import json
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    for key in ("workload", "trace"):
        if base.get(key) != new.get(key):
            print(f"refusing: {key} differs ({base.get(key)} vs {new.get(key)})")
            sys.exit(2)
    if base["stamp"].get("nproc") != new["stamp"].get("nproc"):
        print(f"refusing: nproc differs ({base['stamp'].get('nproc')} vs "
              f"{new['stamp'].get('nproc')})")
        sys.exit(2)
    for section in ("end_to_end", "per_layer"):
        for name in sorted(set(base[section]) & set(new[section])):
            b, n = base[section][name], new[section][name]
            ratio = f"{n / b:.3f}" if b else "n/a"
            print(f"{section:10s} {name:32s} {b:14.3f} {n:14.3f}  x{ratio}")


if __name__ == "__main__":
    main()
