"""Reports over result records (the JSONL that `run.py --record` appends).

    python3 perfbench/report.py steadiness records.jsonl
    python3 perfbench/report.py overhead records.jsonl

steadiness: for each fingerprint x workload with at least 10 untraced
records, the median, quartiles and (q3 - q1) / median spread of every
end-to-end metric, against the metric's bound in BENCHMARK.json.
overhead: for each workload x end-to-end metric, the median of untraced
and of traced records and their relative difference (tracing overhead).
Records whose fingerprints differ are never pooled or compared.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_RECORDS = 10
sys.path.insert(0, ROOT)


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def groups(records, trace: int):
    from perfbench.env import fingerprint_key

    g = defaultdict(list)
    for r in records:
        if r["trace"] == trace and not r.get("smoke"):
            g[(fingerprint_key(r["fingerprint"]), r["workload"])].append(r)
    return g


def steadiness(records) -> int:
    """Prints one row per fingerprint x workload x metric; returns the
    number of metrics whose spread exceeds its bound."""
    over = 0
    print(f"{'fingerprint':16} {'workload':14} {'metric':16} {'n':>3} {'median':>12} "
          f"{'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for (fp, wl), rs in sorted(groups(records, 0).items()):
        if len(rs) < MIN_RECORDS:
            print(f"{fp:16} {wl:14} only {len(rs)} records (< {MIN_RECORDS}), skipped")
            continue
        for m in spec()["end_to_end"]:
            vals = [r["e2e"][m["name"]] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if spread > m["bound"]:
                flag, over = " OVER", over + 1
            print(f"{fp:16} {wl:14} {m['name']:16} {len(vals):3} {med:12.4g} {q1:12.4g} "
                  f"{q3:12.4g} {spread:7.3f} {m['bound']:6.2f}{flag}")
    return over


def overhead(records) -> None:
    base, traced = groups(records, 0), groups(records, 1)
    print(f"{'fingerprint':16} {'workload':14} {'metric':16} {'untraced':>12} "
          f"{'traced':>12} {'diff':>8}")
    for key in sorted(set(base) & set(traced)):
        for m in spec()["end_to_end"]:
            a = statistics.median(r["e2e"][m["name"]] for r in base[key])
            b = statistics.median(r["e2e"][m["name"]] for r in traced[key])
            print(f"{key[0]:16} {key[1]:14} {m['name']:16} {a:12.4g} {b:12.4g} "
                  f"{(b - a) / a:+8.1%}")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2 or argv[0] not in ("steadiness", "overhead"):
        print(__doc__, file=sys.stderr)
        return 2
    records = load(argv[1])
    if argv[0] == "steadiness":
        return 1 if steadiness(records) else 0
    overhead(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
