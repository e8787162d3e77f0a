"""Summarize scaling_protocol JSONL logs: per-size per-leg draws, minima,
efficiency by the per-leg-minimum estimator, probe annotations.

Accepts multiple logs and pools every protocol-identical draw (taskset-
pinned 2c/8c legs, 16g driver heap, same input) — the per-leg-minimum
estimator under one-sided host noise gets strictly better with more
draws, so heap-falsification legs run at the default 16g heap count too
(legs at other heaps are listed but excluded from the minima).

Usage: python tools/scaling_summary.py LOG.jsonl [LOG2.jsonl ...]
"""

import json
import sys
from collections import defaultdict

DEFAULT_HEAP = "16g"

by = defaultdict(lambda: defaultdict(list))
for path in sys.argv[1:]:
    for line in open(path):
        line = line.strip()
        if not line:
            continue
        r = json.loads(line)
        if "error" in r:
            print("ERROR LEG:", r["error"][:200])
            continue
        by[r["n_events"]][r["cpus"]].append(r)

for n in sorted(by):
    print(f"== {n:,} events ==")
    for cpus in sorted(by[n]):
        for r in by[n][cpus]:
            probe = (
                f"probe_med {r.get('probe_median', 0)/1e6:.2f}M slow {r.get('probe_slow_share', '?')}"
                if "probe_median" in r
                else "unprobed"
            )
            heap = r.get("heap", DEFAULT_HEAP)
            tag = "" if heap == DEFAULT_HEAP else f"  [heap {heap}: excluded]"
            print(
                f"  {cpus}c: {r['sec']:8.1f}s  {r['events_per_sec']:10,.0f} ev/s  {probe}  ts={r.get('ts')}{tag}"
            )
    pool = {
        c: [r for r in rs if r.get("heap", DEFAULT_HEAP) == DEFAULT_HEAP]
        for c, rs in by[n].items()
    }
    if pool.get(2) and pool.get(8):
        t2 = min(r["sec"] for r in pool[2])
        t8 = min(r["sec"] for r in pool[8])
        print(
            f"  per-leg minima ({len(pool[2])}+{len(pool[8])} draws): "
            f"T2={t2:.1f} T8={t8:.1f}  efficiency=(T2/T8)/4 = {(t2/t8)/4:.3f}"
        )
