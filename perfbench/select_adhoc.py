#!/usr/bin/env python3
"""Derives the adhoc_warm op list from the engine's committed timings.

Usage (from the repository root):
  python3 perfbench/select_adhoc.py BENCH_OUT.json BENCH_DRIFT_cold.json > perfbench/workloads/adhoc_warm.txt

The first file holds each registered query's warm time, the second its cold
time (both at sf0.1). A query is eligible when its cold time is under
1.5 s and within 1.3x of its warm time. The eligible queries, sorted by
warm time (ties by name), are cut into STRATA strata of equal count, and the
middle query of each is taken; so the list spans the whole warm-time range
in equal steps. The eligible queries that read the graft-store are added,
so that store reads are measured. The list is frozen in
workloads/adhoc_warm.txt; run.py does not read the timing files.
"""
import json
import sys

STRATA = 10
COLD_MAX_S = 1.5
COLD_OVER_WARM_MAX = 1.3
# Registered queries that read the graft-store.
STORE_QUERIES = ("q73_dsv2_scan", "q85_dsv2_agg", "q92_spj_join", "q102_disk_scan",
                 "q119_snapshot_diff", "q122_incremental_agg", "q149_matview_refresh")


def select(warm, cold):
    eligible = sorted((q for q in warm if q in cold and cold[q] < COLD_MAX_S
                       and cold[q] <= COLD_OVER_WARM_MAX * warm[q]),
                      key=lambda q: (warm[q], q))
    n = len(eligible)
    picked = [eligible[int((i + 0.5) * n / STRATA)] for i in range(STRATA)]
    picked += [q for q in STORE_QUERIES if q in eligible and q not in picked]
    return n, picked


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    warm, cold = (json.load(open(p))["queries"] for p in sys.argv[1:])
    n, picked = select(warm, cold)
    print(f"# {len(picked)} of {n} eligible queries; see perfbench/select_adhoc.py")
    for q in picked:
        print(f"{q}  # warm {warm[q]:.3f} s, cold {cold[q]:.3f} s")


if __name__ == "__main__":
    main()
