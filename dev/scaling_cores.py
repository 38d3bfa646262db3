#!/usr/bin/env python3
"""Build bench/scaling_r15_cores.json from two Probe logs (32- and
8-core runs over the same ScaleGen corpus): per-query medians/mins and
the low/high core-time ratio (>1 = benefits from more cores).

Usage: scaling_cores.py <log32> <log8> <out.json> <sf_label>
"""
import json, re, sys

def parse(path):
    meds = {}
    for line in open(path):
        m = re.match(r"\[probe\] (\S+) MEDIAN ([0-9.]+)s MIN ([0-9.]+)s", line)
        if m:
            meds[m.group(1)] = {"median_s": float(m.group(2)), "min_s": float(m.group(3))}
    return meds

def main(log32, log8, out, sf):
    h, l = parse(log32), parse(log8)
    per = {}
    for q in sorted(set(h) & set(l)):
        per[q] = {
            "c32_median_s": h[q]["median_s"], "c32_min_s": h[q]["min_s"],
            "c8_median_s": l[q]["median_s"], "c8_min_s": l[q]["min_s"],
            # ratio of 8-core to 32-core time on the MIN (noise floor):
            # > 1 means extra cores help; ~1 means fixed-latency bound
            # (null when the 32-core min is 0: no ratio exists)
            "c8_over_c32_min": (round(l[q]["min_s"] / h[q]["min_s"], 3)
                                if h[q]["min_s"] else None),
        }
    rec = {"sf": sf, "cpus_high": 32, "cpus_low": 8,
           "protocol": "graft.Probe, 1 warm-up + 2 timed noop-sink reps per query per core count",
           "per_query": per}
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({q: v["c8_over_c32_min"] for q, v in per.items()}, indent=0))

if __name__ == "__main__":
    main(*sys.argv[1:])
