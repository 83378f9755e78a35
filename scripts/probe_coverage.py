#!/usr/bin/env python3
"""Machine-visible scale-probe coverage manifest (r12 verdict #6).

Scans every SCALE_PROBE_r*.json (graft.tools.ScaleProbe runs) and the
historical `big_probe_*` keys of bench_full*.json (Bench's former
in-run 10x salted probe, removed since; newer artifacts lack the keys)
in the repo root, unions the per-query max probed copy factor, and
writes probe_coverage.json:

  {"salted_probed": {query: max_factor, ...},
   "salted_unprobed": [query, ...],
   "max_factor_per_family": {family: factor, ...},
   "note": ...}

"Unprobed" means NO salted-copy probe beyond sf0.1 — every catalog
query still has Bench's three-point real-SF curve (sf0.001 -> 0.01 ->
0.1, a x100 span), which is how family-level superlinearity is caught
for the long tail. Bench no longer echoes this file; read it directly.

Usage: python3 scripts/probe_coverage.py [repo_root]
Needs a catalog name list: reads the newest verify dump's
oracle_sql.json if given as 2nd arg, else derives names from the union
of bench per_query_min keys.
"""
import glob
import json
import os
import re
import sys


def family(q: str) -> str:
    if re.match(r"q\d", q):
        return "relational_q"
    if q.startswith(("emb_", "embedding_")):
        return "emb"
    if q.startswith("hybrid_"):
        return "ann"
    return q.split("_")[0]


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    cov = {}

    def add(q, c):
        cov[q] = max(cov.get(q, 0), int(c))

    for f in sorted(glob.glob(os.path.join(root, "SCALE_PROBE_r*.json"))):
        try:
            d = json.load(open(f))
        except Exception:
            continue
        # multi-part shape (assembled sweeps) and ScaleProbe's flat
        # single-run shape ({"copies", "ratio": {q: r}, ...}) both count
        parts = d.get("parts", [])
        if not parts and "ratio" in d:
            parts = [
                {
                    "copies": d.get("copies", 0),
                    "queries": {
                        q: {"ratio": r} for q, r in d.get("ratio", {}).items()
                    },
                }
            ]
        for p in parts:
            for q, row in p.get("queries", {}).items():
                # a failed probe run (ratio -1) is not coverage
                if row.get("ratio", -1) > 0:
                    add(q, p.get("copies", 0))
    catalog = set()
    for f in sorted(glob.glob(os.path.join(root, "bench_full*.json"))):
        try:
            d = json.load(open(f))
        except Exception:
            continue
        for q in d.get("big_probe_times_sec", {}):
            add(q, d.get("big_probe_copies", 10))
        catalog |= set(d.get("per_query_min", {}).keys())
    if len(sys.argv) > 2:
        catalog = set(json.load(open(sys.argv[2])).keys())
    catalog = {q for q in catalog if not q.startswith("st_")}

    fams = {}
    for q in sorted(catalog):
        fams.setdefault(family(q), []).append(q)
    out = {
        "salted_probed": {q: cov[q] for q in sorted(cov) if q in catalog},
        "salted_unprobed": sorted(q for q in catalog if q not in cov),
        "max_factor_per_family": {
            f: max([cov.get(q, 0) for q in qs]) for f, qs in sorted(fams.items())
        },
        "family_probed_counts": {
            f: [sum(1 for q in qs if q in cov), len(qs)]
            for f, qs in sorted(fams.items())
        },
        "note": "salted_unprobed = no salted-copy probe beyond sf0.1; "
        "every catalog query additionally has Bench's three-point "
        "real-SF curve (sf0.001->0.01->0.1, x100 span) each round",
    }
    with open(os.path.join(root, "probe_coverage.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(
        f"probed={len(out['salted_probed'])} "
        f"unprobed={len(out['salted_unprobed'])} "
        f"families={out['max_factor_per_family']}"
    )


if __name__ == "__main__":
    main()
