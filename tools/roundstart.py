#!/usr/bin/env python3
"""Round-start testdata audit (the CLAUDE.md regeneration protocol,
automated): the testdata REGENERATES between rounds and can change
SHAPE, not just bytes (round 12: documents/embeddings shrank 10x and
two corpus-tuned gates went silently stale). Run this FIRST each round:

    python3 tools/roundstart.py            # audit vs the committed snapshot
    python3 tools/roundstart.py --write    # adopt the current shape

It counts every table at every SF, compares against the committed
TESTDATA_SHAPE.json, and on any change prints the constants that must
be re-measured before new work (the list below is maintained alongside
the constants themselves). Exit 1 on shape change so a scripted
round-start can halt.
"""
import json
import os
import sys

import duckdb

SFS = ["0.001", "0.01", "0.1"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SNAP = os.path.join(os.path.dirname(__file__), "..", "TESTDATA_SHAPE.json")

# Corpus-tuned constants that historically went stale on a regeneration
# (re-measure each on any shape change; queries cite the measurements):
REMEASURE = [
    "q96 AuditSampleThreshold (sampled branch must be LIVE at some SF)",
    "q78 DrawBudget / mixture quotas (drawn < pool must bind)",
    "q158/q163 DSIR tie-break (docs at the cut vs seats left)",
    "q153/q159/q160/q161/q163/q164/q165 priority-slice liveness",
    "q155/q156 SurpriseMbits (flags neither none nor all)",
    "band occupancy vs BandOccCap (q140_band_diagnostics per-band cost; DedupAuditSpec)",
    "embeddings: edge-cell occupancy (q126/q135/q143 within-cell pairs; GraphDivSpec)",
]


def shape():
    con = duckdb.connect()
    out = {}
    for sf in SFS:
        row = {}
        for t in TABLES:
            p = f"/root/testdata/sf{sf}/{t}.parquet"
            row[t] = con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]
        # schema fingerprint catches physical-type drift (events.ts nanos
        # vs micros — the round-7 trap) alongside row counts; an empty
        # events table reports as such rather than crashing the audit
        ts = con.execute(
            f"SELECT typeof(ts) FROM '/root/testdata/sf{sf}/events.parquet' LIMIT 1"
        ).fetchone()
        row["_events_ts_type"] = str(ts[0]) if ts else "EMPTY"
        out[f"sf{sf}"] = row
    return out


def main():
    cur = shape()
    if "--write" in sys.argv:
        with open(SNAP, "w") as f:
            json.dump(cur, f, indent=1, sort_keys=True)
        print(f"wrote {os.path.normpath(SNAP)}")
        return 0
    if not os.path.exists(SNAP):
        print("no committed TESTDATA_SHAPE.json — run with --write to adopt")
        return 1
    old = json.load(open(SNAP))
    diffs = []
    # two-sided: a key present in only ONE of (snapshot, current) is a
    # change too — a disappeared table/SF must not pass silently
    sfs = sorted(set(cur) | set(old))
    for sf in sfs:
        keys = sorted(set(cur.get(sf, {})) | set(old.get(sf, {})))
        for k in keys:
            ov = old.get(sf, {}).get(k)
            v = cur.get(sf, {}).get(k)
            if ov != v:
                diffs.append(f"  {sf}.{k}: {ov} -> {v}")
    if not diffs:
        print("testdata shape UNCHANGED vs committed snapshot "
              "(bytes still regenerate — run the full gate before new work)")
        return 0
    print("TESTDATA SHAPE CHANGED:")
    print("\n".join(diffs))
    print("\nRe-measure before any new work:")
    for c in REMEASURE:
        print(f"  - {c}")
    print("\nThen re-run the full gate and `--write` the new snapshot.")
    return 1


if __name__ == "__main__":
    sys.exit(main())
