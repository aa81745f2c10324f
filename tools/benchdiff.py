#!/usr/bin/env python3
"""Round-over-round bench adjudicator (VERDICT r14 #4): diff a new
bench artifact's masses block + per-query walls against the previous
committed one, and DECIDE box-vs-plan-vs-data per flagged query instead
of leaving the call to eyeball (the q152 +1.6 s question this tool
exists to close).

    python3 tools/benchdiff.py BENCH_r14_perquery.json /tmp/graft_bench.json \
        [--exclude q1,q2]   # drop named lines from the subset estimator
                            # (deliberately reworked plans skew it)

Decision procedure per the round-14 job-decomposition findings, widened in
round 17 (VERDICT r16 #1) so EVERY line self-adjudicates instead of 40
falling through to "plan-read needed":
  - masses moved >2x        -> the DATA moved; name the mass and the
                               stage/queries it drives (regenerated
                               corpus, re-measure constants).
  - masses flat + wall moved -> compare against the line's EXPECTED-BOX
    band. A wall has two box-scaling regimes: job-count-bound lines
    scale ~ the artifacts' job_overhead_us ratio; compute/shuffle-bound
    lines barely move with box quieting (they have a data floor) but
    inflate with contention roughly like the common-subset total. So
    the expected-box range per line is
        [a * min(1, r_ovh, r_subset),  a * max(1, r_ovh, r_subset)]
    (r_ovh = job-overhead ratio, r_subset = common-subset wall ratio),
    padded by max(0.5 s, 25% of the band edge). Inside -> BOX; outside
    -> PLAN or data (git log / explain decides which). The r17 quiet-
    box A/B validated the band shape: on identical code, overhead-bound
    lines tracked r_ovh (q152 12.86->4.69 at r=0.36) while
    compute-bound lines sat near a (q148 4.01->3.04 with a*r=1.4 — the
    old point-estimate model wrongly flagged it).
  - lines in OVERHEAD_BOUND additionally report the pure-overhead
    expectation (the sharper estimate for that family).
Only per-query deltas >0.5 s are signal at all (the box swings 26-48 s
at sf0.1 on identical code — CLAUDE.md's measured band).
"""
import json
import sys

WALL_FLAG_SEC = 0.5
MASS_FLAG_RATIO = 2.0

# masses key -> (stage name, the bench lines that mass drives)
MASS_STAGES = {
    "n_vec": ("corpus", ["(every embedding query)"]),
    "edge_cells": ("full_substrate", ["graph_memo_build", "q143", "q152"]),
    "edge_occ_max": ("full_substrate", ["graph_memo_build", "q143", "q152"]),
    "edge_pair_mass": ("full_substrate", ["edge_memo_build", "graph_memo_build", "q126", "q135", "q143", "q152"]),
    "cell_pairs": ("full_substrate", ["edge_memo_build", "q126", "q135", "q143", "q152"]),
    "div_edges": ("full_substrate", ["graph_memo_build", "q143", "q152"]),
    "old_edge_cells": ("old_substrate", ["graph_memo_build_old", "q151", "q154"]),
    "old_edge_occ_max": ("old_substrate", ["graph_memo_build_old", "q151", "q154"]),
    "old_edge_pair_mass": ("old_substrate", ["graph_memo_build_old", "q151", "q154"]),
    "old_cell_pairs": ("old_substrate", ["graph_memo_build_old", "q151", "q154"]),
    "old_div_edges": ("old_substrate", ["graph_memo_build_old", "q151", "q154"]),
    "dup_pairs": ("near_dup_cc", ["cc_memo_build", "q56", "q79", "q108", "q114", "q146", "q148", "q149"]),
    "minhash_cands": ("minhash_bands", ["cand_memo_build", "q31", "q96", "q121", "q122", "q131"]),
    "band_occ_max": ("simhash_bands", ["q51", "q157", "q164"]),
    "band_over_cap": ("simhash_bands", ["q51 (cap BINDS if >0 — re-measure BandOccCap)"]),
    # update-wave masses (round-16, VERDICT r15 #1c; round-17: the probe
    # stages are session-memoized — the build is the upd_memo_build
    # line, and q157/q175 consume the same checkpointed frames)
    "upd_slice": ("update_wave", ["upd_memo_build", "q157 (retract + relabel input)", "q175 (corpus/labels/LM wave)"]),
    "upd_slice_bands": ("update_wave", ["upd_memo_build (probe build side)"]),
    "upd_probe_cands": ("update_wave", ["upd_memo_build (candidate mass)"]),
    "upd_new_pairs": ("update_wave", ["q157 (merge input)", "q175 (label wave)"]),
}

# bench lines whose wall is per-job-overhead bound at test SFs
# (r14 job decomposition: job counts code-fixed, jobs x overhead reconstructs
# the r12/r13/r14 readings) — for these, the old wall scaled by the
# job_overhead_us ratio is the box-expected wall
OVERHEAD_BOUND = {
    "q135", "q143", "q148", "q149", "q151", "q152", "q154",
    "graph_memo_build", "graph_memo_build_old", "q91", "q92", "q144",
    # q171 rides the same memoized IVFADC tower as q91 — its timed run
    # is anti-joins + shortlist + audit, job-count dominated at test SFs
    "q171",
    # the BPE family unrolls its merge loop driver-side (one tiny job
    # per merge round) — wall tracks job overhead, not data (round-17:
    # q162 read 2.3/2.9/2.9 s at overheads 101/74/150k, then 5.7 s at
    # 208k — the ratio, not the plan)
    "q67", "q162",
    # masses_probe is ~16 metadata-scale jobs over memoized frames since
    # the round-17 memoization — pure job-count
    "masses_probe",
}


def load(path):
    with open(path) as f:
        return json.load(f)


def qname(k):
    # bench keys look like q152_graph_delete; OVERHEAD_BOUND uses the prefix
    return k.split("_")[0] if k.startswith("q") else k


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    om, nm = old.get("masses", {}), new.get("masses", {})
    oq, nq = old.get("queries", {}), new.get("queries", {})
    print(f"old: {sys.argv[1]}  total={old.get('value', 0):.1f}s  loadavg={old.get('loadavg', '?')}")
    print(f"new: {sys.argv[2]}  total={new.get('value', 0):.1f}s  loadavg={new.get('loadavg', '?')}")

    # ---- masses ----
    moved = []
    for k in sorted(set(om) | set(nm)):
        if k == "job_overhead_us":
            continue
        a, b = om.get(k), nm.get(k)
        if a is None or b is None:
            print(f"MASS   {k}: only in {'old' if b is None else 'new'} ({a if b is None else b})")
            continue
        hi, lo = max(a, b), max(min(a, b), 1)
        if a == 0 and b == 0:
            continue
        if hi / lo > MASS_FLAG_RATIO or (a == 0) != (b == 0):
            stage, lines = MASS_STAGES.get(k, ("?", []))
            moved.append(k)
            print(f"MASS   {k}: {a} -> {b}  [DATA moved; stage={stage}; drives {', '.join(lines)}]")
    if not moved:
        print("masses: FLAT (no mass moved >2x) — wall deltas are box or plan, not data")

    # ---- per-job overhead ----
    oo, no_ = om.get("job_overhead_us"), nm.get("job_overhead_us")
    ratio = (no_ / oo) if (oo and no_) else None
    if ratio:
        print(f"job_overhead_us: {oo} -> {no_}  (box ratio {ratio:.2f}x for overhead-bound lines)")

    # ---- common-subset wall ratio (the compute-bound box estimator) ----
    # Median of per-line ratios (over lines big enough to carry signal),
    # NOT the sum ratio: a few deliberately reworked lines (e.g.
    # masses_probe 9.5s->1.3s in r17) would skew a sum-based estimator
    # and poison the expected-box band for every other line. --exclude
    # drops named lines (comma-separated) from the estimator entirely.
    excluded = set()
    for i, a in enumerate(sys.argv):
        if a == "--exclude" and i + 1 < len(sys.argv):
            excluded |= set(sys.argv[i + 1].split(","))
    common = [k for k in oq if k in nq and qname(k) not in excluded
              and k not in excluded]
    line_ratios = sorted(nq[k] / oq[k] for k in common if oq[k] >= 0.3)
    rsub = line_ratios[len(line_ratios) // 2] if line_ratios else None
    if rsub:
        osum = sum(oq[k] for k in common)
        rsum = (sum(nq[k] for k in common) / osum) if osum > 0 else float("nan")
        print(f"common-subset wall ratio: median {rsub:.2f}x over "
              f"{len(line_ratios)} lines (sum-ratio {rsum:.2f}x"
              f"{'; excluded ' + ','.join(sorted(excluded)) if excluded else ''})")

    # ---- per-query walls: every line gets an expected-box band ----
    flags = unadjudicated = 0
    for k in sorted(set(oq) | set(nq), key=lambda k: -(nq.get(k, 0) - oq.get(k, 0))):
        a, b = oq.get(k), nq.get(k)
        if a is None or b is None:
            print(f"LINE   {k}: only in {'old' if b is None else 'new'} ({a if b is None else b:.1f}s)")
            continue
        d = b - a
        if abs(d) <= WALL_FLAG_SEC:
            continue
        flags += 1
        ratios = [1.0] + [r for r in (ratio, rsub) if r]
        if len(ratios) > 1:
            lo, hi = a * min(ratios), a * max(ratios)
            lo_pad, hi_pad = lo - max(WALL_FLAG_SEC, 0.25 * lo), hi + max(WALL_FLAG_SEC, 0.25 * hi)
            fam = ""
            if qname(k) in OVERHEAD_BOUND and ratio:
                fam = f"; overhead-family point estimate {a * ratio:.1f}s"
            if lo_pad <= b <= hi_pad:
                verdict = f"BOX (within expected-box band [{lo:.1f}, {hi:.1f}]s{fam})"
            elif b < lo_pad:
                # faster than the expected floor: box estimators were
                # pessimistic or the code improved — either way NOT a
                # regression, so it does not need adjudication
                verdict = f"BOX or improvement (below the expected floor {lo:.1f}s{fam} — not a regression)"
            else:
                verdict = f"REGRESSION? (above expected-box band [{lo:.1f}, {hi:.1f}]s{fam} — git log / explain / perfbench/run.py --trace 1)"
                unadjudicated += 1
        else:
            verdict = "no box estimators (job_overhead_us missing) — plan-read needed"
            unadjudicated += 1
        mass_note = " + data moved" if moved else ""
        print(f"WALL   {k}: {a:.2f}s -> {b:.2f}s ({d:+.2f})  [{verdict}{mass_note}]")
    if flags == 0:
        print("walls: no per-query delta >0.5s — level round")
    else:
        print(f"flagged {flags} lines; {unadjudicated} outside the expected-box band "
              "(these need git log / explain; the rest self-adjudicate as BOX)")


if __name__ == "__main__":
    main()
