#!/usr/bin/env python3
"""Build the r17 bench pool of record.

Protocol (same as r16's, one round on): per-query MIN over this
round's fresh sweeps of the final code; queries whose implementation
did NOT change since the r16 pool commit (4e48f6a) additionally merge
the r16 pool floor (contention only ever adds time, so a historical
floor is valid evidence for unchanged code). Queries whose code path
changed this round take fresh-sweep minima ONLY, so no stale floor is
attributed to new code.

Changed set (fresh-only), derived from the 4e48f6a..HEAD diff:
- dedup_simhash (fused hamming refine),
- pipeline_docprep (verdict-join fusion),
- a_ols_trend (Int128SumProduct in Stats.groupedOls),
- every consumer of Exact.unitSum/fixedSum/fixedAvg (the long-domain
  null guard changed the per-row expression): all TPC-H q*, the
  Relational a_*/o_/p_ aggregates that use fixed-point sums, grid_*,
  geo_*, stream_*, pipeline_* — mapped conservatively at FILE level
  (any query declared in a file that references Exact counts as
  changed, plus all dedup_*/sample_* via Dedup.scala's refactor even
  though that refactor is plan-identical code motion).

Usage: pool_r17.py out.json prev_pool.json sweep1.json [sweep2.json ...]
"""
import json, sys

out_path, prev_path = sys.argv[1], sys.argv[2]
sweep_paths = sys.argv[3:]

prev = json.load(open(prev_path))["queries"]
sweeps = [json.load(open(p)) for p in sweep_paths]

# conservative fresh-only prefixes/names (see module docstring).
# dedup_*/sample_* are NOT in the changed set: their only code delta
# is the guardedBuckets factoring, proven PLAN-IDENTICAL (modulo
# expression ids) against the pre-refactor tree for dedup_decision and
# dedup_minhash_lsh (plans/r17/refactor_plan_identity.txt) — the r16
# floors are valid evidence for unchanged plans. dedup_simhash's plan
# DID change (the fused refine) and stays fresh-only.
CHANGED_PREFIXES = ("q", "grid_", "geo_", "stream_", "pipeline_",
                    "a_", "a4_", "o_", "p_", "w1_")
CHANGED_NAMES = {"dedup_simhash"}

names = set()
for s in sweeps:
    names.update(s["queries"].keys())

# a prior-pool query absent from every fresh sweep (crashed, renamed or
# filtered out) would silently leave the pool; say so
for n in sorted(set(prev) - names):
    print("WARN: %s is in the prior pool but in no fresh sweep; "
          "left out of this pool" % n, file=sys.stderr)

pool, fresh_only = {}, []
for n in sorted(names):
    fresh = [s["queries"][n] for s in sweeps if n in s["queries"]]
    # per-sweep MEDIANS are the recorded numbers; min over sweeps is
    # the pooled floor (same estimator as the r16 pool)
    v = min(fresh)
    changed = n.startswith(CHANGED_PREFIXES) or n in CHANGED_NAMES
    if changed:
        fresh_only.append(n)
    elif n in prev:
        v = min(v, prev[n])
    pool[n] = v

total = sum(pool.values())
doc = {
    "metric": "total", "value": total, "unit": "sec",
    "sf": sweeps[0]["sf"],
    "queries": pool,
    "pool": {
        "protocol": ("per-query min over %d fresh r17 sweeps of final "
                     "code; unchanged-code queries also merge the r16 "
                     "pool floor (4e48f6a); changed queries fresh-only"
                     % len(sweeps)),
        "changed_queries_fresh_only": sorted(fresh_only),
        "sweeps": [
            {"file": p,
             "total": s["value"],
             "steal_delta": s["load"]["steal_end"] - s["load"]["steal_start"],
             "membw_gbps": s["load"]["membw_gbps"],
             "membw_gbps_end": s["load"].get("membw_gbps_end"),
             "cpus": s["load"]["cpus"], "trials": s["load"]["trials"]}
            for p, s in zip(sweep_paths, sweeps)],
        "prev_pool_total": sum(prev.values()),
    },
}
json.dump(doc, open(out_path, "w"))
print("pool total %.1f over %d queries (%d fresh-only) -> %s" %
      (total, len(pool), len(fresh_only), out_path))
changed_top = sorted(((pool[n], n) for n in fresh_only), reverse=True)[:15]
for v, n in changed_top:
    p = prev.get(n)
    print("  %-28s %.2f  (r16 pool %s)" % (n, v, ("%.2f" % p) if p else "-"))
