#!/usr/bin/env python3
"""Downward-only re-freeze of the bench drift baseline from two clean sweeps.

    python3 tools/refreeze.py bench_baseline.json sweep1.json sweep2.json

Each sweep is a full Bench JSON line (e.g. a copy of target/bench_last.json)
and must have run with failed == [].

 1. Optimized entries: any entry whose median improved >= 25% vs its frozen
    value in BOTH sweeps gets its frozen baseline replaced by the per-entry
    MIN of the two sweep medians — the gate must track the optimized code,
    or a multi-x regression of an optimized entry passes unflagged. Entries
    that did not clearly improve keep their frozen medians.
 2. Unbaselined entries (present in both sweeps, absent from the baseline)
    are frozen to the MIN of the two sweeps.
 3. The same downward-only rule applies to the per-entry stream-join
    data-bound map and to stream_join_floor_s.

A value frozen on a slower box can only make the gate looser on a faster
one (no false flags), never tighter.
"""
import json
import sys

if len(sys.argv) != 4:
    sys.exit(__doc__)
baseline_path, sweep1, sweep2 = sys.argv[1:]
base = json.load(open(baseline_path))
s1 = json.load(open(sweep1))
s2 = json.load(open(sweep2))
assert s1["failed"] == [] and s2["failed"] == [], "sweeps must be clean"

changed, frozen_new = [], []
for k, old in list(base["queries"].items()):
    a, b = s1["queries"].get(k), s2["queries"].get(k)
    if a is None or b is None:
        continue
    if a <= 0.75 * old and b <= 0.75 * old:
        base["queries"][k] = round(min(a, b), 4)
        changed.append((k, old, base["queries"][k]))

for k in sorted(set(s1["queries"]) & set(s2["queries"]) - set(base["queries"])):
    base["queries"][k] = round(min(s1["queries"][k], s2["queries"][k]), 4)
    frozen_new.append((k, base["queries"][k]))

db = base.get("stream_join_data_bound", {})
for k, old in list(db.items()):
    a = s1.get("stream_join_data_bound_s", {}).get(k)
    b = s2.get("stream_join_data_bound_s", {}).get(k)
    # never freeze a data-bound baseline to ~0: a floor-clamped sweep value
    # (entry median below that sweep's join floor) would turn the drift
    # gate into "any data-bound > minDeltaS flags" — keep the old value
    if (a is not None and b is not None and min(a, b) >= 0.1
            and a <= 0.75 * old and b <= 0.75 * old):
        db[k] = round(min(a, b), 4)
        changed.append((f"{k} (data-bound)", old, db[k]))

jf_old = base.get("stream_join_floor_s")
jfa, jfb = s1.get("stream_join_floor_s"), s2.get("stream_join_floor_s")
if jf_old and jfa and jfb and jfa <= 0.75 * jf_old and jfb <= 0.75 * jf_old:
    base["stream_join_floor_s"] = round(min(jfa, jfb), 4)
    changed.append(("stream_join_floor_s", jf_old, base["stream_join_floor_s"]))

base["_provenance"] = base.get("_provenance", "") + (
    f" | re-freeze from {sweep1} + {sweep2}: entries sped up >=25% in BOTH "
    "clean sweeps re-frozen to the per-entry MIN of the two sweep medians; "
    "unbaselined entries frozen to the same MIN (first baselines); "
    "downward-only — all other entries keep their existing frozen medians.")
json.dump(base, open(baseline_path, "w"), indent=1)
print(f"re-froze {len(changed)} entries:")
for k, o, n in sorted(changed, key=lambda t: t[1] - t[2], reverse=True):
    print(f"  {o:8.3f} -> {n:7.3f}  {k}")
print(f"newly baselined {len(frozen_new)}:")
for k, n in frozen_new:
    print(f"  {n:8.3f}  {k}")
