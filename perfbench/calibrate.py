#!/usr/bin/env python3
"""Regenerate perfbench/data/fingerprints.json and the call times in
perfbench/data/keys.json.

    python3 perfbench/calibrate.py

Runs every `analytics` key that keys.json does not exclude twice, in
two seeded orders, in fresh JVMs after the workload's setup (which
includes one untimed pass over the keys), recording each result's
fingerprint and warm call time.

- A key whose hash differs between the two runs is checked by row count
  only, a key whose row count differs by a non-empty result; both are
  listed under `rows_only`.
- A key whose call takes longer than MAX_CALL_MS in both runs builds an
  index inside the op; it is added to `excluded` and the runs repeat.
- `call_ms` records each key's mean warm call time, the figures the
  fixed `panel` of timed keys was chosen from (cheap keys, at least one
  per family, one streaming key). The panel itself is kept as it is.

Only regenerate from a commit whose graft.Verify output passes
tools/check.py: the fingerprints are the benchmark's oracle.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

MAX_CALL_MS = 8000


def calibrate(cp):
    """Two calibration runs; returns (fingerprints, rows_only, costs)."""
    raws = [run.run_jvm(cp, "analytics", seed, 0, 0, timeout=1200, extra=["--calibrate", "1"])
            for seed in (1, 2)]
    bad = [o for r in raws for o in r["ops"] if o["status"] != "ok"]
    if bad:
        raise SystemExit(f"calibration run failed: {bad[:3]}")
    fps = [{k[len("fingerprint."):]: v for k, v in r["stats"].items()
            if k.startswith("fingerprint.")} for r in raws]
    fingerprints, rows_only = {}, []
    for key in fps[0]:
        a, b = fps[0][key], fps[1][key]
        if a["rows"] != b["rows"]:
            # not even the row count repeats: only a non-empty result is checked
            fingerprints[key] = {"rows": None, "hash": None}
            rows_only.append(key)
            continue
        stable = a["hash"] == b["hash"]
        fingerprints[key] = {"rows": a["rows"], "hash": a["hash"] if stable else None}
        if not stable:
            rows_only.append(key)
    costs = {}
    for r in raws:
        for o in r["ops"]:
            costs.setdefault(o["name"], []).append(o["ms"])
    return fingerprints, rows_only, costs


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp = run.build()
    path = os.path.join(HERE, "data", "keys.json")
    with open(path) as f:
        spec = json.load(f)
    while True:
        # the current exclusions must be in the file the JVM reads
        with open(path, "w") as f:
            json.dump(spec, f, indent=1)
        fingerprints, rows_only, costs = calibrate(cp)
        slow = sorted(k for k, v in costs.items() if min(v) > MAX_CALL_MS)
        if not slow:
            break
        print(f"excluding {slow}", flush=True)
        spec["excluded"] = sorted(spec["excluded"] + slow)
    mean = {k: statistics.mean(v) for k, v in costs.items()}
    missing = [k for k in spec["panel"] if k not in fingerprints]
    if missing:
        raise SystemExit(f"panel keys without a fingerprint: {missing}")
    spec["call_ms"] = {k: round(v, 1) for k, v in sorted(mean.items())}
    with open(os.path.join(HERE, "data", "fingerprints.json"), "w") as f:
        json.dump({"rows_only": sorted(rows_only), "keys": dict(sorted(fingerprints.items()))},
                  f, indent=1)
        f.write("\n")
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    print(f"{len(fingerprints)} fingerprints ({len(rows_only)} rows-only); "
          f"{len(spec['panel'])} keys in the panel, {len(spec['excluded'])} excluded")


if __name__ == "__main__":
    main()
