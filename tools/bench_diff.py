#!/usr/bin/env python3
"""Two-artifact bench adjudicator: separates real code deltas from host
noise WITHOUT a forensics session.

Given two BENCH_LAST.json-style artifacts (each carrying `queries`,
`work`, `calibration`), classifies every query present in both:

  plan       — the normalized plan fingerprint moved: the code (or a
               config/data change) altered the physical plan. Time
               deltas on these queries are attributable to the change.
  work       — same plan, but the noise-free work axes moved beyond
               the minor band (shuffle read/write bytes or input bytes
               >20%, or ANY sink-row/task-count change): same shape,
               different data volume — e.g. an SF change, a pruning
               regression, a cardinality shift.
  work-minor — byte axes moved 2-20% with rows/tasks/plan identical.
               Observed benign cause: multi-distinct-aggregate queries
               permute their gid branch assignment per JVM
               (RewriteDistinctAggregates hash order), which shifts
               compressed Expand shuffle bytes ~10% with identical
               logical work. Informational, not flagged for review.
  time-only  — plan AND work identical; only wall-clock moved beyond
               the ratio threshold. Auto-adjudicated as HOST NOISE
               (the r16 mode: a co-loaded driver box inflating medians
               1.4-13x with byte-identical work).
  unchanged  — nothing moved.

`spill` and `peak` are environment-DEPENDENT (memory pressure), so
they're reported but never classify a query as `work`.

A `plan` flip on IDENTICAL code is possible but rare (~1% of queries
per run-pair): AQE near a strategy threshold can pick a different
runtime join/coalesce shape when size ESTIMATES of checkpointed
inputs wobble. It flips back and forth across re-runs, unlike a code
change, which moves the fingerprint once and keeps it there.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--time-ratio 1.5]
                                   [--bytes-tol 0.02]
Exit code 0 always (reporting tool, not a gate).
"""
import json, sys


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # artifacts are one JSON object per file; tolerate a trailing line
    return json.loads(txt.splitlines()[-1])


# noise-free axes; "in" (inputMetrics.bytesRead) is not the bytes scanned
# for parquet: parquet's vectored reads bypass the Hadoop FS statistics
WORK_FIELDS = ("sr", "sw", "in", "rows", "tasks")
ENV_FIELDS = ("spill", "peak")                      # pressure-dependent


def classify(old, new, name, time_ratio, bytes_tol, fp_ok=True):
    to, tn = old["queries"].get(name), new["queries"].get(name)
    wo = old.get("work", {}).get(name, {})
    wn = new.get("work", {}).get(name, {})
    out = {"old_sec": to, "new_sec": tn}
    if to and tn:
        out["ratio"] = round(tn / to, 3) if to > 0 else None
    fo, fn = wo.get("fp") or None, wn.get("fp") or None
    if (fo is None) != (fn is None):
        # capture failed on exactly one side: plan comparison is
        # IMPOSSIBLE, not "unchanged" — mark it so a silent capture
        # failure can't read as plan stability
        out["note"] = "no-fp"
    elif fo and fn and not fp_ok:
        # normalizer versions differ: fingerprints are incomparable by
        # construction; adjudicate from the work axes below
        out["note"] = "fp-version"
    elif fo and fn and fo != fn:
        out["class"] = "plan"
        out["fp"] = [fo, fn]
        return out
    moved, minor = {}, {}
    for f in WORK_FIELDS:
        a, b = wo.get(f), wn.get(f)
        if a is None or b is None:
            continue
        if f in ("rows", "tasks"):
            if a != b:
                moved[f] = [a, b]
        else:
            rel = abs(b - a) / max(abs(a), 1)
            if rel > 0.2:
                moved[f] = [a, b]
            elif rel > bytes_tol:
                minor[f] = [a, b]
    if moved:
        out["class"] = "work"
        out["moved"] = moved
        return out
    if minor:
        out["class"] = "work-minor"
        out["moved"] = minor
        return out
    env = {f: [wo.get(f), wn.get(f)] for f in ENV_FIELDS
           if wo.get(f) is not None and wn.get(f) is not None
           and wo.get(f) != wn.get(f)}
    if env:
        out["env"] = env
    if to and tn and to > 0.05 and (tn / to > time_ratio or to / tn > time_ratio):
        out["class"] = "time-only"
        return out
    out["class"] = "unchanged"
    return out


def main():
    time_ratio, bytes_tol = 1.5, 0.02
    pos, argv, i = [], sys.argv[1:], 0
    while i < len(argv):
        if argv[i] == "--time-ratio":
            time_ratio = float(argv[i + 1]); i += 2
        elif argv[i] == "--bytes-tol":
            bytes_tol = float(argv[i + 1]); i += 2
        else:
            pos.append(argv[i]); i += 1
    if len(pos) != 2:
        print(__doc__)
        sys.exit(1)
    old, new = load(pos[0]), load(pos[1])
    if old.get("sf") != new.get("sf"):
        print(f"NOTE: artifacts are from different SFs "
              f"({old.get('sf')} vs {new.get('sf')}) — work deltas are "
              f"expected, only fingerprints compare meaningfully.")
    vo, vn = old.get("fp_version", 1), new.get("fp_version", 1)
    fp_ok = vo == vn
    if not fp_ok:
        print(f"NOTE: fingerprint normalizer versions differ ({vo} vs "
              f"{vn}) — fingerprints are incomparable; classification "
              f"falls back to the work axes (queries carry note "
              f"'fp-version').")
    co, cn = old.get("calibration", {}), new.get("calibration", {})
    print(f"calibration old={co} \n            new={cn}")
    names = sorted(set(old.get("queries", {})) & set(new.get("queries", {})))
    only_old = sorted(set(old.get("queries", {})) - set(new.get("queries", {})))
    only_new = sorted(set(new.get("queries", {})) - set(old.get("queries", {})))
    rows = {n: classify(old, new, n, time_ratio, bytes_tol, fp_ok)
            for n in names}
    by_class = {}
    for n, r in rows.items():
        by_class.setdefault(r["class"], []).append(n)
    print(f"\n{len(names)} shared queries: " + ", ".join(
        f"{k}={len(v)}" for k, v in sorted(by_class.items())))
    if only_old:
        print(f"removed ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"added ({len(only_new)}): {', '.join(only_new)}")
    for cls in ("plan", "work", "work-minor", "time-only"):
        members = by_class.get(cls, [])
        if not members:
            continue
        print(f"\n== {cls} ==")
        for n in sorted(members,
                        key=lambda n: -(rows[n].get("ratio") or 0)):
            r = rows[n]
            extra = ""
            if cls == "plan":
                extra = f" fp {r['fp'][0]} -> {r['fp'][1]}"
            elif cls in ("work", "work-minor"):
                extra = " " + ", ".join(
                    f"{f}:{a}->{b}" for f, (a, b) in r["moved"].items())
            print(f"  {n}: {r['old_sec']}s -> {r['new_sec']}s "
                  f"(x{r.get('ratio')}){extra}")
    noted = {}
    for n, r in rows.items():
        if "note" in r:
            noted.setdefault(r["note"], []).append(n)
    for note, members in sorted(noted.items()):
        label = ("plan comparison impossible (fp missing on one side)"
                 if note == "no-fp" else
                 "fingerprints incomparable (normalizer version)")
        print(f"\nnote {note} — {label} ({len(members)}): "
              + ", ".join(sorted(members)))
    tot_o = sum(v for v in old.get("queries", {}).values())
    tot_n = sum(v for v in new.get("queries", {}).values())
    n_noise = len(by_class.get("time-only", []))
    n_minor = len(by_class.get("work-minor", []))
    print(f"\ntotals: {tot_o:.2f}s -> {tot_n:.2f}s; "
          f"{n_noise} time-only deltas auto-adjudicated as host noise; "
          f"{n_minor} work-minor (byte wobble, informational); "
          f"{len(by_class.get('plan', []))} plan + "
          f"{len(by_class.get('work', []))} work deltas need review.")


if __name__ == "__main__":
    main()
