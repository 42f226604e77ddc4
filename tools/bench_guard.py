#!/usr/bin/env python3
"""Round-over-round bench regression guard.

Usage: bench_guard.py BENCH_prev.json BENCH_curr.json [CHANGES_note.md]

Flags every shared query entry that regressed more than GUARD_FRAC
(25%) AND more than ABS_FLOOR seconds (entries under the floor are
job-floor noise at bench scale — documented in BENCH.md). An entry is
excused when the optional CHANGES note mentions it by its whole name (a
deliberate, documented cost). Exits 1 on unexcused regressions.

VM-day drift caveat (BENCH.md ADR): absolute numbers on this VM swing
+/-25-40% day to day (r4 measured ~24% below r3 on identical code; the
r5 same-day A/B re-ran the r3 tree against the r5 tree and the OLD code
was slower). A flagged entry is therefore a *prompt to A/B the previous
round's code on the same day* (git worktree + the same harness, e.g.
graft.tools.WandBench), not proof of a code regression. The guard
exists so no drift ships unexamined.
"""
import json
import re
import sys

GUARD_FRAC = 0.25
ABS_FLOOR = 0.15  # seconds


def entries(path):
    """Accept either a raw Bench JSON line ({"queries": {...}}) or the
    driver's BENCH_rN.json wrapper, whose "tail" holds a left-truncated
    slice of that line (the first pair may be cut mid-key — dropped)."""
    d = json.load(open(path))
    if "queries" in d:
        return d["queries"]
    # the opening-quote requirement drops a pair whose key was cut by
    # the left truncation (no leading ") — or mangles it into a key that
    # exists in neither file, which the comparison then skips anyway
    pairs = re.findall(r'\\?"([a-z0-9_]+)\\?":(-?\d+\.\d+)', d.get("tail", ""))
    return {k: float(v) for k, v in pairs if k not in
            ("value", "sf", "index_docs_per_sec")}


def mentions(note, name):
    """True when `note` names the entry as a whole word: a note about
    `ivfpq_build` must not excuse `pq_build`."""
    return re.search(rf'(?<![a-z0-9_]){re.escape(name)}(?![a-z0-9_])',
                     note) is not None


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    prev = entries(sys.argv[1])
    curr = entries(sys.argv[2])
    note = open(sys.argv[3]).read() if len(sys.argv) > 3 else ""
    bad = []
    for name, p in sorted(prev.items()):
        c = curr.get(name)
        if c is None or p <= 0 or c <= 0:
            continue
        if c - p > ABS_FLOOR and (c - p) / p > GUARD_FRAC:
            if mentions(note, name):
                print(f"excused {name}: {p:.3f}s -> {c:.3f}s (in CHANGES note)")
            else:
                bad.append((name, p, c))
    for name, p, c in bad:
        print(f"REGRESSED {name}: {p:.3f}s -> {c:.3f}s "
              f"(+{100 * (c - p) / p:.0f}%) — A/B the previous tree "
              f"same-day before accepting")
    if not bad:
        print(f"bench guard OK: {len(prev)} prev entries checked, "
              f"0 unexcused regressions")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
