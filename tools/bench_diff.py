#!/usr/bin/env python3
"""Compare two graft.Bench sidecars (BENCH_TOTAL.json) family by family.

Usage: python3 tools/bench_diff.py <old.json> <new.json>

For each gate family it prints the summed wall seconds, summed executor
CPU seconds and shuffle bytes (read + write) of the old and the new run,
with the change, over the gates present in both files. Beside the wall
change it prints the family's noise band: the pass-to-pass spread of its
summed wall, |sum of pass-1 walls - sum of pass-2 walls| from each
gate's `pass_walls`, the larger of the two files' spreads. A wall change
no larger than the band is marked `~` (inside the noise); the band reads
`n/a` when neither file records `pass_walls`. It then lists the gates
whose `ok` flag flipped, with the `err` the failing side recorded, and
the gates present in only one file.

A gate's family comes from the file that records it; a sidecar written
before families were recorded takes each gate's family from the other
file, and a gate neither file tags is counted as "unknown".
Standard library only.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)["metrics"]


def family(name, old, new):
    return (new.get(name, {}).get("family")
            or old.get(name, {}).get("family") or "unknown")


def sums(rows):
    return (sum(r["wall"] for r in rows), sum(r["cpu"] for r in rows),
            sum(r["shuffle_read"] + r["shuffle_write"] for r in rows))


def spread(rows):
    """|sum of pass-1 walls - sum of pass-2 walls|, or None when a row
    lacks `pass_walls`."""
    if not rows or any(len(r.get("pass_walls", [])) != 2 for r in rows):
        return None
    return abs(sum(r["pass_walls"][0] for r in rows)
               - sum(r["pass_walls"][1] for r in rows))


def band(w0, w1, olds, news):
    spreads = [b for b in (spread(olds), spread(news)) if b is not None]
    if not spreads:
        return "n/a"
    b = max(spreads)
    return f"±{b:.2f}{' ~' if abs(w1 - w0) <= b else ''}"


def delta(a, b):
    pct = f" ({(b - a) / a * 100:+.1f}%)" if a else ""
    return f"{a:.2f} -> {b:.2f} {b - a:+.2f}{pct}"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    old, new = load(argv[1]), load(argv[2])
    common = sorted(set(old) & set(new))
    fams = sorted({family(n, old, new) for n in common})
    print(f"{'family':<10} {'gates':>5}  {'wall s':<34} {'noise':<10} "
          f"{'cpu s':<34} shuffle MB")
    for fam in fams + ["TOTAL"]:
        names = [n for n in common if fam == "TOTAL" or family(n, old, new) == fam]
        olds, news = [old[n] for n in names], [new[n] for n in names]
        (w0, c0, s0), (w1, c1, s1) = sums(olds), sums(news)
        print(f"{fam:<10} {len(names):>5}  {delta(w0, w1):<34} "
              f"{band(w0, w1, olds, news):<10} "
              f"{delta(c0, c1):<34} {delta(s0 / 1e6, s1 / 1e6)}")
    flipped = [n for n in common if old[n]["ok"] != new[n]["ok"]]
    print(f"\nok flipped: {len(flipped)}")
    for n in flipped:
        side = "new" if old[n]["ok"] else "old"
        err = (new if side == "new" else old)[n].get("err", "(no err recorded)")
        print(f"  {n} [{family(n, old, new)}] fails in {side}: {err}")
    for label, only in (("only in old", set(old) - set(new)),
                        ("only in new", set(new) - set(old))):
        if only:
            print(f"{label}: {', '.join(sorted(only))}")


if __name__ == "__main__":
    main(sys.argv)
