#!/usr/bin/env python3
"""Classify every query's plan change between two parent dumps and a change dump.

Usage: tools/plandiff.py <parentA> <parentB> [<parentC> ...] <change> [--all]

Each argument is a `graft.tools.PlanDump` output: per query a
"===== name =====" header, then "exchanges=N" and the plan that ran (the
final adaptive plan, then its "== Initial Plan =="), or "FAILED: <msg>".
Dump the parent twice: final plans carry runtime adaptive decisions, so
some queries differ between two runs of one commit, and the two parent
dumps show which. A flip that two parent dumps happen not to show
leaves its query unclassified; more parent dumps, whole or filtered to
those queries (PlanDump's name filter), add to the evidence.

Each query gets one class:
  identical       the change's plan equals one of the parent dumps'
  flip            final plan only: the initial plan equals a parent's,
                  and the final plan already differs between parent
                  dumps (run-to-run adaptive noise)
  initial-changed the initial plan differs from every parent's
  failed          a dump has FAILED for it, or parentA, parentB or the
                  change lacks it
  unclassified    final plan only, but the parent dumps agree on it: a
                  change the parent never showed, read the diff

Prints one line per query that is not identical (every query with
--all): class, name, and the exchange counts of the parent dumps ->
the change; then the count per class. Exits 1 when any query is
unclassified or failed.
"""
import re
import sys

INITIAL = "+- == Initial Plan =="


def parse(path):
    """name -> (exchanges, final plan lines, initial plan lines, failed)."""
    blocks, name = {}, None
    with open(path) as f:
        for line in f:
            m = re.match(r"===== (\S+) =====$", line.rstrip("\n"))
            if m:
                name = m.group(1)
                blocks[name] = []
            elif name is not None:
                blocks[name].append(line.rstrip("\n"))
    out = {}
    for q, lines in blocks.items():
        failed = any(l.startswith("FAILED:") for l in lines)
        ex = next((l.split("=", 1)[1] for l in lines
                   if l.startswith("exchanges=")), "?")
        plan = [l for l in lines if not l.startswith("exchanges=")]
        if INITIAL in plan:
            i = plan.index(INITIAL)
            final, initial = plan[:i], plan[i + 1:]
        else:
            final = initial = plan
        out[q] = (ex, final, initial, failed)
    return out


def classify(parents, c):
    """`parents`: the query's parent dump entries, parentA and parentB
    first (None where a dump lacks the query)."""
    if None in parents[:2] or c is None or c[3] or any(
            p[3] for p in parents if p):
        return "failed"
    ps = [p for p in parents if p]
    if c[1:3] in [p[1:3] for p in ps]:
        return "identical"
    if c[2] not in [p[2] for p in ps]:
        return "initial-changed"
    if len({tuple(p[1]) for p in ps}) > 1:
        return "flip"
    return "unclassified"


def main(argv):
    args = [x for x in argv if x != "--all"]
    if len(args) < 3:
        sys.exit(__doc__)
    dumps = [parse(p) for p in args]
    parents, ch = dumps[:-1], dumps[-1]
    counts = {}
    for q in sorted(set(parents[0]) | set(parents[1]) | set(ch)):
        ps, c = [p.get(q) for p in parents], ch.get(q)
        cls = classify(ps, c)
        counts[cls] = counts.get(cls, 0) + 1
        if cls != "identical" or "--all" in argv:
            ex = "/".join(p[0] if p else "-" for p in ps)
            print(f"{cls:16} {q}  exchanges {ex} -> {c[0] if c else '-'}")
    print(", ".join(f"{k} {v}" for k, v in sorted(counts.items())))
    return 1 if counts.get("unclassified") or counts.get("failed") else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
