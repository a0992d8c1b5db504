#!/usr/bin/env python3
"""Split a `sbt "runMain graft.PlanAudit -v q1 q2 ..."` log into per-query
plan dump files: plans/<round>/<query>_<suffix>.txt, each holding the
PlanAudit summary line followed by the formatted plan (the committed
evidence format for the optimization rounds)."""
import re
import sys

log, outdir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
lines = open(log).read().splitlines()
# strip the sbt [info] prefix where present
body = [re.sub(r"^\[info\] ?", "", l) for l in lines]
summary = re.compile(r"^(\w+)\s+scans=\d+\s+windows=\d+\s+(?:exchanges|shuffles)=\d+")
cur, buf = None, []


def flush():
    if cur is not None:
        open(f"{outdir}/{cur}_{suffix}.txt", "w").write("\n".join(buf) + "\n")
        print(f"wrote {cur}_{suffix}.txt ({len(buf)} lines)")


for l in body:
    m = summary.match(l)
    if m:
        flush()
        cur, buf = m.group(1), [l]
    elif cur is not None:
        if l.startswith("[success]") or l.startswith("[error]"):
            break
        buf.append(l)
flush()
