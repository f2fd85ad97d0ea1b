#!/usr/bin/env python3
"""Bench-triage board (round-16 VERDICT item 7): make the host-band /
real-regression adjudication of round-over-round bench movers a COMMITTED,
diffable artifact instead of PLANS.md prose.

For the top-N movers between two BENCH_FULL boards (same SF), re-time each
with DriftBench (n=3 in one JVM) and record the minimum next to both
artifact walls. min(n=3) separates plan cost from host noise: a mover whose
min is back at the old wall is host band; a mover whose min holds the new
wall is a real plan change (sanctioned or not — the verdict adjudicates,
this board carries the numbers).

Usage: python3 tools/bench_triage.py <old_board.json> <new_board.json> \
         <out.json> [topN=10]
Writes {"_meta":..., "movers": {q: {old, new, drift_min, verdict}}} where
verdict is "host-band" (min within 10% of old or faster) or "plan-change".
`_meta.failed` lists the queries that failed on either board: a board's
`failed` list, or a -1 entry on boards written before that list existed.
A failed query is never ranked as a mover: its -1 wall is not a time.
"""
import json, subprocess, sys, os

old_p, new_p, out_p = sys.argv[1], sys.argv[2], sys.argv[3]
top_n = int(sys.argv[4]) if len(sys.argv) > 4 else 10

old = json.load(open(old_p))
new = json.load(open(new_p))
sf = new.get("sf", "/root/testdata/sf0.1")
oq, nq = old["queries"], new["queries"]


def failed(board):
    return set(board.get("failed", [])) | {
        q for q, v in board["queries"].items() if v < 0}


failures = sorted(failed(old) | failed(new))
common = sorted((set(oq) & set(nq)) - set(failures),
                key=lambda q: -(nq[q] - oq[q]))
movers = [q for q in common if nq[q] - oq[q] > 0.2][:top_n]
if not movers:
    movers = common[:top_n]

env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, GRAFT_DRIFT_N="3")
out = subprocess.run(
    ["tools/run_main.sh", "graft.tools.DriftBench"] + movers,
    capture_output=True, text=True, env=env, cwd=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
# fail loudly if DriftBench crashed or produced no DRIFT lines — an
# all-null board looks complete but adjudicates nothing (r17 ADVICE)
if out.returncode != 0:
    sys.stderr.write(out.stderr[-4000:] + "\n")
    sys.exit(f"[triage] DriftBench exited {out.returncode}; no board written")
mins = {}
for line in out.stdout.splitlines():
    if line.startswith("DRIFT "):
        parts = line.split()
        mins[parts[1]] = float(parts[2].split("=")[1])
if movers and not mins:
    sys.stderr.write(out.stderr[-4000:] + "\n")
    sys.exit("[triage] DriftBench printed no DRIFT lines; no board written")

board = {}
for q in movers:
    m = mins.get(q)
    verdict = None
    if m is not None:
        # min back within 10% of the old wall (or faster) = host band;
        # min holding the new wall = a real plan change to adjudicate
        verdict = "host-band" if m <= oq[q] * 1.10 else "plan-change"
    board[q] = {"old": oq[q], "new": nq[q],
                "drift_min_n3": m, "verdict": verdict}

meta = {
    "tool": "tools/bench_triage.py",
    "sf": sf,
    "old_board": os.path.basename(old_p),
    "new_board": os.path.basename(new_p),
    "rule": "drift min(n=3, one warm JVM) <= 1.10 * old wall -> host-band; else plan-change",
    "failed": failures,
    "regenerate": "python3 tools/bench_triage.py <old> <new> <out> [topN]",
}
json.dump({"_meta": meta, "movers": board}, open(out_p, "w"), indent=1)
print(f"[triage] {len(board)} movers -> {out_p}")
for q in failures:
    print(f"[triage] {q}: FAILED (old={oq.get(q)} new={nq.get(q)})")
for q, r in board.items():
    print(f"[triage] {q}: old={r['old']} new={r['new']} "
          f"min={r['drift_min_n3']} {r['verdict']}")
