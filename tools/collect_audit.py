#!/usr/bin/env python3
"""Driver-collect audit board (round-17 VERDICT item 2): extend the skew
audit's discipline to the one scale-killer class the plan walks can't
see — driver-side materialization. Every `collect()` / `collectAsList` /
`toLocalIterator` / `collectAsMap` site in main sources must carry a
machine-readable bound annotation

    // driver-bound(<class>): <reason>

on the same line or within the 6 preceding lines (each annotation binds
to exactly ONE following site). Classes:

  stat-frame       bounded aggregate: groupless, or keyed only by
                   enum/shard domains (rows independent of corpus size)
  enum-bounded     distinct over a value domain (calendar months,
                   curriculum stages, source domains)
  k-bounded        literal row bound: vec_id < k seeds, NQ query sample,
                   limit(k) / top-k, fixed-size merge tables
  sample-bounded   rate-bounded sample (keyedRank's ~sampleTarget rows)
  threshold-gated  size-gated with a loud refusal above the gate
                   (hybrid CC's driverFinishEdges union-find finish)
  manifest-bounded snapshot manifest scope: one row per data file of one
                   table version

`head()`/`first()`/`take(k)` are <= k rows by API contract and out of
scope. The board is regenerable: any new un-annotated site (or an
unknown class) exits 1. InventorySpec runs it in Tier-1, as RelationalSpec
runs the skew audit (src/test/scala/graft/SkewAudit.scala).

Usage: python3 tools/collect_audit.py [out.json]   (default COLLECTAUDIT.json)
More than one argument, or one starting with "-", prints this usage and
exits 1, writing nothing.
"""
import json, os, re, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src", "main", "scala")
USAGE = "Usage: python3 tools/collect_audit.py [out.json]   (default COLLECTAUDIT.json)"
if len(sys.argv) > 2 or (len(sys.argv) == 2 and sys.argv[1].startswith("-")):
    sys.exit(USAGE)
OUT = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "COLLECTAUDIT.json")

CLASSES = {"stat-frame", "enum-bounded", "k-bounded", "sample-bounded",
           "threshold-gated", "manifest-bounded"}
SITE_RE = re.compile(r"\.collect\(\)|\.collectAsList\(|toLocalIterator|collectAsMap")
ANN_RE = re.compile(r"driver-bound\(([a-z-]+)\):\s*(.*?)\s*$")
WINDOW = 6  # annotation must sit on the site line or <= 6 lines above

sites, problems = [], []
for dirpath, _, files in os.walk(SRC):
    for fn in sorted(files):
        if not fn.endswith(".scala"):
            continue
        path = os.path.join(dirpath, fn)
        rel = os.path.relpath(path, ROOT)
        lines = open(path).read().splitlines()
        # annotations: (line_idx, class, reason, consumed)
        anns = []
        for i, line in enumerate(lines):
            m = ANN_RE.search(line)
            if m:
                anns.append([i, m.group(1), m.group(2), False])
        for i, line in enumerate(lines):
            stripped = line.strip()
            if stripped.startswith("//") or stripped.startswith("*"):
                continue
            if not SITE_RE.search(line):
                continue
            # bind the nearest unconsumed annotation within the window
            cand = [a for a in anns
                    if not a[3] and i - WINDOW <= a[0] <= i]
            if not cand:
                problems.append(f"{rel}:{i + 1} driver materialization "
                                f"without a driver-bound annotation")
                continue
            a = max(cand, key=lambda x: x[0])
            a[3] = True
            if a[1] not in CLASSES:
                problems.append(f"{rel}:{i + 1} unknown driver-bound "
                                f"class '{a[1]}'")
                continue
            sites.append({"file": rel, "line": i + 1, "class": a[1],
                          "reason": a[2], "site": stripped[:120]})
        for a in anns:
            if not a[3]:
                problems.append(f"{rel}:{a[0] + 1} dangling driver-bound "
                                f"annotation with no site within "
                                f"{WINDOW} lines below")

summary = {}
for s in sites:
    summary[s["class"]] = summary.get(s["class"], 0) + 1

board = {
    "_meta": {
        "tool": "tools/collect_audit.py",
        "regenerate": "python3 tools/collect_audit.py",
        "contract": ("every driver-materialization site in src/main must "
                     "carry a driver-bound(<class>) annotation whose class "
                     "is one of the six bounded families; un-annotated "
                     "sites and unknown classes exit 1"),
        "classes": sorted(CLASSES),
        "site_count": len(sites),
        "summary": dict(sorted(summary.items())),
        "review_count": len(problems),
        "problems": problems,
    },
    "sites": sorted(sites, key=lambda s: (s["file"], s["line"])),
}
json.dump(board, open(OUT, "w"), indent=1)
print(f"[collectaudit] {len(sites)} sites {summary}; "
      f"{len(problems)} problems -> {OUT}")
for p in problems:
    print(f"[collectaudit] REVIEW {p}")
sys.exit(1 if problems else 0)
