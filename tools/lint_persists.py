#!/usr/bin/env python3
"""Cache-hygiene lint (dev tooling): every DataFrame `.persist(` in
src/main must live inside one of the audited lifecycle regimes, or the
driver's 200+-gate Verify/Bench sessions accumulate pinned blocks that
`OperatorCaches.releaseAll` cannot release (the r8/r9 finding — fixed
twice for instances; this lint closes the class).

Allowed regimes, checked per occurrence:
  1. the two cache seams themselves: the pass-scoped pin registry
     (operators/OperatorCaches.scala, released by `releaseAll`) and the
     cross-gate memo (queries/SessionMemo.scala, released by `evict`) —
     the ONLY places a DataFrame persist is issued;
  2. RDD-level persists (receiver `rdd`/`*Rdd`): released by the
     ContextCleaner once the result frame is collected/unreferenced,
     never pinned in the session CacheManager;
  3. in-function lifecycles in files on the PAIRED allowlist, where
     every raw persist has a matching unpersist in the same file
     (counted; a new unpaired persist in those files still fails).

Anything else is a violation: route it through
`graft.operators.OperatorCaches.cache(...)` (per pass) or
`graft.queries.SessionMemo.frame(...)` (shared across gates) instead.

Usage: python3 tools/lint_persists.py   (exit 1 on any violation)
"""
import os, re, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(REPO, "src", "main", "scala")

ADAPTERS = {"operators/OperatorCaches.scala", "queries/SessionMemo.scala"}
# files allowed raw DF persists because every one is paired with an
# explicit unpersist / finally-unpersist in the same function
PAIRED = {"operators/ConnectedComponents.scala"}

RDD_RECV = re.compile(r"\b(\w*[rR]dd)\s*\.persist\(")
PERSIST = re.compile(r"\.persist\(")


def lint():
    violations = []
    for root, _, files in os.walk(SRC):
        for fn in files:
            if not fn.endswith(".scala"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, SRC).replace(os.sep, "/")
            rel = rel.split("graft/", 1)[-1]
            lines = open(path).read().splitlines()
            raw_hits = []
            for i, ln in enumerate(lines):
                if not PERSIST.search(ln):
                    continue
                if rel in ADAPTERS:
                    continue
                if RDD_RECV.search(ln):
                    continue
                raw_hits.append(i + 1)
            if not raw_hits:
                continue
            if rel in PAIRED:
                n_unp = sum("unpersist" in ln for ln in lines)
                if n_unp >= len(raw_hits):
                    continue
                violations.append(
                    (rel, raw_hits[0],
                     f"{len(raw_hits)} raw persists but only {n_unp} "
                     f"unpersists — a new unpaired persist slipped in"))
                continue
            for ln_no in raw_hits:
                violations.append(
                    (rel, ln_no,
                     "raw .persist outside every audited regime — use "
                     "graft.operators.OperatorCaches.cache(...) so "
                     "OperatorCaches.releaseAll can unpin it"))
    return violations


def main():
    violations = lint()
    for rel, ln, why in violations:
        print(f"FAIL  src/main/scala/graft/{rel}:{ln}: {why}")
    if not violations:
        print("persist lint: clean")
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
