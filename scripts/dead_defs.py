#!/usr/bin/env python3
"""No-caller scan over the engine's Scala sources.

Lists every `def` in src/main whose name has no other occurrence in
src/main, src/test or perfbench/src (DEAD), and every `def` whose other
occurrences are all in src/test (TEST-ONLY). An occurrence is any whole
identifier match, comments included, so a def named only in a Scaladoc
link still counts as referenced. `override def`s are skipped (Spark or a
trait calls them). A name defined more than once counts each definition
site as a definition, not as a use.

Usage: python3 scripts/dead_defs.py [repo_root]   (always exits 0)
"""
import os
import re
import sys
from collections import defaultdict

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
OVERRIDE = re.compile(r"\boverride\b")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def scala_files(root, sub):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    trees = {"main": "src/main", "test": "src/test", "perfbench": "perfbench/src"}
    uses = defaultdict(lambda: defaultdict(int))  # name -> tree -> count
    defs = []  # (path, line, name) in src/main, not override
    def_sites = defaultdict(int)  # name -> number of def sites in src/main
    for tree, sub in trees.items():
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for m in IDENT.finditer(text):
                uses[m.group(0)][tree] += 1
            if tree != "main":
                continue
            for m in DEF.finditer(text):
                name = m.group(1)
                def_sites[name] += 1
                line_start = text.rfind("\n", 0, m.start()) + 1
                if OVERRIDE.search(text[line_start:m.start()]):
                    continue
                line = text.count("\n", 0, m.start()) + 1
                defs.append((os.path.relpath(path, root), line, name))
    dead, test_only = [], []
    for path, line, name in defs:
        other_main = uses[name]["main"] - def_sites[name]
        other = other_main + uses[name]["perfbench"]
        if other == 0 and uses[name]["test"] == 0:
            dead.append((path, line, name))
        elif other == 0:
            test_only.append((path, line, name))
    for kind, rows in (("DEAD", dead), ("TEST-ONLY", test_only)):
        for path, line, name in rows:
            print(f"{kind} {path}:{line} {name}")
    print(f"# {len(dead)} dead, {len(test_only)} test-only, {len(defs)} defs scanned")
    return 0


if __name__ == "__main__":
    sys.exit(main())
