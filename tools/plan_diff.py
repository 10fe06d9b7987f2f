#!/usr/bin/env python3
"""Compare two graft.PlanDump directories query by query.

    python3 tools/plan_diff.py [--lines N] PARENT_DIR CHANGE_DIR

`runMain graft.PlanDump <sfDir> <outDir> <tag> <prefixes...>` writes one
`<query>_<tag>.txt` per query (the formatted physical plan). This script
pairs the files of two such directories by query name, masks what
differs between any two JVM runs, and reports per query:

  - whether the OPERATOR TREE (the text before the first `(1) ` detail
    block) is identical;
  - which lines of the FULL text differ (at most N of them, default 20,
    as a unified diff of the masked text).

Masked: expression ids (`#12`, `obj#3`), `plan_id=`, `RDD[n]`,
`at File.scala:n` call sites, lambda variable suffixes (`lambda x_3`),
JVM lambda class ids (`$Lambda$123/0x...`) and identity hashes
(`Aggregator@1a2b3c`; the content hash of `UnsafeArrayData@...` is
kept). Exit status 1 when any operator tree differs or a query is
missing on one side, else 0.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"at [A-Za-z0-9_$]+\.scala:\d+"), "at SRC"),
    (re.compile(r"lambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N/0xH"),
    (re.compile(r"(?<!UnsafeArrayData)@[0-9a-f]{4,}\b"), "@H"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    """{query name: masked plan text}; the tag is the last `_` field."""
    out = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt"):
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                out[name[:-4].rsplit("_", 1)[0]] = mask(f.read())
    return out


def tree(text):
    cut = text.find("\n(1) ")
    return text if cut < 0 else text[:cut]


def main(argv):
    limit = 20
    if argv[:1] == ["--lines"]:
        limit, argv = int(argv[1]), argv[2:]
    if len(argv) != 2:
        sys.exit(__doc__)
    parent, change = plans(argv[0]), plans(argv[1])
    missing = sorted(set(parent) ^ set(change))
    tree_diff, text_diff = [], []
    for q in sorted(set(parent) & set(change)):
        if tree(parent[q]) != tree(change[q]):
            tree_diff.append(q)
        if parent[q] != change[q]:
            text_diff.append(q)
    both = len(set(parent) & set(change))
    print(f"queries compared: {both}")
    print(f"operator tree identical: {both - len(tree_diff)}, "
          f"differs: {len(tree_diff)}")
    print(f"full text identical: {both - len(text_diff)}, "
          f"differs: {len(text_diff)}")
    for q in missing:
        side = "parent" if q in parent else "change"
        print(f"only in {side}: {q}")
    for q in text_diff:
        kind = "TREE" if q in tree_diff else "text"
        print(f"\n=== {q} [{kind}]")
        diff = [l for l in difflib.unified_diff(
            parent[q].splitlines(), change[q].splitlines(),
            "parent", "change", n=0, lineterm="")
            if not l.startswith(("---", "+++"))]
        for line in diff[:limit]:
            print(line)
        if len(diff) > limit:
            print(f"... {len(diff) - limit} more diff lines")
    sys.exit(1 if tree_diff or missing else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
