#!/usr/bin/env python3
"""Design measures of a graft checkout: lines of Scala under src/main and
src/test, every hand-written Catalyst subclass in src/main (Expression,
aggregate, LogicalPlan, SparkPlan, Rule, Strategy), one per line with its
file, and every `spark.graft.*` conf key the code in src/main reads (quoted
key literals outside comments), one per line. Usage:
  python3 tools/design_stats.py [repo_root]
"""
import glob, os, re, sys

root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

KINDS = {
    "expression": {"Expression", "LeafExpression", "UnaryExpression",
                   "BinaryExpression", "TernaryExpression",
                   "RuntimeReplaceable", "Generator", "CodegenFallback"},
    "aggregate": {"AggregateFunction", "DeclarativeAggregate",
                  "ImperativeAggregate", "TypedImperativeAggregate"},
    "logical plan": {"LogicalPlan", "LeafNode", "UnaryNode", "BinaryNode"},
    "spark plan": {"SparkPlan", "LeafExecNode", "UnaryExecNode",
                   "BinaryExecNode"},
    "rule": {"Rule"},
    "strategy": {"Strategy", "SparkStrategy"},
}
# a class or object header, up to its body, a blank line or the next definition
HEADER = re.compile(r"\b(?:class|object)\s+(\w+)([^{]*?)"
                    r"(?=\{|\n\s*\n|\b(?:class|object|trait|def|val)\b|$)", re.S)


def scala(tree):
    return sorted(glob.glob(f"{root}/{tree}/**/*.scala", recursive=True))


def loc(tree):
    return sum(sum(1 for _ in open(f, encoding="utf-8")) for f in scala(tree))


def kind(header):
    m = re.search(r"\bextends\b(.*)", header, re.S)
    if not m:
        return None
    bases = re.split(r"\bwith\b", re.sub(r"\[[^\]]*\]|\([^)]*\)", "", m.group(1)))
    names = {b.strip().split(".")[-1] for b in bases}
    return next((k for k, v in KINDS.items() if names & v), None)


found = []
conf_keys = set()
for f in scala("src/main"):
    text = re.sub(r"/\*.*?\*/|//[^\n]*", "", open(f, encoding="utf-8").read(),
                  flags=re.S)
    conf_keys.update(re.findall(r'"(spark\.graft\.[A-Za-z0-9_.]+)"', text))
    for m in HEADER.finditer(text):
        k = kind(m.group(2))
        if k:
            found.append((k, m.group(1), os.path.relpath(f, root)))

print(f"main LoC: {loc('src/main')}")
print(f"test LoC: {loc('src/test')}")
print(f"hand-written Catalyst classes: {len(found)}")
for k, name, f in sorted(found):
    print(f"  {k:<13} {name:<26} {f}")
print(f"spark.graft.* conf keys read: {len(conf_keys)}")
for key in sorted(conf_keys):
    print(f"  {key}")
