#!/usr/bin/env python3
"""Funnel lint: lineage truncation and session construction.

Rule 1 — lineage truncation (round-16 verdict watch item #3).

`localCheckpoint` puts truncated lineage on EXECUTOR-LOCAL blocks: losing
an executor that holds them fails the job instead of recomputing — a trade
that is only safe when the checkpointed frame is provably small (model /
manifest / value-cardinality-sized, so a retried job recomputes cheaply).
The repo's answer is a single switchable wrapper,
`Layout.LineageOps.truncateLineage` (src/main/scala/graft/functions/
Layout.scala), whose call sites are audited one-by-one in SCALE.md
§"lineage-truncation audit"; setting `spark.graft.reliableCheckpoint=true`
flips EVERY site to reliable `checkpoint()` for cluster runs.

This lint makes the funnel permanent: no main-source file other than
Layout.scala may call `.localCheckpoint(` or `.checkpoint(` directly — a
direct call would be invisible to the config switch and to the SCALE.md
audit.

Rule 2 — one session factory. `GraftSession.builder` is the only place
that builds a session, so the tests, the benchmark and every main run the
same extensions and config. No main-source file other than
GraftSession.scala may call `SparkSession.builder` (a hand-rolled session
silently drops GraftExtensions and the planner thresholds), and no file may
assign `experimental.extraStrategies` (the per-call patch that only such a
session needs).

Usage: python3 tools/checkpoint_lint.py [src_root]
       python3 tools/checkpoint_lint.py --selftest
Exit 1 on any violation of either rule.
"""
import os
import re
import sys

WRAPPER = "src/main/scala/graft/functions/Layout.scala"
# Call syntax only (`.localCheckpoint(`): docstrings discussing the
# mechanism by name stay legal.
DIRECT = re.compile(r"\.(localCheckpoint|checkpoint)\s*\(")
# `ssc.checkpoint(dir)` / StreamingQuery checkpointLocation are different
# APIs; exclude option-string mentions.
EXCLUDE_LINE = re.compile(r"checkpointLocation|setCheckpointDir")


FACTORY = "graft/GraftSession.scala"
# Whole-file patterns: `SparkSession\n  .builder()` splits across lines.
SESSION_BUILDER = re.compile(r"\bSparkSession\s*\.\s*builder\b")
STRATEGY_ASSIGN = re.compile(r"\bextraStrategies\s*(?:\+\+|:\+|\+)?=(?!=)")


def scala_files(root: str):
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def scan_sessions(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        text = open(p, encoding="utf-8").read()
        hits = list(STRATEGY_ASSIGN.finditer(text))
        if not p.replace(os.sep, "/").endswith(FACTORY):
            hits += SESSION_BUILDER.finditer(text)
        for m in sorted(hits, key=lambda m: m.start()):
            i = text.count("\n", 0, m.start()) + 1
            bad.append(f"{p}:{i}: {m.group(0).split()[0]}")
    return bad


def scan(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        if os.path.normpath(p) == os.path.normpath(
                os.path.join(root, "..", "..", "..", WRAPPER)) or p.endswith(
                "functions/Layout.scala"):
            continue
        for i, line in enumerate(open(p, encoding="utf-8"), 1):
            if EXCLUDE_LINE.search(line):
                continue
            if DIRECT.search(line):
                bad.append(f"{p}:{i}: {line.strip()}")
    return bad


def selftest():
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        d = os.path.join(td, "graft", "queries")
        os.makedirs(d)
        with open(os.path.join(d, "Planted.scala"), "w") as f:
            f.write("object Planted { def x(df: DataFrame) = "
                    "df.groupBy().count().localCheckpoint() }\n")
        with open(os.path.join(d, "Legal.scala"), "w") as f:
            f.write("// prose mentioning localCheckpoint is fine\n"
                    "object Legal { def x(df: DataFrame) = "
                    "df.truncateLineage() }\n")
        bad = scan(td)
        assert len(bad) == 1 and "Planted.scala" in bad[0], \
            f"selftest: planted direct call not caught: {bad}"
        # the reliable variant must be caught too
        with open(os.path.join(d, "Planted2.scala"), "w") as f:
            f.write("object P2 { def x(df: DataFrame) = df.checkpoint(true) }\n")
        bad = scan(td)
        assert len(bad) == 2, f"selftest: direct checkpoint() not caught: {bad}"
        # rule 2: the factory may build a session; nothing else may, and
        # nothing may patch extraStrategies
        g = os.path.join(td, "graft")
        with open(os.path.join(g, "GraftSession.scala"), "w") as f:
            f.write("object GraftSession { def builder() = SparkSession\n"
                    "  .builder()\n  .withExtensions(new GraftExtensions) }\n")
        assert scan_sessions(td) == [], \
            f"selftest: the factory's own builder flagged: {scan_sessions(td)}"
        with open(os.path.join(g, "Main.scala"), "w") as f:
            f.write("object Main { val s = GraftSession.builder().getOrCreate()\n"
                    "  val t = SparkSession\n    .builder()\n"
                    "    .getOrCreate() }\n")
        bad = scan_sessions(td)
        assert len(bad) == 1 and "Main.scala:2" in bad[0], \
            f"selftest: planted SparkSession.builder not caught: {bad}"
        with open(os.path.join(d, "Patch.scala"), "w") as f:
            f.write("object Patch { def f(s: SparkSession) =\n"
                    "  s.experimental.extraStrategies = "
                    "s.experimental.extraStrategies :+ S }\n")
        bad = scan_sessions(td)
        assert len(bad) == 2 and any("Patch.scala:2" in b for b in bad), \
            f"selftest: planted extraStrategies assignment not caught: {bad}"
    print("checkpoint_lint selftest: OK (planted sites caught)")
    return 0


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        return selftest()
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    bad = scan(root)
    if bad:
        print(f"checkpoint_lint: {len(bad)} direct checkpoint call(s) outside "
              f"the Layout.truncateLineage wrapper:")
        for b in bad:
            print("  " + b)
        print("Route them through Layout.LineageOps.truncateLineage and add "
              "a row to SCALE.md's lineage-truncation audit.")
    sessions = scan_sessions(root)
    if sessions:
        print(f"checkpoint_lint: {len(sessions)} session built or patched "
              f"outside GraftSession:")
        for b in sessions:
            print("  " + b)
        print("Build from GraftSession.builder and chain the overrides the "
              "main needs.")
    if bad or sessions:
        return 1
    print("checkpoint_lint: clean (all truncation goes through "
          "Layout.truncateLineage; all sessions through GraftSession)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
