#!/usr/bin/env python3
"""Funnel lint: lineage truncation, sessions, store commits, reads, processes, sinks,
and the lineage-truncation audit's citations.

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
silently drops GraftExtensions and the planner thresholds) or
`.newSession(` (Spark keys its codegen cache by session classloader, so a
child session made per call recompiles every class its plan generates;
`GraftSession.child` memoizes one per parent), and no file may assign
`experimental.extraStrategies` (the per-call patch that only such a
session needs).

Rule 3 — one commit core. The persisted stores (TextIndex, AnnIndex,
SketchStore, and Governance's published snapshots) commit through
`Storage.commit` / `Storage.publish`, which alone know where a store's
commit pointers (`_commits/<version>`) live and what they hold. No
main-source file other than sources/Storage.scala may build a `_commits`
or `.../manifest` path; a store that wrote its own would be back to a
private versioning scheme. And a serving store only adds files: in
functions/TextIndex.scala, functions/AnnIndex.scala and
functions/SketchStore.scala no write may use the `"append"` mode, and no
line may call `Storage.rewrite(`, `Storage.replace(` or `Storage.append(`
(each rewrites or grows a table a committed version names); a verb writes
the next version's directories through `Version.write`.

Rule 4 — declared schemas. A parquet read without a schema starts a
Spark job to re-read a footer on every call. The stores know their
tables' schemas (`TextIndex.Schemas`, `AnnIndex.Schemas`,
`SketchStore.Schemas`), so in every main source every `.read` chain that
reaches `.parquet(` must pass `.schema(` on the way; a table of unknown
schema goes through `Storage.get`. Two inferring reads are exempt by the
name of the definition they sit in (the last `def name` or registry query
`val name = Q(` before them): `Storage.get`'s own read, which fills its
schema memo, and `Governance.schemaEvolution` (`x_schema_evolution`),
whose `mergeSchema` inference is what the query checks.

Rule 5 — no forked processes. A child process costs milliseconds (the
fork, plus Hadoop's stderr reader thread), which is what Hadoop's local
file system without libhadoop paid per metadata call before graft's
fork-free `NioLocalFileSystem` replaced it. No main-source file may start a
process (`ProcessBuilder`, `scala.sys.process`, `Runtime.getRuntime.exec`),
and only GraftSession.scala may set `fs.file.impl` or
`fs.AbstractFileSystem.file.impl`, so every session gets that file system
and no main swaps it back. Comment lines are skipped.

Rule 6 — one exactly-once dest. RainStorm writes its dest through the
commit log's sink (`CommitLog.writeStream`, whose intent-log epoch commit
lands a replayed micro-batch exactly once), not through a per-batch file
write of its own. No `.write` chain in streaming/RainStorm.scala may reach
`.parquet(`, and no main-source file other than sources/CommitLog.scala
may implement `StreamingWrite` or `DataWriter`. The read half is one
stream too: a single log is a one-partition topic, so
sources/CommitLog.scala implements `MicroBatchStream` exactly once and no
other main-source file implements it. Comment lines are skipped.

Rule 7 — the audit cites live sites. Every `File.scala:N` citation in
SCALE.md's lineage-truncation table must name a line of that main source
that holds a `.truncateLineage(` call. Line numbers drift with every edit
above a site, and a stale row points the audit at the wrong frame.

Usage: python3 tools/checkpoint_lint.py [src_root]
       python3 tools/checkpoint_lint.py --selftest
Exit 1 on any violation of any rule.
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
CHILD_SESSION = re.compile(r"\.\s*newSession\s*\(")
STRATEGY_ASSIGN = re.compile(r"\bextraStrategies\s*(?:\+\+|:\+|\+)?=(?!=)")


MANIFEST_OWNERS = ("graft/sources/Storage.scala",)
# A commit-pointer or manifest path in code: `s"$p/_commits/..."`,
# `"_commits"`, `s"$p/manifest"`, `".../manifest/..."` or a `"manifest"`
# path segment. Comment lines are skipped, so prose may name them.
MANIFEST_PATH = re.compile(r"""\b_commits\b|/manifest\b|["']manifest["']""")
COMMENT_LINE = re.compile(r"^\s*(//|/\*|\*)")

APPEND_ONLY_STORES = ("graft/functions/TextIndex.scala", "graft/functions/AnnIndex.scala",
                      "graft/functions/SketchStore.scala")
# An append-mode write, or a call that rewrites or grows a committed table.
IN_PLACE_WRITE = re.compile(
    r"""["']append["']|\bStorage\s*\.\s*(?:rewrite|replace|append)\s*\(""")


# (file, definition) whose schema-less read is the point: Storage.get infers
# once and memoizes; x_schema_evolution checks the inferred schema merge.
SCHEMA_EXEMPT = (("graft/sources/Storage.scala", "get"),
                 ("graft/queries/Governance.scala", "schemaEvolution"))
# A `def name`, or a registry query's `val name = Q(` (its body is a lambda).
DEF_NAME = re.compile(r"\bdef\s+(\w+)|\bval\s+(\w+)\s*=\s*Q\s*\(")
# `.read`, then any calls but `.schema(...)`, then `.parquet(` — across lines.
UNDECLARED_READ = re.compile(
    r"\.\s*read\b((?:\s*\.\s*(?!schema\b)\w+\s*\((?:[^()]|\([^()]*\))*\))*)"
    r"\s*\.\s*parquet\s*\(")


PROCESS_START = re.compile(
    r"\bProcessBuilder\b|\bsys\s*\.\s*process\b|\bRuntime\s*\.\s*getRuntime\b[\s().]*exec\b")
FS_IMPL_KEY = re.compile(r"\bfs\.(?:AbstractFileSystem\.)?file\.impl\b")


DEST_WRITER = "graft/streaming/RainStorm.scala"
SINK_OWNER = "graft/sources/CommitLog.scala"
# `.write`, then any calls, then `.parquet(` — across lines.
PARQUET_WRITE = re.compile(
    r"\.\s*write\b((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\s*\(")
SINK_IMPL = re.compile(r"\b(?:extends|with|new)\s+(?:[\w.]+\.)?(?:StreamingWrite|DataWriter)\b")
STREAM_IMPL = re.compile(r"\b(?:extends|with|new)\s+(?:[\w.]+\.)?MicroBatchStream\b")


AUDIT_DOC = "SCALE.md"
AUDIT_HEADING = re.compile(r"^## Lineage-truncation audit\b.*$", re.M)
CITATION = re.compile(r"\b(\w+\.scala):(\d+(?:,\d+)*)")
TRUNCATE_CALL = re.compile(r"\.\s*truncateLineage\s*\(")


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
            hits += CHILD_SESSION.finditer(text)
        for m in sorted(hits, key=lambda m: m.start()):
            i = text.count("\n", 0, m.start()) + 1
            bad.append(f"{p}:{i}: {m.group(0).split()[0].strip('.(')}")
    return bad


def scan_manifests(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        if p.replace(os.sep, "/").endswith(MANIFEST_OWNERS):
            continue
        for i, line in enumerate(open(p, encoding="utf-8"), 1):
            if not COMMENT_LINE.match(line) and MANIFEST_PATH.search(line):
                bad.append(f"{p}:{i}: {line.strip()}")
    return bad


def scan_in_place_writes(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        if not p.replace(os.sep, "/").endswith(APPEND_ONLY_STORES):
            continue
        for i, line in enumerate(open(p, encoding="utf-8"), 1):
            if not COMMENT_LINE.match(line) and IN_PLACE_WRITE.search(line):
                bad.append(f"{p}:{i}: {line.strip()}")
    return bad


def scan_schema_reads(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        unix = p.replace(os.sep, "/")
        exempt = {d for f, d in SCHEMA_EXEMPT if unix.endswith(f)}
        # blank comment lines, keeping line numbers, so prose may name the call
        text = "".join("\n" if COMMENT_LINE.match(l) else l
                       for l in open(p, encoding="utf-8").readlines())
        for m in UNDECLARED_READ.finditer(text):
            defs = [d or v for d, v in DEF_NAME.findall(text, 0, m.start())]
            if defs and defs[-1] in exempt:
                continue
            i = text.count("\n", 0, m.start()) + 1
            bad.append(f"{p}:{i}: {' '.join(m.group(0).split())}")
    return bad


def scan_processes(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        factory = p.replace(os.sep, "/").endswith(FACTORY)
        for i, line in enumerate(open(p, encoding="utf-8"), 1):
            if COMMENT_LINE.match(line):
                continue
            if PROCESS_START.search(line) or (not factory and FS_IMPL_KEY.search(line)):
                bad.append(f"{p}:{i}: {line.strip()}")
    return bad


def scan_sinks(root: str = "src/main/scala"):
    bad = []
    for p in scala_files(root):
        unix = p.replace(os.sep, "/")
        # blank comment lines, keeping line numbers, so prose may name the calls
        text = "".join("\n" if COMMENT_LINE.match(l) else l
                       for l in open(p, encoding="utf-8").readlines())
        hits = list(PARQUET_WRITE.finditer(text)) if unix.endswith(DEST_WRITER) else []
        streams = list(STREAM_IMPL.finditer(text))
        if unix.endswith(SINK_OWNER):
            if not streams:
                bad.append(f"{p}: no MicroBatchStream (the commit-log source is missing)")
            hits += streams[1:]  # exactly one stream: a single log is a one-partition topic
        else:
            hits += SINK_IMPL.finditer(text)
            hits += streams
        for m in sorted(hits, key=lambda m: m.start()):
            i = text.count("\n", 0, m.start()) + 1
            bad.append(f"{p}:{i}: {' '.join(m.group(0).split())}")
    return bad


def scan_citations(root: str = "src/main/scala", doc: str = AUDIT_DOC):
    text = open(doc, encoding="utf-8").read()
    head = AUDIT_HEADING.search(text)
    if not head:
        return [f"{doc}: no lineage-truncation audit section"]
    section = text[head.end():]
    end = re.search(r"^## ", section, re.M)
    rows = [l for l in section[:end.start() if end else None].splitlines() if l.startswith("|")]
    sources = {}
    for p in scala_files(root):
        sources.setdefault(os.path.basename(p), []).append(p)
    bad = []
    for row in rows:
        for c in CITATION.finditer(row):
            paths = sources.get(c.group(1), [])
            if len(paths) != 1:
                bad.append(f"{doc}: {c.group(0)}: {len(paths)} main sources named {c.group(1)}")
                continue
            lines = open(paths[0], encoding="utf-8").read().splitlines()
            for n in map(int, c.group(2).split(",")):
                if not (1 <= n <= len(lines) and TRUNCATE_CALL.search(lines[n - 1])):
                    bad.append(f"{doc}: {c.group(1)}:{n} holds no truncateLineage call")
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
                    "  .builder()\n  .withExtensions(new GraftExtensions)\n"
                    "  def child(p: SparkSession) = p.newSession() }\n")
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
        with open(os.path.join(d, "Child.scala"), "w") as f:
            f.write("/** prose naming newSession() is fine */\n"
                    "object Child { def q(s: SparkSession) = {\n"
                    "  val s2 = s\n    .newSession()\n  s2 } }\n")
        bad = scan_sessions(td)
        assert len(bad) == 3 and any("Child.scala:4" in b for b in bad), \
            f"selftest: planted per-call newSession not caught: {bad}"
        # rule 3: only Storage builds commit-pointer or manifest paths
        src = os.path.join(g, "sources")
        os.makedirs(src)
        with open(os.path.join(src, "Storage.scala"), "w") as f:
            f.write("object Storage { private val Pointers = \"_commits\"\n"
                    "  def m(s: String) = Paths.get(s, \"manifest\") }\n")
        with open(os.path.join(d, "LegalStore.scala"), "w") as f:
            f.write("/** Commits through Storage.commit; its pointer is\n"
                    "  * Storage's `path/_commits/<v>` file, no `manifest`. */\n"
                    "object LegalStore { def b(v: Version) = Storage.commit(v) }\n")
        assert scan_manifests(td) == [], \
            f"selftest: legal pointer mentions flagged: {scan_manifests(td)}"
        with open(os.path.join(d, "Governance.scala"), "w") as f:
            f.write("object Governance { val m = s\"$base/manifest\" }\n")
        with open(os.path.join(d, "OwnPointer.scala"), "w") as f:
            f.write("object OwnPointer {\n"
                    "  private def live(p: String) = ls(s\"$p/_commits\").max }\n")
        bad = scan_manifests(td)
        assert len(bad) == 2 and any("Governance.scala:1" in b for b in bad) \
            and any("OwnPointer.scala:2" in b for b in bad), \
            f"selftest: planted manifest / commit-pointer paths not caught: {bad}"
        # rule 3: the serving stores only add files
        fn = os.path.join(g, "functions")
        os.makedirs(fn)
        with open(os.path.join(fn, "SketchStore.scala"), "w") as f:
            f.write("/** Never \"append\" mode or Storage.rewrite(df, p) here. */\n"
                    "object SketchStore { def a(v: Version, df: DataFrame) =\n"
                    "  v.write(df, \"segments\")\n  // not Storage.append(df, p)\n}\n")
        assert scan_in_place_writes(td) == [], \
            f"selftest: legal store writes flagged: {scan_in_place_writes(td)}"
        with open(os.path.join(fn, "AnnIndex.scala"), "w") as f:
            f.write("object AnnIndex {\n"
                    "  def a(df: DataFrame, p: String) = df.write.mode(\"append\").parquet(p)\n"
                    "  def c(df: DataFrame, p: String) = Storage.rewrite(df, p)\n"
                    "  def b(df: DataFrame, p: String) = Storage.replace(df, p) }\n")
        bad = scan_in_place_writes(td)
        assert len(bad) == 3 and all(f"AnnIndex.scala:{i}" in b for i, b in zip((2, 3, 4), bad)), \
            f"selftest: planted in-place store writes not caught: {bad}"
        os.remove(os.path.join(fn, "AnnIndex.scala"))
        os.remove(os.path.join(fn, "SketchStore.scala"))
        # rule 4: TextIndex reads its tables with their declared schemas
        with open(os.path.join(fn, "TextIndex.scala"), "w") as f:
            f.write("/** Never `spark.read.parquet(p)` here. */\n"
                    "object TextIndex {\n"
                    "  def t(s: SparkSession, p: String) = s.read.schema(Schemas(\"docs\"))"
                    ".parquet(p)\n"
                    "  def u(s: SparkSession, b: String, d: Seq[String]) =\n"
                    "    s.read.schema(S).option(\"basePath\", b).parquet(d: _*)\n"
                    "  // spark.read.parquet(path) in a comment is prose\n}\n")
        with open(os.path.join(d, "Other.scala"), "w") as f:
            f.write("object Other { def r(s: SparkSession) = s.read.schema(S).parquet(\"x\") }\n")
        assert scan_schema_reads(td) == [], \
            f"selftest: declared-schema reads flagged: {scan_schema_reads(td)}"
        with open(os.path.join(fn, "TextIndex.scala"), "a") as f:
            f.write("object Planted {\n"
                    "  def v(s: SparkSession, p: String) = s.read.parquet(s\"$p/stats\")\n"
                    "  def w(s: SparkSession, b: String) = s.read\n"
                    "    .option(\"basePath\", b)\n    .parquet(b) }\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 2 and "TextIndex.scala:9" in bad[0] \
            and "TextIndex.scala:10" in bad[1], \
            f"selftest: planted schema-less TextIndex reads not caught: {bad}"
        with open(os.path.join(fn, "SketchStore.scala"), "w") as f:
            f.write("object SketchStore {\n"
                    "  def m(s: SparkSession, p: String) = Storage.get(s, s\"$p/meta\")\n"
                    "  def k(s: SparkSession, p: String) = s.read.parquet(s\"$p/meta\") }\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 3 and any("SketchStore.scala:3" in b for b in bad), \
            f"selftest: planted schema-less SketchStore read not caught: {bad}"
        with open(os.path.join(fn, "AnnIndex.scala"), "w") as f:
            f.write("object AnnIndex {\n"
                    "  def c(s: SparkSession, p: String) = Storage.get(s, s\"$p/codes\")\n"
                    "  def m(s: SparkSession, p: String) = s.read.parquet(s\"$p/meta\") }\n")
        with open(os.path.join(d, "Serving.scala"), "w") as f:
            f.write("object Serving {\n"
                    "  def b(s: SparkSession, m: DataFrame) = s.read.schema(m.schema).parquet(B)\n"
                    "  def r(s: SparkSession) = s.read.option(\"x\", \"y\").parquet(B) }\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 5 and any("AnnIndex.scala:3" in b for b in bad) \
            and any("Serving.scala:3" in b for b in bad), \
            f"selftest: planted schema-less AnnIndex / Serving reads not caught: {bad}"
        # Storage: get's own inferring read is legal, any other is not
        with open(os.path.join(src, "Storage.scala"), "w") as f:
            f.write("object Storage {\n"
                    "  def get(s: SparkSession, p: String) = {\n"
                    "    val df = s.read.parquet(p)\n    df }\n"
                    "  def v(s: SparkSession, d: Seq[String]) = s.read.schema(S).parquet(d: _*)\n"
                    "}\n")
        assert len(scan_schema_reads(td)) == 5, \
            f"selftest: Storage.get's memo read flagged: {scan_schema_reads(td)}"
        with open(os.path.join(src, "Storage.scala"), "a") as f:
            f.write("object Planted {\n"
                    "  def quantify(s: SparkSession, p: String) = s.read.parquet(p).count() }\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 6 and any("Storage.scala:8" in b for b in bad), \
            f"selftest: planted schema-less Storage read not caught: {bad}"
        # rule 4 covers every main source, not only the store files
        with open(os.path.join(d, "Other.scala"), "w") as f:
            f.write("object Other { def r(s: SparkSession) = s.read.parquet(\"x\") }\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 7 and any("Other.scala:1" in b for b in bad), \
            f"selftest: planted schema-less read outside the store files not caught: {bad}"
        # x_schema_evolution's inferring read is exempt by its query val, no
        # other query's is
        with open(os.path.join(d, "Governance.scala"), "w") as f:
            f.write("object Governance {\n"
                    "  val schemaEvolution = Q(\n"
                    "    \"x_schema_evolution\",\n"
                    "    (s, d) => s.read.option(\"mergeSchema\", \"true\")\n"
                    "      .parquet(a, b))\n"
                    "  val wapPublish = Q(\"x_wap_publish\", (s, d) => s.read.parquet(p))\n}\n")
        bad = scan_schema_reads(td)
        assert len(bad) == 8 and any("Governance.scala:6" in b for b in bad) \
            and not any("Governance.scala:4" in b for b in bad), \
            f"selftest: x_schema_evolution flagged or another query's read not caught: {bad}"
        # rule 5: no process starts; only the factory names the fs impl keys
        assert scan_processes(td) == [], \
            f"selftest: clean tree flagged by rule 5: {scan_processes(td)}"
        with open(os.path.join(g, "GraftSession.scala"), "a") as f:
            f.write("object Fs { val k = \"spark.hadoop.fs.file.impl\" }\n")
        with open(os.path.join(d, "Forks.scala"), "w") as f:
            f.write("/** Never use ProcessBuilder or sys.process here. */\n"
                    "object Forks { def ls(d: String) = new ProcessBuilder(\"ls\", d).start() }\n")
        with open(os.path.join(d, "Swap.scala"), "w") as f:
            f.write("// prose naming fs.AbstractFileSystem.file.impl is fine\n"
                    "object Swap { def f(c: Configuration) =\n"
                    "  c.set(\"fs.AbstractFileSystem.file.impl\", \"x\") }\n")
        bad = scan_processes(td)
        assert len(bad) == 2 and any("Forks.scala:2" in b for b in bad) \
            and any("Swap.scala:3" in b for b in bad), \
            f"selftest: planted process start / fs impl override not caught: {bad}"
        for stmt in ("import scala.sys.process._", "Runtime.getRuntime().exec(\"ls\")",
                     "Runtime.getRuntime.exec(Array(\"ls\"))"):
            with open(os.path.join(d, "Forks.scala"), "w") as f:
                f.write(f"object Forks {{ {stmt} }}\n")
            assert any("Forks.scala:1" in b for b in scan_processes(td)), \
                f"selftest: planted `{stmt}` not caught"
        # rule 6: RainStorm's dest goes through the commit log's sink, the
        # one StreamingWrite / DataWriter
        st = os.path.join(g, "streaming")
        os.makedirs(st)
        with open(os.path.join(st, "RainStorm.scala"), "w") as f:
            f.write("/** Never batch.write.parquet(dest) here. */\n"
                    "object RainStorm { def w(df: DataFrame, d: String, c: String) =\n"
                    "  CommitLog.writeStream(df, d, c).start()\n"
                    "  def l(p: Path) = Files.write(p, Array.emptyByteArray) }\n")
        with open(os.path.join(src, "CommitLog.scala"), "w") as f:
            f.write("class CommitLogStreamingWrite extends StreamingWrite\n"
                    "class CommitLogDataWriter extends DataWriter[InternalRow]\n"
                    "class CommitLogMicroBatchStream(p: String)\n"
                    "  extends MicroBatchStream with SupportsAdmissionControl\n")
        with open(os.path.join(d, "Other.scala"), "w") as f:
            f.write("object Other { def w(df: DataFrame) = df.write.parquet(\"x\") }\n")
        assert scan_sinks(td) == [], f"selftest: legal sink code flagged: {scan_sinks(td)}"
        with open(os.path.join(st, "RainStorm.scala"), "a") as f:
            f.write("object Planted { def s(d: String) = (b: DataFrame, id: Long) =>\n"
                    "  b.write\n    .mode(\"overwrite\")\n    .parquet(s\"$d/batch_id=$id\") }\n")
        with open(os.path.join(d, "MySink.scala"), "w") as f:
            f.write("class MyWrite extends org.apache.spark.sql.connector.write.streaming.StreamingWrite\n"
                    "class MyWriter(p: Int) extends Serializable with DataWriter[InternalRow]\n"
                    "object Anon { val w = new DataWriter[InternalRow] { } }\n"
                    "class F extends StreamingDataWriterFactory\n")
        bad = scan_sinks(td)
        assert len(bad) == 4 and "RainStorm.scala:6" in bad[0] \
            and all(f"MySink.scala:{i}" in b for i, b in zip((1, 2, 3), bad[1:])), \
            f"selftest: planted parquet dest write / foreign sink not caught: {bad}"
        # one commit-log stream: a second one inside CommitLog.scala, or one
        # anywhere else, is flagged
        with open(os.path.join(src, "CommitLog.scala"), "a") as f:
            f.write("/** A second stream class extends MicroBatchStream. */\n"
                    "class CommitLogTopicMicroBatchStream(d: String)\n"
                    "  extends MicroBatchStream with SupportsTriggerAvailableNow\n")
        with open(os.path.join(d, "MyStream.scala"), "w") as f:
            f.write("object MyStream { val s = new org.apache.spark.sql.connector.read"
                    ".streaming.MicroBatchStream { } }\n")
        bad = scan_sinks(td)
        assert len(bad) == 6 and any("CommitLog.scala:7" in b for b in bad) \
            and any("MyStream.scala:1" in b for b in bad), \
            f"selftest: planted second commit-log stream / foreign stream not caught: {bad}"
        with open(os.path.join(src, "CommitLog.scala"), "w") as f:
            f.write("class CommitLogStreamingWrite extends StreamingWrite\n")
        bad = scan_sinks(td)
        assert len(bad) == 6 and any(b.endswith("missing)") for b in bad), \
            f"selftest: a CommitLog.scala without its stream not caught: {bad}"
        # rule 7: each audit citation names a line holding a truncateLineage call
        with open(os.path.join(fn, "Pins.scala"), "w") as f:
            f.write("object Pins {\n  def a(df: DataFrame) = df\n    .truncateLineage()\n"
                    "  // a comment\n  def b(df: DataFrame) = df.truncateLineage() }\n")
        doc = os.path.join(td, "SCALE.md")
        with open(doc, "w") as f:
            f.write("## Lineage-truncation audit (r17)\n\n| Site(s) | Frame |\n|---|---|\n"
                    "| `Pins.scala:3,5` | pins |\n\n## Next\n\n`Pins.scala:4` is outside the table\n")
        assert scan_citations(td, doc) == [], \
            f"selftest: correct citations flagged: {scan_citations(td, doc)}"
        text = open(doc).read().replace("| `Pins.scala:3,5` | pins |",
                                        "| `Pins.scala:3,5` | pins |\n| `Pins.scala:4` | drifted |")
        with open(doc, "w") as f:
            f.write(text)
        bad = scan_citations(td, doc)
        assert bad == [f"{doc}: Pins.scala:4 holds no truncateLineage call"], \
            f"selftest: drifted citation not caught: {bad}"
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
              "main needs; take a child session from GraftSession.child.")
    manifests = scan_manifests(root)
    if manifests:
        print(f"checkpoint_lint: {len(manifests)} commit-pointer or manifest path(s) built "
              f"outside Storage:")
        for b in manifests:
            print("  " + b)
        print("Commit through Storage.commit/publish and read versions through "
              "Storage.head/committed instead of a store-local pointer or manifest.")
    in_place = scan_in_place_writes(root)
    if in_place:
        print(f"checkpoint_lint: {len(in_place)} in-place write(s) in a serving store:")
        for b in in_place:
            print("  " + b)
        print("Write the next version's directory through Version.write and "
              "commit it; never append to or rewrite a committed table.")
    reads = scan_schema_reads(root)
    if reads:
        print(f"checkpoint_lint: {len(reads)} parquet read(s) without a declared schema:")
        for b in reads:
            print("  " + b)
        print("Read store tables with their declared schema (Version.read), or a "
              "table of unknown schema through Storage.get.")
    procs = scan_processes(root)
    if procs:
        print(f"checkpoint_lint: {len(procs)} process start(s) or file-system "
              f"override(s):")
        for b in procs:
            print("  " + b)
        print("Do the work in-process (java.nio for file metadata), and leave "
              "fs.file.impl / fs.AbstractFileSystem.file.impl to GraftSession.")
    sinks = scan_sinks(root)
    if sinks:
        print(f"checkpoint_lint: {len(sinks)} RainStorm parquet write(s), streaming "
              f"writer(s) outside CommitLog or commit-log stream(s) besides the one:")
        for b in sinks:
            print("  " + b)
        print("Write RainStorm's dest through CommitLog.writeStream; the commit "
              "log's sink is the one exactly-once StreamingWrite, and its "
              "MicroBatchStream the one source stream (a single log is a "
              "one-partition topic).")
    citations = scan_citations(root)
    if citations:
        print(f"checkpoint_lint: {len(citations)} stale lineage-audit citation(s) in "
              f"{AUDIT_DOC}:")
        for b in citations:
            print("  " + b)
        print("Re-point each row of SCALE.md's lineage-truncation table at the line "
              "that holds its truncateLineage call.")
    if bad or sessions or manifests or in_place or reads or procs or sinks or citations:
        return 1
    print("checkpoint_lint: clean (all truncation goes through "
          "Layout.truncateLineage; all sessions through GraftSession; all "
          "commit pointers through Storage; no in-place write in a serving store; "
          "no schema-less parquet read outside Storage.get and x_schema_evolution; "
          "no process starts; only GraftSession sets the file-system impl; "
          "RainStorm's dest and every streaming writer go through CommitLog, "
          "which has the one MicroBatchStream; every SCALE.md lineage-audit "
          "citation names a truncateLineage call)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
