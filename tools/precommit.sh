#!/bin/sh
# Pre-commit gate for NEW/CHANGED oracles — the r10 verdict's ask after the
# HUGEINT class shipped four times across two rounds. If any staged change
# touches a file defining registry queries, require a fresh Verify dump +
# type audit to have been run (and be clean) before the commit lands.
#
# Install: ln -sf ../../tools/precommit.sh .git/hooks/pre-commit
# The gate is advisory-fast: it runs only the audit (DuckDB schema probe vs
# the last Verify parquet dump), not Spark. Run the dump first:
#   sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/precommit_out <substr>'
# then commit; the hook audits /tmp/precommit_out if query files changed.

set -e
OUT=${GRAFT_PRECOMMIT_OUT:-/tmp/precommit_out}
SF=${GRAFT_PRECOMMIT_SF:-/root/testdata/sf0.01}

# EXPLAIN.md drift: when per-query plan dumps are given in $OUT/explain,
# each must match its EXPLAIN.md section modulo expression/plan/RDD ids and
# lambda names (any main source can move a plan, so this runs first). Dump:
#   sbt -batch 'runMain graft.Explain <sf0.001 dir> $OUT/explain check <query>...'
if [ -d "$OUT/explain" ]; then
  python3 tools/explain_check.py --selftest >/dev/null || {
    echo "pre-commit: explain_check SELFTEST failed — a planted plan change"
    echo "no longer fails (or an id-only change does); fix tools/explain_check.py."
    exit 1
  }
  python3 tools/explain_check.py "$OUT/explain" EXPLAIN.md || {
    echo "pre-commit: EXPLAIN.md sections drifted from the fresh plan dumps in"
    echo "$OUT/explain — replace those sections with the dumped plans."
    exit 1
  }
fi

QUERY_FILES=$(git diff --cached --name-only | grep -E 'src/main/scala/graft/queries/' || true)
[ -z "$QUERY_FILES" ] && exit 0

if [ ! -f "$OUT/oracle_sql.json" ]; then
  echo "pre-commit: query files changed ($QUERY_FILES) but no Verify dump at $OUT."
  echo "Run: sbt -batch 'runMain graft.Verify $SF $OUT <changed-query-substr>'"
  echo "(or set GRAFT_PRECOMMIT_OUT to your dump dir; GRAFT_PRECOMMIT_SKIP=1 to bypass)"
  [ -n "$GRAFT_PRECOMMIT_SKIP" ] && exit 0
  exit 1
fi

if command -v python3 >/dev/null && python3 -c 'import duckdb' 2>/dev/null; then
  python3 tools/type_audit.py "$OUT" "$SF" || {
    echo "pre-commit: oracle type audit FAILED — a DuckDB result type widens"
    echo "past the Spark column type (the HUGEINT class). CAST the oracle"
    echo "column and re-run Verify before committing."
    exit 1
  }
else
  echo "pre-commit: duckdb unavailable; type audit skipped (driver-side only)."
fi

# Published-type lint (r15 verdict item #1): every oracled query's output
# schema must use only the driver-hash-PROVEN types {BIGINT, DOUBLE, STRING,
# DATE, TIMESTAMP_NTZ} — the x_spearman_corr DECIMAL class, where both
# engines AGREE on a type the driver hash still rejects, which type_audit's
# side-by-side compare cannot see.
if command -v python3 >/dev/null && python3 -c 'import pyarrow' 2>/dev/null; then
  python3 tools/published_type_lint.py --selftest >/dev/null || {
    echo "pre-commit: published_type_lint SELFTEST failed — the planted"
    echo "DECIMAL no longer fails; fix tools/published_type_lint.py."
    exit 1
  }
  python3 tools/published_type_lint.py "$OUT" "$SF" || {
    echo "pre-commit: published-type lint FAILED — a query publishes a"
    echo "column type outside the driver-hash-proven set. CAST it to"
    echo "BIGINT/DOUBLE/STRING/DATE/TIMESTAMP on BOTH engines."
    exit 1
  }
else
  echo "pre-commit: pyarrow unavailable; published-type lint skipped."
fi

# Registry-vs-EXPLAIN diff: every registry query must have a formatted plan
# in EXPLAIN.md (the r12 verdict found two late landings shipped without
# one). Verify dumps registry.json (all names, incl. no_oracle queries).
if [ -f "$OUT/registry.json" ] && [ -f EXPLAIN.md ]; then
  python3 - "$OUT/registry.json" << 'PYEOF' || {
import json, re, sys
reg = set(json.load(open(sys.argv[1])))
plans = set(re.findall(r'^## (\S+)$', open('EXPLAIN.md').read(), re.M))
missing = sorted(reg - plans)
if missing:
    print(f"registry queries with NO plan in EXPLAIN.md ({len(missing)}): {missing}")
    sys.exit(1)
PYEOF
    echo "pre-commit: EXPLAIN.md is missing plans for registry queries —"
    echo "regenerate it: sbt 'runMain graft.Explain /root/testdata/sf0.001'"
    exit 1
  }
fi

# Unpartitioned-window lint (r14 verdict item #2): no query may plan a
# global window over a data-sized frame. Whitelist + the __p offset-frame
# idiom live in tools/window_lint.py.
if [ -f EXPLAIN.md ]; then
  python3 tools/window_lint.py --selftest >/dev/null || {
    echo "pre-commit: window_lint SELFTEST failed — the __p offset-frame"
    echo "allowance is spoofable or over-broad; fix tools/window_lint.py."
    exit 1
  }
  python3 tools/window_lint.py EXPLAIN.md || {
    echo "pre-commit: unpartitioned-window lint FAILED — a query plans a"
    echo "single-task window over a non-whitelisted frame. Rewrite with"
    echo "Layout.twoPhaseRank/twoPhasePrefixSumBefore or add a whitelist"
    echo "entry in tools/window_lint.py NAMING the frame's bound."
    exit 1
  }
fi

# Funnel lint. (1) Lineage truncation (r16 verdict watch item #3): all
# checkpointing must go through Layout.truncateLineage (config-switchable to
# reliable checkpoint()); direct localCheckpoint/checkpoint calls dodge the
# SCALE.md site audit and the cluster-mode switch. (2) One session factory:
# only GraftSession may call SparkSession.builder or .newSession(, and
# nothing may patch experimental.extraStrategies. (3) One commit core: only
# Storage may build a store's commit-pointer (`_commits`) or manifest path,
# and TextIndex, AnnIndex and SketchStore never append to or rewrite a
# committed table (no "append" mode, no Storage.rewrite/replace/append call).
# (4) Declared schemas: no `.read...parquet(` without `.schema(` in any
# main source (Storage.get's memo read and Governance.schemaEvolution's
# mergeSchema read, x_schema_evolution, exempt by name).
# (5) No forked processes: no ProcessBuilder, scala.sys.process or
# Runtime.getRuntime.exec in main sources, and only GraftSession may set
# fs.file.impl / fs.AbstractFileSystem.file.impl.
# (6) One exactly-once dest and one commit-log stream: no parquet write in
# streaming/RainStorm.scala, no StreamingWrite/DataWriter outside
# sources/CommitLog.scala, and exactly one MicroBatchStream, inside it.
# (7) Live audit citations: every `File.scala:N` in SCALE.md's
# lineage-truncation table names a line holding a truncateLineage call.
python3 tools/checkpoint_lint.py --selftest >/dev/null || {
  echo "pre-commit: checkpoint_lint SELFTEST failed — a planted violation"
  echo "no longer fails; fix tools/checkpoint_lint.py."
  exit 1
}
python3 tools/checkpoint_lint.py || {
  echo "pre-commit: checkpoint lint FAILED — see the sites listed above:"
  echo "route checkpointing through Layout.truncateLineage (and SCALE.md's"
  echo "audit), sessions through GraftSession.builder, child sessions"
  echo "through GraftSession.child (rule 2: no .newSession( outside"
  echo "GraftSession), store commits through Storage.commit/publish (rule 3:"
  echo "no commit-pointer or manifest path outside Storage; a serving store"
  echo "writes only the next version's directories, never an \"append\" mode"
  echo "or a Storage.rewrite/replace/append of a committed table),"
  echo "parquet reads through declared schemas or Storage.get (rule 4: no"
  echo ".read.parquet( without .schema( in ANY main source, outside Storage.get"
  echo "and x_schema_evolution's Governance.schemaEvolution), file metadata"
  echo "in-process (rule 5: no ProcessBuilder, sys.process or Runtime.exec in"
  echo "main sources; only GraftSession sets fs.file.impl or"
  echo "fs.AbstractFileSystem.file.impl), and RainStorm's dest through"
  echo "CommitLog.writeStream (rule 6: no StreamingWrite/DataWriter outside"
  echo "sources/CommitLog.scala, and exactly one MicroBatchStream, inside it:"
  echo "a single log is a one-partition topic), and SCALE.md's lineage audit"
  echo "current (rule 7: every File.scala:N citation in its table names a line"
  echo "that holds a truncateLineage call — re-point the drifted rows)."
  exit 1
}
exit 0
