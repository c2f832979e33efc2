#!/usr/bin/env python3
"""EXPLAIN.md drift check: fresh per-query plan dumps against their sections.

`tools/precommit.sh` used to check only that each registry query has a
`## name` section in EXPLAIN.md, not that the plan in it is current. This
check compares the files written by

    sbt "runMain graft.Explain <sf0.001 dir> <dumpDir> <tag> <query>..."

(one `<dumpDir>/<query>_<tag>.txt` per query) with the `## <query>` sections
of EXPLAIN.md, modulo what differs on every run of the same plan:

  - expression ids `#123` and lambda-variable names `lambda x_20`
    (renumbered by first appearance, so two plans still differ when they
    wire the same attributes differently);
  - exchange ids `plan_id=123` and RDD ids `RDD[123]`;
  - JVM lambda names `Lambda$123/0x00007f...@1a2b3c` and array identity
    hashes `[[[D@75ecbcb4`;
  - a store's version directories in a scan's `Location:` line
    (`codes/3`, `postings/5/bucket=8`): the number counts the commits the
    store on disk has seen, so it grows with every rebuild.

Anything else that differs — an operator, a join strategy, a column, a
pushed filter — fails the check, and the first differing line is printed.

A dump file maps to the LONGEST section name `q` with `<stem> == q_<tag>`,
so `x_curation_video_incremental_new.txt` is `x_curation_video_incremental`.

Usage: python3 tools/explain_check.py <dumpDir> [EXPLAIN.md]
       python3 tools/explain_check.py --selftest
Exit 1 on any drifted, unmatched or missing section.
"""
import os
import re
import sys
import tempfile

SECTION = re.compile(r"^## (\S+)\n\n```\n(.*?)```\n", re.M | re.S)
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
RDD_ID = re.compile(r"RDD\[\d+\]")
LAMBDA = re.compile(r"Lambda\$[\w$]*/0x[0-9a-f]+@[0-9a-f]+")
LAMBDA_VAR = re.compile(r"lambda ([A-Za-z]+)_\d+")
ARRAY_HASH = re.compile(r"(\[+(?:[BCDFIJSZ]|L[\w.$]+;))@[0-9a-f]+")
STORE_VERSION = re.compile(r"(?<=/)\d+(?=[/,\]])")


def normalize(plan: str) -> list:
    """The plan's lines with run-specific ids and lambda names replaced."""
    ids, lvars = {}, {}

    def renumber(m):
        return "#" + str(ids.setdefault(m.group(0), len(ids)))

    def rename(m):
        return f"lambda {m.group(1)}_{lvars.setdefault(m.group(0), len(lvars))}"

    plan = LAMBDA.sub("Lambda", plan)
    plan = ARRAY_HASH.sub(r"\1@?", plan)
    plan = PLAN_ID.sub("plan_id=?", plan)
    plan = RDD_ID.sub("RDD[?]", plan)
    plan = LAMBDA_VAR.sub(rename, plan)
    plan = EXPR_ID.sub(renumber, plan)
    return [STORE_VERSION.sub("<v>", line.rstrip()) if line.startswith("Location:")
            else line.rstrip() for line in plan.strip("\n").split("\n")]


def sections(explain_md: str) -> dict:
    return {m.group(1): m.group(2) for m in SECTION.finditer(explain_md)}


def query_of(stem: str, names) -> str:
    """Longest section name q with stem == q + '_' + <non-empty tag>."""
    hits = [q for q in names if stem.startswith(q + "_") and len(stem) > len(q) + 1]
    return max(hits, key=len) if hits else None


def check(dump_dir: str, explain_path: str) -> list:
    """Failure messages, one per drifted or unmatched dump (empty = clean)."""
    secs = sections(open(explain_path, encoding="utf-8").read())
    dumps = sorted(f for f in os.listdir(dump_dir) if f.endswith(".txt"))
    if not dumps:
        return [f"no <query>_<tag>.txt plan dumps in {dump_dir}"]
    bad = []
    for f in dumps:
        q = query_of(f[:-len(".txt")], secs)
        if q is None:
            bad.append(f"{f}: no matching '## <query>' section in {explain_path}")
            continue
        fresh = normalize(open(os.path.join(dump_dir, f), encoding="utf-8").read())
        old = normalize(secs[q])
        if fresh != old:
            i = next((i for i, (a, b) in enumerate(zip(fresh, old)) if a != b),
                     min(len(fresh), len(old)))
            want = old[i] if i < len(old) else "<end of section>"
            got = fresh[i] if i < len(fresh) else "<end of dump>"
            bad.append(f"{q}: plan drifted at line {i + 1}\n"
                       f"    EXPLAIN.md: {want}\n    fresh dump: {got}")
    return bad


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- {join} (4)
   :- Scan parquet  (1)
   +- Exchange (3)
      +- Scan parquet  (2)

(4) {join}
Left keys [1]: [doc_id#{a}L]
Right keys [1]: [doc_id#{b}L]
Arguments: [plan_id={p}], MapPartitionsRDD[{r}] at map, {lam}
Arguments: posexplode(srpbucketsexpr(v#{a}, [[[D@{r}af, 1)), lambdafunction(lambda x_{p}#{b}, lambda x_{p}#{b})
Location: InMemoryFileIndex [file:/tmp/graft_index/{store}/{r}/bucket=8, ... 2 entries]
"""


def selftest() -> int:
    section = PLAN.format(store="text_main", join="SortMergeJoin", a=11, b=12, p=7, r=3,
                          lam="Lambda$6788/0x00007f4f2d769df0@1678dda4")
    md = f"# EXPLAIN\n\n## x_q\n\n```\n{section}```\n\n## x_q_two\n\n```\n{section}```\n"
    cases = [
        # (name, dump file, dump body, must pass)
        ("ids, lambdas and store versions only", "x_q_new.txt",
         PLAN.format(store="text_main", join="SortMergeJoin", a=901, b=902, p=55, r=1417,
                     lam="Lambda$7017/0x00007f4f2d7ce000@b219dfb"), True),
        ("changed join strategy", "x_q_new.txt",
         PLAN.format(store="text_main", join="ShuffledHashJoin", a=901, b=902, p=55, r=1417,
                     lam="Lambda$7017/0x00007f4f2d7ce000@b219dfb"), False),
        ("attributes wired differently", "x_q_new.txt",
         PLAN.format(store="text_main", join="SortMergeJoin", a=901, b=901, p=55, r=1417,
                     lam="Lambda$7017/0x00007f4f2d7ce000@b219dfb"), False),
        ("longest section name wins", "x_q_two_new.txt",
         PLAN.format(store="text_main", join="SortMergeJoin", a=5, b=6, p=1, r=2,
                     lam="Lambda$1/0x00007f4f2d7ce000@b219dfb"), True),
        ("a scan of another store", "x_q_new.txt",
         PLAN.format(store="text_app", join="SortMergeJoin", a=901, b=902, p=55, r=1417,
                     lam="Lambda$7017/0x00007f4f2d7ce000@b219dfb"), False),
        ("dump with no section", "x_other_new.txt", section, False),
    ]
    failed = 0
    for name, fname, body, want_pass in cases:
        with tempfile.TemporaryDirectory() as d:
            explain = os.path.join(d, "EXPLAIN.md")
            dump_dir = os.path.join(d, "dumps")
            os.mkdir(dump_dir)
            open(explain, "w", encoding="utf-8").write(md)
            open(os.path.join(dump_dir, fname), "w", encoding="utf-8").write(body)
            passed = not check(dump_dir, explain)
        if passed != want_pass:
            failed += 1
            print(f"selftest FAILED: '{name}' {'passed' if passed else 'failed'}, "
                  f"expected it to {'pass' if want_pass else 'fail'}")
    print("explain_check selftest: " + ("FAILED" if failed else f"ok ({len(cases)} cases)"))
    return 1 if failed else 0


def main(argv) -> int:
    if argv[1:] == ["--selftest"]:
        return selftest()
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    dump_dir = argv[1]
    explain_path = argv[2] if len(argv) == 3 else "EXPLAIN.md"
    bad = check(dump_dir, explain_path)
    for b in bad:
        print(b)
    n = len([f for f in os.listdir(dump_dir) if f.endswith(".txt")])
    print(f"explain_check: {n - len(bad)}/{n} plan dumps match {explain_path}"
          if n else f"explain_check: {bad[0]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
