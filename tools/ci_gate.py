"""One-command verification gate: pytest + benchmark smoke + bench
smoke + CLI rehearsal + driver contract + plan audit + leak grep, single
exit code. Rounds 4+ cannot silently regress any of them (round-3
verdict, stretch item).

Usage: python tools/ci_gate.py [--fast]
  --fast skips pytest, the benchmark smoke, the bench smoke and the
  rehearsal (the slowest legs) for an inner-loop gate; the full gate is
  the pre-commit / pre-round check.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# import namespaces allowed anywhere in the repo (stdlib is checked
# separately via sys.stdlib_module_names): the sandboxed deps, the
# package itself, repo-root entry modules and the test/bench toolchain
ALLOWED_IMPORTS = {"pyspark", "numpy", "pandas", "pyarrow", "duckdb",
                   "xs_vlm_ocr_spark", "py4j", "pytest", "hypothesis",
                   "__spark_entry__", "job_main", "tools", "bench", "oracles",
                   "perfbench"}
# real import statements only ("import x", "from x[.y] import ..."): a
# docstring line that merely starts with "from" or "import" is prose
IMPORT_RE = re.compile(
    r"^\s*import\s+(\w+)|^\s*from\s+(\w+)[\w.]*\s+import\b", re.M
)
# secrets / internal-endpoint shapes that must never appear
LEAK_RES = [
    r"(?i)aws_secret|aws_access_key_id",
    r"(?i)(api|secret|access)_(key|token)\s*[:=]\s*['\"][A-Za-z0-9_\-]{16,}",
    r"hooks\.slack\.com|internal\.[a-z]+\.net|\.corp\.",
    r"(?i)password\s*=\s*['\"][^'\"]+['\"]",
]
# patterns barred from the PACKAGE (not tests/tools), each mapped to the
# package files allowed to carry it. .rdd on a DataFrame forces physical
# planning of the whole upstream plan on the driver (round-6 verdict
# Wrong #1) — the planning-free probes are inputFiles() /
# defaultParallelism. bucketBy( / saveAsTable( write a bucketed table,
# which only CheckpointedTable's one run writer may do: a second
# bucketed writer would bypass its manifest commit and layout record.
PACKAGE_RES = {
    r"\.rdd\b": (),
    r"\bbucketBy\(": ("xs_vlm_ocr_spark/table_io.py",),
    r"\bsaveAsTable\(": ("xs_vlm_ocr_spark/table_io.py",),
}
# package defs that no product path calls yet, kept on purpose:
# strip_html_stdlib is strip_html's parity reference
# (tests/test_html_parser_parity.py),
# merge_full_text is the pure extractor's full_text definition that
# operators/extraction.full_text_col is pinned equal to, and
# apply_retention and the sinks' export_* are SURVEY-mapped library
# surfaces (retention, exports) that job_main does not wire in yet
KEEP_UNCALLED = {"strip_html_stdlib", "merge_full_text", "apply_retention",
                 "export_text", "export_markdown", "export_csv"}


def run_leg(name: str, argv: list[str], ok_re: str,
            env: dict[str, str] | None = None) -> bool:
    t0 = time.monotonic()
    p = subprocess.run(argv, cwd=REPO, capture_output=True, text=True,
                       timeout=3600, env={**os.environ, **(env or {})})
    out = p.stdout + p.stderr
    ok = p.returncode == 0 and re.search(ok_re, out) is not None
    tail = "\n".join(out.splitlines()[-3:])
    print(f"[{'PASS' if ok else 'FAIL'}] {name} "
          f"({time.monotonic() - t0:.0f}s)\n      {tail}", flush=True)
    return ok


def _code_refs(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of each code reference in a module: every Name and
    Attribute, plus each name a ``from ... import`` brings in that the
    module then references. Docstrings, comments, ``__all__`` strings and
    unused imports name nothing."""
    refs = [(n.id, n.lineno) for n in ast.walk(tree) if isinstance(n, ast.Name)]
    refs += [(n.attr, n.lineno) for n in ast.walk(tree)
             if isinstance(n, ast.Attribute)]
    used = {name for name, _ in refs}
    refs += [(a.name, n.lineno) for n in ast.walk(tree)
             if isinstance(n, ast.ImportFrom) for a in n.names
             if (a.asname or a.name) in used]
    return refs


def uncalled_package_defs(srcs: dict[str, str]) -> list[str]:
    """Top-level package defs and classes that no non-test code
    references outside the definition itself: dead or test-only code,
    which belongs deleted or in tests/oracles.py."""
    trees = {path: ast.parse(src) for path, src in srcs.items()}
    where: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for name, line in _code_refs(tree):
            where.setdefault(name, []).append((path, line))
    bad: list[str] = []
    for path, tree in trees.items():
        if os.sep + "xs_vlm_ocr_spark" + os.sep not in path:
            continue
        for node in tree.body:
            if (not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                    or node.name in KEEP_UNCALLED):
                continue
            if all(other == path and node.lineno <= line <= node.end_lineno
                   for other, line in where.get(node.name, ())):
                bad.append(f"{path}: '{node.name}' is referenced by no "
                           "non-test code")
    return bad


def leak_grep() -> bool:
    bad: list[str] = []
    srcs: dict[str, str] = {}  # non-test sources, for uncalled_package_defs
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in
                   (".git", "__pycache__", "spark-warehouse", "dist", ".claude")]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path, encoding="utf-8", errors="replace").read()
            if path.endswith("tools/ci_gate.py"):
                continue  # this file carries the patterns themselves
            if not os.path.relpath(path, REPO).startswith("tests" + os.sep):
                srcs[path] = src
            for rex in LEAK_RES:
                for m in re.finditer(rex, src):
                    # the strategies config model legitimately carries
                    # empty api_key fields; only flag non-empty literals
                    bad.append(f"{path}: {m.group(0)[:60]}")
            if os.sep + "xs_vlm_ocr_spark" + os.sep in path:
                rel = os.path.relpath(path, REPO).replace(os.sep, "/")
                for rex, allowed in PACKAGE_RES.items():
                    if rel in allowed:
                        continue
                    for m in re.finditer(rex, src):
                        bad.append(f"{path}: barred in the package '{m.group(0)}'")
            for m in IMPORT_RE.finditer(src):
                mod = m.group(1) or m.group(2)
                if mod not in ALLOWED_IMPORTS and mod not in sys.stdlib_module_names:
                    bad.append(f"{path}: disallowed import '{mod}'")
    bad += uncalled_package_defs(srcs)
    for b in bad:
        print(f"      LEAK {b}", flush=True)
    print(f"[{'PASS' if not bad else 'FAIL'}] leak grep "
          f"({'clean' if not bad else f'{len(bad)} hits'})", flush=True)
    return not bad


def dist_fresh() -> bool:
    """dist/xs_vlm_ocr_spark.zip is the deployment artifact (spark-submit
    --py-files), built on demand by tools/package.py and gitignored. A
    previously-built zip left sitting in dist/ ships old code on the next
    submit — or silently drops a module added since the rebuild
    (components.py went missing this way for five sessions: every cluster
    submit would ImportError at the first near-dup cluster sync while
    local tests stayed green). Absent zip = pass (nothing to ship);
    present zip must byte-match the tree."""
    import hashlib
    import zipfile

    out = os.path.join(REPO, "dist", "xs_vlm_ocr_spark.zip")
    bad: list[str] = []
    if not os.path.exists(out):
        print("[PASS] dist artifact (not built; tools/package.py builds "
              "on demand)", flush=True)
        return True
    z = zipfile.ZipFile(out)
    names = set(z.namelist())
    for info in z.infolist():
        p = os.path.join(REPO, info.filename)
        if not os.path.exists(p):
            bad.append(f"{info.filename}: in zip, deleted from tree")
        elif (hashlib.md5(open(p, "rb").read()).digest()
              != hashlib.md5(z.read(info)).digest()):
            bad.append(f"{info.filename}: zip content stale")
    pkg = os.path.join(REPO, "xs_vlm_ocr_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), REPO)
            if fn.endswith(".py") and rel.replace(os.sep, "/") not in names:
                bad.append(f"{rel}: missing from zip")
    for b in bad:
        print(f"      DIST {b} — run: python tools/package.py", flush=True)
    print(f"[{'PASS' if not bad else 'FAIL'}] dist artifact "
          f"({'fresh' if not bad else f'{len(bad)} stale'})", flush=True)
    return not bad


def contract_window() -> bool:
    """The external driver verifies at most 50 queries per round —
    anything registered past 50 silently falls outside the
    value-checked window (round-6 verdict Wrong #2). Keep the contract
    CONSOLIDATED instead of letting it creep: this leg fails the gate
    the moment registration #51 lands, and checks queries/oracles stay
    in 1:1 correspondence while it's at it."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    bad: list[str] = []
    if len(qs) > 50:
        bad.append(f"{len(qs)} queries registered — the driver checks "
                   "only the first 50; consolidate")
    for k in oracles.keys() - qs.keys():
        bad.append(f"oracle '{k}' has no queries() entry")
    for k in qs.keys() - oracles.keys():
        bad.append(f"query '{k}' has no oracle (driver records a weaker "
                   "rows-only check)")
    for b in bad:
        print(f"      CONTRACT {b}", flush=True)
    print(f"[{'PASS' if not bad else 'FAIL'}] contract window "
          f"({len(qs)} queries, {len(oracles)} oracles)", flush=True)
    return not bad


def main() -> None:
    fast = "--fast" in sys.argv
    legs = [leak_grep(), dist_fresh(), contract_window()]
    legs.append(run_leg(
        "plan audit", [sys.executable, "tools/plan_audit.py"],
        r"0 failures"))
    # 0 rows-only is part of the contract: every registered query must be
    # value-hash-checked against its DuckDB oracle — a query silently
    # regressing to a rows-only check weakens the strongest guarantee the
    # repo has (round-4 verdict What's-wrong #3), so the gate rejects it.
    legs.append(run_leg(
        "driver contract", [sys.executable, "tools/verify_driver.py"],
        r"SUMMARY: \d+ ok, 0 rows-only, 0 failed"))
    if not fast:
        legs.append(run_leg(
            "pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"],
            r"\d+ passed"))
        # both benchmark workloads on tiny seeded inputs with their output
        # checks on: an engine change that breaks a benchmark's output
        # check fails the gate, not only a manual verify
        legs.append(run_leg(
            "benchmark smoke",
            [sys.executable, "perfbench/run.py", "--workload", "all",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke"],
            r'"correct": true, "attempted": \d+, "failed": 0'))
        # bench.py's shared measurement protocol (time_query,
        # extraction_pass) end to end at the small tier: exit 0 and one
        # JSON line carrying all ten headline query keys
        from bench import QUERIES

        legs.append(run_leg(
            "bench smoke", [sys.executable, "bench.py"],
            r'(?m)^\{"metric": ' + "".join(
                f'(?=.*"{q}": )' for q in ("extract_corpus", *QUERIES)),
            env={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01",
                 "SPARK_GRAFT_BENCH_DOCS": "2000",
                 "SPARK_GRAFT_BENCH_RUNS": "1"}))
        # crash/heal, compaction, write_deduped and stream == batch on
        # the job_main.py CLI, one cold process per pass
        with tempfile.TemporaryDirectory(prefix="rehearsal_") as wd:
            legs.append(run_leg(
                "rehearsal", [sys.executable, "tools/rehearse.py",
                              "/root/testdata/sf0.01", wd],
                r"REHEARSAL: PASS"))
    ok = all(legs)
    print(f"CI GATE: {'PASS' if ok else 'FAIL'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
