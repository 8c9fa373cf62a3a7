#!/usr/bin/env python3
"""Ledger consistency checker: SURVEY.md's per-row correctness marks
must agree with the latest CORRECTNESS_r*.json, query by query.

Contract enforced:
  - every `✓ q_name` in SURVEY must be hash_match=true in CORRECTNESS;
  - every `◦ q_name` must be a declared no-oracle entry (err == "no_oracle")
    or absent from the driver suite (spec-only surfaces);
  - every CORRECTNESS query must be claimed by at least one SURVEY row
    (✓ or ◦) so the coverage table and the driver suite stay 1:1.
  - every `Object.member` a SURVEY row names must resolve under src/main:
    a `def`/`val` of that object, or for a `q_` member a query key in
    the object's file — so deleting code cannot silently drop a listed
    capability. `*.scala` file names and the non-graft names in
    EXTERNAL_OBJECTS are skipped.

Usage: python3 tools/ledger_check.py [CORRECTNESS_rNN.json]
(defaults to the lexicographically-latest CORRECTNESS_r*.json in cwd)
"""
import glob
import json
import re
import sys


def from_check_log(path):
    """Correctness dict synthesized from a tools/check.py log — lets the
    closing gate validate SURVEY against THIS round's fresh sweep instead
    of the previous round's (stale once fixes land) driver file. PASS →
    hash_match, FAIL/ORACLE-ERR/MISSING → not; queries absent from the
    log (no_oracle twins) are filled from the latest driver file so the
    1:1-coverage check still holds.
    """
    correctness = {}
    for line in open(path, encoding="utf-8"):
        m = re.match(r"(PASS|FAIL|MISSING|ORACLE-ERR) (q_\w+)", line)
        if m:
            correctness[m.group(2)] = {
                "hash_match": m.group(1) == "PASS", "err": None}
    # Numeric sort: lexicographic would pick r9 over r10. Backfilled
    # verdicts are stale by definition (the fresh sweep never ran them),
    # so make every borrow visible — a gate run leaning on old driver
    # PASSes should say so, loudly.
    drivers = sorted(
        glob.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)))
    if drivers:
        backfilled = []
        for q, e in json.load(open(drivers[-1])).items():
            if q not in correctness:
                correctness[q] = e
                backfilled.append(q)
        if backfilled:
            print(f"note: {len(backfilled)} quer{'y' if len(backfilled) == 1 else 'ies'} "
                  f"absent from {path} backfilled from {drivers[-1]} "
                  f"(stale verdicts): {', '.join(sorted(backfilled))}")
    return correctness


# Qualifiers SURVEY rows use that are not graft objects: Spark API
# types and a module of the reference pipeline.
EXTERNAL_OBJECTS = {"Dataset", "Scan", "SupportsAdmissionControl", "Harvest"}


def unresolved_members(survey, src="src/main/scala"):
    """(names checked, errors) for the `Object.member` names in SURVEY
    table rows, resolved against the objects defined under `src`."""
    files = {}
    for f in glob.glob(f"{src}/**/*.scala", recursive=True):
        text = open(f, encoding="utf-8").read()
        for m in re.finditer(r"^\s*(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)",
                             text, re.M):
            files.setdefault(m.group(1), []).append(text)
    names = set()
    for line in survey.splitlines():
        if line.startswith("|"):
            names |= set(re.findall(r"\b([A-Z]\w*)\.([a-z]\w*)\b", line))
    errors, checked = [], 0
    for obj, member in sorted(names):
        if member == "scala" or obj in EXTERNAL_OBJECTS:
            continue
        checked += 1
        if member.startswith("q_"):
            pattern = rf'"{member}"\s*->'
        else:
            pattern = rf"\b(?:def|val|lazy val|var)\s+{member}\b"
        if not any(re.search(pattern, text) for text in files.get(obj, [])):
            errors.append(f"SURVEY names {obj}.{member} but src/main has no "
                          f"{'query key' if member.startswith('q_') else 'def/val'} "
                          f"{member} in object {obj}")
    return checked, errors


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--from-check-log":
        cpath = sys.argv[2]
        correctness = from_check_log(cpath)
        survey = open("SURVEY.md", encoding="utf-8").read()
        return check(cpath, correctness, survey)
    cpath = sys.argv[1] if len(sys.argv) > 1 else sorted(glob.glob("CORRECTNESS_r*.json"))[-1]
    correctness = json.load(open(cpath))
    survey = open("SURVEY.md", encoding="utf-8").read()
    return check(cpath, correctness, survey)


def check(cpath, correctness, survey) -> int:
    # Marks apply to every query listed after them in the same status
    # cell ("✓ q_a, q_b + spec" claims both); a later ◦/✓ switches the
    # mark mid-cell.
    checked, rows_only = set(), set()
    for line in survey.splitlines():
        if "✓" not in line and "◦" not in line:
            continue
        cell = line.rsplit("|", 2)[-2] if line.count("|") >= 2 else line
        mark = None
        for tok in re.findall(r"✓|◦|q_\w+", cell):
            if tok in ("✓", "◦"):
                mark = tok
            elif mark == "✓":
                checked.add(tok)
            elif mark == "◦":
                rows_only.add(tok)
    rows_only -= checked  # a query hash-proven anywhere counts as ✓

    errors = []
    for q in sorted(checked):
        e = correctness.get(q)
        if e is None:
            errors.append(f"SURVEY marks ✓ {q} but it is not in {cpath}")
        elif not e.get("hash_match"):
            errors.append(f"SURVEY marks ✓ {q} but {cpath} says "
                          f"hash_match={e.get('hash_match')} err={e.get('err')}")
    for q in sorted(rows_only):
        e = correctness.get(q)
        if e is not None and e.get("err") != "no_oracle":
            errors.append(f"SURVEY marks ◦ {q} (rows-only) but {cpath} says "
                          f"err={e.get('err')} hash_match={e.get('hash_match')} "
                          f"- promote the mark to ✓")
    claimed = checked | rows_only
    for q in sorted(correctness):
        if q not in claimed:
            errors.append(f"{cpath} has {q} but no SURVEY row claims it (✓ or ◦)")

    n_members, member_errors = unresolved_members(survey)
    errors += member_errors

    if errors:
        print(f"LEDGER DRIFT vs {cpath}:")
        for e in errors:
            print("  " + e)
        return 1
    print(f"ledger consistent vs {cpath}: {len(checked)} ✓, {len(rows_only)} ◦, "
          f"{len(correctness)} driver queries, all claimed")
    print(f"{n_members} SURVEY-named members resolve under src/main")
    return 0


if __name__ == "__main__":
    sys.exit(main())
