"""Generate CONFORMANCE.md from a live differential run against the
actual reference implementation (tests/ref_oracle)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    out = subprocess.run(
        [sys.executable, "-m", "pytest",
         "tests/test_differential.py", "tests/test_reference_fixtures.py",
         "tests/test_misc_corpus.py",
         "-v", "--tb=no"],
        capture_output=True, text=True, cwd=REPO, timeout=1800)
    passed = Counter()
    failed = Counter()
    for line in out.stdout.splitlines():
        m = re.match(r"tests/\S+::(\w+)(?:\[[^\]]*\])? (PASSED|FAILED)", line)
        if m:
            (passed if m.group(2) == "PASSED" else failed)[m.group(1)] += 1

    groups = sorted(set(passed) | set(failed))
    total_p, total_f = sum(passed.values()), sum(failed.values())
    if total_p + total_f == 0:
        # every oracle test skipped: an empty table would read "all pass"
        sys.exit("no differential check ran (node/reference absent); "
                 "CONFORMANCE.md left as it is")
    lines = [
        "# CONFORMANCE — differential parity vs the reference implementation",
        "",
        "Oracle: digitalbazaar/jsonld.js itself, running from",
        "`/root/reference/lib` via `tests/ref_oracle` (its npm deps",
        "satisfied by minimal local stubs). Every row compares this",
        "engine's output 1:1 with the reference's over curated +",
        "grammar-fuzzed inputs (deep JSON equality / sorted N-Quads",
        "equality — the reference's own comparator semantics,",
        "tests/test.js:1127,1142). Regenerate:",
        "`python scripts/conformance_report.py`.",
        "These checks need the reference at `/root/reference` and `node`;",
        "without them the oracle tests are skipped, not passed.",
        "",
        "| check | cases | status |",
        "|---|---|---|",
    ]
    for g in groups:
        p, f = passed.get(g, 0), failed.get(g, 0)
        status = "PASS" if f == 0 else f"**{f} FAIL**"
        lines.append(f"| {g} | {p + f} | {status} |")
    lines.append(
        f"| **total** | **{total_p + total_f}** | "
        f"{'**all pass**' if total_f == 0 else f'**{total_f} failing**'} |")
    # preserve the hand-maintained prose (divergences / quirks /
    # not-oracle-checkable sections) from the existing file
    path = os.path.join(REPO, "CONFORMANCE.md")
    prose = ""
    if os.path.exists(path):
        cur = open(path).read()
        idx = cur.find("## Deliberate divergences")
        if idx != -1:
            prose = cur[idx:]
    lines += ["", prose.rstrip()] if prose else []
    with open(os.path.join(REPO, "CONFORMANCE.md"), "w") as fobj:
        fobj.write("\n".join(lines) + "\n")
    print(f"passed={total_p} failed={total_f}")
    if total_f:
        sys.exit(1)


if __name__ == "__main__":
    main()
