"""Run the full pytest suite and commit the result as a per-round
artifact (r8 verdict ask #2): the claim "pytest tests/ is green" is
part of the bar, and until now it lived only in commit prose — the
judge had to re-run 24 minutes of tests to verify it.

Usage: python tools/run_suite.py [SUITE_rN.json] [pytest args...]

Writes {passed, failed, errors, skipped, total, duration_sec,
pytest_exit, argv, started_utc} as one JSON file (default
SUITE.json). Exit code mirrors pytest's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone
from xml.etree import ElementTree

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# pytest options whose value is the NEXT argument when written apart
# ("-p no:cacheprovider", "-k expr"); that value is not a test target
_VALUE_FLAGS = frozenset({
    "-k", "-m", "-p", "-c", "-o", "-W", "-r", "--config-file",
    "--override-ini", "--pythonwarnings", "--deselect", "--ignore",
    "--ignore-glob", "--rootdir", "--confcutdir", "--basetemp",
    "--maxfail", "--durations", "--tb", "--junitxml", "--log-level",
    "--log-file",
})


def has_target(args: list[str]) -> bool:
    """True when ``args`` name a test path or node id. Flags and the
    values of value-taking flags are not targets."""
    skip = False
    for a in args:
        if skip:
            skip = False
        elif a.startswith("-"):
            skip = a in _VALUE_FLAGS
        else:
            return True
    return False


def pytest_args(extra: list[str], junit: str) -> list[str]:
    """pytest's argv: positional targets in ``extra`` REPLACE the
    default ``tests/`` target; bare flags (-k, -x, ...) compose with
    it."""
    target = [] if has_target(extra) else ["tests/"]
    return [*target, "-q", f"--junitxml={junit}", *extra]


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SUITE.json"
    extra = sys.argv[2:]
    junit = os.path.join(HERE, ".suite_junit.xml")
    started = datetime.now(timezone.utc).isoformat(timespec="seconds")
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", *pytest_args(extra, junit)],
        cwd=HERE,
    )
    duration = round(time.time() - t0, 1)
    totals = {"passed": 0, "failed": 0, "errors": 0, "skipped": 0,
              "total": 0}
    try:
        root = ElementTree.parse(junit).getroot()
        suites = root.iter("testsuite")
        for s in suites:
            tests = int(s.get("tests", 0))
            failures = int(s.get("failures", 0))
            errors = int(s.get("errors", 0))
            skipped = int(s.get("skipped", 0))
            totals["total"] += tests
            totals["failed"] += failures
            totals["errors"] += errors
            totals["skipped"] += skipped
            totals["passed"] += tests - failures - errors - skipped
    finally:
        if os.path.exists(junit):
            os.remove(junit)
    record = {
        **totals,
        "duration_sec": duration,
        "pytest_exit": proc.returncode,
        "argv": extra,
        "started_utc": started,
    }
    with open(os.path.join(HERE, out_path), "w") as f:
        json.dump(record, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(record, sort_keys=True))
    return proc.returncode


if __name__ == "__main__":
    raise SystemExit(main())
