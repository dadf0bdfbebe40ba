"""Every `tools/<name>.py` or `tests/<name>.py` path named in the
package, the scripts, the tests, the verify recipe or the README must
exist: a deleted probe or a renamed test otherwise leaves a pointer
that sends the reader nowhere. Historical notes (BENCH_NOTES,
OPTIMIZATION_r*, COVERAGE) record what existed at the time and are
out of scope."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED_DIRS = ("mapreduce_distributed_systems_spark", "tools", "tests")
SCANNED_FILES = (".claude/skills/verify/SKILL.md", "README.md")
PATH_REF = re.compile(r"\b(?:tools|tests)/\w+\.py\b")


def _scanned_files():
    for d in SCANNED_DIRS:
        for root, _, names in os.walk(os.path.join(REPO, d)):
            for n in names:
                if n.endswith(".py"):
                    yield os.path.join(root, n)
    for f in SCANNED_FILES:
        yield os.path.join(REPO, f)


def test_named_tool_and_test_paths_exist():
    missing = []
    for path in _scanned_files():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        for ref in sorted(set(PATH_REF.findall(text))):
            if not os.path.exists(os.path.join(REPO, ref)):
                missing.append(f"{os.path.relpath(path, REPO)}: {ref}")
    assert not missing, "references to files that do not exist:\n" + "\n".join(
        missing
    )
