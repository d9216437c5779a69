"""The checkout must import only its own code: no program file may name the
absolute directory the repo was first developed in. A hardcoded
``sys.path.insert`` of that directory lets a second checkout (an A/B
control) silently import the first one's modules."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# spelled in pieces so this file does not match itself
NEEDLE = "/" + "root" + "/" + "repo"
SKIP_DIRS = {".git", ".perfbench_work", "spark-warehouse"}


def test_no_hardcoded_repo_path():
    hits = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for name in filenames:
            if not name.endswith((".py", ".sh")):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8", errors="replace") as fh:
                for lineno, line in enumerate(fh, 1):
                    if NEEDLE in line:
                        hits.append(f"{os.path.relpath(path, ROOT)}:{lineno}")
    assert not hits, hits
