"""Driver-graded state, derived directly from ``CORRECTNESS_r*.json``.

Round-8 change (VERDICT r7 "what's wrong" #1): the generated
``operators/_graded.py`` cache went stale at the round boundary three
rounds running because regenerating it was a manual step.  The graded
set is a pure function of the driver's correctness artifacts, so
compute it at import time instead — a few ms of JSON reads — and the
stale-cache class of defect becomes structurally impossible.

``graded_rounds()`` returns ``{query_name: round_number}`` where
``round_number`` is the LATEST round whose driver row for that name is
green (rows/schema/hash match, no error).  Latest grade wins: a query
green in r5 but red in r7 is NOT graded (it must return to the registry
front for re-grading).  Environments without the artifacts (fresh
clones, CI sandboxes) get an empty dict — every query sorts to the
front in rotation order, which is the correct cold-start behavior.
"""

from __future__ import annotations

import glob
import json
import os
import re

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _artifact_paths(repo: str | None = None) -> list[str]:
    root = repo or _REPO
    return sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))


def graded_rounds(repo: str | None = None) -> dict[str, int]:
    """name -> latest round that graded it, for names whose LATEST row is
    green.  Later rounds override earlier ones entirely (a red or errored
    re-grade un-grades the name)."""
    latest_row: dict[str, dict] = {}
    latest_round: dict[str, int] = {}
    for path in _artifact_paths(repo):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            latest_row[name] = row
            latest_round[name] = rnd
    return {
        name: latest_round[name]
        for name, row in latest_row.items()
        if isinstance(row, dict)
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    }


def compute_graded(repo: str | None = None) -> set[str]:
    """Green-graded names only (the old ``_graded.DRIVER_GRADED`` set)."""
    return set(graded_rounds(repo))
