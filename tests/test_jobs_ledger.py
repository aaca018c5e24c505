"""Build-job ledger: the Spark jobs each catalog query runs while its
DataFrame is being built, before any final action (cache fills, sizing
counts, cutover collects, localCheckpoints).

Job counts do not drift with host load, so they make a regression gate
that wall time cannot. ``jobs_ledger.json`` holds one row per query
(sf0.001, the shared ``catalog_build`` fixture). A build that runs more
jobs than its row fails; a change that lowers a count lowers the row in
the same diff.
"""

from __future__ import annotations

import json
import os

LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs_ledger.json")


def test_build_jobs_within_ledger(catalog_build):
    with open(LEDGER) as fh:
        ledger = json.load(fh)
    counts = {name: b["build_jobs"] for name, b in catalog_build.items()}
    over = {
        name: n
        for name, n in counts.items()
        if name not in ledger or n > ledger[name]
    }
    assert not over, (
        "build jobs above tests/jobs_ledger.json; rows to paste:\n"
        + "\n".join(f'  "{name}": {n},' for name, n in over.items())
    )
