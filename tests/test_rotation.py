"""The driver-window rotation must close verification debt.

``__spark_entry__.queries()`` yields names in the order
``__spark_entry__.generate()`` derives from the CORRECTNESS_r*.json
history, and the driver's artifact keeps only the first 50 rows. The
window properties are checked on the committed history and on a copy
with one more round dropped in, so a new artifact cannot break them.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import __spark_entry__ as entry


def _artifact_dirs(tmp_path) -> list[str]:
    """The committed history, and a copy of it plus a synthetic next
    round in which the driver confirmed 60 queries."""
    for path in glob.glob(os.path.join(entry.HERE, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    rows = {
        name: {"rows_match": True, "hash_match": True, "err": None}
        for name in entry.generate()[:60]
    }
    (tmp_path / "CORRECTNESS_r15.json").write_text(json.dumps(rows))
    return [entry.HERE, str(tmp_path)]


def test_first_covers_whole_registry():
    # the ordering is the whole registry: no names outside it, none
    # missing
    assert sorted(entry.queries()) == sorted(entry.REGISTRY)


def test_window_closes_driver_debt(tmp_path):
    # The 50-row window must lead with the highest-debt cohort under
    # the shared debt ordering (never-confirmed first, then
    # touched-after-last-green, then stalest): nothing in the window
    # may carry LESS debt than something outside it.
    for directory in _artifact_dirs(tmp_path):
        hist = entry.last_green_rounds(directory)
        order = entry.generate(directory)
        window, rest = order[:50], order[50:]
        max_in_window = max(entry.debt_key(n, hist)[:2] for n in window)
        min_outside = min(entry.debt_key(n, hist)[:2] for n in rest)
        assert max_in_window <= min_outside, directory
        # every never-confirmed query is in the window
        assert [n for n in rest if n not in hist] == [], directory


def test_touched_queries_lead_window(tmp_path):
    # Touched queries the driver has not re-hashed since must all sit
    # inside the 50-row window (r13 verdict item 5).
    for directory in _artifact_dirs(tmp_path):
        hist = entry.last_green_rounds(directory)
        window = set(entry.generate(directory)[:50])
        unverified = [
            n for n, rnd in entry.TOUCHED_SINCE.items() if rnd > hist.get(n, -1)
        ]
        assert set(unverified) <= window, directory
