"""FetchResults replies, byte for byte.

``tests/goldens/wire/fetch_replies.json.gz`` holds the replies of the
corpus in ``tools/gen_wire_golden.py``: every wire type with NULLs and edge
values, in every collect mode, at page sizes that cross the null-bitmask
byte boundary, plus zero-row, DDL/DML, metadata and log pages.  Any change
to how results are collected, paged or encoded must leave them unchanged.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_wire_golden import collect_replies, load  # noqa: E402


@pytest.fixture
def utc_process(monkeypatch):
    """Timestamps render in the gateway process's local zone, as PySpark's
    TimestampType.fromInternal does; the corpus was recorded in UTC."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _first_difference(want: list[bytes], got: list[bytes]) -> str:
    if len(want) != len(got):
        return f"{len(got)} replies, want {len(want)}"
    for i, (a, b) in enumerate(zip(want, got)):
        if a != b:
            at = next((j for j, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            return f"reply {i} differs at byte {at}: {b[at - 16:at + 16]!r}, want {a[at - 16:at + 16]!r}"
    return ""


def test_fetch_replies_match_golden(spark, utc_process):
    want = load()
    got = collect_replies(spark)
    assert sorted(got) == sorted(want)
    diffs = {k: _first_difference(want[k], got[k]) for k in want}
    diffs = {k: d for k, d in diffs.items() if d}
    assert not diffs, diffs
