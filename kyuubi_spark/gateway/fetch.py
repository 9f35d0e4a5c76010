"""Fetch cursors for paged result retrieval.

Mirrors the reference's FetchIterator trio
(kyuubi-common/.../operation/FetchIterator.scala:23-128):

- `ArrayFetchIterator` — fully materialized results; supports FETCH_NEXT,
  FETCH_PRIOR and absolute repositioning. Statement results are held as
  one Arrow table, so a page is a zero-copy table slice; small results
  (metadata, plan text) are lists of Python rows, and the arrow result
  format pages a list of RecordBatches.
- `IterableFetchIterator` — incremental results over Python rows;
  forward-only. As in the reference (:121-128), absolute/prior fetches that
  would rewind are no-ops past the consumed prefix — documented limitation.
- `BatchFetchIterator` — the same forward-only cursor over a stream of
  Arrow RecordBatches (incremental collect and the spill re-read, which
  stream one partition at a time); a page is an Arrow table.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pyarrow as pa


class FetchIterator:
    """Cursor over result rows with a fetch window.

    ``fetch_absolute(pos)`` positions the window start; ``take(n)`` returns
    the next n rows and advances. ``position`` is the start of the last
    returned window; ``fetch_start`` tracks it for PRIOR re-fetches.
    """

    def fetch_next(self) -> None:
        raise NotImplementedError

    def fetch_absolute(self, pos: int) -> None:
        raise NotImplementedError

    def fetch_prior(self, size: int) -> None:
        self.fetch_absolute(max(0, self.fetch_start - size))

    @property
    def fetch_start(self) -> int:
        raise NotImplementedError

    def take(self, n: int) -> Any:
        raise NotImplementedError


class ArrayFetchIterator(FetchIterator):
    """``rows`` is anything with ``len()`` and slicing: a list of rows or
    batches, or a pyarrow Table."""

    def __init__(self, rows):
        self._rows = rows
        self._start = 0  # start of the current fetch window
        self._pos = 0  # next row to serve

    @property
    def fetch_start(self) -> int:
        return self._start

    def fetch_next(self) -> None:
        self._start = self._pos

    def fetch_absolute(self, pos: int) -> None:
        pos = max(0, min(pos, len(self._rows)))
        self._start = pos
        self._pos = pos

    def take(self, n: int):
        self._start = self._pos
        out = self._rows[self._pos : self._pos + n]
        self._pos += len(out)
        return out


class IterableFetchIterator(FetchIterator):
    def __init__(self, iterable: Iterable[Any]):
        self._iter: Iterator[Any] = iter(iterable)
        self._start = 0
        self._pos = 0
        self._exhausted = False

    @property
    def fetch_start(self) -> int:
        return self._start

    def fetch_next(self) -> None:
        self._start = self._pos

    def fetch_absolute(self, pos: int) -> None:
        # Forward skips are honored; rewinds are no-ops (reference
        # FetchIterator.scala:121-128 — iterable cursors cannot go back).
        while self._pos < pos and not self._exhausted:
            try:
                next(self._iter)
                self._pos += 1
            except StopIteration:
                self._exhausted = True
        self._start = self._pos

    def take(self, n: int) -> list[Any]:
        self._start = self._pos
        out: list[Any] = []
        for _ in range(n):
            try:
                out.append(next(self._iter))
                self._pos += 1
            except StopIteration:
                self._exhausted = True
                break
        return out


class BatchFetchIterator(IterableFetchIterator):
    """Forward-only cursor over RecordBatches of ``schema``; pages are
    Arrow tables cut across batch boundaries."""

    def __init__(self, batches: Iterable[pa.RecordBatch], schema: pa.Schema):
        super().__init__(batches)
        self._schema = schema
        self._batch: pa.RecordBatch | None = None
        self._offset = 0  # rows of self._batch already served

    def _advance(self, n: int) -> list[pa.RecordBatch]:
        """Step over the next n rows; returns them as batch slices."""
        out = []
        while n > 0 and not self._exhausted:
            if self._batch is None or self._offset == self._batch.num_rows:
                try:
                    self._batch, self._offset = next(self._iter), 0
                except StopIteration:
                    self._exhausted, self._batch = True, None
                continue
            piece = self._batch.slice(self._offset, n)
            self._offset += piece.num_rows
            self._pos += piece.num_rows
            n -= piece.num_rows
            out.append(piece)
        return out

    def fetch_absolute(self, pos: int) -> None:
        self._advance(pos - self._pos)
        self._start = self._pos

    def take(self, n: int) -> pa.Table:
        self._start = self._pos
        return pa.Table.from_batches(self._advance(n), self._schema)
