"""Output checks and the reference read loop.

- ``pyarrow_rows`` is the reference library's read loop with its
  defaults (batch 10k, readahead 4, fragment readahead 1, no threads),
  yielding one correct dict per row.  It is the ground truth for the
  streaming and write checks and the ``ref.pyarrow_rows_per_s`` line.
- ``digest`` is an order-insensitive digest of a row stream: the count
  plus a sum of per-row hashes.  A stream whose rows alias one another
  (the reference's ``[{}] * n`` bug) gives a different digest.
- ``oracle_check`` compares an operator's output with its DuckDB
  oracle using the engine's own order-insensitive canonicalization
  (``tests/oracle_harness.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable, Iterator

import pyarrow.dataset as ds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

import oracle_harness  # noqa: E402

_MASK = (1 << 64) - 1


def pyarrow_rows(path: str, columns=None, filter=None) -> Iterator[dict]:  # noqa: A002
    scanner = ds.dataset(path, format="parquet", partitioning="hive").scanner(
        columns=columns,
        filter=filter,
        batch_size=10_000,
        batch_readahead=4,
        fragment_readahead=1,
        use_threads=False,
    )
    for batch in scanner.to_batches():
        yield from batch.to_pylist()


def digest(rows: Iterable[dict]) -> tuple[int, int]:
    """``(row count, sum of per-row hashes mod 2**64)`` for rows of
    scalar values.  Python's string hashing is salted per process, so
    digests compare only within one run."""
    n, acc = 0, 0
    for row in rows:
        acc = (acc + hash(tuple(sorted(row.items())))) & _MASK
        n += 1
    return n, acc


duckdb_conn = oracle_harness.duckdb_conn


def oracle_check(name: str, build, sql: str | None, con) -> tuple[int, str | None]:
    """Build an operator's output with ``build()`` and compare it with
    its DuckDB oracle.  Returns ``(output rows, error or None)``; an
    operator without an oracle gets the rows-only check."""
    try:
        df = build()
        hashable = oracle_harness.check_driver_hashable(name, df)
        if not hashable.ok:
            return 0, f"{hashable.detail}: {hashable.mismatches}"
        rows = [tuple(r) for r in df.collect()]
        if sql is None:
            return len(rows), None
        types = oracle_harness.check_types(name, df, sql, con)
        if not types.ok:
            return len(rows), f"{types.detail}: {types.mismatches[:3]}"
        rel = con.sql(sql)
        want = oracle_harness._rows_to_multiset(list(rel.columns), rel.fetchall())
        got = oracle_harness._rows_to_multiset(list(df.columns), rows)
        if got != want:
            return len(rows), f"value mismatch ({len(rows)} rows vs oracle {sum(want.values())})"
        return len(rows), None
    except Exception as ex:  # noqa: BLE001 — a failing operator is a result, not a crash
        return 0, f"{type(ex).__name__}: {str(ex)[:300]}"
