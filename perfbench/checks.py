"""Output checks, run outside the timed spans.

A registry entry with an oracle is compared with DuckDB running the
oracle SQL on the same Parquet corpus, by the repository's own oracle
comparison (``tests/oracle.py``: same columns, same row count, same rows
after an order-insensitive sort). An entry without an oracle, or whose
oracle is pinned to another corpus, must return rows and the same value
hash every time it is checked.
"""

from __future__ import annotations

import hashlib


class CheckFailed(Exception):
    pass


def value_hash(pdf) -> str:
    from tests.oracle import _normalize

    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in _normalize(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def check_entry(df, sql: str | None, corpus_dir: str,
                seen_hashes: dict, name: str) -> None:
    """Check one registry entry's DataFrame; raises on a mismatch."""
    from tests.oracle import compare

    if sql is not None:
        compare(df, sql, corpus_dir)
        return
    pdf = df.toPandas()
    if len(pdf) == 0:
        raise CheckFailed("empty result")
    digest = value_hash(pdf)
    if seen_hashes.setdefault(name, digest) != digest:
        raise CheckFailed("value hash changed between collections")
