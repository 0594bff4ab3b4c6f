"""The commit protocol as a ``MERGE INTO`` statement (SURVEY.md §7.0).

On a cluster with a MERGE-capable table format the checkpoint protocol of
io/checkpoint.py maps onto:

    results:   MERGE INTO results r USING batch b ON r.url = b.url
               WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    resume:    pages LEFT ANTI JOIN (SELECT url FROM results)
    atomicity: the table's snapshot commit replaces the local backend's
               atomic directory-marker rename.

The engine's sink is the local backend (io/checkpoint.py), so the
statement runs only in the MERGE-semantics twin test
(tests/test_merge_semantics.py), which pins that backend to the same
committed set.
"""

from __future__ import annotations

# Reference analog: the INSERT in DbHelper.cs:31-36 plus the
# move-as-commit in Worker.cs:529, made exactly-once.
MERGE_SQL = """
MERGE INTO {target} r
USING {source} b ON r.url = b.url
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""


def merge_expansion_sql(target: str, source: str) -> list[str]:
    """The MERGE statement's defined expansion for engines without MERGE
    (this image's DuckDB is 1.0.0 — ``MERGE INTO`` parses only from 1.4):
    delete every matched target row, then insert all source rows.  This
    is exactly ``WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *``
    PROVIDED the source has unique keys — which the commit protocol
    guarantees (one extracted row per url per batch); MERGE itself errors
    on duplicate source matches, so the expansion is never weaker."""
    return [
        f"DELETE FROM {target} WHERE url IN (SELECT url FROM {source})",
        f"INSERT INTO {target} SELECT * FROM {source}",
    ]
