"""The lifecycle shared by every persisted lake index: stage → commit
→ clean up.

BM25 postings (``search.build_text_index``) and the IVF, PQ and
IVFPQ indexes (``similarity.*_build_index``) each keep their data in
versioned tables ``{name}_{kind}_v{N}`` plus ONE manifest table that
names the live version of every kind:

- ``stage`` picks the next version N, one past the highest version
  of ANY of the index's kinds, and returns the tables to write plus
  the prior versions they replace;
- ``commit`` writes the manifest LAST through Lake.overwrite's
  temp-and-swap (the atomic commit point), then drops the replaced
  versions. A failure before the swap leaves the previous index fully
  consistent (the old manifest still points at the old tables); a
  failure after it leaves only stale versions, which the next
  successful build drops. Upserts edit the live version in place and
  re-commit the manifest with nothing to drop;
- ``read_manifest`` is the one manifest read: a never-built index
  fails loud, naming the missing table.

No filesystem call leaves the Lake API, so this works on any Lake
backend.
"""

from __future__ import annotations

from collections.abc import Iterable


def stage(lake, name: str, kinds: tuple[str, ...]) -> tuple[dict[str, str], list[str]]:
    """({kind: f"{name}_{kind}_v{N}"}, prior versions of those kinds)."""
    prior: list[tuple[str, int]] = []
    for kind in kinds:
        prefix = f"{name}_{kind}_v"
        prior += [
            (t, int(t[len(prefix):]))
            for t in lake.tables(prefix)
            if t[len(prefix):].isdigit()
        ]
    version = 1 + max((v for _, v in prior), default=0)
    return {kind: f"{name}_{kind}_v{version}" for kind in kinds}, [t for t, _ in prior]


def commit(lake, manifest: str, df, stale: Iterable[str] = ()) -> None:
    """Swap in the manifest frame, then drop the versions it replaced."""
    lake.overwrite(manifest, df)  # atomic commit
    for table in stale:
        lake.drop_table(table)


def read_manifest(lake, table: str, fn_name: str) -> list:
    """All rows of an index manifest. A never-built index raises a
    ValueError naming the missing table, not an opaque IndexError on
    rows[0] or a raw lake read error (the same loud-guard contract as
    pq_codebooks' empty-corpus checks)."""
    try:
        rows = lake.read(table).collect()
    except Exception as exc:
        raise ValueError(
            f"{fn_name}: manifest table '{table}' is missing — build "
            f"the index first (no prior *_build_index run?)"
        ) from exc
    if not rows:
        raise ValueError(
            f"{fn_name}: manifest table '{table}' is empty — the "
            f"index build did not commit"
        )
    return rows
