"""The day-partitioned Parquet lake: the engine's table store.

Maps the reference's Redshift physical design to a Spark-native lake
(SURVEY §1.3):

- `SORTKEY timestamp/day`  → `partitionBy("day")` partition pruning +
  `sortWithinPartitions` so Parquet row-group min/max stats prune
  within files;
- delete-day-then-insert idempotency (import_events.py:102-105) →
  dynamic partition overwrite;
- retention `DELETE WHERE day < cutoff` (import_events.py:133-136) →
  partition directory drops (pure metadata at scale — no rewrite);
- `VACUUM FULL` (import_events.py:138-142) → per-partition compaction
  (coalesce-rewrite of small files).

All operations are partition-granular: at 100 TB a day-partition is
the unit of overwrite/expiry/compaction, and nothing here ever reads
more partitions than the operation touches.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import shutil
import warnings
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.ml.feature import Bucketizer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# per-partition idempotence marker of the clustered layout
# (underscore-prefixed: invisible to every parquet reader, the
# _SUCCESS convention); holds the comma-joined clustering columns
_CLUSTERED = "_CLUSTERED"


@dataclass(frozen=True)
class ZOrder:
    """The z-order clustering of one directory or one landed day: the
    clustering columns and, per column, its equi-depth surrogate
    boundaries — ``None`` for an entirely-NULL column, whose dimension
    is skipped. Built by ``zorder_bounds``; applied by
    ``Lake.write_days(..., zorder=...)`` and the ``_zorder_dir``
    rewrite (see ``Lake.optimize_zorder`` for the layout)."""

    cols: tuple[str, ...]
    bounds: tuple[tuple[float, ...] | None, ...]
    bits: int = 8


def zorder_bounds(df: DataFrame, cols: Sequence[str], bits: int = 8, where: str = "") -> ZOrder:
    """Equi-depth boundaries of every clustering column's surrogate,
    from ONE ``approxQuantile`` job over all columns (2^bits bins,
    relative error 1/2^(bits+2)). A column that is entirely NULL
    (reachable since per-partition rewrites scan single days) yields
    no boundaries: its dimension is skipped with a warning — every row
    would be bucket 0 anyway, contributing constant 0 bits."""
    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    sur = df.select(
        *[Lake._zorder_surrogate(c, df.schema[c].dataType).alias(f"_zs{d}")
          for d, c in enumerate(cols)]
    )
    quantiles = sur.stat.approxQuantile(list(sur.columns), probs, 1.0 / (4 * n_bins))
    for c, qs in zip(cols, quantiles):
        if not qs:
            warnings.warn(
                f"optimize_zorder: column {c!r} is entirely NULL "
                f"under {where!r}; skipping that dimension",
                stacklevel=2,
            )
    return ZOrder(tuple(cols), tuple(tuple(qs) or None for qs in quantiles), bits)


def _bucket_ids(df: DataFrame, bounds: dict[str, Sequence[float]]) -> DataFrame:
    """``df`` plus a long ``{c}_idx`` per entry of ``bounds``: the
    equi-depth bucket of double column ``c`` — the number of distinct
    boundaries <= its value, NULL in bucket 0. Repeated boundaries
    (heavy hitters repeat a quantile) count once.

    One binary search per value (``Bucketizer`` over
    ``[-inf, *finite bounds, +inf]``, a codegen'd JVM call), not a
    fold over the boundary list: a fold is a higher-order function,
    which runs interpreted, and CollapseProject inlines an expensive
    input (the string surrogate) into its lambda — 255 evaluations of
    the surrogate per row at 8 bits. The fold's edge cases are kept
    explicitly: NaN ranks above every boundary (Spark orders NaN
    highest), so the search's extra NaN bucket is clamped to the top;
    a -inf boundary counts for every non-NULL value, a +inf boundary
    only for +inf and NaN; -0.0 is normalized to 0.0 (the search
    orders it below 0.0, SQL compares them equal)."""
    splits, cols, extra = [], [], {}
    for c, bnds in bounds.items():
        bnds = sorted({b + 0.0 for b in bnds})
        finite = [b for b in bnds if math.isfinite(b)]
        s = F.col(c)
        if finite:
            splits.append([-math.inf, *finite, math.inf])
            cols.append(c)
            bk = F.col(f"{c}_bkt")
            idx = F.when(bk > len(finite), len(finite)).otherwise(bk)
        else:
            idx = F.when(s.isNotNull(), F.lit(0.0))
        if bnds and bnds[0] == -math.inf:
            idx = idx + 1
        if bnds and bnds[-1] == math.inf:
            idx = idx + F.when(s >= math.inf, 1).otherwise(0)
        extra[f"{c}_idx"] = F.coalesce(idx.cast("long"), F.lit(0).cast("long"))
    work = df.withColumns({c: F.col(c) + 0.0 for c in cols})
    if cols:
        work = Bucketizer(
            splitsArray=splits,
            inputCols=cols,
            outputCols=[f"{c}_bkt" for c in cols],
            handleInvalid="keep",
        ).transform(work)
    return work.select(*df.columns, *[v.alias(k) for k, v in extra.items()])


def _zorder_frame(df: DataFrame, zo: ZOrder) -> DataFrame:
    """``df`` plus its Morton z-value ``_z``: each live dimension's
    surrogate is computed once per row, bucketed (``_bucket_ids``),
    and the bucket ids' low ``bits`` bits interleaved into one long.
    The bucket ids are materialized behind a projection boundary (each
    is referenced ``bits`` times in the z-value, which blocks
    CollapseProject), so the binary search runs once per row."""
    ndims = len(zo.cols)
    live = [d for d, b in enumerate(zo.bounds) if b]
    work = df.select(
        "*",
        *[Lake._zorder_surrogate(zo.cols[d], df.schema[zo.cols[d]].dataType).alias(f"_zs{d}")
          for d in live],
    )
    work = _bucket_ids(work, {f"_zs{d}": zo.bounds[d] for d in live})
    z = F.lit(0).cast("long")
    for d in live:
        idx = F.col(f"_zs{d}_idx")
        for bit in range(zo.bits):
            z = z + F.shiftleft(
                F.shiftright(idx, bit).bitwiseAND(F.lit(1)),
                bit * ndims + (ndims - 1 - d),
            )
    return work.select(*df.columns, z.alias("_z"))


def _mark_clustered(part: str, cols: Sequence[str]) -> None:
    with open(os.path.join(part, _CLUSTERED), "w") as fh:
        fh.write(",".join(cols))


def _hidden_sibling(path: str, suffix: str) -> str:
    """A dot-prefixed sibling name for temp/trash dirs: Spark's file
    source ignores paths whose name starts with ``.`` or ``_``, so a
    crash leftover inside a table root is invisible to readers
    (a VISIBLE ``day=X._zorder`` leftover would be picked up as a
    partition dir and break every scan with CANNOT_READ_FILE_FOOTER)."""
    d, b = os.path.split(path.rstrip("/"))
    return os.path.join(d, "." + b + suffix)


def _swap_dir(live: str, tmp: str) -> None:
    """Promote ``tmp`` over ``live`` with the trash-rotation pattern
    (VERDICT r11 item 4): rotate live aside FIRST, then promote, then
    drop the rotation. A crash at any point leaves the data
    recoverable — before the promote the previous table survives
    under the hidden ``._old_swap`` rotation; after it the new table
    is live. The naive rmtree-then-rename order has a window where NO
    live dir exists. The rename pair is not one atomic op; readers
    racing the swap should retry (single-writer assumed)."""
    trash = _hidden_sibling(live, "._old_swap")
    if os.path.exists(trash):
        shutil.rmtree(trash)
    if os.path.exists(live):
        os.replace(live, trash)
    os.replace(tmp, live)
    if os.path.exists(trash):
        shutil.rmtree(trash)


class Lake:
    """A collection of day-partitioned Parquet tables under ``root``.

    Table layout: ``{root}/{table}/day={YYYY-MM-DD}/part-*.parquet``.
    Sampled variants are separate tables named with the reference's
    suffixes (``activity_events``, ``activity_events_sampled_50``,
    ``activity_events_sampled_10`` — import_events.py:51-54).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- write ------------------------------------------------------------

    def write_parts(
        self,
        table: str,
        df: DataFrame,
        part_col: str,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Partition-granular idempotent sink on an arbitrary
        date-valued partition column.

        Dynamic partition overwrite replaces exactly the partitions
        present in ``df`` — partitions the frame doesn't touch are
        never read or rewritten, which is the property that makes
        per-day maintenance of a 100 TB table O(day), not O(table).
        """
        if part_col not in df.columns:
            raise ValueError(f"write_parts requires a '{part_col}' partition column")
        out = df.repartition(part_col)
        if sort_cols:
            # the partition column must LEAD the sort: FileFormatWriter
            # requires its input ordered by the partition columns and
            # silently inserts its own (non-stable) sort when it isn't
            # — which destroyed a bare sortWithinPartitions(sort_cols)
            # and left every row group spanning the whole day (no
            # zone-map pruning; found via tools/zorder_activity_bench).
            # Leading with part_col satisfies the writer's required
            # ordering, so OUR sort is the one that reaches the files.
            out = out.sortWithinPartitions(part_col, *sort_cols)
        self._overwrite_parts(table, out, part_col)

    def _overwrite_parts(self, table: str, out: DataFrame, part_col: str) -> None:
        (
            out.write.mode("overwrite")
            .partitionBy(part_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path(table))
        )

    def write_days(
        self,
        table: str,
        df: DataFrame,
        sort_cols: list[str] | None = None,
        zorder: ZOrder | None = None,
    ) -> None:
        """Idempotent day sink (S5).

        Dynamic partition overwrite replaces exactly the day
        partitions present in ``df`` — re-running an import for a day
        yields identical lake state, the reference's clear-day+insert
        contract (import_events.py:102-105,205-219). Rows are sorted
        within partitions on ``sort_cols`` (default: timestamp) so
        Parquet zone maps stay effective (SORTKEY analogue).

        With ``zorder`` (the day's boundaries from ``zorder_bounds``)
        the day is written CLUSTERED instead: range-partitioned on
        (day, z-value) into the file count ``maintain`` writes and
        sorted on it, then each written day gets its ``_CLUSTERED``
        marker — the layout ``maintain`` would produce, without the
        read-back and rewrite. The written days are found from the
        directory listing, with no probe job: the dynamic-overwrite
        commit replaces each written partition by renaming its staged
        directory into place, so exactly the written days have a new
        inode, and a day the frame does not touch keeps its files and
        its marker state.
        """
        if "day" not in df.columns:
            raise ValueError("write_days requires a 'day' partition column")
        if zorder is None:
            sort_cols = sort_cols or (["timestamp"] if "timestamp" in df.columns else [])
            self.write_parts(table, df, "day", sort_cols)
            return
        before = self._day_inodes(table)
        self._overwrite_parts(table, self._cluster(df, zorder, lead=["day"]), "day")
        for part, ino in self._day_inodes(table).items():
            if before.get(part) != ino:
                _mark_clustered(part, zorder.cols)

    def _day_inodes(self, table: str) -> dict[str, int]:
        """Each day partition directory's inode."""
        parts = (os.path.join(self.path(table), f"day={d.isoformat()}") for d in self.days(table))
        return {p: os.stat(p).st_ino for p in parts}

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Full-table overwrite (session/entity tables like
        flow_metadata that are rewritten per enrichment pass).

        Writes to a temp location first, then swaps — the source may
        be a self-read of the same table. The swap rotates the old
        data to a trash name BEFORE promoting the new write (instead
        of rmtree-then-rename): a crash mid-swap leaves the previous
        table recoverable under ``._old_swap`` rather than deleted —
        the manifest-consumers (IVF/text-index builds) rely on the
        old state surviving any failure before the promote. The
        rename pair is not a single atomic op; readers racing the
        swap on a live table should retry (single-writer assumed).
        """
        tmp = _hidden_sibling(self.path(table), "._tmp_swap")
        df.write.mode("overwrite").parquet(tmp)
        _swap_dir(self.path(table), tmp)

    # -- read -------------------------------------------------------------

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.exists(p):
            return False
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        if not self.exists(table):
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            raise FileNotFoundError(
                f"lake table '{table}' has no data at {self.path(table)}; "
                "pass a schema to read an empty/unmaterialized table"
            )
        df = self.spark.read.parquet(self.path(table))
        if schema is not None:
            # partitioned reads surface the partition column LAST;
            # normalize to the declared field order so unionByName /
            # downstream selects see one stable shape either way.
            # Fields absent from the stored files (schema evolution:
            # a column added after the table was written) come back
            # as typed nulls rather than an AnalysisException — but a
            # MOSTLY-missing schema is a wrong-table/wrong-schema read,
            # not evolution, and stays a loud failure.
            present = set(df.columns)
            missing = [f.name for f in schema.fields if f.name not in present]
            if len(missing) * 2 > len(schema.fields):
                raise ValueError(
                    f"lake table '{table}' is missing most declared fields "
                    f"{missing} — wrong schema for this table? Stored "
                    f"columns: {sorted(present)}"
                )
            df = df.select(
                *[
                    F.col(f.name) if f.name in present
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
        return df

    def read_days(
        self,
        table: str,
        day_from: dt.date | str | None = None,
        day_until: dt.date | str | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Read with a day-range predicate; Catalyst prunes the scan
        to the matching partition directories (verified in tests via
        the physical plan's PartitionFilters)."""
        df = self.read(table, schema)
        if day_from is not None:
            df = df.filter(F.col("day") >= F.lit(str(day_from)).cast("date"))
        if day_until is not None:
            df = df.filter(F.col("day") <= F.lit(str(day_until)).cast("date"))
        return df

    # -- partition metadata (driver-side, file-listing only) --------------

    def part_days(self, table: str, part_col: str) -> list[dt.date]:
        """Populated partition values of a date-valued partition
        column, from directory names — no data scan."""
        p = self.path(table)
        if not os.path.isdir(p):
            return []
        rx = re.compile(rf"^{re.escape(part_col)}=(\d{{4}}-\d{{2}}-\d{{2}})$")
        out = []
        for entry in os.listdir(p):
            m = rx.match(entry)
            if m:
                out.append(dt.date.fromisoformat(m.group(1)))
        return sorted(out)

    def drop_part(self, table: str, part_col: str, value: dt.date | str | int) -> None:
        """Drop one partition directory — O(1) metadata, no rewrite.

        ``value`` is normalized through ISO-date or integer parsing
        before the path is built, so a malformed value raises instead
        of aiming the rmtree at an unintended directory."""
        part = os.path.join(self.path(table), f"{part_col}={_part_str(value)}")
        if os.path.isdir(part):
            shutil.rmtree(part)

    def tables(self, prefix: str = "") -> list[str]:
        """Table names under the lake root starting with ``prefix`` —
        directory listing only."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if d.startswith(prefix)
            and not d.startswith(".")
            and os.path.isdir(os.path.join(self.root, d))
            # crash-leftover swap staging dirs are not tables (the
            # hidden ._tmp_swap/._old_swap siblings are dot-prefixed,
            # but filter legacy visible names too)
            and not d.endswith(("._tmp_swap", "._old_swap"))
        )

    def drop_table(self, table: str) -> None:
        """Drop a whole table directory (index GC, staged-build
        cleanup). The path is rebuilt from the table NAME under the
        lake root — never an arbitrary filesystem path."""
        if not table or "/" in table or table in (".", ".."):
            raise ValueError(f"invalid table name: {table!r}")
        p = self.path(table)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def days(self, table: str) -> list[dt.date]:
        """Populated days, from partition directory names — the lake
        analogue of the reference's populated-day probe
        (import_events.py:72-78) without scanning any data."""
        return self.part_days(table, "day")

    def day_populated(self, table: str, day: dt.date | str) -> bool:
        """Existence probe (P7, import_events.py:72-78)."""
        return dt.date.fromisoformat(str(day)) in set(self.days(table))

    def max_day(self, table: str) -> dt.date | None:
        """High-water mark from partition names (A1 analogue,
        import_events.py:159-163) — no data scan."""
        days = self.days(table)
        return days[-1] if days else None

    # -- maintenance -------------------------------------------------------

    def expire(self, table: str, max_day: dt.date, months: int) -> list[dt.date]:
        """Retention expiry (S6): drop partitions with
        ``day < max_day - months`` (import_events.py:133-136).

        Keyed off the table's max day, not wall-clock, exactly like
        the reference (SURVEY §7 trap 6). Partition drops are O(1)
        metadata operations — no data rewrite at any scale.
        """
        cutoff = _add_months(max_day, -months)
        dropped = []
        for day in self.days(table):
            if day < cutoff:
                shutil.rmtree(os.path.join(self.path(table), f"day={day.isoformat()}"))
                dropped.append(day)
        return dropped

    def delete_where(self, table: str, condition, days: list[dt.date]) -> None:
        """Targeted-row delete (S8, import_flow_events.py:151-155):
        anti-filter rewrite of ONLY the affected day partitions."""
        if not days:
            return
        day_lits = [F.lit(str(d)).cast("date") for d in days]
        affected = self.read(table).filter(F.col("day").isin(*day_lits))
        kept = affected.filter(~condition)
        # materialize the surviving-day set BEFORE the overwrite: the
        # write replaces the very files `kept` reads from, so any
        # re-execution of the plan afterwards would hit deleted files
        remaining = {r["day"] for r in kept.select("day").distinct().collect()}
        self.write_days(table, kept)
        # partitions whose rows were all deleted need an explicit drop
        # (dynamic overwrite only rewrites partitions present in `kept`)
        for d in days:
            if d not in remaining and self.day_populated(table, d):
                shutil.rmtree(os.path.join(self.path(table), f"day={d.isoformat()}"))

    def merge_replace(
        self,
        table: str,
        df: DataFrame,
        part_col: str,
        key_col: str,
        schema: T.StructType | None = None,
        sort_cols: list[str] | None = None,
        keys: DataFrame | None = None,
    ) -> int:
        """Partition-granular replace-by-key merge — the MERGE INTO
        analogue for entity tables partitioned on a date or integer
        column.  Returns the table's row-count DELTA (rows inserted
        minus rows replaced/removed), computed from two partition-
        pruned counts over the touched partitions only — callers
        maintaining a corpus-size manifest (ivf/ivfpq upsert) add it
        to their prior total instead of re-counting the whole table
        per call.

        Replaces every existing row whose ``key_col`` appears in
        ``df`` and inserts ``df``'s rows, rewriting ONLY the
        partitions that can change: the partitions present in ``df``
        plus those holding a replaced key (found with a semi-join
        probe column-pruned to (key, partition) — metadata-scale
        collect). Untouched partitions keep their exact files (the
        property that makes a per-micro-batch session merge O(touched
        partitions), not O(table) — pinned byte-identical in
        tests/test_streaming.py). A partition emptied by the merge
        (its only rows' keys moved to another partition) is dropped
        explicitly, since dynamic overwrite never rewrites a
        partition absent from the frame.

        ``keys`` (optional, one ``key_col`` column) widens the
        delete set beyond the keys present in ``df``: every existing
        row whose key appears in ``keys`` is replaced even when
        ``df`` carries NO new rows for it. Callers whose per-key row
        count can legitimately drop to zero (a re-imported document
        that now tokenizes to zero postings) MUST pass the batch's
        full key set here, else the old rows survive as stale state.
        """
        if part_col not in df.columns:
            raise ValueError(f"merge_replace requires a '{part_col}' column")
        if keys is None:
            keys = df.select(key_col)
        elif keys.columns != [key_col]:
            raise ValueError(f"keys frame must have exactly one '{key_col}' column")
        if not self.exists(table):
            self.write_parts(table, df, part_col, sort_cols=sort_cols)
            # all rows are new — count the files just written (reads
            # parquet footers only, no recompute of df's lineage)
            return self.read(table).count()
        existing = self.read(table, schema)
        keys = keys.distinct()
        touched = {
            r[part_col]
            for r in existing.join(keys, key_col, "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        }
        new_parts = {r[part_col] for r in df.select(part_col).distinct().collect()}
        touched |= new_parts
        if not touched:
            return 0
        lits = [_part_lit(p) for p in sorted(touched)]
        # partition-pruned metadata count of the rows about to be
        # rewritten — one side of the returned delta
        n_before = existing.filter(F.col(part_col).isin(*lits)).count()
        kept = existing.filter(F.col(part_col).isin(*lits)).join(
            keys, key_col, "left_anti"
        )
        # materialize the surviving-partition set BEFORE the overwrite
        # replaces the very files `kept` reads from
        kept_parts = {r[part_col] for r in kept.select(part_col).distinct().collect()}
        merged = kept.unionByName(df.select(*kept.columns))
        self.write_parts(table, merged, part_col, sort_cols=sort_cols)
        for p in sorted(touched - kept_parts - new_parts):
            self.drop_part(table, part_col, p)
        written = sorted((kept_parts | new_parts) & touched)
        if not written:
            return -n_before
        n_after = (
            self.read(table)
            .filter(F.col(part_col).isin(*[_part_lit(p) for p in written]))
            .count()
        )
        return n_after - n_before

    def compact(self, table: str, target_files_per_day: int = 1) -> None:
        """VACUUM analogue (S7): rewrite each day partition into
        ``target_files_per_day`` sorted files. Run after heavy
        delete_where churn; partition-granular so it scales linearly
        and can be parallelized per-day on a cluster. Each partition
        swap uses the crash-safe trash rotation (``_swap_dir``)."""
        for day in self.days(table):
            part = os.path.join(self.path(table), f"day={day.isoformat()}")
            df = self.spark.read.parquet(part).coalesce(target_files_per_day)
            if "timestamp" in df.columns:
                df = df.sortWithinPartitions("timestamp")
            tmp = _hidden_sibling(part, "._compact")
            df.write.mode("overwrite").parquet(tmp)
            _swap_dir(part, tmp)

    def optimize_zorder(
        self,
        table: str,
        cols: list[str],
        bits: int = 8,
        n_files: int | None = None,
    ) -> None:
        """Z-ORDER clustering rewrite (the S7 maintenance family's
        multi-column sibling of ``compact``): cluster a table so scans
        filtered on ANY of ``cols`` skip most files and row groups.

        A linear sort makes Parquet min/max stats selective on the
        leading sort column only; interleaving the columns' bits into
        a Morton z-value and sorting by THAT bounds every clustering
        column's extent per row group simultaneously — the standard
        data-clustering move for multi-predicate scan pruning at
        100 TB (each row group covers ~1/2^bits of each dimension's
        domain instead of all of it, so engines that prune on footer
        stats — Spark, DuckDB, Trino — read a vanishing fraction of
        the table for selective multi-column predicates).

        Mechanics, all JVM-side: each clustering column is rank-
        bucketed into 2^bits equi-depth bins against approxQuantile
        boundaries (``zorder_bounds``: one job for all columns;
        equi-depth, so skewed columns still spread across buckets; the
        boundary list is ≤2^bits driver-side doubles — a bounded
        collect, never corpus-scale) by one binary search per value
        (``_bucket_ids``), the bucket indexes' bits are interleaved
        into one long, and the table is range-
        partitioned + sorted by it in a single exchange, then swapped
        in with the crash-safe trash rotation (``_swap_dir`` — live
        rotated aside before the promote, so no window with no live
        dir). NULLs rank lowest (bucket 0).

        Column types: numeric columns rank on their value; DATE on
        epoch day and TIMESTAMP on epoch seconds (order-preserving,
        so the reference's SORTKEY columns — import_events.py:62
        ``timestamp``/``day`` — are clusterable); STRING on the
        big-endian integer of its first 7 bytes — an
        order-preserving surrogate, NOT a hash: lexicographic
        neighbors land in the same bucket, so the Parquet min/max
        stats on the ORIGINAL string column stay narrow per row
        group and equality/prefix predicates (``uid = …``,
        ``flow_id LIKE 'ab%'``) prune. (A hash surrogate would
        spread equal keys uniformly and leave every row group's
        string min/max spanning the whole domain — no skipping.)
        Other types raise rather than clustering garbage.

        Partitioned tables are z-ordered PER PARTITION, preserving
        the ``day=`` directory layout (each partition is an
        independent rewrite — the unit of maintenance at 100 TB,
        embarrassingly parallel across a cluster). Clustering on the
        partition column itself raises (it is constant within a
        partition; partition pruning already covers it).
        """
        if not cols:
            raise ValueError("optimize_zorder: need at least one column")
        if bits * len(cols) > 63:
            raise ValueError(
                f"optimize_zorder: {bits} bits x {len(cols)} cols "
                f"overflows the 63-bit z-value"
            )
        root = self.path(table)
        # "._" excludes crash leftovers of our own temp/trash suffixes
        # (._zorder / ._compact / ._old_swap): they must be neither
        # clustered nor promoted as partitions
        part_dirs = sorted(
            d for d in os.listdir(root)
            if "=" in d and "._" not in d
            and os.path.isdir(os.path.join(root, d))
        )
        if part_dirs:
            pcols = {d.split("=", 1)[0] for d in part_dirs}
            clash = pcols & set(cols)
            if clash:
                raise ValueError(
                    f"optimize_zorder: {sorted(clash)} are partition "
                    f"columns — constant within each partition dir; "
                    f"cluster on the non-partition keys instead"
                )
            for d in part_dirs:
                leaf = os.path.join(root, d)
                if any(
                    "=" in s and os.path.isdir(os.path.join(leaf, s))
                    for s in os.listdir(leaf)
                ):
                    raise ValueError(
                        f"optimize_zorder: nested partition layout "
                        f"under {leaf!r} is not supported"
                    )
                self._zorder_dir(leaf, cols, bits, n_files)
        else:
            self._zorder_dir(root, cols, bits, n_files)

    def maintain(
        self,
        table: str,
        zorder_cols: list[str],
        bits: int = 8,
        n_files: int | None = None,
    ) -> list[dt.date]:
        """The clustering SWEEP (S7 at pipeline cadence): z-order every
        day partition that lacks a ``_CLUSTERED`` marker, exactly once.

        Days imported through ``write_days(..., zorder=...)`` land
        clustered and marked, so on a lake written that way this is
        one ``os.path.exists`` per day. It rewrites the days written
        without clustering: lakes written by older code (which
        clustered only after the day had landed), and partitions
        replaced since by an unclustered rewrite (``delete_where``,
        ``compact``, a plain ``write_days``) — any such rewrite
        replaces the directory and with it the marker, so the day is
        re-clustered on the next sweep.

        The marker is written AFTER the crash-safe swap: a crash
        between rewrite and marker re-clusters that one day on the
        next run, which is harmless. Each day is an independent
        bounded rewrite — the unit of maintenance at 100 TB,
        embarrassingly parallel across a cluster.

        Returns the days clustered this call.
        """
        if "day" in zorder_cols:
            raise ValueError(
                "maintain: 'day' is the partition column — constant "
                "within each partition dir; cluster on the non-partition "
                "keys instead"
            )
        done: list[dt.date] = []
        for day in self.days(table):
            part = os.path.join(self.path(table), f"day={day.isoformat()}")
            if os.path.exists(os.path.join(part, _CLUSTERED)):
                continue
            self._zorder_dir(part, zorder_cols, bits, n_files)
            _mark_clustered(part, zorder_cols)
            done.append(day)
        return done

    @staticmethod
    def _zorder_surrogate(c: str, dtype: T.DataType):
        """Order-preserving numeric surrogate for a clustering column
        (see ``optimize_zorder``); raises on unsupported types."""
        if isinstance(dtype, T.NumericType):
            return F.col(c).cast("double")
        if isinstance(dtype, T.DateType):
            # epoch day — exact in a double far beyond any calendar
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        if isinstance(dtype, T.TimestampType):
            # epoch seconds (+fraction); doubles hold ~2^53 exactly,
            # plenty for boundary ranking
            return F.col(c).cast("double")
        if isinstance(dtype, T.StringType):
            # big-endian integer of the first 7 BYTES, zero-right-padded
            # (56 bits, inside double's 53-bit exactness for ranking
            # purposes): monotone in the string's byte order — shorter
            # strings pad with 0x00 (the minimal byte) so 'z' (0x7A…)
            # still ranks above 'abc' (0x616263…), and the slice is
            # taken on the HEX of the UTF-8 bytes (14 hex chars = 7
            # bytes exactly) so multi-byte characters can never widen
            # the prefix past conv's 64-bit range. A strict byte-prefix
            # of a longer string ties with it — ties collapse into one
            # bucket, fine for equi-depth bucketing. Empty string → 0,
            # NULL → NULL → bucket 0.
            return F.conv(
                F.rpad(F.substring(F.hex(F.col(c)), 1, 14), 14, "0"), 16, 10
            ).cast("double")
        raise ValueError(
            f"optimize_zorder: column {c!r} is {dtype.simpleString()}; "
            f"supported: numeric, date, timestamp, string"
        )

    def _zorder_dir(
        self, path: str, cols: list[str], bits: int, n_files: int | None
    ) -> None:
        """One-directory z-order rewrite (the whole table, or one
        partition of a partitioned table): boundaries, then the
        clustered frame, written aside and swapped in."""
        df = self.spark.read.parquet(path)
        out = self._cluster(df, zorder_bounds(df, cols, bits, where=path), n_files)
        tmp = _hidden_sibling(path, "._zorder")
        out.write.mode("overwrite").parquet(tmp)
        _swap_dir(path, tmp)

    def _cluster(
        self,
        df: DataFrame,
        zo: ZOrder,
        n_files: int | None = None,
        lead: list[str] | None = None,
    ) -> DataFrame:
        """``df`` range-partitioned on (``lead``, z-value) into
        ``n_files`` partitions (default: a quarter of the shuffle
        partitions) and sorted on the same key in a single exchange.
        ``lead`` is the partition column of a partitioned write, which
        must lead the sort (see ``write_parts``)."""
        lead = lead or []
        n = n_files or max(
            1, int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4
        )
        return (
            _zorder_frame(df, zo)
            .repartitionByRange(n, *lead, "_z")
            .sortWithinPartitions(*lead, "_z")
            .drop("_z")
        )

    def analyze(self, table: str) -> None:
        """ANALYZE analogue (S7): compute table stats for CBO when the
        table is catalog-backed (bucketed tables); no-op for pure-path
        tables, whose Parquet footers already carry min/max/count."""
        name = self._catalog_name(table)
        if self.spark.catalog.tableExists(name):
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")

    # -- bucketed tables ----------------------------------------------------

    def _catalog_name(self, table: str) -> str:
        """Catalog identifier for this lake's table — bucket metadata
        is a CATALOG property in Spark (not a file property), so
        bucketed tables need a name. Scoped by a root-path digest so
        two lakes in one session never collide."""
        import hashlib

        digest = hashlib.md5(self.root.encode()).hexdigest()[:8]
        return f"lake_{digest}_{table}"

    def write_bucketed(
        self,
        table: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Hash-bucketed table for co-located joins — the lake answer
        to REPEATED big-to-big joins on a stable key (uid self-joins,
        flow-id enrichment passes: SURVEY §2.3 J1-J7). Both sides of
        a bucket-aligned equi-join read pre-hashed files and the plan
        contains NO shuffle exchange (pinned by tests/
        test_bucketing.py); with ``sort_cols`` the sort-merge sort is
        skipped too. At 100 TB this converts every recurring uid join
        from a full-data shuffle into a per-bucket local merge.

        Data files land under the lake path (external table), so the
        path-based readers keep working; the bucket spec lives in the
        session catalog (production: Hive/Glue metastore).
        """
        name = self._catalog_name(table)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        target = self.path(table)
        if os.path.exists(target):
            shutil.rmtree(target)
        (
            df.write.format("parquet")
            .option("path", target)
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*(sort_cols or list(bucket_cols)))
            .mode("overwrite")
            .saveAsTable(name)
        )

    def read_bucketed(self, table: str) -> DataFrame:
        """Catalog read that preserves the bucket spec (a plain path
        read would see the same rows but lose co-location)."""
        return self.spark.table(self._catalog_name(table))


def _part_str(value: dt.date | str | int) -> str:
    """Partition value → directory-name fragment, restricted to ISO
    dates and integers so a malformed value raises loudly."""
    if isinstance(value, bool):
        raise ValueError(f"unsupported partition value: {value!r}")
    if isinstance(value, int):
        return str(value)
    try:
        return dt.date.fromisoformat(str(value)).isoformat()
    except ValueError:
        s = str(value)
        if re.fullmatch(r"-?\d+", s):
            return s
        raise ValueError(f"unsupported partition value: {value!r}")


def _part_lit(value) -> F.Column:
    """Partition value → comparison literal of the matching type."""
    if isinstance(value, dt.date):
        return F.lit(str(value)).cast("date")
    return F.lit(value)


def _add_months(day: dt.date, months: int) -> dt.date:
    """Pure-Python add_months matching Spark/Redshift end-of-month
    clamping (F10 interval arithmetic, import_events.py:135)."""
    m = day.month - 1 + months
    y = day.year + m // 12
    m = m % 12 + 1
    # clamp day-of-month
    last = [31, 29 if y % 4 == 0 and (y % 100 != 0 or y % 400 == 0) else 28,
            31, 30, 31, 30, 31, 31, 30, 31, 30, 31][m - 1]
    return dt.date(y, m, min(day.day, last))
