"""CSV ingestion: permissive day-file reads + raw-line cleaning.

Reproduces the reference's two-phase load (S1/S3: untyped staging via
`COPY ... MAXERROR AS 100 TRUNCATECOLUMNS`, import_events.py:87-100)
and its shell-based sanitizers (P8/P9, clean-flow-data.sh /
pad-flow-data.sh) as Spark-native stages:

- raw `spark.read.text` → rlike rejection of injection patterns and
  wrong field counts (the cleaning stage);
- `spark.read.csv` with a declared schema, PERMISSIVE mode and a
  corrupt-record column (the staging stage), plus a bad-row cap check
  (MAXERROR) and VARCHAR(n) truncation.

At scale both stages are single-pass scans with full pushdown — no
driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.functions.core import empty_strings, truncate_columns

# Injection patterns rejected by clean-flow-data.sh:20-45. One regex
# alternation over the raw line; case-insensitive to match `grep -i`.
_INJECTION_RE = (
    r'(?i)("|\'|`|;|<|>|\\|\./|select |declare |burpcollab|nslookup|file:)'
)

_CORRUPT = "_corrupt_record"


def clean_raw_lines(
    spark: SparkSession, path: str, n_fields: int, reject_injection: bool = True
) -> DataFrame:
    """Read raw text lines and drop bad ones (P8/P9).

    - injection-pattern rejection (clean-flow-data.sh:20-45)
    - exact field-count check `^([^,]*,){n-1}[^,]*$`
      (clean-flow-data.sh:48-49)

    Returns a single-column DataFrame `value` of surviving lines.
    """
    lines = spark.read.text(path)
    if reject_injection:
        lines = lines.filter(~F.col("value").rlike(_INJECTION_RE))
    return validate_field_count(lines, n_fields)


def validate_field_count(lines: DataFrame, n_fields: int) -> DataFrame:
    """Standalone field-count validator (clean-flow-data.sh:48)."""
    field_re = r"^([^,]*,){%d}[^,]*$" % (n_fields - 1)
    return lines.filter(F.col("value").rlike(field_re))


def pad_short_lines(lines: DataFrame, n_fields: int) -> DataFrame:
    """P9 repair utility (pad-flow-data.sh:19): append commas so every
    short line reaches exactly ``n_fields`` fields. In the reference
    this is a MANUAL repair step — Redshift COPY rejects short rows,
    so the automated load counts them against MAXERROR; run this
    first when a feed is known to drop trailing empties."""
    cnt = F.size(F.split(F.col("value"), ",", -1))
    pad = F.repeat(F.lit(","), F.greatest(F.lit(n_fields) - cnt, F.lit(0)))
    return lines.select(F.concat(F.col("value"), pad).alias("value"))


def read_day_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_errors: int = 100,
    max_lengths: dict[str, int] | None = None,
) -> DataFrame:
    """Permissive typed CSV read of one day-file (S1).

    Semantics reproduced from `COPY ... FORMAT AS CSV MAXERROR AS 100
    TRUNCATECOLUMNS` (import_events.py:87-100):

    - rows that fail the schema — including SHORT rows, which Redshift
      COPY rejects too (that's what the manual pad-flow-data.sh repair
      exists for; see pad_short_lines) — are tolerated up to
      ``max_errors``, then the whole load fails (MAXERROR);
    - surviving bad rows are DROPPED (Redshift skips them);
    - over-length strings are truncated, not rejected (TRUNCATECOLUMNS);
    - missing values parse as EMPTY STRING, not NULL — the reference's
      missing-value sentinel (SURVEY §7 trap 2); any residual NULL in
      a string column is coalesced back to ''.
    """
    staging_schema = T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    df = spark.read.csv(
        path,
        schema=staging_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=_CORRUPT,
        # keep '' as '', never promote to NULL
        nullValue=None,
        emptyValue="",
    )
    # cached for the MAXERROR count and the typed read that follows;
    # released by the caller's cacheutil scope once the day is written
    df = cacheutil.track(df.cache())
    bad = df.filter(F.col(_CORRUPT).isNotNull()).count()
    if bad > max_errors:
        cacheutil.release_frame(df)
        raise ValueError(
            f"CSV load of {path}: {bad} corrupt rows exceeds MAXERROR={max_errors}"
        )
    # pad-flow-data.sh:19 semantics: short rows were null-filled by
    # PERMISSIVE mode; restore the empty-string sentinel.
    good = empty_strings(df.filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT))
    if max_lengths:
        good = truncate_columns(good, max_lengths)
    return good
