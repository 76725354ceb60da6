"""Measure the J1 skew strategies against each other on a genuinely
skewed uid distribution (VERDICT r4 #5): AQE's runtime skew-split vs
explicit full salting vs partial salting (hot_min_rows), all with
broadcast disabled so the 7-day self-join actually shuffles — the
regime the fallback exists for.

Prints one JSON line; the chosen numbers are recorded in
ENGINEERING_NOTES.md. Usage: python tools/skew_bench.py [n_rows].
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import timed_runs, warm_session  # noqa: E402
from fxa_activity_metrics_spark.operators.summaries import (  # noqa: E402
    multi_device_users_join,
    multi_device_users_join_salted,
)


def skewed_activity(spark, n_rows: int, hot_share: float = 0.10):
    """daily_activity_per_device-shaped frame where ONE uid owns
    ``hot_share`` of all rows (a power user on many devices), the rest
    spread uniformly over ~n_rows/50 background uids. Built
    distributed (spark.range), never driver-side."""
    base = dt.date(2024, 5, 1)
    n_hot = int(n_rows * hot_share)
    hot = (
        spark.range(n_hot)
        .select(
            F.date_add(F.lit(base), (F.col("id") % 30).cast("int")).alias("day"),
            F.lit("power-uid").alias("uid"),
            F.concat(F.lit("pdev"), (F.col("id") % 200).cast("string")).alias(
                "device_id"
            ),
        )
        .distinct()
    )
    n_bg = n_rows - n_hot
    bg = spark.range(n_bg).select(
        F.date_add(F.lit(base), (F.col("id") % 30).cast("int")).alias("day"),
        F.concat(F.lit("uid"), (F.col("id") % (n_rows // 50)).cast("string")).alias(
            "uid"
        ),
        F.concat(F.lit("dev"), (F.col("id") % 7).cast("string")).alias("device_id"),
    )
    return hot.unionByName(bg).repartition(32).cache()


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = warm_session("skew-bench")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    act = skewed_activity(spark, n_rows)
    act.count()  # materialize the cache

    def timed(label: str, aqe: bool, skew: bool, build) -> float:
        """Min of 2 runs with AQE and its skew-join split set as given.
        The settings hold for the whole run: Spark reads them when the
        noop write is planned, not when the frame is built."""
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew).lower())
        # make the skew detector fire on this dataset's scale
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        try:
            runs = timed_runs(spark, label, build, 2)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        return round(min(w for _, w, _ in runs), 3)

    hot_min_rows = max(1000, n_rows // 100)
    results = {
        name: timed(name, aqe, skew, build)
        for name, aqe, skew, build in [
            ("plain_no_aqe", False, False,
             lambda: multi_device_users_join(act, 7)),
            ("plain_aqe_skewjoin", True, True,
             lambda: multi_device_users_join(act, 7)),
            ("full_salt", True, False,
             lambda: multi_device_users_join_salted(act, 7, n_salts=8)),
            ("partial_salt", True, False,
             lambda: multi_device_users_join_salted(
                 act, 7, n_salts=8, hot_min_rows=hot_min_rows)),
            ("partial_salt_plus_aqe", True, True,
             lambda: multi_device_users_join_salted(
                 act, 7, n_salts=8, hot_min_rows=hot_min_rows)),
        ]
    }
    print(
        json.dumps(
            {
                "metric": "J1 skew strategies, min of 2 runs (sec)",
                "n_rows": n_rows,
                "hot_share": 0.10,
                "results": results,
                "winner": min(results, key=results.get),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
