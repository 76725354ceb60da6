"""Measure what Lake.optimize_zorder actually buys: wall-clock of
selective two-predicate scans over three layouts of the same table —
hash-shuffled (no clustering), linear-sorted by x (classic single
SORTKEY), and z-ordered on (x, y) — in BOTH engines that prune on
Parquet footer stats (Spark's parquet reader row-group skipping, and
DuckDB's zone-map pruning). Writes ZORDER_SKIP.json.

The expectation being verified (test_zorder.py pins the stats side;
this pins the time side): a box predicate on (x, y) touching ~1% of
each dimension reads ~every row group of the shuffled layout, ~1/100
of the linear layout (x bounded, y unbounded), and ~1/10^3-ish of the
z-ordered layout (both bounded) — so z-order wins whenever queries
filter on more than the leading sort column.

Usage: python tools/zorder_bench.py [n_rows]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fxa_activity_metrics_spark.session import get_spark  # noqa: E402
from fxa_activity_metrics_spark.sources.lake import Lake  # noqa: E402

DOMAIN = 10_000
# five 1%-per-dimension boxes spread across the domain
BOXES = [(500, 2000), (3000, 7000), (8200, 1100), (4800, 4900), (9500, 300)]
WIDTH = 100


def extents(path: str, col: str) -> float:
    vals = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        pf = pq.ParquetFile(f)
        ci = pf.schema_arrow.get_field_index(col)
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(ci).statistics
            vals.append((st.max - st.min) / DOMAIN)
    return round(sum(vals) / len(vals), 4)


def time_spark(spark, path: str, y_only: bool = False) -> float:
    from pyspark.sql import functions as F

    total = 0.0
    for ax, ay in BOXES:
        cond = (F.col("y") >= ay) & (F.col("y") < ay + WIDTH)
        if not y_only:
            cond = cond & (F.col("x") >= ax) & (F.col("x") < ax + WIDTH)
        per = []
        for _ in range(2):
            t0 = time.perf_counter()
            spark.read.parquet(path).filter(cond).agg(
                F.count("*"), F.sum("v")
            ).collect()
            per.append(time.perf_counter() - t0)
        total += min(per)
    return round(total, 3)


def time_duckdb(path: str, y_only: bool = False) -> float:
    con = duckdb.connect()
    con.execute("SET threads=32")
    total = 0.0
    for ax, ay in BOXES:
        where = f"y >= {ay} AND y < {ay + WIDTH}"
        if not y_only:
            where += f" AND x >= {ax} AND x < {ax + WIDTH}"
        per = []
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(
                f"SELECT count(*), sum(v) FROM '{path}/*.parquet' "
                f"WHERE {where}"
            ).fetchall()
            per.append(time.perf_counter() - t0)
        total += min(per)
    con.close()
    return round(total, 3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = get_spark("zorder-bench")
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="zorder_bench_")
    lake = Lake(spark, tmp)
    base = (
        spark.range(n)
        .withColumn("x", F.pmod(F.hash(F.col("id") * 2 + 1), F.lit(DOMAIN)))
        .withColumn("y", F.pmod(F.hash(F.col("id") * 3 + 7), F.lit(DOMAIN)))
        .withColumn("v", (F.col("id") % 997).cast("double"))
    )
    # shuffled layout
    base.repartition(64).write.mode("overwrite").parquet(lake.path("shuffled"))
    # linear layout: range-partition + sort by x only
    (
        spark.read.parquet(lake.path("shuffled"))
        .repartitionByRange(64, "x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(lake.path("linear"))
    )
    # z-ordered layout
    shutil.copytree(lake.path("shuffled"), lake.path("zorder"))
    t0 = time.perf_counter()
    lake.optimize_zorder("zorder", ["x", "y"], bits=8, n_files=64)
    zorder_sec = round(time.perf_counter() - t0, 3)

    out: dict = {"n_rows": n, "box": f"{WIDTH}x{WIDTH} of {DOMAIN}^2",
                 "zorder_rewrite_sec": zorder_sec, "layouts": {}}
    for layout in ("shuffled", "linear", "zorder"):
        p = lake.path(layout)
        out["layouts"][layout] = {
            "spark_sec": time_spark(spark, p),
            "duckdb_sec": time_duckdb(p),
            # the case that separates z-order from a linear SORTKEY:
            # a predicate on the NON-leading column only — linear
            # layouts read the whole table, z-order still prunes
            "spark_sec_y_only": time_spark(spark, p, y_only=True),
            "duckdb_sec_y_only": time_duckdb(p, y_only=True),
            "mean_rg_extent_x": extents(p, "x"),
            "mean_rg_extent_y": extents(p, "y"),
        }
    shutil.rmtree(tmp)
    spark.stop()
    line = json.dumps(out)
    print(line)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "ZORDER_SKIP.json"), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
