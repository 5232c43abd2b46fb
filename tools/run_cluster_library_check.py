#!/usr/bin/env python
"""Cluster-mode (separate-JVM) check of library paths NO registered
query exercises: the two-level semantic_dedup assignment and the
salted sessionization helper. run_cluster_parity.py sweeps every
REGISTERED query under local-cluster; these round-6 additions are
library-level (the registered semantic_dedup_stats pins k=4 = flat
path), so without this they would only ever run inside the threaded
local[N] suite.

Usage: python tools/run_cluster_library_check.py [master]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from radio_data_pipeline_spark.functions.similarity import (  # noqa: E402
    semantic_dedup,
)
from radio_data_pipeline_spark.operators.skew import (  # noqa: E402
    salted_sessionize,
)
from radio_data_pipeline_spark.session import get_spark  # noqa: E402

MASTER = sys.argv[1] if len(sys.argv) > 1 else "local-cluster[2,4,2048]"


def check_two_level(spark) -> None:
    rng = np.random.default_rng(13)
    rows = [(i, [float(v) for v in rng.standard_normal(8)])
            for i in range(2048)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(eps=0.999, n_clusters=None, lloyd_rounds=1,
              target_cluster_rows=8)  # auto k=256 > 128 -> two-level
    a = semantic_dedup(df, **kw)
    assert a.count() == 2048
    assert a.select("vec_id").distinct().count() == 2048
    b = semantic_dedup(df, **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    print("two-level semantic_dedup: ok", flush=True)


def check_salted_sessionize(spark) -> None:
    import random
    rng = random.Random(7)
    rows, t = [], 0
    for eid in range(5000):
        t += rng.choice([1, 5, 51, 300, 2500])
        rows.append((eid % 7, t, eid))
    df = spark.createDataFrame(rows, "user long, ts long, eid long")
    got = salted_sessionize(df, "user", "ts", 50,
                            bucket=F.floor(F.col("ts") / 1000),
                            tiebreak_cols=("eid",))
    w = Window.partitionBy("user").orderBy("ts", "eid")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    want = (df.withColumn(
        "_f", F.when(prev.isNull() | (F.col("ts") - prev > 50), 1)
               .otherwise(0))
        .withColumn("session_id", F.sum("_f").over(wrun).cast("long")))
    g = {(r["user"], r["eid"]): r["session_id"] for r in got.collect()}
    x = {(r["user"], r["eid"]): r["session_id"] for r in want.collect()}
    assert g == x
    print("salted_sessionize equivalence: ok", flush=True)


def main() -> None:
    spark = get_spark("cluster-library-check", master=MASTER)
    check_two_level(spark)
    check_salted_sessionize(spark)
    print(f"CLUSTER LIBRARY CHECK: all ok on {MASTER}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
