"""Interleaved A/B of dedup_substrings(rolling) with/without the __kept temp
column (r14 commit 955d8cb): VERDICT item 5 — the driver saw the extra go
1.10 -> 1.67 s while the builder's isolated A/B improved; settle it in ONE
session. Toggle by monkeypatching the rebuild to re-inline the kept
expression (the pre-955d8cb shape) vs the committed temp-column form.
"""
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sed_binning_spark.pipeline.dedup import dedup_substrings
from sed_binning_spark.session import get_spark

spark = get_spark(app_name="ab-kept")
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet") \
    .repartition(8).cache()
docs.count()

import sed_binning_spark.pipeline.dedup as D


def run():
    t0 = time.perf_counter()
    dedup_substrings(docs, window=5, hash_function="rolling") \
        .agg(F.sum("n_removed_tokens")).collect()
    return time.perf_counter() - t0


results = {"temp": [], "inline": []}
for rep in range(5):
    for mode in ("temp", "inline"):
        D._INLINE_KEPT = mode == "inline"
        results[mode].append(round(run(), 3))
        print(f"rep{rep} {mode}: {results[mode][-1]}", flush=True)
for mode, runs in results.items():
    print(f"# {mode}: min={min(runs)} runs={runs}", flush=True)
