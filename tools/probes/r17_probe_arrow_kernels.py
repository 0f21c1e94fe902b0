"""r17 probe (r16 verdict item 8): JVM higher-order-function kernels vs
Arrow/pandas vectorized kernels at production-ish batch sizes.

Kernel probed: the rowwise minhash mixer — K=16 mins of
(2k+1)*sid + (3k+7) mod P over each doc's distinct-shingle id array —
the shape shared by the streaming rowwise signatures and the batch
minhash aggs. Input sid arrays are prebuilt ONCE (eager checkpoint) so
only the mixer kernel is timed; the noop sink forces every output row
(guide §1.4).

Arms:
  jvm        - transform/array_min expressions (current engine shape)
  arrow_10k  - pandas_udf + numpy, arrow.maxRecordsPerBatch=10000 (default)
  arrow_64k  - same, maxRecordsPerBatch=65536

Scales: 5k docs (gate), 100k docs (x20), 400k docs (x80).
"""
import os, sys, time, gc
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from sales_data_etl_pipeline_spark.session import get_spark
from sales_data_etl_pipeline_spark.operators.dedup import (
    MINHASH_P, _shingle_expr, hash_id_expr)
from sales_data_etl_pipeline_spark.operators.text import TOKENIZE
from pyspark.sql import functions as F
import pandas as pd
import numpy as np

SF = "/root/testdata/sf0.1"
spark = get_spark("probe_arrow", extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")

K = 16
mix_jvm = [
    f"array_min(transform(_sids, s -> pmod(({2*k+1}) * s + ({3*k+7}), {MINHASH_P}L)))"
    for k in range(K)
]

A = np.array([2 * k + 1 for k in range(K)], dtype=np.int64)
B = np.array([3 * k + 7 for k in range(K)], dtype=np.int64)
P = MINHASH_P

@F.pandas_udf("array<long>")
def mix_np(sids: pd.Series) -> pd.Series:
    out = []
    for arr in sids:
        s = np.asarray(arr, dtype=np.int64)
        if s.size == 0:
            out.append(None)
            continue
        # K x n matrix of mixed values; min over axis 1
        m = ((A[:, None] * s[None, :] + B[:, None]) % P).min(axis=1)
        out.append(m.tolist())
    return pd.Series(out)

docs0 = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

def build_sids(mult):
    d = docs0
    if mult > 1:
        d = d.crossJoin(spark.range(mult).select(F.col("id").alias("_rep")))
        d = d.select((F.col("doc_id") * mult + F.col("_rep")).alias("doc_id"), "text")
    toks = TOKENIZE.format(col="text")
    shs = _shingle_expr(toks, 3)
    sids = f"transform({shs}, x -> {hash_id_expr('x', MINHASH_P)})"
    return (d.repartition(32).select("doc_id", F.expr(sids).alias("_sids"))
            .filter(F.size("_sids") > 0)
            .localCheckpoint(eager=True))

def noop(df):
    df.write.format("noop").mode("overwrite").save()

for mult, label in [(1, "5k"), (20, "100k"), (80, "400k")]:
    base = build_sids(mult)
    n = base.count()
    jvm_df = base.select("doc_id", *[F.expr(m).alias(f"m{k}") for k, m in enumerate(mix_jvm)])
    arrow_df = base.select("doc_id", mix_np("_sids").alias("mins"))
    res = {}
    for arm, df, batch in [("jvm", jvm_df, None),
                           ("arrow_10k", arrow_df, 10000),
                           ("arrow_64k", arrow_df, 65536)]:
        if batch:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
        noop(df)  # warm
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            noop(df)
            ts.append(round(time.perf_counter() - t0, 3))
            gc.collect()
        res[arm] = ts
    print(f"scale={label} rows={n}")
    for arm, ts in res.items():
        print(f"  {arm:10s} min={min(ts):6.3f} mean={sum(ts)/len(ts):6.3f} {ts}")
    base.unpersist()
