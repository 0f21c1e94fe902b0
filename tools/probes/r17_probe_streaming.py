"""Interleaved A/B probe of the streaming-gate machinery floor.

Arms:
  base     - status quo: Spark-managed temp checkpoint under /tmp (ext4)
  shm      - explicit fresh checkpoint dir under /dev/shm (tmpfs)
  rocksdb  - shm + RocksDB state store provider
  rocksdb_tmp - /tmp ckpt + RocksDB

Runs each arm x query interleaved over N cycles, reports min/mean.
"""
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
import __spark_entry__ as entrymod
from sales_data_etl_pipeline_spark.session import get_spark
from sales_data_etl_pipeline_spark.streaming import events as st

SF = "/root/testdata/sf0.1"
N = 3
QUERIES = ["streaming_dedup_minhash", "streaming_dedup_minhash_append",
           "streaming_windowed_counts"]

spark = get_spark("probe_stream", extra_conf={
    "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
qs = entrymod.queries()

orig_run = st.run_stream_to_memory

PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
ROCKS = ("org.apache.spark.sql.execution.streaming.state."
         "RocksDBStateStoreProvider")


def make_run(ckpt_base):
    def run(agg, query_name, *, output_mode="complete"):
        sparkS = agg.sparkSession
        nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
        prior = sparkS.conf.get(nodata_key, "true")
        if output_mode == "complete":
            sparkS.conf.set(nodata_key, "false")
        d = tempfile.mkdtemp(prefix="probe_ckpt_", dir=ckpt_base)
        try:
            q = (agg.writeStream.outputMode(output_mode)
                 .format("memory").queryName(query_name)
                 .option("checkpointLocation", d).start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            sparkS.conf.set(nodata_key, prior)
            shutil.rmtree(d, ignore_errors=True)
        return sparkS.table(query_name)
    return run


ARMS = {
    "base": (orig_run, None),
    "shm": (make_run("/dev/shm"), None),
    "rocksdb": (make_run("/dev/shm"), ROCKS),
    "rocksdb_tmp": (make_run("/tmp"), ROCKS),
}

results = {q: {a: [] for a in ARMS} for q in QUERIES}
# warm
for q in QUERIES:
    qs[q](spark, SF).count()

for cycle in range(N):
    for arm, (runner, provider) in ARMS.items():
        st.run_stream_to_memory = runner
        if provider:
            spark.conf.set(PROVIDER_KEY, provider)
        else:
            spark.conf.unset(PROVIDER_KEY)
        for q in QUERIES:
            t0 = time.perf_counter()
            qs[q](spark, SF).count()
            results[q][arm].append(round(time.perf_counter() - t0, 3))
st.run_stream_to_memory = orig_run
spark.conf.unset(PROVIDER_KEY)

for q in QUERIES:
    print(q)
    for arm, ts in results[q].items():
        print(f"  {arm:12s} min={min(ts):6.3f} mean={sum(ts)/len(ts):6.3f} {ts}")
