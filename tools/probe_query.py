"""One-shot fresh-process timing probe for any registry query (SCALING.md
outlier protocol): session + bench-style warm-ups + one untimed codegen run,
then ONE timed run, printed as a JSON line.

Usage: python tools/probe_query.py <query_name> [sf_dir]
One query per process — in-session block-cleanup debt from earlier queries
is exactly the artifact this protocol exists to exclude (see SCALING.md
"fresh-process re-measure").
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

name = sys.argv[1]
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
os.environ.setdefault("SPTAG_SPARK_DRIVER_MEM", "40g")
os.environ.setdefault("SPTAG_SPARK_AQE", "false")

from sptag_spark.registry import all_specs  # noqa: E402
from sptag_spark.session import get_spark  # noqa: E402

spark = get_spark("probe-query", cpus=32, shuffle_partitions=32)

# the bench harness's two warm-ups: JVM/codegen path + Python worker pool
spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(10).write.format(
    "noop"
).mode("overwrite").save()
spark.range(32).repartition(32).mapInPandas(
    lambda it: it, "id long"
).write.format("noop").mode("overwrite").save()

spec = all_specs()[name]
spec.query(spark, sf_dir).write.format("noop").mode("overwrite").save()  # codegen
t0 = time.time()
spec.query(spark, sf_dir).write.format("noop").mode("overwrite").save()
print(json.dumps({"query": name, "sf_dir": sf_dir,
                  "sec": round(time.time() - t0, 3)}))
spark.stop()
