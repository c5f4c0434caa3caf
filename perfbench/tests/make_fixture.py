"""Regenerate the event-log fixture the parser tests read.

    python3 perfbench/tests/make_fixture.py

Runs a tiny local Spark application with the event log on: one set-up
job, three timed operations (a shuffle aggregate, a ``mapInPandas``
pass, a stateful streaming query drained with ``availableNow``), an
untimed check after the first and one stray job outside every
interval. Writes the trimmed log and the interval record beside this
file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "fixture")
DROP = (
    "physicalPlanDescription", "Details", "Properties", "details", "Stage Infos",
    "Task Executor Metrics", "simpleString", "metadata", "RDD Info",
)
SKIP = (
    "SparkListenerEnvironmentUpdate", "SparkListenerLogStart", "SparkListenerTaskStart",
    "SparkListenerBlockManagerAdded", "SparkListenerExecutorAdded",
    "SparkListenerResourceProfileAdded",
)


def trim(v):
    """Drop the bulky fields the parser never reads, at any depth,
    and ``internal.metrics.*`` accumulators (the task metrics repeat them)."""
    if isinstance(v, dict):
        return {k: trim(x) for k, x in v.items() if k not in DROP}
    if isinstance(v, list):
        return [
            trim(x) for x in v
            if not (isinstance(x, dict) and str(x.get("Name", "")).startswith("internal."))
        ]
    return v


def op(ops: list, name: str, kind: str, fn) -> None:
    t0 = time.time()
    fn()
    ops.append({"name": name, "kind": kind, "t0": t0, "t1": time.time(), "ok": True})
    time.sleep(0.3)


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="evfixture_")
    started = time.time()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + tmp)
        .getOrCreate()
    )
    spark.range(100).count()
    ready = time.time()
    time.sleep(0.3)
    ops: list[dict] = []
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    op(ops, "aggregate", "query", lambda: df.groupBy("k").count().collect())
    c0 = time.time()
    df.count()
    ops[-1].update(c0=c0, c1=time.time())
    time.sleep(0.3)

    def double(it):
        for pdf in it:
            yield pd.DataFrame({"id": pdf["id"] * 2})

    op(ops, "python", "query",
       lambda: df.select("id").mapInPandas(double, "id long").write.format("noop").mode("overwrite").save())
    spark.range(10).count()  # outside every interval: unattributed, as is the write below
    time.sleep(0.3)
    src = os.path.join(tmp, "src")
    spark.range(200).withColumn("k", F.col("id") % 5).write.parquet(src)

    def stream():
        q = (
            spark.readStream.schema("id long, k long").parquet(src)
            .groupBy("k").count()
            .writeStream.format("memory").queryName("fixture_sink").outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    op(ops, "stream", "stream", stream)
    spark.stop()
    log = next(os.path.join(tmp, f) for f in os.listdir(tmp) if f.startswith("local-"))
    os.makedirs(OUT, exist_ok=True)
    with open(log) as src_f, open(os.path.join(OUT, "eventlog.jsonl"), "w") as dst:
        for line in src_f:
            e = json.loads(line)
            if e["Event"] in SKIP:
                continue
            dst.write(json.dumps(trim(e), separators=(",", ":")) + "\n")
    run = {
        "started": started, "ready": ready, "ops": ops, "cached_mb": 0.0,
        "layer_s": {"session.get_session": ready - started}, "counters": {},
    }
    with open(os.path.join(OUT, "run.json"), "w") as f:
        json.dump(run, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
