"""Per-query profile from Spark's event log: one JSON record per query.

    python tools/profile_query.py <query_name> [more names...]

Runs at $SPARK_GRAFT_SF_DIR (default: sf0.1, as bench.py) in a session
that writes an uncompressed, single-file event log to a private temp
dir. Each query gets one untimed warm-up (cold Python-worker spin-up,
JIT, footer caches), which is recorded as a set-aside interval, then
one timed noop write, which is the query's interval. Jobs, stages and
tasks are attributed to the interval that contains their submission or
launch time by ``perfbench/eventlog.py``, so streaming micro-batches
count for the query that started them. Each record carries:

    query, wall_s, jobs, stages, tasks, exec_run_s, exec_cpu_s,
    shuffle_read_mb, shuffle_write_mb, spill_mb, py_worker_s, py_sent_mb
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from listenbrainz_server_spark.queries import load_all  # noqa: E402
from listenbrainz_server_spark.session import get_session  # noqa: E402
from perfbench.eventlog import layer_metrics  # noqa: E402

# record field -> perfbench/eventlog.py layer metric
FIELDS = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "exec_run_s": "spark.exec_run_s",
    "exec_cpu_s": "spark.exec_cpu_s",
    "shuffle_read_mb": "spark.shuffle_read_mb",
    "shuffle_write_mb": "spark.shuffle_write_mb",
    "spill_mb": "spark.spill_mb",
    "py_worker_s": "operators.py_worker_s",
    "py_sent_mb": "operators.py_sent_mb",
}


def query_records(run: dict, log_path: str) -> dict[str, dict]:
    """Query name -> record for every op of ``run`` (the perfbench run
    shape: a ``started``/``ready`` set-up interval and ``ops`` carrying
    ``name``, ``t0``/``t1`` and an optional set-aside ``c0``/``c1``).
    Each record is ``layer_metrics`` over a run holding only that op,
    so only work inside that op's interval is billed to it."""
    records = {}
    for op in run["ops"]:
        m = layer_metrics({**run, "ops": [op]}, log_path)
        records[op["name"]] = {
            "wall_s": op["t1"] - op["t0"],
            **{field: m[metric] for field, metric in FIELDS.items()},
        }
    return records


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="profile_eventlog_")
    try:
        started = time.time()
        spark = get_session("profile", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
        spark.sparkContext.setLogLevel("ERROR")
        registry = load_all()
        # Warm the session the same way bench.py does.
        registry["a1_pricing_summary"].fn(spark, sf_dir).count()
        run = {"started": started, "ready": time.time(), "ops": [],
               "layer_s": {}, "counters": {}, "cached_mb": 0.0}

        def noop_write(name: str) -> tuple[float, float]:
            t0 = time.time()
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t1 = time.time()
            spark.catalog.clearCache()
            gc.collect()
            return t0, t1

        for name in names:
            c0, _ = noop_write(name)
            c1 = time.time()
            t0, t1 = noop_write(name)
            run["ops"].append({"name": name, "t0": t0, "t1": t1, "c0": c0, "c1": c1})
        spark.stop()  # flushes and closes the event log
        for name, rec in query_records(run, log_dir).items():
            print(json.dumps({"query": name,
                              **{k: round(v, 3) for k, v in rec.items()}}))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
