"""The measured process of one benchmark run.

Started by ``run.py`` with the environment already pinned. Sets up a
session (``session.get_session`` → ``queries.load_all`` → warm-up),
runs one workload as a single client in a closed loop, checks every
operation's output outside the timed region and writes a JSON record
of operations, layer spans and counters to ``--out``.

Each workload is a sequence of passes; whole passes run until the
operations' summed time reaches ``--seconds``. Layer times are spans
taken here, around the benchmark's calls into each module's public
functions; the program itself carries no tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))

# One request per handler, in this order, covering every read family.
# Equal-work params only: the dataset spans January 2024 and ranges
# anchor to its last listen, so these three ranges all cover it whole.
SERVE_REQUESTS = (
    "stats.user.entity", "year_in_music.listens_per_day", "stats.sitewide.entity",
    "popularity.popularity", "stats.entity.listeners", "stats.user.daily_activity",
    "troi.playlists", "tags.default", "similarity.recording", "releases.fresh",
)
RANGES = ("this_month", "this_year", "all_time")
BATCH_QUERIES = (
    "v_embedding_dup_groups", "d_dup_groups", "d_minhash_lsh",
    "v_sq8_topk", "v_cosine_topk", "v_lsh_topk",
)
STREAM_QUERIES = ("st_session_cdc", "st_session_window")
# Set-up preloads the catalog tables each workload reads, as a
# long-lived server would before taking requests.
SERVE_TABLES = ("events", "orders", "lineitem", "part")
WARM_TABLES = {
    "record": SERVE_TABLES,
    "serve_stats": SERVE_TABLES,
    "batch_ann_dedup": ("embeddings", "documents"),
    "ingest_incremental": ("events",),
}
DELTA_DAYS = 3


def grid(*axes: tuple[str, tuple]) -> list[dict]:
    out: list[dict] = [{}]
    for key, values in axes:
        out = [{**p, key: v} for p in out for v in values]
    return out


def param_grid(name: str) -> list[dict]:
    """Every parameter set a serve request for ``name`` may carry."""
    if name.startswith("stats."):
        return grid(("stats_range", RANGES))
    if name == "similarity.recording":
        return grid(("session_gap_s", (900, 1800, 3600)))
    if name == "troi.playlists":
        return grid(("picks", (1, 2, 3)))
    return [{}]


def request_key(name: str, params: dict) -> str:
    return name + "".join(f"&{k}={params[k]}" for k in sorted(params))


def registered_name(name: str) -> str | None:
    """The registry name behind a dispatch entry that routes to a
    registered query (``plans.api._registered``), else None."""
    from listenbrainz_server_spark.plans.api import QUERY_MAP

    fn_name = QUERY_MAP[name].__name__
    return fn_name[len("registered_"):] if fn_name.startswith("registered_") else None


def chunk_size(name: str) -> int:
    from listenbrainz_server_spark import messages

    if name.startswith("similarity."):
        return messages.CHUNK_SIMILARITY
    if name.startswith("stats.sitewide.") or name == "stats.entity.listeners":
        return messages.CHUNK_LISTENER_STATS
    return messages.CHUNK_USER_STATS


class Recorder:
    """Operation records plus per-layer span totals and counters."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.layer_s: dict[str, float] = defaultdict(float)
        self.counters: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, layer: str):
        t = time.time()
        try:
            yield
        finally:
            self.layer_s[layer] += time.time() - t

    @property
    def busy_s(self) -> float:
        return sum(o["t1"] - o["t0"] for o in self.ops)


def dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                files += 1
    return total, files


class Workload:
    def __init__(self, spark, args, rec: Recorder, expected: dict, registry) -> None:
        self.spark, self.args, self.rec = spark, args, rec
        self.expected, self.registry = expected, registry
        self.rng = random.Random(f"{args.workload}:{args.seed}")

    # -- one operation ------------------------------------------------
    def op(self, name: str, body, check=None, **meta) -> None:
        """Run ``body(rec)`` timed; it may return extra fields for the
        record. ``check(rec)`` then runs untimed and returns
        (digest, expected digest); it also sets the rows the operation
        delivered or landed where ``body`` did not."""
        rec = {"name": name, **meta, "ok": True}
        rec["t0"] = time.time()
        try:
            extra = body(rec) or {}
            rec["t1"] = time.time()
            rec.update(extra)
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            rec["t1"] = time.time()
            rec.update(ok=False, why=f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
            traceback.print_exc()
        if rec["ok"] and check is not None:
            rec["c0"] = time.time()
            try:
                got, want = check(rec)
                rec["digest"] = got
                if want is None:
                    rec.update(ok=False, why="no expected digest")
                elif list(got) != list(want):
                    rec.update(ok=False, why=f"digest {got} != expected {want}")
            except Exception as e:  # noqa: BLE001
                rec.update(ok=False, why=f"check: {type(e).__name__}: {e}"[:300])
            rec["c1"] = time.time()
        self.rec.ops.append(rec)

    def materialize(self, df, rec: dict) -> dict:
        """Full materialization into a noop sink. The frame is persisted
        so the untimed check reads the same rows without recomputing."""
        df.persist()
        df.write.format("noop").mode("overwrite").save()
        rec["_df"] = df
        return {}

    def collect_check(self, rec: dict, want):
        from checks import digest

        df = rec.pop("_df")
        rows = [tuple(r) for r in df.collect()]
        df.unpersist()
        rec["rows"] = len(rows)
        return digest(df.columns, rows), want

    def run(self) -> None:
        while self.rec.busy_s < self.args.seconds:
            self.one_pass()


class ServeStats(Workload):
    def one_pass(self) -> None:
        for name in SERVE_REQUESTS:
            self.request(name, self.rng.choice(param_grid(name)))

    def request(self, name: str, params: dict) -> None:
        from listenbrainz_server_spark.messages import iter_message_chunks
        from listenbrainz_server_spark.plans.api import dispatch

        state: dict = {}

        def body(rec):
            df = dispatch(name, self.spark, self.args.data, **params)
            rec["t_disp"] = time.time()
            rows: list[dict] = []
            msgs = 0
            for m in iter_message_chunks(df, chunk_size(name), name):
                if msgs == 0:
                    rec["t_first"] = time.time()
                rows.extend(m["data"])
                msgs += 1
            state.update(cols=df.columns, rows=rows)
            return {"rows": len(rows), "msgs": msgs}

        def check(r):
            from checks import digest

            reg = registered_name(name)
            want = (
                self.expected["oracle"].get(reg) if reg
                else self.expected["recorded"].get(request_key(name, params))
            )
            cols = state["cols"]
            got = digest(cols, [tuple(r[c] for c in cols) for r in state["rows"]])
            state.clear()
            return got, want

        self.op(name, body, check, params=params, kind="request")


class BatchAnnDedup(Workload):
    def one_pass(self) -> None:
        for name in BATCH_QUERIES:
            self.query(name)

    def query(self, name: str) -> None:
        def body(rec):
            df = self.registry[name].fn(self.spark, self.args.data)
            rec["t_disp"] = time.time()
            return self.materialize(df, rec)

        self.op(
            name, body,
            lambda rec: self.collect_check(rec, self.expected["oracle"].get(name)),
            kind="query",
        )


class IngestIncremental(Workload):
    """Writes beside reads, each pass in a fresh private work dir."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from checks import duck

        self.duck = duck(self.args.data)
        self.want_cache: dict[str, list] = {}
        self.src_bytes = os.path.getsize(os.path.join(self.args.data, "events.parquet"))

    def want(self, step: str, where: str = "TRUE") -> list:
        from checks import ingest_expected_sql, sql_digest

        key = f"{step}|{where}"
        if key not in self.want_cache:
            self.want_cache[key] = sql_digest(self.duck, ingest_expected_sql(step, where))
        return self.want_cache[key]

    def one_pass(self) -> None:
        from pyspark.sql import functions as F

        from listenbrainz_server_spark.incremental.engine import IncrementalEngine
        from listenbrainz_server_spark.plans.api import dispatch
        from listenbrainz_server_spark.plans.incremental_stats import (
            final_user_entity_stats,
            user_entity_stat,
        )
        from listenbrainz_server_spark.sources.sinks import atomic_swap_write

        spark, data, rec = self.spark, self.args.data, self.rec
        os.makedirs(self.args.work, exist_ok=True)
        work = tempfile.mkdtemp(prefix="pass_", dir=self.args.work)
        self.rec.counters["sources.input_bytes"] += self.src_bytes
        full, compact, live = (os.path.join(work, p) for p in ("events.parquet", "compact", "live"))

        self.sink(
            "import.dump.full",
            full,
            lambda: dispatch("import.dump.full", spark, data, out_path=full),
        )
        self.sink(
            "import.compact_listens",
            compact,
            lambda: dispatch("import.compact_listens", spark, work, out_path=compact),
        )
        self.sink(
            "import.deleted_listens",
            live,
            lambda: atomic_swap_write(dispatch("import.deleted_listens", spark, work), live),
        )

        days = self.rng.sample(range(2, 31), DELTA_DAYS)
        engine = IncrementalEngine(spark, os.path.join(work, "state"))
        stat = user_entity_stat()
        pending = list(days)

        def listens():
            return spark.read.parquet(compact)

        def where() -> str:
            return f"dayofmonth(ts) NOT IN ({', '.join(map(str, pending))})" if pending else "TRUE"

        def base():
            with rec.span("incremental.create_partial"):
                engine.create_partial(
                    stat,
                    listens().where(~F.dayofmonth("day").isin(days)),
                    "2024-01-01", "2024-01-31", "2024-01-31 00:00:00",
                )

        self.state_op("incremental.create_partial", engine, stat, base, where())
        for i, d in enumerate(days):
            def fold(d=d, i=i):
                with rec.span("incremental.delta"):
                    delta = engine.delta_aggregate(stat, listens().where(F.dayofmonth("day") == d))
                    combined = engine.combine(stat, delta)
                with rec.span("incremental.advance"):
                    engine.advance_partial(stat, combined, f"2024-02-{i + 1:02d} 00:00:00")

            pending.remove(d)
            self.state_op("incremental.fold", engine, stat, fold, where())
            self.final_op(engine, stat, final_user_entity_stats, where())

        def retract():
            deleted = listens().where(F.col("event_id") % 100 == 0)
            with rec.span("incremental.retract"):
                merged = engine.retract(stat, stat.aggregate(deleted), "listen_count")
            with rec.span("incremental.advance"):
                engine.advance_partial(stat, merged, "2024-03-01 00:00:00")

        self.state_op("incremental.retract", engine, stat, retract, "event_id % 100 <> 0")
        rec.counters["incremental.state_bytes"] += dir_bytes(os.path.join(work, "state"))[0]

        for name in STREAM_QUERIES:
            def body(r, name=name):
                with rec.span("streaming.query"):
                    df = self.registry[name].fn(spark, data)
                    r["t_disp"] = time.time()
                    return self.materialize(df, r)

            self.op(
                name, body,
                lambda r, name=name: self.collect_check(r, self.expected["oracle"].get(name)),
                kind="stream",
            )

    def sink(self, name: str, path: str, fn) -> None:
        def body(r):
            with self.rec.span("sources.sink_write"):
                fn()
            return {}

        def check(r):
            from checks import digest

            nbytes, nfiles = dir_bytes(path)
            self.rec.counters["sources.bytes_written"] += nbytes
            self.rec.counters["sources.files_written"] += nfiles
            df = self.spark.read.parquet(path)
            rows = [tuple(x) for x in df.collect()]
            r["rows"] = len(rows)
            return digest(df.columns, rows), self.want(name)

        self.op(name, body, check, kind="ingest")

    def state_op(self, name: str, engine, stat, fn, where: str) -> None:
        from checks import digest

        def check(r):
            df = engine.load_partial(stat)
            rows = [tuple(x) for x in df.collect()]
            r["rows"] = len(rows)
            return digest(df.columns, rows), self.want("partial", where)

        self.op(name, lambda r: fn(), check, kind="ingest")

    def final_op(self, engine, stat, final, where: str) -> None:
        from checks import digest

        state: dict = {}

        def body(r):
            df = final(engine.load_partial(stat))
            state.update(cols=df.columns, rows=[tuple(x) for x in df.collect()])
            return {"rows": len(state["rows"])}

        def check(r):
            return digest(state["cols"], state["rows"]), self.want("final", where)

        self.op("plans.final_user_entity_stats", body, check, kind="request")


class RecordDigests(ServeStats):
    """Runs every parameterised serve request once and keeps its digest
    (``run.py --record``): the expected values for later runs."""

    def run(self) -> None:
        self.recorded: dict[str, list] = {}
        for name in SERVE_REQUESTS:
            if registered_name(name):
                continue
            for params in param_grid(name):
                self.request(name, params)
                self.recorded[request_key(name, params)] = self.rec.ops[-1]["digest"]


WORKLOADS = {
    "record": RecordDigests,
    "serve_stats": ServeStats,
    "batch_ann_dedup": BatchAnnDedup,
    "ingest_incremental": IngestIncremental,
}


def versions(spark) -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def setup(args, rec: Recorder):
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.queries import load_all
    from listenbrainz_server_spark.session import get_session

    conf = {}
    if args.eventlog:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.eventlog),
        }
    with rec.span("session.get_session"):
        spark = get_session("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    with rec.span("queries.load_all"):
        registry = load_all()
    with rec.span("warmup"):
        for table in WARM_TABLES[args.workload]:
            load_table(spark, args.data, table).count()
        # Start the Python workers that the Arrow-boundary operators reuse.
        spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
            lambda it: it, "id long"
        ).count()
    return spark, registry


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--started", type=float, required=True)
    ap.add_argument("--eventlog")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    rec = Recorder()
    spark, registry = setup(args, rec)
    ready = time.time()
    with open(args.oracle) as f:
        expected = {"oracle": json.load(f)}
    from checks import RECORDED, load_recorded

    expected["recorded"] = load_recorded()
    wl = WORKLOADS[args.workload](spark, args, rec, expected, registry)
    wl.run()
    out = {
        "started": args.started,
        "ready": ready,
        "setup_s": ready - args.started,
        "layer_s": dict(rec.layer_s),
        "counters": dict(rec.counters),
        "cached_mb": cached_mb(spark),
        "ops": [{k: v for k, v in o.items() if not k.startswith("_")} for o in rec.ops],
        "versions": versions(spark),
    }
    if isinstance(wl, RecordDigests):
        out["recorded"] = wl.recorded
        with open(RECORDED, "w") as f:
            json.dump(wl.recorded, f, indent=0, sort_keys=True)
            f.write("\n")
    spark.stop()
    shutil.rmtree(args.work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
