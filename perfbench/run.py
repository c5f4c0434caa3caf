"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_stats --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the benchmark dataset and the
oracle digests once per checkout (under ``.perfbench/``), pins the
environment, starts one measured worker process (``worker.py``) on a
``local[nproc]`` session, samples the peak resident memory of its
process tree, stops every process it started and prints a readable
report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with
Spark's event log on and reports the per-layer metrics instead
(``eventlog.py``), among them the traced run's ``trace.wall_s``.
``--record`` rewrites ``digests.json`` from the current code.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF = 0.01
WORKER_TIMEOUT_S = 170
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s", "rows_per_s": "rows/s", "first_msg_p50_s": "s",
    "peak_rss_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def oracle_names() -> list[str]:
    from worker import BATCH_QUERIES, SERVE_REQUESTS, STREAM_QUERIES, registered_name

    regs = [registered_name(h) for h in SERVE_REQUESTS]
    return sorted({*BATCH_QUERIES, *STREAM_QUERIES, *(r for r in regs if r)})


def build() -> tuple[str, str]:
    """Dataset + oracle digests, cached under a key over their inputs."""
    import gen_data
    from checks import oracle_digests

    from listenbrainz_server_spark.queries import load_all

    names = oracle_names()
    registry = load_all()
    key = hashlib.sha256()
    with open(gen_data.__file__, "rb") as f:
        key.update(f.read())
    key.update(repr(SF).encode())
    for n in names:
        key.update(f"{n}\0{registry[n].oracle}\0".encode())
    out = os.path.join(STATE, "build-" + key.hexdigest()[:16])
    data, oracle = os.path.join(out, "data"), os.path.join(out, "oracle.json")
    if not os.path.exists(oracle):
        for stale in os.listdir(STATE) if os.path.isdir(STATE) else ():
            if stale.startswith("build-"):
                shutil.rmtree(os.path.join(STATE, stale), ignore_errors=True)
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(os.path.join(tmp, "data"), SF)
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(oracle_digests(os.path.join(tmp, "data"), names), f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return data, oracle


def worker_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        # Keep the JVMs' temp files (native-library copies, perf data)
        # inside the run directory too.
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem",
        ])),
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TZ="UTC",
    )
    return env


def tree_rss_bytes(sid: int) -> int:
    """Resident bytes of every process in session ``sid``, each page
    shared between processes (forked Python workers) counted once: the
    sum of proportional set sizes."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue
    return total


def session_pids(sid: int) -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                        pids.append(int(pid))
            except (OSError, IndexError, ValueError):
                continue
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's session,
    and wait until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)


def run_worker(args, data: str, oracle: str, run_dir: str, trace: bool) -> tuple[dict, float]:
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--data", data, "--oracle", oracle,
        "--work", os.path.join(run_dir, "work"), "--out", out,
    ]
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        cmd += ["--eventlog", os.path.join(run_dir, "eventlog")]
    peak = [0]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        started = time.time()
        proc = subprocess.Popen(
            cmd + ["--started", repr(started)], env=worker_env(run_dir),
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True, cwd=ROOT,
        )
        done = threading.Event()

        def sample() -> None:
            while not done.is_set():
                peak[0] = max(peak[0], tree_rss_bytes(proc.pid))
                done.wait(0.1)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            done.set()
            sampler.join()
            stop_session(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"worker failed (exit {rc})")
    with open(out) as f:
        return json.load(f), peak[0] / 2**20


def tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). Below 21 samples that percentile would
    not lie above the median, so the maximum (p100) stands in."""
    s = sorted(lat)
    i = len(s) - 11 if len(s) > 20 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def end_to_end(res: dict, peak_mb: float) -> dict[str, float]:
    ops = res["ops"]
    lat = [o["t1"] - o["t0"] for o in ops]
    busy = sum(lat)
    first = [o.get("t_first", o["t1"]) - o["t0"] for o in ops]
    return {
        "setup_s": res["setup_s"],
        "wall_s": busy,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
        "ops_per_s": len(ops) / busy,
        "rows_per_s": sum(o.get("rows", 0) for o in ops) / busy,
        "first_msg_p50_s": statistics.median(first),
        "peak_rss_mb": peak_mb,
    }


def report(args, res: dict, metrics: dict, units: dict) -> None:
    ops = res["ops"]
    bad = [o for o in ops if not o["ok"]]
    v = res["versions"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(
        f"host: nproc={v['nproc']} master={v['master']} python={v['python']} "
        f"pyspark={v['pyspark']} java={v['java']} driver_mem={DRIVER_MEM} sf={SF}"
    )
    lat = [o["t1"] - o["t0"] for o in ops]
    _, pct, n = tail(lat)
    print(f"ops: {len(ops)} attempted, {len(bad)} failed, failed_frac={len(bad) / len(ops):.4f} ratio")
    print(f"op_tail_s is p{pct:.1f} of n={n} samples")
    for name, val in metrics.items():
        print(f"  {name:28s} {val:14.6f} {units[name]}")
    print(f"output check: {'PASS' if not bad else 'FAIL'}")
    for o in bad[:20]:
        print(f"  FAIL {o['name']} {o.get('params', '')}: {o.get('why')}")


def main() -> int:
    ap = argparse.ArgumentParser(description="listenbrainz_server_spark benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite digests.json")
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    if args.record:
        args.workload = "record"
    elif args.workload is None:
        ap.error("--workload is required")
    data, oracle = build()

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, peak_mb = run_worker(args, data, oracle, run_dir, trace=bool(args.trace))
        if args.record:
            print(f"recorded {len(res['recorded'])} digests")
            return 0
        if args.trace:
            from eventlog import LAYER_UNITS, layer_metrics

            metrics, units = layer_metrics(res, os.path.join(run_dir, "eventlog")), LAYER_UNITS
        else:
            metrics, units = end_to_end(res, peak_mb), END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, res, metrics, units)
    failed = sum(not o["ok"] for o in res["ops"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
