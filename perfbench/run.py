#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates (or reuses) the
workload's seeded inputs and oracle answers, starts the engine at
``local[nproc]``, warms up, runs one first pass, then runs passes back to
back for ``--seconds`` (each pass starts when the previous one has
finished), and checks every pass's output after the timed window.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` one more, traced pass
runs after the timed passes and the metrics are the per-layer ones. The line
before it is the full run record (stamps, every metric, the pass walls),
also appended to ``.perfbench_work/records.jsonl``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
See perfbench/README.md for the metrics, workloads and layer table.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
E2E_UNITS = {"setup_s": "s", "turns_per_s": "turns/s", "first_pass_s": "s",
             "peak_rss_mb": "MB"}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """High-water mark of the memory of this process's descendants (the JVM
    and its Python workers), sampled from /proc once a second and at every
    pass boundary. Each process counts its proportional set size (Pss), so
    pages a fork shares with its parent count once: a JVM child between
    fork and exec would otherwise add the whole JVM again."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.peak_procs: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total, procs = 0, {}
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
            except (OSError, StopIteration):  # the process has just exited
                continue
            total += pss * 1024
            procs[name] = procs.get(name, 0) + pss / 1024
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_procs = total, procs

    def run(self) -> None:
        while not self._stop_evt.wait(1.0):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stamp_commit() -> dict:
    try:
        # a checkout without .git gets no commit, not an enclosing repo's
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10, env=env,
                             capture_output=True, text=True).stdout.strip() or None
    except OSError:
        rev = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "tgist_features_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return {"commit": rev, "engine_sha256": h.hexdigest()[:16]}


def _configure_env(cores: int) -> dict:
    """Keep every file the engine writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM, spark-submit's launcher too: temp files in the work
        # dir, and no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def _stop_engine(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every child."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full") -> dict:
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    extra_conf = _configure_env(cores)
    load_start = os.getloadavg()[0]

    from perfbench import inputs  # noqa: PLC0415
    from perfbench import trace as tracing  # noqa: PLC0415
    from perfbench.workloads import WORKLOADS  # noqa: PLC0415
    from tgist_features_spark import get_spark  # noqa: PLC0415
    from tgist_features_spark.session import warm_python_workers  # noqa: PLC0415

    t_gen = time.perf_counter()
    meta = inputs.prepare(WORK, workload, seed, scale)
    gen_s = time.perf_counter() - t_gen
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        # ---- setup: session, input registration, worker + job warm-up --
        t0 = time.perf_counter()
        spark = get_spark(master=master, app_name=f"perfbench-{workload}",
                          extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl = WORKLOADS[workload](spark, meta, tracing.Tracer(spark, False))
        wl.register()
        t2 = time.perf_counter()
        warm_python_workers(spark)
        wl.warm()
        t3 = time.perf_counter()
        setup = {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                 "sources.register_s": t2 - t1, "session.warm_s": t3 - t2}
        sampler.sample()

        passes: list[dict] = []

        def one_pass(tag: str) -> dict:
            out = os.path.join(run_dir, f"pass-{len(passes):03d}")
            rec = {"tag": tag, "dir": out, "error": None, "info": {}}
            t = time.perf_counter()
            try:
                rec["info"] = wl.run_pass(out)
            except Exception:  # a failed pass counts in failed/attempted
                rec["error"] = traceback.format_exc()
                print(rec["error"], file=sys.stderr)
            rec["wall_s"] = time.perf_counter() - t
            passes.append(rec)
            sampler.sample()
            return rec

        first = one_pass("first")
        if wl.settle:
            # one untimed pass lets the JIT and the caches settle, so the
            # timed loop measures steady state (checked like every pass)
            one_pass("settle")
        t_loop = time.perf_counter()
        while True:
            one_pass("timed")
            if time.perf_counter() - t_loop >= seconds:
                break
        timed = [p["wall_s"] for p in passes if p["tag"] == "timed" and not p["error"]]

        layer_metrics, layer_detail = {}, {}
        if trace:
            tracer = tracing.Tracer(spark, True)
            wl.tracer = tracer
            with tracer.span("pass"):
                rec = one_pass("traced")
            rec["wall_s"] -= tracer.capture_s
            if not rec["error"]:
                layer_metrics, layer_detail = tracing.collect(
                    spark.sparkContext, tracer, 0, cores, rec["info"])
                layer_metrics.update({k: v for k, v in setup.items() if k != "setup_s"})
                layer_metrics["trace.overhead_s"] = rec["wall_s"] - (
                    statistics.median(timed) if timed else 0.0)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{workload}-{seed}-{os.getpid()}.json"),
                        layer_detail)
        sampler.sample()
    finally:
        sampler.stop()
        if spark is not None:
            _stop_engine(spark)

    # ---- correctness, outside every timed window --------------------------
    for p in passes:
        if not p["error"]:
            try:
                p["errors"] = wl.check(p["dir"])
            except Exception:
                p["errors"] = [traceback.format_exc()]
        else:
            p["errors"] = ["pass raised"]
        shutil.rmtree(p["dir"], ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for p in passes if p["errors"])

    turns = meta["sizes"]["turns"]
    e2e = {
        "setup_s": setup["setup_s"],
        "turns_per_s": turns / statistics.median(timed) if timed else 0.0,
        "first_pass_s": first["wall_s"],
        "peak_rss_mb": sampler.peak / 2**20,
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "scale": scale, "nproc": os.cpu_count(), "cores_used": cores,
        "master": master, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0], **_stamp_commit(),
        "sizes": meta["sizes"], "input_key": meta["key"], "gen_s": gen_s,
        "attempted": len(passes), "failed": failed,
        "error_rate": failed / len(passes),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "pass_tags": [p["tag"] for p in passes],
        "errors": [e for p in passes for e in p["errors"]][:10],
        "end_to_end": e2e, "setup": setup, "peak_rss_by_process_mb": sampler.peak_procs,
        "per_layer": layer_metrics,
        "trace_detail": {k: v for k, v in layer_detail.items() if k != "nodes"},
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    return record


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("core_util", "over_median", "pair_yield")):
        return "ratio"
    return "count"


def result_line(record: dict) -> dict:
    if record["trace"]:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(record["per_layer"].items())}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in record["end_to_end"].items()}
    return {"correct": record["failed"] == 0 and bool(metrics),
            "attempted": record["attempted"], "failed": record["failed"],
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "materialize", "hot_backfill", "dedup", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed closed loop")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-tests")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(record, default=float))
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
