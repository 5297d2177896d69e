"""Traced pass: spans around the benchmark's calls into the engine, and
Spark's own stage and SQL-node metrics attached to them.

Spans live in memory (name, start, end, parent) and are written out when
the run ends. Each span sets a Spark job group, so every job, stage and SQL
execution Spark runs belongs to the innermost open span. After the pass the
driver's loopback REST API (``/api/v1/applications/<id>/...``) gives the
stage metrics (run time, CPU, GC, shuffle, fetch wait, spill, task-time
quantiles) and the SQL-node metrics (Exchange size, Sort time, the Python
nodes' run time and Arrow bytes). ``NODE_LAYERS`` is the one table that
attributes each physical node to an engine module ("layer").

Wall accounting: the pass wall is cut into segments by stage start/end
times. A segment with no active stage is driver gap; otherwise it is split
over the active stages by task-time density, and each stage splits its
share over layers by task time (node time metrics where Spark has them,
the remainder to the stage's nodes that have none, e.g. Window). So the
layers' busy times plus ``spark.driver_gap_s`` add up to the pass wall;
what is left is ``trace.unattributed_s`` (stages no node names).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

LAYERS = ("sources", "ordering", "backfill", "text", "asof", "lineage",
          "dedup", "sink")

# Physical node name -> layer. "relational" (aggregates, joins, broadcast)
# and "sink" resolve by the call they ran under (CALL_LAYERS); "plumbing"
# nodes take the layer of the nearest consumer above them that has one.
NODE_LAYERS = {
    "ColumnarToRow": "sources",
    "Window": "backfill",
    "InMemoryTableScan": "backfill",
    "ArrowEvalPython": "text",
    "MapInPandas": "asof",
    "HashAggregate": "relational",
    "SortAggregate": "relational",
    "WindowGroupLimit": "relational",
    "BroadcastHashJoin": "relational",
    "SortMergeJoin": "relational",
    "BroadcastExchange": "relational",
    "Generate": "relational",
    "WriteFiles": "sink",
    "Project": "plumbing",
    "Filter": "plumbing",
    "Union": "plumbing",
    "Exchange": "plumbing",
    "Sort": "plumbing",
    "AQEShuffleRead": "plumbing",
    "AdaptiveSparkPlan": "plumbing",
}

# Resolution of the generic layers, and of layers that mean something
# else inside another module's plan, by the module of the call (span) the
# SQL execution ran under.
CALL_LAYERS = {
    "run_incremental": {"relational": "lineage", "sink": "lineage"},
    "dedup": {"relational": "dedup", "text": "dedup", "asof": "dedup",
              "backfill": "dedup"},
    "backfill": {"relational": "asof"},
}


def call_of(span_name: str) -> str:
    """The module a span's call goes into, read from the span name's
    prefix (``dedup_corpus`` and ``dedup.sink`` are dedup)."""
    for prefix in ("run_incremental", "dedup"):
        if span_name.startswith(prefix):
            return prefix
    return "backfill"


TIME_METRICS = ("scan time", "sort time", "time to run Python workers",
                "time in aggregation build", "shuffle write time",
                "fetch wait time")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_UNIT = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
         "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def layer_of_name(name: str) -> str | None:
    """NODE_LAYERS, plus the node families Spark numbers or suffixes:
    every ``Scan <format>``, ``Execute <command>`` and codegen cluster."""
    if name.startswith("WholeStageCodegen"):
        return "plumbing"
    if name.startswith("Scan "):
        return "sources"
    if name.startswith("Execute "):
        return "sink"
    return NODE_LAYERS.get(name)


def parse_metric(value: str) -> tuple[float, set[int]]:
    """'6.6 s', '1,234', '4.3 MiB' or the 'total (min, med, max ...)\\n...'
    form -> (total in ms / bytes / count, stage ids named in it)."""
    stages = {int(s) for s in _STAGE_RE.findall(value)}
    text = value.split("\n")[-1] if "\n" in value else value
    head = text.split(" (")[0].strip()
    parts = head.split(" ")
    try:
        num = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0, stages
    if len(parts) > 1:
        num *= _UNIT.get(parts[1], 1)
    return num, stages


class Tracer:
    """Spans + job groups. Disabled, every method is a no-op, so untraced
    passes run exactly the calls a user would make."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.captured: dict = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"pb-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def capture_plan(self, *dfs) -> None:
        """Record the physical plan text of the pass's output DataFrames
        (while any persisted input is still cached) and the cached bytes."""
        if not self.enabled:
            return
        start = time.time()
        plans = self.captured.setdefault("plans", [])
        for df in dfs:
            jvm = df.sparkSession.sparkContext._jvm
            plans.append(jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        rdds = rest_get(self.sc, "/storage/rdd")
        self.captured["persist_bytes"] = sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        self.captured.setdefault("captures", []).append((start, time.time()))

    @property
    def capture_s(self) -> float:
        """Time spent capturing plans: tracing work, not the pass's."""
        return sum(b - a for a, b in self.captured.get("captures", []))

    def dump(self, path: str, detail: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "detail": detail}, fh, indent=1)


def rest_get(sc, query: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}{query}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


def plan_counts(plan_text: str) -> dict:
    """Node counts from an ``explain('formatted')`` tree (the part above
    the first numbered node description). AQE prints a cached relation's
    plan twice, as "Final Plan" and "Initial Plan"; the initial copy is
    skipped."""
    lines, skip_above, seen = [], None, set()
    for ln in plan_text.split("\n\n\n")[0].splitlines():
        body = ln.lstrip(" :+-|")
        indent = len(ln) - len(body)
        if skip_above is not None:
            if indent >= skip_above:
                continue
            skip_above = None
        if "== Initial Plan ==" in ln:
            skip_above = indent
            continue
        if body.startswith("InMemoryRelation"):
            if body in seen:  # the same cache, printed again under another scan
                skip_above = indent + 1
                continue
            seen.add(body)
        lines.append(ln)
    ranged = {int(m.group(1)) for m in re.finditer(
        r"^\((\d+)\) Exchange\n(?:.*\n)*?Arguments: rangepartitioning",
        plan_text, re.MULTILINE)}
    ids = {int(m.group(1)) for ln in lines for m in [re.search(r"Exchange \((\d+)\)", ln)] if m}
    return {
        "range_exchanges": len(ids & ranged),
        "exchanges": sum("Exchange" in ln and "Reused" not in ln for ln in lines),
        "python_nodes": sum(any(p in ln for p in PYTHON_NODES) for ln in lines),
        "materializations": sum("InMemoryRelation" in ln for ln in lines),
        "windows": sum(re.search(r"\bWindow\b", ln) is not None for ln in lines),
    }


def _wait_idle(sc, groups: set[str], timeout_s: float = 20.0) -> list[dict]:
    """REST job list once every job of ``groups`` has finished (the UI
    listener runs behind the scheduler)."""
    deadline = time.time() + timeout_s
    while True:
        jobs = [j for j in rest_get(sc, "/jobs") if j.get("jobGroup") in groups]
        sql = rest_get(sc, "/sql?details=false&planDescription=false&offset=0&length=100000")
        busy = any(j["status"] == "RUNNING" for j in jobs) or any(
            e["status"] == "RUNNING" for e in sql)
        if not busy or time.time() > deadline:
            return jobs
        time.sleep(0.2)


class _Node:
    __slots__ = ("id", "name", "metrics", "stages", "parent", "children",
                 "layer", "exec_id")

    def __init__(self, exec_id, raw):
        self.exec_id = exec_id
        self.id = raw["nodeId"]
        self.name = raw["nodeName"]
        self.metrics = {}
        self.stages = set()
        for m in raw["metrics"]:
            val, st = parse_metric(m["value"])
            self.metrics[m["name"]] = val
            self.stages |= st
        self.parent = None
        self.children = []
        self.layer = None


def _resolve_layers(nodes: dict[int, _Node], call: str) -> list[str]:
    """Assign every node of one execution a layer; returns the node names
    the table does not know."""
    remap = CALL_LAYERS[call]
    unmapped = []
    for n in nodes.values():
        lay = layer_of_name(n.name)
        if lay is None:
            unmapped.append(n.name)
            lay = "plumbing"
        n.layer = remap.get(lay, lay)
    plumbing = {n.id for n in nodes.values() if n.layer == "plumbing"}

    def anchor_down(n: _Node) -> _Node | None:
        todo = list(n.children)
        while todo:
            c = todo.pop(0)
            if c.id not in plumbing:
                return c
            todo.extend(c.children)
        return None

    def anchor_up(n: _Node) -> _Node | None:
        p = n.parent
        while p is not None and p.id in plumbing:
            p = p.parent
        return p

    # the salted as-of's carry window runs over slice summaries, not turns
    for n in nodes.values():
        if n.name == "Window" and n.layer == "backfill":
            below = anchor_down(n)
            if below is not None and below.layer not in ("sources", "backfill"):
                n.layer = below.layer
    for n in nodes.values():
        if n.id not in plumbing or n.name.startswith("WholeStageCodegen"):
            continue  # a codegen cluster groups nodes; it is not one
        up, below = anchor_up(n), anchor_down(n)
        if up is None:
            n.layer = below.layer if below else remap.get("sink", "sink")
        elif (up.name == "Window" and up.layer == "backfill"
              and below is not None and below.layer == "sources"):
            n.layer = "ordering"  # the canonical range exchange + sort
        else:
            n.layer = up.layer
    return unmapped


def collect(sc, tracer: Tracer, pass_span: int, cores: int,
            extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass. Returns (metrics, detail)."""
    t0, t1 = tracer.spans[pass_span]["start"], tracer.spans[pass_span]["end"]
    captures = tracer.captured.get("captures", [])
    wall = t1 - t0 - tracer.capture_s
    groups = {f"pb-{s['id']}" for s in tracer.spans}
    jobs = _wait_idle(sc, groups)
    span_of_group = {f"pb-{s['id']}": s for s in tracer.spans}
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in rest_get(sc, "/stages?details=false")
              if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    execs = [e for e in rest_get(
        sc, "/sql?details=true&planDescription=false&offset=0&length=100000")
        if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])]

    # --- nodes and their layers ------------------------------------------
    nodes: list[_Node] = []
    unmapped: list[str] = []
    seen: set = set()
    group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    for e in sorted(execs, key=lambda e: e["id"]):
        grp = next(group_of_job[i] for i in e["successJobIds"] + e["failedJobIds"]
                   + e["runningJobIds"] if i in group_of_job)
        by_id = {raw["nodeId"]: _Node(e["id"], raw) for raw in e["nodes"]}
        for edge in e["edges"]:
            child, parent = by_id.get(edge["fromId"]), by_id.get(edge["toId"])
            if child and parent:
                child.parent = parent
                parent.children.append(child)
        unmapped += _resolve_layers(by_id, call_of(span_of_group[grp]["name"]))
        keys = {}
        for n in by_id.values():
            # a cached relation's subtree shows up, with the metrics of the
            # run that built it, in every execution that scans the cache
            key = (n.name, tuple(sorted(n.metrics.items())))
            keys[n.id] = key
            if key in seen and any(n.metrics.values()):
                continue
            nodes.append(n)
        seen.update(keys.values())

    def msum(name: str, pred) -> float:
        return sum(n.metrics.get(name, 0.0) for n in nodes if pred(n))

    # --- stage weights by layer (task ms) ------------------------------
    exec_of_stage = {sid: e["id"] for e in execs
                     for j in jobs if j["jobId"] in e["successJobIds"] + e["failedJobIds"]
                     for sid in j["stageIds"]}
    weights: dict[int, dict[str, float]] = {}
    for s in stages:
        sid, run = s["stageId"], float(s["executorRunTime"])
        here = [n for n in nodes if sid in n.stages
                and not n.name.startswith("WholeStageCodegen")]
        if not here:
            # Spark names no stage in the metrics of some executions (the
            # query under a v1 file write): take the execution's own
            # unnamed nodes
            here = [n for n in nodes if not n.stages
                    and n.exec_id == exec_of_stage.get(sid)
                    and layer_of_name(n.name) != "plumbing"]
        if not here:
            continue
        w: dict[str, float] = {}
        for n in here:
            t = sum(n.metrics.get(k, 0.0) for k in TIME_METRICS)
            if t:
                key = _weight_key(n)
                w[key] = w.get(key, 0.0) + t
        known = sum(w.values())
        if known > run > 0:
            w = {k: v * run / known for k, v in w.items()}
            known = run
        untimed = sorted({_weight_key(n) for n in here
                          if not any(k in n.metrics for k in TIME_METRICS)
                          and layer_of_name(n.name) != "plumbing"})
        rest = max(0.0, run - known)
        for k in untimed or [_weight_key(here[0])]:
            w[k] = w.get(k, 0.0) + rest / max(1, len(untimed))
        weights[sid] = w
    own_stages = set(weights)  # named by their own nodes
    # a stage still unnamed (the range partitioner's sampling job, a
    # second reader of a cache being built) works on the same RDDs as a
    # stage that is named: it takes that stage's layer mix
    for s in stages:
        if s["stageId"] in weights:
            continue
        rdds = set(s["rddIds"])
        best = max((o for o in stages if o["stageId"] in weights),
                   key=lambda o: len(rdds & set(o["rddIds"])), default=None)
        if best is not None and rdds & set(best["rddIds"]):
            weights[s["stageId"]] = dict(weights[best["stageId"]])

    # --- wall accounting: each segment split over the active stages in
    # proportion to their task-time density --------------------------------
    intervals = []
    for s in stages:
        a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
        if a is None or b is None:
            continue
        density = s["executorRunTime"] / 1000.0 / max(b - a, 1e-3)
        intervals.append((max(a, t0), min(b, t1), s["stageId"], density))
    cuts = sorted({t0, t1, *[x[0] for x in intervals], *[x[1] for x in intervals],
                   *[t for c in captures for t in c]})
    busy: dict[str, float] = {}
    gap = 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a or any(x <= a and b <= y for x, y in captures):
            continue
        active = [(sid, dens) for x, y, sid, dens in intervals if x <= a and y >= b]
        if not active:
            gap += b - a
            continue
        dens_sum = sum(d for _, d in active)
        for sid, dens in active:
            share = (b - a) * (dens / dens_sum if dens_sum else 1 / len(active))
            w = weights.get(sid, {})
            tot = sum(w.values())
            for k, v in w.items():
                busy[k] = busy.get(k, 0.0) + share * v / tot
    layer_busy = {lay: 0.0 for lay in LAYERS}
    for k, v in busy.items():
        layer_busy[k.split(".")[0]] += v

    task_weight = {}
    for w in weights.values():
        for k, v in w.items():
            task_weight[k] = task_weight.get(k, 0.0) + v / 1000.0

    def own(layer_key: str) -> list[dict]:
        """Stages whose own nodes put time into ``layer_key``."""
        return [s for s in stages
                if s["stageId"] in own_stages and weights[s["stageId"]].get(layer_key)]

    def skew(layer_key: str) -> float:
        cand = own(layer_key)
        if not cand:
            return 0.0
        s = max(cand, key=lambda s: weights[s["stageId"]][layer_key])
        q = rest_get(sc, f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                         "?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0

    def layer_is(*lays):
        return lambda n: n.layer in lays

    def named(name, *lays):
        return lambda n: n.name == name and (not lays or n.layer in lays)

    merge_rows = 0.0
    for n in nodes:
        if n.name == "MapInPandas" and n.layer == "asof":
            c = n
            while c.children and c.name != "Exchange":
                c = c.children[0]
            merge_rows += c.metrics.get("records read", 0.0)
    carry_rows = 0.0
    for n in nodes:
        if n.name == "Window" and n.layer == "asof" and n.parent is not None:
            p = n.parent
            while p is not None and p.name != "Filter" and layer_of_name(p.name) == "plumbing":
                p = p.parent
            if p is not None and p.name == "Filter":
                carry_rows += p.metrics.get("number of output rows", 0.0)
    merge_tasks = sum(s["numTasks"] for s in own("asof.merge"))
    plans = [plan_counts(p) for p in tracer.captured.get("plans", [])]

    # lineage: per run_incremental span, the executions up to the one that
    # writes the features table are planning + write; later ones are the
    # read-back and manifest append
    write_s = manifest_s = 0.0
    lineage_jobs = 0
    bytes_written = files_written = 0.0
    for grp, span in span_of_group.items():
        if not span["name"].startswith("run_incremental"):
            continue
        lineage_jobs += sum(1 for j in jobs if j.get("jobGroup") == grp)
        mine = sorted((e for e in execs if any(
            group_of_job.get(i) == grp for i in e["successJobIds"] + e["failedJobIds"])),
            key=lambda e: e["id"])
        written = False
        for e in mine:
            names = {raw["nodeName"] for raw in e["nodes"]}
            if "Window" in names:
                write_s += e["duration"] / 1000.0
                written = True
            elif written:
                manifest_s += e["duration"] / 1000.0
        for n in nodes:
            if n.name.startswith("Execute Insert") and n.exec_id in {e["id"] for e in mine}:
                bytes_written += n.metrics.get("written output", 0.0)
                files_written += n.metrics.get("number of written files", 0.0)

    exact_s, cand, pairs = _dedup_metrics(execs, nodes, jobs, span_of_group)
    stage_run = sum(s["executorRunTime"] for s in stages) / 1000.0
    udf = named("ArrowEvalPython", "text")  # the n-gram UDF
    metrics = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.core_util": stage_run / (wall * cores) if wall else 0.0,
        "spark.driver_gap_s": gap,
        "sources.scan_s": msum("scan time", layer_is("sources")) / 1000.0,
        "sources.rows_read": sum(n.metrics.get("number of output rows", 0.0)
                                 for n in nodes if n.name.startswith("Scan ")),
        "ordering.exchange_bytes": msum("shuffle bytes written", named("Exchange", "ordering")),
        "ordering.fetch_wait_s": msum("fetch wait time", named("Exchange", "ordering")) / 1000.0,
        "ordering.sample_jobs": sum(p["range_exchanges"] for p in plans),
        "ordering.sort_s": msum("sort time", named("Sort", "ordering")) / 1000.0,
        "ordering.spill_bytes": msum("spill size", named("Sort", "ordering")),
        "backfill.window_s": task_weight.get("backfill", 0.0),
        "backfill.window_passes": max([p["windows"] for p in plans] or [0]),
        "backfill.persist_bytes": tracer.captured.get("persist_bytes", 0),
        "backfill.task_max_over_median": skew("backfill"),
        "text.ngram_rows_in": msum("number of output rows", udf),
        "text.python_run_s": msum("time to run Python workers", udf) / 1000.0,
        "text.python_boot_s": (msum("time to initialize Python workers", udf)
                               + msum("time to start Python workers", udf)) / 1000.0,
        "text.arrow_bytes_sent": msum("data sent to Python workers", udf),
        "text.arrow_bytes_received": msum("data returned from Python workers", udf),
        "asof.exchange_bytes": msum("shuffle bytes written", named("Exchange", "asof")),
        "asof.merge_rows_in": merge_rows,
        "asof.merge_python_s": msum("time to run Python workers",
                                    named("MapInPandas", "asof")) / 1000.0,
        "asof.partitions": merge_tasks,
        "asof.task_max_over_median": skew("asof.merge"),
        "asof.hot_rows": extra.get("hot_rows", 0),
        "asof.salted_s": task_weight.get("asof", 0.0),
        "asof.carry_rows": carry_rows,
        "plan.exchanges": sum(p["exchanges"] for p in plans),
        "plan.python_nodes": sum(p["python_nodes"] for p in plans),
        "plan.materializations": sum(p["materializations"] for p in plans),
        "lineage.write_s": write_s,
        "lineage.bytes_written": bytes_written,
        "lineage.files_written": files_written,
        "lineage.manifest_s": manifest_s,
        "lineage.jobs": lineage_jobs,
        "lineage.resumed_buckets": extra.get("resumed_buckets", 0),
        "dedup.exact_s": exact_s,
        "dedup.minhash_python_s": msum("time to run Python workers", lambda n: n.layer == "dedup"
                                       and n.name in PYTHON_NODES) / 1000.0,
        "dedup.lsh_candidates": cand,
        "dedup.pairs_kept": pairs,
        "dedup.pair_yield": pairs / cand if cand else 0.0,
        "trace.unattributed_s": wall - gap - sum(layer_busy.values()),
        "trace.unmapped_nodes": len(unmapped),
    }
    for lay in LAYERS:
        metrics[f"{lay}.busy_s"] = layer_busy[lay]
    detail = {"wall_s": wall, "unmapped": sorted(set(unmapped)),
              "nodes": [[n.exec_id, n.id, n.name, n.layer, sorted(n.stages),
                         n.parent.id if n.parent else None, n.metrics] for n in nodes],
              "busy_by_key": busy, "task_s_by_key": task_weight,
              "plans": plans,
              "stages": [{k: s[k] for k in ("stageId", "numTasks", "executorRunTime",
                                            "submissionTime", "completionTime")}
                         for s in stages]}
    return metrics, detail


def _weight_key(n: _Node) -> str:
    """Busy-time bucket of a node: its layer, with the as-of layer split
    into the merge-scan (Python) and everything else (hot/cold split,
    slice summaries, carry window)."""
    if n.layer == "asof":
        return "asof.merge" if n.name == "MapInPandas" else "asof"
    return n.layer


def _dedup_metrics(execs, nodes, jobs, span_of_group) -> tuple[float, float, float]:
    """(exact_s, lsh_candidates, pairs_kept) of a dedup_corpus call.

    exact_s is the wall of the call's SQL executions that run no Python
    node: the exact md5 aggregation. In the execution that runs the MinHash
    UDF, the top aggregate is the near-drop reduction; the join below it
    applies the est_jaccard filter (its output rows are the kept pairs),
    and the aggregate below the signature joins is the distinct candidate
    set from the band join.
    """
    groups = {g for g, s in span_of_group.items() if s["name"] == "dedup_corpus"}
    mine = {j["jobId"] for j in jobs if j.get("jobGroup") in groups}
    exact_s = cand = pairs = 0.0
    for e in execs:
        if not mine & set(e["successJobIds"]):
            continue
        here = [n for n in nodes if n.exec_id == e["id"]]
        if not any(n.name in PYTHON_NODES for n in here):
            exact_s += e["duration"] / 1000.0
            continue
        roots = [n for n in here if n.parent is None]
        top = _first_below(roots, lambda n: "Aggregate" in n.name)
        join = _first_below([top] if top else [], lambda n: n.name.endswith("Join"))
        inner = _first_below([join] if join else [], lambda n: "Aggregate" in n.name)
        if join is not None and inner is not None:
            pairs += join.metrics.get("number of output rows", 0.0)
            cand += inner.metrics.get("number of output rows", 0.0)
    return exact_s, cand, pairs


def _first_below(starts, pred):
    """Breadth-first: the first node under ``starts`` (exclusive) that
    matches ``pred``, never entering a broadcast (build) side."""
    todo = [c for s in starts for c in s.children]
    while todo:
        n = todo.pop(0)
        if n.name == "BroadcastExchange":
            continue
        if pred(n):
            return n
        todo.extend(n.children)
    return None
