"""Turns a worker result (and, in a traced run, its spans) into metrics.

``end_to_end`` and ``per_layer`` hold the metric sets named in
BENCHMARK.json; every workload reports all of them. ``detail`` adds the
workload-specific breakdown (latency per op class, per-op Spark counters,
the mutation growth curve against write count), printed on its own line.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

MB = 2**20
COUNTERS = ("jobs", "stages", "numTasks", "executorRunTime", "jvmGcTime", "inputRecords",
            "shuffleReadRecords", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled")


def p50(xs):
    return statistics.median(xs)


def end_to_end(res: dict, primary: str) -> dict:
    ms = [dt * 1000 for cls, dt in res["latencies"] if cls == primary]
    return {
        "setup_s": (res["session_s"] + res["input_s"], "s"),
        "cache_mb": (res["cache_mb"], "MB"),
        "ok_frac": ((res["attempted"] - res["failed"]) / res["attempted"], "frac"),
        # the ops of a class differ in cost by design (a pass runs each batch
        # op once), so a median would jump between ops; the geometric mean
        # moves smoothly and weighs a 2x change of any op alike
        "op_geomean_ms": (statistics.geometric_mean(ms), "ms"),
        "pass_s": (p50(res["passes"]), "s"),
    }


def class_latencies(res: dict) -> dict:
    """Latency per op class (p50) and the failed fraction."""
    by = defaultdict(list)
    for cls, dt in res["latencies"]:
        by[cls].append(dt * 1000)
    out = {"failed_frac": (res["failed"] / res["attempted"], "frac")}
    for cls in ("point", "pattern", "write"):
        if by[cls]:
            out[f"{cls}_p50_ms"] = (p50(by[cls]), "ms")
    if by["batch"]:
        out["batch_s"] = (p50(res["passes"]), "s")
    return out


def _ops(spans):
    """One record per measured op: its own span plus the counters summed
    over its descendants (job groups do not nest, so each child span holds
    only its own jobs)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    ops = []
    for s in spans:
        if s["parent"] is not None or "op_id" not in s:
            continue
        tot = {c: s.get(c, 0) for c in COUNTERS}
        todo = list(kids[s["span"]])
        while todo:
            k = todo.pop()
            for c in COUNTERS:
                tot[c] += k.get(c, 0)
            todo.extend(kids[k["span"]])
        call = spans[s["call"]] if "call" in s else None
        act = spans[s["action"]] if "action" in s else None
        ops.append({
            **s, "tot": tot, "wall_ms": (s["end"] - s["start"]) * 1000,
            "call_ms": (call["end"] - call["start"]) * 1000 if call else 0.0,
            "call_jobs": call["jobs"] if call else 0,
            "action_ms": (act["end"] - act["start"]) * 1000 if act else 0.0,
        })
    return ops


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res: dict, spans: list) -> dict:
    ops = _ops(spans)
    tot = {c: sum(o["tot"][c] for o in ops) for c in COUNTERS}
    wall = sum(o["wall_ms"] for o in ops) / 1000
    produced = sum(o.get("rows_out", 0) for o in ops) or 1
    return {
        "session.start_s": (res["session_s"], "s"),
        "input.build_s": (sum(res["builds"][0].values()), "s"),
        "cache.edges_mb": (res["edges_mb"], "MB"),
        "api.call_ms": (p50([o["call_ms"] for o in ops]), "ms"),
        "api.jobs_per_call": (_mean([o["call_jobs"] for o in ops]), "count"),
        "catalyst.plan_ms": (p50([o.get("plan_ms", 0.0) for o in ops]), "ms"),
        "plan.lines": (p50([o.get("plan_lines", 0) for o in ops]), "count"),
        "exec.action_ms": (p50([o["action_ms"] for o in ops]), "ms"),
        "spark.jobs_per_op": (tot["jobs"] / len(ops), "count"),
        "spark.stages_per_op": (tot["stages"] / len(ops), "count"),
        "spark.tasks_per_op": (tot["numTasks"] / len(ops), "count"),
        "spark.executor_run_s": (tot["executorRunTime"] / 1000, "s"),
        "spark.gc_s": (tot["jvmGcTime"] / 1000, "s"),
        "spark.shuffle_read_mb": (tot["shuffleReadBytes"] / MB, "MB"),
        "spark.shuffle_write_mb": (tot["shuffleWriteBytes"] / MB, "MB"),
        "spark.spill_mb": (tot["diskBytesSpilled"] / MB, "MB"),
        "records_read_per_row": ((tot["inputRecords"] + tot["shuffleReadRecords"]) / produced,
                                 "count"),
        "harness.failed_frac": (res["failed"] / res["attempted"], "frac"),
        "trace.overhead_frac": (res["trace_overhead_s"] / wall, "frac"),
    }


def detail(res: dict, spans: list) -> dict:
    """The per-layer table of the benchmark's LAYERS.md, by layer name."""
    ops = _ops(spans)
    out = {"session.start_s": res["session_s"], "cache.edges_mb": res["edges_mb"]}
    for k, v in res["builds"][0].items():
        out[k] = v
    by_layer = defaultdict(list)
    for o in ops:
        by_layer[o["name"]].append(o)

    pats = by_layer["plans.compiler"] + by_layer["plans.motif"]
    pats = [o for o in pats if o["cls"] == "pattern"]
    if pats:
        out.update({
            "compiler.compile_ms": p50([o["call_ms"] for o in pats]),
            "compiler.compile_jobs": _mean([o["call_jobs"] for o in pats]),
            "catalyst.plan_ms": p50([o.get("plan_ms", 0.0) for o in pats]),
            "compiler.plan_joins": _mean([o.get("plan_joins", 0) for o in pats]),
            "compiler.exec_ms": p50([o["action_ms"] for o in pats]),
        })
    adj = by_layer["operators.adjacency"]
    if adj:
        base = [o for o in adj if o["phase"] == "base"] or adj
        out.update({
            "adjacency.exec_ms": p50([o["action_ms"] for o in base]),
            "adjacency.jobs_per_op": _mean([o["tot"]["jobs"] for o in base]),
            "adjacency.tasks_per_op": _mean([o["tot"]["numTasks"] for o in base]),
            "adjacency.records_read_per_row": sum(
                o["tot"]["inputRecords"] + o["tot"]["shuffleReadRecords"] for o in base)
            / max(sum(o.get("rows_out", 0) for o in base), 1),
        })
    writes = by_layer["operators.mutation"]
    if writes:
        out["mutation.call_ms"] = p50([o["call_ms"] for o in writes])
        out["mutation.visible_ms"] = p50([o["action_ms"] for o in writes])
        # per write count: the write (call + read-back), the read-back's plan
        # and jobs, and the reads made against the same graph version
        curve = {0: {"read_p50_ms": p50([o["wall_ms"] for o in adj if o["write_no"] == 0])}}
        for wr in sorted(writes, key=lambda o: o["write_no"]):
            reads = [o["wall_ms"] for o in adj if o["write_no"] == wr["write_no"]]
            curve[wr["write_no"]] = {
                "write_ms": wr["wall_ms"], "visible_ms": wr["action_ms"],
                "plan_lines": wr.get("plan_lines", 0), "jobs_per_read": wr["tot"]["jobs"],
                "stages_per_read": wr["tot"]["stages"],
                "read_p50_ms": p50(reads) if reads else None,
            }
        out["mutation.by_write_count"] = curve
    for layer in ("operators.analytics", "operators.dedup",
                  "operators.curation", "operators.stats", "operators.wordpiece"):
        for o in by_layer[layer]:
            if o["cls"] != "batch":
                continue
            t, k = o["tot"], o["kind"]
            out.update({
                f"{k}.wall_s": o["wall_ms"] / 1000, f"{k}.jobs": t["jobs"],
                f"{k}.stages": t["stages"], f"{k}.tasks": t["numTasks"],
                f"{k}.executor_run_s": t["executorRunTime"] / 1000,
                f"{k}.gc_s": t["jvmGcTime"] / 1000,
                f"{k}.shuffle_read_mb": t["shuffleReadBytes"] / MB,
                f"{k}.shuffle_write_mb": t["shuffleWriteBytes"] / MB,
                f"{k}.spill_mb": t["diskBytesSpilled"] / MB,
            })
            if "python_ms" in o:
                out[f"{k}.python_ms"] = o["python_ms"]
    return out


def load_spans(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f]
