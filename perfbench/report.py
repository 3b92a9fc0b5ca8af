"""Turn a finished run's spans and counters into the record line and the
result line."""

from __future__ import annotations

import os
import time
from collections import defaultdict

from stats import covered_share, median, tail
from tracing import stored_mb

# name -> unit. The result line of an untraced run carries E2E, that of a
# traced run LAYERS; BENCHMARK.json lists the same names.
E2E = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "request_p50_s": "s",
}
LAYERS = {
    "session.start_s": "s",
    "queries.load_registry_s": "s",
    "queries.construct_s": "s",
    "queries.construct_share": "share",
    "queries.construct_jobs": "count",
    "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "datasets.input_mb": "MB",
    "datasets.input_rows": "count",
    "datasets.scan_s": "s",
    "staging.build_s": "s",
    "staging.stored_mb": "MB",
    "memo.first_construct_s": "s",
    "memo.rebuild_construct_s": "s",
    "sinks.write_s": "s",
    "sinks.written_mb": "MB",
    "trace.overhead_share": "share",
    "trace.span_coverage": "share",
}
EXEC_SPANS = ("execute", "sink")
COUNTED_SPANS = ("construct", "execute", "sink")


class Passes:
    """Per-pass view of the span tree: pass -> op -> {layer span}."""

    def __init__(self, run) -> None:
        kids = defaultdict(list)
        for s in run.tracer.spans:
            kids[s.parent].append(s)
        self.cold = None
        self.warm, self.traced = [], []
        for label, traced, ps in run.passes:
            ops = {}
            for req in kids[ps.id]:
                ops[req.attrs["op"]] = {"request": req, **{
                    c.name: c for c in kids[req.id]}}
            entry = (ps, ops)
            if label == "cold":
                self.cold = entry
            elif traced:
                self.traced.append(entry)
            else:
                self.warm.append(entry)


def _seconds(ops: dict, layer: str, members=None) -> float:
    return sum((d[layer].seconds for op, d in ops.items()
                if layer in d and (members is None or op in members)), 0.0)


def _counter(ops: dict, layers, key: str) -> float:
    return sum(d[layer].counters[key] for d in ops.values()
               for layer in layers
               if layer in d and d[layer].counters is not None)


def per_query(p: Passes) -> dict:
    out = {}
    _, cold = p.cold
    for op in cold:
        warm = [ops[op] for _, ops in p.warm if op in ops]
        row = {"cold_s": cold[op]["request"].seconds,
               "warm_s": median([d["request"].seconds for d in warm])}
        for layer in ("construct", "execute"):
            if layer in cold[op]:
                row[f"cold_{layer}_s"] = cold[op][layer].seconds
            warm_s = [d[layer].seconds for d in warm if layer in d]
            if warm_s:  # a request that failed every warm pass has none
                row[f"warm_{layer}_s"] = median(warm_s)
        out[op] = row
    return out


def staging_build_s(p: Passes, staged) -> dict:
    """Per staged query: cold execution minus median warm execution."""
    _, cold = p.cold
    out = {}
    for op in staged:
        warm = [ops[op]["execute"].seconds for _, ops in p.warm
                if "execute" in ops.get(op, {})]
        if "execute" in cold.get(op, {}) and warm:
            out[op] = cold[op]["execute"].seconds - median(warm)
    return out


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / (1024 * 1024)


def layer_extras(run) -> dict:
    """Layer numbers that need the live session, read after the warm
    passes: a noop scan of each table, held blocks, sink bytes."""
    scan = 0.0
    for table in run.w.tables:
        t0 = time.perf_counter()
        run.datasets.load(run.spark, run.tier_dir, table) \
            .write.format("noop").mode("overwrite").save()
        scan += time.perf_counter() - t0
    return {
        "datasets.scan_s": scan,
        "staging.stored_mb": stored_mb(run.spark),
        "sinks.written_mb": (dir_mb(run.sink_dir)
                             if os.path.isdir(run.sink_dir) else 0.0),
    }


def layers(run, p: Passes, extras: dict) -> dict:
    rows = []
    for ps, ops in p.traced:
        construct = _seconds(ops, "construct")
        rows.append({
            "queries.construct_s": construct,
            "queries.construct_share": construct / ps.seconds,
            "queries.construct_jobs": _counter(ops, ("construct",), "jobs"),
            "catalyst.optimize_s": sum(a["optimize_s"]
                                       for a in ps.attrs["actions"]),
            "catalyst.plan_s": sum(a["plan_s"] for a in ps.attrs["actions"]),
            "exec.execute_s": _seconds(ops, "execute"),
            "exec.jobs": _counter(ops, EXEC_SPANS, "jobs"),
            "exec.tasks": _counter(ops, EXEC_SPANS, "tasks"),
            "exec.task_s": _counter(ops, EXEC_SPANS, "task_s"),
            "exec.cpu_s": _counter(ops, EXEC_SPANS, "cpu_s"),
            "exec.gc_s": _counter(ops, EXEC_SPANS, "gc_s"),
            "exec.task_skew": max([d[n].counters["skew"]
                                   for d in ops.values() for n in EXEC_SPANS
                                   if n in d and d[n].counters] or [1.0]),
            "shuffle.write_mb": _counter(ops, COUNTED_SPANS,
                                         "shuffle_write_mb"),
            "shuffle.read_mb": _counter(ops, COUNTED_SPANS, "shuffle_read_mb"),
            "shuffle.spill_mb": _counter(ops, COUNTED_SPANS, "spill_mb"),
            "datasets.input_mb": _counter(ops, COUNTED_SPANS, "input_mb"),
            "datasets.input_rows": _counter(ops, COUNTED_SPANS, "input_rows"),
            "sinks.write_s": _seconds(ops, "sink"),
            "trace.span_coverage": covered_share(
                (ps.start, ps.end),
                [(d[n].start, d[n].end) for d in ops.values()
                 for n in COUNTED_SPANS if n in d]),
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["trace.span_coverage"] = min(r["trace.span_coverage"] for r in rows)
    actions = [a for ps, _ in p.traced for a in ps.attrs["actions"]]
    out["catalyst.actions"] = len(actions) / len(p.traced)
    out["catalyst.max_action_s"] = max(
        [a["optimize_s"] + a["plan_s"] for a in actions] or [0.0])
    _, cold = p.cold
    memo = set(run.w.memo)
    out.update({
        "session.start_s": run.setup_parts["get_spark_s"],
        "queries.load_registry_s": run.setup_parts["load_registry_s"],
        "staging.build_s": sum(staging_build_s(p, run.w.staged).values(),
                               0.0),
        "memo.first_construct_s": _seconds(cold, "construct", memo),
        "memo.rebuild_construct_s": median(
            [_seconds(ops, "construct", memo) for _, ops in p.warm]),
        "trace.overhead_share": (
            median([ps.seconds for ps, _ in p.traced])
            / median([ps.seconds for ps, _ in p.warm]) - 1),
        **extras,
    })
    out["per_query_traced"] = {}
    for op in run.w.ops():
        seen = [ops[op] for _, ops in p.traced if op in ops]
        out["per_query_traced"][op] = {
            f"{layer}_s": median([d[layer].seconds for d in seen
                                  if layer in d])
            for layer in COUNTED_SPANS if any(layer in d for d in seen)}
    out["trace.span_coverage_by_pass"] = [r["trace.span_coverage"]
                                          for r in rows]
    return out


def record(run, checks: dict, peak_rss_mb: float, config: dict,
           load_start: float, load_end: float, extras: dict) -> dict:
    p = Passes(run)
    passes = [ps.seconds for ps, _ in p.warm]
    requests = [d["request"].seconds for _, ops in p.warm
                for d in ops.values()]
    best = {}
    for _, ops in p.warm:
        for op, d in ops.items():
            best[op] = min(best.get(op, d["request"].seconds),
                           d["request"].seconds)
    rec = {
        "workload": run.w.name,
        "queries": list(run.w.ops()),
        "tier": {"dir": run.tier_dir, "tables": run.manifest},
        "config": config,
        "loadavg_1m": {"start": load_start, "end": load_end},
        "setup": run.setup_parts,
        "e2e": {
            "setup_s": run.setup_s,
            "cold_pass_s": p.cold[0].seconds,
            # Best warm pass and median of each request's best warm
            # latency: host CPU steal only ever adds time, and passes keep
            # speeding up while the JIT compiles, so a run makes a fixed
            # number of warm passes.
            "warm_pass_s": min(passes),
            "request_p50_s": median(list(best.values())),
        },
        "warm_pass_median_s": median(passes),
        "request_p50_all_s": median(requests),
        "peak_rss_mb": peak_rss_mb,
        "warm_passes": passes,
        "warm_pass_cpu_s": [ps.attrs["cpu_s"] for ps, _ in p.warm],
        "host_steal_share": [ps.attrs["host_steal_share"]
                             for ps, _ in [p.cold] + p.warm],
        "request_tail": tail(requests),
        "requests": len(requests),
        "attempted": len(run.outcomes.attempted),
        "failed": run.outcomes.failed,
        "failed_frac": run.outcomes.failed_frac,
        "failures": run.outcomes.failures,
        "checks": checks,
        "check_s": run.check_s,
        "per_query": per_query(p),
        "staging": {"members": list(run.w.staged),
                    "build_s": staging_build_s(p, run.w.staged)},
        "memo_members": list(run.w.memo),
    }
    if run.traced:
        rec["layers"] = layers(run, p, extras)
    return rec


def result(run, rec: dict) -> dict:
    if run.traced:
        values, units = rec["layers"], LAYERS
    else:
        values, units = rec["e2e"], E2E
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }


def spans(spans) -> list[dict]:
    return [{"id": s.id, "parent": s.parent, "name": s.name,
             "start": s.start, "end": s.end, "attrs": s.attrs,
             "counters": s.counters} for s in spans]
