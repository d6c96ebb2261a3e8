"""Metric definitions and reports (see perfbench/README.md)."""

from __future__ import annotations

from perfbench.trace import FIELDS, median, tail_percentile
from perfbench.workloads import LAYERS

PRIMARY = {"pg_wal_eager": "batch", "hot_lazy_read": "batch", "query_mix": "query"}

# BENCHMARK.json end_to_end: defined on every workload
GATED = (
    ("setup_s", "s"),
    ("io_bytes_per_op", "B"),
)
RATIOS = ("normalize.lww_keep_ratio", "storage.buckets_touched_frac",
          "storage.rewrite_amp", "spark.bytes_per_task")
_LAYER_UNITS = {"self_pct": "%", "calls": "count", "jobs": "count", "tasks": "count",
                "cpu_pct": "%", "out_bytes": "B", "shuffle_bytes": "B",
                "rows_out": "count", "failed_tasks": "count"}


def per_layer_names(layers: list[str]) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [(f"{layer}.{f}", u) for layer in layers for f, u in _LAYER_UNITS.items()]
    out.append(("unattributed_pct", "%"))
    out += [(r, "ratio" if r != "spark.bytes_per_task" else "B") for r in RATIOS]
    return out


def _lat(ops, kind):
    return [o.latency for o in ops if o.kind == kind]


def _tail(values):
    t = tail_percentile(values)
    if t is None:
        return {"value": None, "percentile": None, "n": len(values)}
    return {"value": t[0], "percentile": round(t[1], 1), "n": t[2]}


def end_to_end(name: str, out, tracer, rss_mb: float) -> dict:
    """Every end-to-end figure of the untraced phase; None = not defined
    on this workload."""
    ops = [o for o in out.ops if not o.traced]
    tot = tracer.stage_totals({o.op_id for o in ops})
    batches, reads, queries = (_lat(ops, k) for k in ("batch", "read", "query"))
    events = sum(o.events for o in ops)
    primary = _lat(ops, PRIMARY[name])
    n_ops = len(out.ops) + out.extra_checks
    n_failed = sum(not o.ok for o in out.ops) + out.extra_failed
    busy = sum(o.latency for o in ops)
    return {
        "setup_s": median(out.setup_s),
        "ops_per_s": len(primary) / busy if busy else None,
        "op_p50_s": median(primary) if primary else None,
        "op_tail_s": _tail(primary),
        "cpu_s_per_op": tot["exec_cpu_s"] / len(primary) if primary else None,
        "io_bytes_per_op": ((tot["read_bytes"] + tot["out_bytes"]) / len(primary)
                            if primary else None),
        "events_per_s": events / sum(batches) if batches else None,
        "batch_p50_s": median(batches) if batches else None,
        "batch_tail_s": _tail(batches) if batches else None,
        "read_p50_s": median(reads) if reads else None,
        "read_tail_s": _tail(reads) if reads else None,
        "queries_per_s": len(queries) / sum(queries) if queries else None,
        "query_p50_s": median(queries) if queries else None,
        "query_tail_s": _tail(queries) if queries else None,
        "write_bytes_per_event": (sum(o.bytes_written for o in ops) / events
                                  if events else None),
        "peak_rss_mb": rss_mb,
        "failed_ops_frac": n_failed / n_ops if n_ops else None,
        "attempted": n_ops,
        "failed": n_failed,
    }


E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s_per_op": "s", "io_bytes_per_op": "B",
    "events_per_s": "1/s", "batch_p50_s": "s", "batch_tail_s": "s",
    "read_p50_s": "s", "read_tail_s": "s", "queries_per_s": "1/s",
    "query_p50_s": "s", "query_tail_s": "s", "write_bytes_per_event": "B",
    "peak_rss_mb": "MB", "failed_ops_frac": "frac",
}


def per_layer(name: str, out, tracer, layers: list[str]) -> tuple[dict, dict]:
    """(per-layer metrics for the result line, table for the report) over
    the traced phase."""
    traced_ops = {o.op_id for o in out.ops if o.traced}
    pl = tracer.per_layer(layers, traced_ops)
    wall = pl["wall_s"]
    metrics = {}
    for layer, row in pl["layers"].items():
        for f in _LAYER_UNITS:
            if f == "self_pct":
                v = 100.0 * row["self_s"] / wall if wall else 0.0
            elif f == "cpu_pct":
                v = 100.0 * row["exec_cpu_s"] / wall if wall else 0.0
            else:
                v = row[f]
            metrics[f"{layer}.{f}"] = v
    metrics["unattributed_pct"] = 100.0 * pl["unattributed_s"] / wall if wall else 0.0

    lww = [(rows, keys) for rows, keys, traced in out.lww if traced]
    changed = sum(k for _r, k in lww)
    metrics["normalize.lww_keep_ratio"] = (
        changed / sum(r for r, _k in lww) if lww else 0.0)
    merges = [s for s in tracer.spans
              if s.op in traced_ops and s.name == "storage.replace_partitions"
              and s.parent is not None
              and tracer.spans[s.parent].name == "normalize.merge"]
    metrics["storage.buckets_touched_frac"] = (
        sum(s.attrs["buckets"] / s.attrs["leaves"] for s in merges) / len(merges)
        if merges else 0.0)
    metrics["storage.rewrite_amp"] = (
        sum(s.attrs.get("rows_rewritten", 0) for s in merges) / changed
        if merges and changed else 0.0)
    tot = tracer.stage_totals(traced_ops)
    metrics["spark.bytes_per_task"] = tot["in_bytes"] / tot["tasks"] if tot["tasks"] else 0.0
    table = {"layers": pl["layers"], "unattributed_s": pl["unattributed_s"],
             "wall_s": wall, "ratios": {r: metrics[r] for r in RATIOS}}
    return metrics, table


def summarize(name: str, out, tracer, layers, rss_mb: float, trace: bool) -> dict:
    res = {"workload": name, "e2e": end_to_end(name, out, tracer, rss_mb),
           "failures": list(out.failures), "setup_all": list(out.setup_s),
           "op_latencies": [(o.op_id, o.latency) for o in out.ops],
           "jvm": out.jvm}
    if trace:
        res["per_layer"], res["per_layer_table"] = per_layer(name, out, tracer, layers)
        untraced = [o.latency for o in out.ops if not o.traced and o.kind == PRIMARY[name]]
        traced = [o.latency for o in out.ops if o.traced and o.kind == PRIMARY[name]]
        if untraced and traced:
            base = sum(untraced) / len(untraced)
            res["trace_overhead_s"] = sum(traced) / len(traced) - base
            res["trace_overhead_frac"] = res["trace_overhead_s"] / base
    return res


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, dict):
        if v["value"] is None:
            return f"n/a (n={v['n']}, fewer than 11 samples)"
        return f"{v['value']:.4f} (p{v['percentile']}, n={v['n']})"
    if isinstance(v, float):
        return f"{v:.4f}"
    return str(v)


def print_report(res: dict) -> None:
    w = res["workload"]
    for k, unit in E2E_UNITS.items():
        print(f"{w:14s} {k:22s} {_fmt(res['e2e'][k]):>36s} {unit}")
    for f in res["failures"]:
        print(f"{w:14s} CHECK FAILED: {f}")
    print(f"{w:14s} setups_s " + " ".join(f"{v:.3f}" for v in res["setup_all"]))
    print(f"{w:14s} ops " + " ".join(f"{k}={v:.3f}" for k, v in res["op_latencies"]))
    for traced, t in res["jvm"].items():
        print(f"{w:14s} JVM during {'traced' if traced else 'untraced'} window: "
              f"gc {t['gc_s']:.3f} s, jit {t['jit_s']:.3f} s")
    tab = res.get("per_layer_table")
    if tab is None:
        return
    print(f"{w:14s} per-layer (traced phase; timed wall {tab['wall_s']:.4f} s)")
    print(f"{'layer':28s}" + "".join(f"{f:>14s}" for f in FIELDS))
    total = tab["unattributed_s"]
    for layer, row in tab["layers"].items():
        total += row["self_s"]
        print(f"{layer:28s}" + "".join(
            f"{row[f]:14.4f}" if isinstance(row[f], float) else f"{row[f]:14d}"
            for f in FIELDS))
    print(f"{'unattributed_s':28s}{tab['unattributed_s']:14.4f}")
    print(f"{'sum of self_s + unattributed':28s}{total:14.4f}  (timed wall {tab['wall_s']:.4f})")
    for r, v in tab["ratios"].items():
        print(f"{r:28s}{v:14.4f}")
    if "trace_overhead_s" in res:
        print(f"{w:14s} tracing overhead: {res['trace_overhead_s']:+.4f} s per "
              f"{PRIMARY[w]} ({100 * res['trace_overhead_frac']:+.1f}%), "
              "traced minus untraced mean")
    if "trace_file" in res:
        print(f"{w:14s} spans written to {res['trace_file']}")


def result_line(results: list[dict], trace: bool) -> dict:
    """The contract line; with several workloads the metric names are
    prefixed with the workload name."""
    metrics = {}
    for res in results:
        prefix = f"{res['workload']}." if len(results) > 1 else ""
        if trace:
            for n, unit in per_layer_names(LAYERS):
                metrics[prefix + n] = {"value": res["per_layer"][n], "unit": unit}
        else:
            for n, unit in GATED:
                metrics[prefix + n] = {"value": res["e2e"][n], "unit": unit}
    return {
        "correct": all(not r["failures"] for r in results),
        "attempted": sum(r["e2e"]["attempted"] for r in results),
        "failed": sum(r["e2e"]["failed"] for r in results),
        "metrics": metrics,
    }
