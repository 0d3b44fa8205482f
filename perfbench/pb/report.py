"""Turn a finished run into the result line: end-to-end metrics from the
untraced samples, per-layer metrics from the traced ones."""

from __future__ import annotations

import math

from pb import spans as sp
from pb.harness import LAYERS
from pb.stats import highest_supported_percentile, median, percentile

FAMILIES = ("dedup", "text", "vector", "streaming", "relational", "io", "traverse")
LAYER_FIELDS = ("calls", "build_ms", "run_ms", "jobs", "tasks", "failed_tasks",
                "executor_run_ms", "executor_cpu_ms", "shuffle_bytes")
RATIOS = (
    "queryset.rows_scanned_per_row_returned",
    "operators.match.rows_scored_per_row_returned",
    "operators.ann.rows_scored_per_row_returned",
    "operators.ann.recall_at_10",
    "sources.writers.buckets_touched_per_merge",
    "sources.writers.bytes_per_user_byte",
    "operators.index_store.refresh.bytes_written_per_user_byte",
)
PSEUDO = ("setup", "bench", "unattributed")
PSEUDO_FIELDS = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_bytes")


def per_layer_names(workload: str) -> list[str]:
    """The per-layer metrics of a traced run. The ``entry`` layer and its
    families are measured only by the entries workload."""
    entries = workload.startswith("entries")
    names = [f"{layer}.{f}" for layer in LAYERS if entries or layer != "entry"
             for f in LAYER_FIELDS]
    names += list(RATIOS)
    if entries:
        names += [f"entry.{fam}.{ph}" for fam in FAMILIES for ph in ("build_s", "run_s")]
    names += [f"{p}.{f}" for p in PSEUDO for f in PSEUDO_FIELDS]
    names += ["trace_overhead", "window_attributed_jobs", "stage_time_total_ms"]
    return names


def op_latency_summary(bench) -> dict:
    """Per op type: sample count, p50 and p90 of wall latency (ms) and the
    median engine CPU time (ms) over the samples a run timed without
    tracing, and the highest percentile that has at least ten samples
    beyond it (None when even p50 has not)."""
    out = {}
    for t, recs in bench.by_type(traced=False).items():
        ok = [r for r in recs if r.ok]
        vals = [r.wall_s * 1e3 for r in ok]
        if vals:
            out[t] = {"n": len(vals), "p50_ms": median(vals), "p90_ms": percentile(vals, 90),
                      "cpu_p50_ms": median([r.cpu_s * 1e3 for r in ok]),
                      "supported_percentile": highest_supported_percentile(len(vals))}
    return out


# the gated end-to-end metrics, as listed in BENCHMARK.json
GATED = ("setup_s", "cpu_s_per_pass", "ann_recall_at_10", "bytes_per_user_byte", "peak_rss_mb")


def end_to_end(bench, wl, peak_rss: int) -> dict:
    """Every end-to-end metric of an untraced run. ``pass_s`` is the wall
    cost of one pass of the workload's op list (Σ per op type of its count
    per pass × its median latency), ``run_s`` the part of it spent in the
    actions on the DataFrames the public calls returned, and
    ``cpu_s_per_pass`` the same sum over the CPU time the engine's process
    tree used. The gated ones (``GATED``) are ``setup_s``, the pass CPU,
    quality and space: on a shared host the wall-clock latencies, and the
    CPU time of a single short op, move with co-tenant load by more than
    any bound allows, so they are reported but not gated."""
    extra = wl.extra()
    groups = bench.by_type()

    def p50(op, attr):
        vals = [getattr(r, attr) for r in groups.get(op, []) if r.ok]
        return median(vals) * 1e3 if vals else None

    m = {
        "setup_s": (bench.session_s + median(bench.setup_reps), "s"),
        "cpu_s_per_pass": (bench.pass_cost(wl.per_pass, "cpu_s"), "s"),
        "find_vector_cpu_ms": (p50("find_vector", "cpu_s"), "ms"),
        "read_id_cpu_ms": (p50("read_id", "cpu_s"), "ms"),
        "ann_recall_at_10": (extra.get("ann_recall_at_10"), "ratio"),
        "bytes_per_user_byte": (extra.get("bytes_per_user_byte"), "ratio"),
        "pass_s": (bench.pass_cost(wl.per_pass, "wall_s"), "s"),
        "run_s": (bench.pass_cost(wl.per_pass, "run_s"), "s"),
        "find_vector_p50_ms": (p50("find_vector", "wall_s"), "ms"),
        "read_id_p50_ms": (p50("read_id", "wall_s"), "ms"),
        # over the timed op time only: the output checks between ops are
        # the benchmark's cost, not the engine's
        "ops_per_s": (sum(r.ok for r in bench.ops) / sum(r.wall_s for r in bench.ops), "1/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    # the unlisted entries workload has no vector/id ops: its result omits them
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items() if v is not None}


def _scan_rows(sql_execs: list[dict], span_of_job: dict) -> dict[str, int]:
    """Rows produced by leaf scan nodes, summed per span (via the span of the
    execution's first job)."""
    out: dict[str, int] = {}
    for ex in sql_execs:
        jobs = sorted(ex.get("successJobIds", []) + ex.get("failedJobIds", []))
        sid = next((span_of_job[j] for j in jobs if j in span_of_job), None)
        if sid is None:
            continue
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            if not (name.startswith("Scan") or name.startswith("InMemoryTableScan")):
                continue
            for met in node.get("metrics", []):
                if met.get("name") == "number of output rows":
                    val = str(met.get("value", "0")).split("\n")[0].replace(",", "")
                    if val.isdigit():
                        out[sid] = out.get(sid, 0) + int(val)
    return out


def per_layer(bench, wl, attribution: dict, sql_execs: list[dict]) -> dict:
    spans = bench.tracer.spans
    by_id = {s.id: s for s in spans}
    per_span = attribution["per_span"]

    def root_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    buckets: dict[str, dict] = {}
    calls: dict[str, list] = {}
    builds: dict[str, list] = {}
    runs: dict[str, list] = {}
    for s in spans:
        root = root_of(s)
        if s.name == "session":
            bucket = "session"
        elif root.name in ("setup", "warmup"):
            bucket = "setup"
        elif s.name in LAYERS and s.name != "session":
            bucket = s.name
        else:
            bucket = "bench"  # op roots, verification, untraced samples
        if s.name in LAYERS and bucket == s.name:
            ph = s.attrs.get("phase")
            dur = (s.end - s.start) * 1e3
            if ph == "build":
                builds.setdefault(s.name, []).append(dur)
                calls.setdefault(s.name, []).append(s)
            elif ph == "run":
                runs.setdefault(s.name, []).append(dur)
        acc = buckets.setdefault(bucket, dict.fromkeys(sp.STAGE_FIELDS + ("jobs",), 0.0))
        for k, v in per_span.get(s.id, {}).items():
            acc[k] = acc.get(k, 0.0) + v
    un = attribution["unattributed"]
    for k, v in per_span.get("pb-untraced", {}).items():
        buckets.setdefault("bench", dict.fromkeys(sp.STAGE_FIELDS + ("jobs",), 0.0))
        buckets["bench"][k] = buckets["bench"].get(k, 0.0) + v

    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        n = len(calls.get(layer, []))
        acc = buckets.get(layer, {})
        out[f"{layer}.calls"] = (n, "count")
        out[f"{layer}.build_ms"] = (median(builds[layer]) if builds.get(layer) else 0.0, "ms")
        out[f"{layer}.run_ms"] = (median(runs[layer]) if runs.get(layer) else 0.0, "ms")
        for f, unit in (("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
                        ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
                        ("shuffle_bytes", "bytes")):
            out[f"{layer}.{f}"] = (acc.get(f, 0.0) / n if n else 0.0, unit)
    for p in PSEUDO:
        acc = un if p == "unattributed" else buckets.get(p, {})
        for f in PSEUDO_FIELDS:
            out[f"{p}.{f}"] = (acc.get(f, 0.0), "bytes" if f == "shuffle_bytes" else
                               "count" if f in ("jobs", "tasks") else "ms")

    # rows scanned per row returned, per layer, over traced ops
    scan = _scan_rows(sql_execs, attribution["span_of_job"])
    traced_ops = {r.op_id: r for r in bench.ops if r.traced}
    for layer, key in (("queryset", "queryset.rows_scanned_per_row_returned"),
                       ("operators.match", "operators.match.rows_scored_per_row_returned"),
                       ("operators.ann", "operators.ann.rows_scored_per_row_returned")):
        scanned = returned = 0
        for s in calls.get(layer, []) + [x for x in spans if x.name == layer and x.attrs.get("phase") == "run"]:
            scanned += scan.get(s.id, 0)
        for s in calls.get(layer, []):
            rec = traced_ops.get(s.op_id)
            if rec is not None:
                returned += rec.info.get("rows", 0)
        out[key] = (scanned / returned if returned else 0.0, "ratio")
    extra = wl.extra()
    out["operators.ann.recall_at_10"] = (extra.get("ann_recall_at_10") or 0.0, "ratio")
    out["sources.writers.bytes_per_user_byte"] = (
        extra.get("bytes_per_user_byte") or 0.0 if wl.per_pass.get("write_visible") else 0.0, "ratio")
    out["sources.writers.buckets_touched_per_merge"] = (extra.get("buckets_touched_per_merge") or 0.0, "count")
    written = buckets.get("operators.index_store.refresh", {}).get("output_bytes", 0.0)
    user = sum(r.info.get("user_bytes", 0) for r in traced_ops.values())
    out["operators.index_store.refresh.bytes_written_per_user_byte"] = (written / user if user else 0.0, "ratio")

    fam = getattr(wl, "family_times", lambda: {})()
    for f in FAMILIES:
        b, r = fam.get(f, (0.0, 0.0))
        out[f"entry.{f}.build_s"] = (b, "s")
        out[f"entry.{f}.run_s"] = (r, "s")

    # traced vs untraced samples of the same op types
    t_cost = bench.pass_cost(_both(bench, wl.per_pass), traced=True)
    u_cost = bench.pass_cost(_both(bench, wl.per_pass), traced=False)
    out["trace_overhead"] = (t_cost / u_cost if t_cost and u_cost else 0.0, "ratio")
    out["window_attributed_jobs"] = (attribution["window_jobs"], "count")
    out["stage_time_total_ms"] = (attribution["rest_total"]["executor_run_ms"], "ms")
    names = set(per_layer_names(bench.workload))
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items() if k in names}


def _both(bench, per_pass: dict) -> dict:
    """The op types that have both traced and untraced samples."""
    t, u = bench.by_type(traced=True), bench.by_type(traced=False)
    return {k: n for k, n in per_pass.items() if t.get(k) and u.get(k)}


def balance(bench, attribution: dict, layer_metrics: dict) -> dict:
    """Layer + setup + bench + unattributed stage time and task count
    against the totals the REST API reports apart from the attributed
    stage list (``rest_total``): they must be equal."""
    per_layer = [layer for layer in LAYERS if f"{layer}.calls" in layer_metrics]

    def parts(field):
        return sum(
            layer_metrics[f"{layer}.{field}"]["value"] * layer_metrics[f"{layer}.calls"]["value"]
            for layer in per_layer
        ) + sum(layer_metrics[f"{p}.{field}"]["value"] for p in PSEUDO)

    rest = attribution["rest_total"]
    run_ms, tasks = parts("executor_run_ms"), parts("tasks")
    return {"rest_total_ms": rest["executor_run_ms"], "attributed_plus_unattributed_ms": run_ms,
            "rest_tasks": rest["tasks"], "attributed_plus_unattributed_tasks": tasks,
            "ok": math.isclose(rest["executor_run_ms"], run_ms, rel_tol=1e-9, abs_tol=1e-6)
            and math.isclose(rest["tasks"], tasks, rel_tol=1e-9, abs_tol=1e-6)}
