"""Metric definitions: end-to-end metrics from the harness report, per-layer
metrics from the traced run's spans, and the trace accounting checks."""
import math
import statistics

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_geomean_s", "s"), ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analyze_s", "s"), ("plans.optimize_s", "s"), ("plans.physical_s", "s"),
    ("plans.exchanges", "count"), ("plans.interpreted_exprs", "count"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("exec.run_s", "s"), ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.core_util", "ratio"), ("exec.skew", "ratio"), ("exec.scan_mb", "MB"),
    ("exec.task_peak_mem_mb", "MB"),
    ("exchange.write_mb", "MB"), ("exchange.records", "count"),
    ("exchange.fetch_wait_s", "s"), ("exchange.spill_mb", "MB"),
    ("driver.result_mb", "MB"),
]

# per-layer metrics taken from the cold pass instead of the warm passes
COLD_PASS = ("codegen.compile_s", "codegen.classes")

# build + plan + execute must cover each query's wall time to within this share
ACCOUNTING_SHARE = 0.05
MB = 1e6


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _clean(p):
    return not any("error" in q for q in p["queries"])


def end_to_end(report):
    """End-to-end metrics of one untraced run. A timing that any failed query
    touched is None: a failure never reads as a fast time."""
    passes = report["passes"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm"]
    clean_warm = [p["wall_s"] for p in warm if _clean(p)]
    per_query = {}
    for p in warm:
        for q in p["queries"]:
            per_query.setdefault(q["name"], [])
            if "error" not in q:
                per_query[q["name"]].append(q["build_s"] + q["exec_s"])
    geo = (geomean([median(ts) for ts in per_query.values()])
           if per_query and all(per_query.values()) else None)
    return {
        "setup_s": report["setup_s"],
        "cold_pass_s": cold[0]["wall_s"] if cold and _clean(cold[0]) else None,
        "warm_pass_s": median(clean_warm) if clean_warm and len(clean_warm) == len(warm) else None,
        "query_geomean_s": geo,
        "peak_rss_mb": report["peak_rss_mb"],
    }, len(warm)


def _union_s(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total / 1000.0


def spans_by_pass(trace):
    """Attributes every job, stage and plan of the trace to its phase span
    and groups them per pass. Adds each query's `plan` span (the planning
    phases of the query's execution) and trims its `execute` span to start
    where planning ended. Returns {pass_span_id: {...}}."""
    spans = {s["id"]: s for s in trace["spans"]}
    phases = [s for s in trace["spans"] if s["kind"] in ("build", "execute")]

    def phase_at(t_ms):
        for s in phases:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s
        return None

    def pass_of(span):
        while span is not None and span["kind"] != "pass":
            span = spans.get(span["parent"])
        return span

    out = {s["id"]: {"pass": s, "build": [], "execute": [], "jobs": [], "stages": [], "plans": []}
           for s in trace["spans"] if s["kind"] == "pass"}
    job_phase = {}
    for j in trace["jobs"]:
        ph = spans.get(j["span"]) if j["span"] >= 0 else phase_at(j["start_ms"])
        job_phase[j["id"]] = ph
        p = pass_of(ph)
        if p is not None:
            out[p["id"]]["jobs"].append(dict(j, phase=ph["kind"]))
    for st in trace["stages"]:
        p = pass_of(job_phase.get(st["job"]))
        if p is not None:
            out[p["id"]]["stages"].append(st)
    for s in phases:
        p = pass_of(s)
        out[p["id"]][s["kind"]].append(s)
    for pl in trace["plans"]:
        ends = [v["end_ms"] for v in pl["phases"].values()]
        ph = phase_at(max(ends)) if ends else None
        if ph is None or ph["kind"] != "execute":
            continue
        out[pass_of(ph)["id"]]["plans"].append(pl)
        starts = [v["start_ms"] for v in pl["phases"].values()]
        plan_span = {"id": None, "parent": ph["parent"], "kind": "plan", "name": ph["name"],
                     "start_ms": max(min(starts), ph["start_ms"]), "end_ms": max(ends)}
        ph.setdefault("plan", plan_span)
    for s in phases:
        if "plan" in s:
            s["exec_start_ms"] = s["plan"]["end_ms"]
    return out


def _phase_s(pl, name):
    v = pl["phases"].get(name)
    return (v["end_ms"] - v["start_ms"]) / 1000.0 if v else 0.0


def layers_of_pass(g, slots):
    """Per-layer metrics of one pass from its attributed spans."""
    stages, jobs, plans, ps = g["stages"], g["jobs"], g["plans"], g["pass"]
    df_analysis = sum(s.get("df_analysis_ms", 0.0) for s in g["build"]) / 1000.0
    run_s = _union_s([(j["start_ms"], j["end_ms"]) for j in jobs])
    task_s = sum(st["run_ms"] for st in stages) / 1000.0
    skew = 1.0
    if stages:
        top = max(stages, key=lambda st: st["run_ms"])
        if top["task_run_ms"]:
            skew = max(top["task_run_ms"]) / max(median(top["task_run_ms"]), 1)
    return {
        "queries.build_s": sum(s["end_ms"] - s["start_ms"] for s in g["build"]) / 1000.0,
        "queries.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "plans.analyze_s": df_analysis + sum(_phase_s(p, "analysis") for p in plans),
        "plans.optimize_s": sum(_phase_s(p, "optimization") for p in plans),
        "plans.physical_s": sum(_phase_s(p, "planning") for p in plans),
        "plans.exchanges": sum(p["exchanges"] for p in plans),
        "plans.interpreted_exprs": sum(p["interpreted"] for p in plans),
        "codegen.compile_s": (ps["end_compile_ns"] - ps["start_compile_ns"]) / 1e9,
        "codegen.classes": ps["end_classes"] - ps["start_classes"],
        "exec.run_s": run_s,
        "exec.task_s": task_s,
        "exec.cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "exec.gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(st["tasks"] for st in stages),
        "exec.core_util": task_s / (run_s * slots) if run_s > 0 else 0.0,
        "exec.skew": skew,
        "exec.scan_mb": sum(st["input_bytes"] for st in stages) / MB,
        "exec.task_peak_mem_mb": max((st["peak_mem_bytes"] for st in stages), default=0) / MB,
        "exchange.write_mb": sum(st["shuffle_write_bytes"] for st in stages) / MB,
        "exchange.records": sum(st["shuffle_records"] for st in stages),
        "exchange.fetch_wait_s": sum(st["fetch_wait_ms"] for st in stages) / 1000.0,
        "exchange.spill_mb": sum(st["spill_bytes"] for st in stages) / MB,
        "driver.result_mb": sum(st["result_bytes"] for st in stages) / MB,
    }


def accounting(g, report_pass, slots, layers):
    """Accounting checks of one pass: build + plan + execute spans cover each
    query's wall time to within ACCOUNTING_SHARE, and task time fits in the
    run time times the slots. Returns a list of violations."""
    bad = []
    walls = {q["name"]: q["build_s"] + q["exec_s"] for q in report_pass["queries"]}
    covered = {}
    for s in g["build"] + g["execute"]:
        start = s.get("exec_start_ms", s["start_ms"])
        covered[s["name"]] = covered.get(s["name"], 0.0) + (s["end_ms"] - start) / 1000.0
        if "plan" in s:
            covered[s["name"]] += (s["plan"]["end_ms"] - s["plan"]["start_ms"]) / 1000.0
    for name, wall in walls.items():
        if abs(covered.get(name, 0.0) - wall) > ACCOUNTING_SHARE * wall:
            bad.append(f"{name}: build+plan+execute {covered.get(name, 0.0):.4f} s vs wall {wall:.4f} s")
    if layers["exec.task_s"] > layers["exec.run_s"] * slots * (1 + 1e-9) + 0.001:
        bad.append(f"exec.task_s {layers['exec.task_s']:.3f} > exec.run_s x slots "
                   f"{layers['exec.run_s'] * slots:.3f}")
    return bad


def per_layer(report):
    """Per-layer metrics of a traced run, the warm-pass medians they come
    from, and the accounting violations of each warm pass.

    Each metric is the median over warm passes, except the codegen layer's,
    which are the cold pass's: a steady warm pass compiles nothing, so the
    compile work those metrics exist to show happens in the cold pass. The
    warm-pass medians of every metric are returned beside them.
    Returns (layers, warm, {pass index: [violation, ...]})."""
    trace, slots = report["trace"], report["trace"]["slots"]
    groups = spans_by_pass(trace)
    by_index = {p["index"]: p for p in report["passes"]}
    rows, cold, bad = [], None, {}
    for g in groups.values():
        rp = by_index[int(g["pass"]["index"])]
        if rp["kind"] == "cold":
            cold = layers_of_pass(g, slots)
        if rp["kind"] != "warm":
            continue
        layers = layers_of_pass(g, slots)
        rows.append(layers)
        bad[rp["index"]] = accounting(g, rp, slots, layers)
    warm = {name: median([r[name] for r in rows]) for name, _ in PER_LAYER}
    layers = dict(warm)
    for name in COLD_PASS:
        layers[name] = cold[name] if cold is not None else None
    return layers, warm, bad
