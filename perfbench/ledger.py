"""Per-layer ledger of one traced benchmark run.

Turns the raw spans a traced harness run writes (entries with their
construct/action boundaries, Spark jobs, stage task counters, planning
phases, codegen, GC, heap and store probes) into per-entry and
per-workload layer metrics, and reconciles them. An entry's wall splits
at its construct/action boundary, so construct + action = wall holds by
definition; what is checked is that each phase's own spans account for
it:

  * every job and planning phase attributed to a phase lies inside that
    phase's window (construct [t0, t1], action [t1, t2]), and
  * in each phase, planning + the union of job intervals + the driver
    remainder (the window no planning phase or job covers) equals the
    phase's wall, so planning that overlaps a job, or a span that spills
    out of its window, leaves a residual,

each within TOL_MS + TOL_SHARE of the entry's wall. Spans nest as
run -> entry -> {construct, action} -> job -> stage; task counters are
rolled up into their stage.
"""
import math

TOL_MS = 25.0      # absolute slack: listener timestamps are whole ms
TOL_SHARE = 0.02   # relative slack per entry wall

PLAN_PHASES = ("analysis", "optimization", "planning")
# jobs the harness runs after the timed region to resolve lazy oracle SQL
ORACLE_GROUP = "perfbench/oracle"
TASK_KEYS = ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "input_bytes", "tasks")

# per-layer metric -> unit, in report order
LAYER_UNITS = {
    "construct.s": "s", "construct.jobs": "count", "construct.tasks": "count",
    "construct.queries": "count", "construct.driver_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.queries": "count",
    "codegen.classes": "count", "codegen.compile_ms": "ms",
    "codegen.gen_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.slot_use": "share",
    "stores.bytes_written": "bytes", "stores.files_written": "count",
    "sink.bytes": "bytes", "sink.rows": "count",
    "driver.gap_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "setup.session_s": "s", "setup.warmup_s": "s", "setup.index_build_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def union_ms(intervals, lo=-math.inf, hi=math.inf) -> float:
    """Total length of the union of [start, end] intervals, clipped."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _phase_of(entries, t_ms):
    """(entry name, phase) whose window holds t_ms, else (None, None)."""
    for e in entries:
        if e["t0_ms"] - TOL_MS <= t_ms <= e["t2_ms"] + TOL_MS:
            return e["name"], ("construct" if t_ms < e["t1_ms"] else "action")
    return None, None


def attribute(result: dict) -> dict:
    """Map jobs, stages and planned queries onto (entry, phase)."""
    entries = result["entries"]
    tr = result["trace"]
    jobs = {}
    for j in tr["jobs"]:
        g = j.get("group") or ""
        if g == ORACLE_GROUP:
            continue
        parts = g.split("/")
        if len(parts) == 3 and parts[0] == "perfbench":
            key = (parts[1], parts[2])
        else:
            key = _phase_of(entries, j["start_ms"])
        jobs.setdefault(key, []).append(j)
    by_stage = {}
    for s in tr["stage_tasks"]:
        sid = s["stage"].split(".")[0]
        acc = by_stage.setdefault(sid, {k: 0.0 for k in TASK_KEYS})
        for k in TASK_KEYS:
            acc[k] += s[k]
    attempts = {}
    for s in tr["stages"]:
        sid = s["id"].split(".")[0]
        attempts[sid] = attempts.get(sid, 0) + 1
    queries = {}
    for q in tr["queries"]:
        starts = [q[p]["start_ms"] for p in PLAN_PHASES if p in q]
        if starts:
            queries.setdefault(_phase_of(entries, min(starts)), []).append(q)
    return {"jobs": jobs, "by_stage": by_stage, "attempts": attempts,
            "queries": queries}


def entry_layers(e: dict, att: dict, cores: int, seen_stages: set) -> dict:
    """Layer metrics and reconciliation residuals of one traced entry."""
    name = e["name"]
    wall_ms = e["t2_ms"] - e["t0_ms"]
    windows = {"construct": (e["t0_ms"], e["t1_ms"]),
               "action": (e["t1_ms"], e["t2_ms"])}
    m = {k: 0.0 for k in LAYER_UNITS if not k.startswith(("setup.", "trace."))}
    m["construct.s"] = (e["t1_ms"] - e["t0_ms"]) / 1e3
    job_iv, plan_iv = {}, {}
    for phase in windows:
        js = att["jobs"].get((name, phase), [])
        job_iv[phase] = [(j["start_ms"], j["end_ms"] or j["start_ms"], j["id"])
                         for j in js]
        tasks = {k: 0.0 for k in TASK_KEYS}
        stages = 0
        for j in js:
            for sid in j["stages"]:
                if sid in seen_stages or sid not in att["by_stage"]:
                    continue
                seen_stages.add(sid)
                stages += att["attempts"].get(sid, 1)
                for k in TASK_KEYS:
                    tasks[k] += att["by_stage"][sid][k]
        m["exec.jobs"] += len(js)
        m["exec.stages"] += stages
        m["exec.tasks"] += tasks["tasks"]
        m["exec.task_run_s"] += tasks["run_s"]
        m["exec.task_cpu_s"] += tasks["cpu_s"]
        m["exec.task_gc_s"] += tasks["gc_s"]
        m["exec.shuffle_read_bytes"] += tasks["shuffle_read_bytes"]
        m["exec.shuffle_write_bytes"] += tasks["shuffle_write_bytes"]
        m["exec.spill_bytes"] += tasks["spill_bytes"]
        m["exec.input_bytes"] += tasks["input_bytes"]
        qs = att["queries"].get((name, phase), [])
        plan_iv[phase] = [(q[p]["start_ms"], q[p]["end_ms"], p)
                          for q in qs for p in PLAN_PHASES if p in q]
        if phase == "construct":
            m["construct.jobs"] = len(js)
            m["construct.tasks"] = tasks["tasks"]
            m["construct.queries"] = len(qs)
        else:
            m["plan.queries"] = len(qs)
            for a, b, p in plan_iv[phase]:
                m[f"plan.{p}_ms"] += b - a
    job_wall_ms = union_ms([iv[:2] for ivs in job_iv.values() for iv in ivs])
    if job_wall_ms > 0:
        m["exec.slot_use"] = m["exec.task_run_s"] * 1e3 / (job_wall_ms * cores)
    probe = e.get("probe", {})
    cg = [a + b for a, b in zip(probe.get("codegen_construct", [0, 0, 0]),
                                probe.get("codegen_action", [0, 0, 0]))]
    m["codegen.classes"], m["codegen.compile_ms"], m["codegen.gen_ms"] = cg
    m["stores.bytes_written"] = probe.get("stores_bytes", 0)
    m["stores.files_written"] = probe.get("stores_files", 0)
    m["jvm.gc_s"] = probe.get("gc_s", 0.0)
    m["jvm.heap_peak_mb"] = probe.get("heap_peak_mb", 0.0)
    m["sink.bytes"] = e.get("sink_bytes", 0)
    m["sink.rows"] = e.get("sink_rows", 0)
    tol = TOL_MS + TOL_SHARE * wall_ms
    residuals, outside = {}, []
    for phase, (lo, hi) in windows.items():
        plans = [iv[:2] for iv in plan_iv[phase]]
        jobs = [iv[:2] for iv in job_iv[phase]]
        # the driver remainder: the part of the window no span covers
        gap_ms = (hi - lo) - union_ms(plans + jobs, lo, hi)
        residuals[phase] = (sum(b - a for a, b in plans) + union_ms(jobs)
                            + gap_ms - (hi - lo))
        key = "construct.driver_s" if phase == "construct" else "driver.gap_s"
        m[key] = gap_ms / 1e3
        outside += [f"{phase} job {jid} [{a:.0f}, {b:.0f}]"
                    for a, b, jid in job_iv[phase]
                    if a < lo - TOL_MS or b > hi + TOL_MS]
        outside += [f"{phase} {p} [{a:.0f}, {b:.0f}]"
                    for a, b, p in plan_iv[phase]
                    if a < lo - TOL_MS or b > hi + TOL_MS]
    m["wall_s"] = wall_ms / 1e3
    m["action_s"] = (e["t2_ms"] - e["t1_ms"]) / 1e3
    return {"metrics": m, "residual_ms": residuals, "tol_ms": tol,
            "outside": outside,
            "ok": not outside and all(abs(r) <= tol
                                      for r in residuals.values())}


def build(result: dict, cores: int) -> dict:
    """Per-entry and per-workload ledger of a traced harness result."""
    att = attribute(result)
    seen = set()
    per_entry, bad = {}, []
    for e in result["entries"]:
        led = entry_layers(e, att, cores, seen)
        per_entry[e["name"]] = led
        if not led["ok"]:
            bad.append(f"{e['name']}: residuals {led['residual_ms']} ms, "
                       f"tol {led['tol_ms']:.1f} ms, spans outside their "
                       f"phase window {led['outside']}")
    orphans = [j["id"] for k, js in att["jobs"].items() if k[0] is None
               for j in js]
    if orphans:
        bad.append(f"jobs outside every entry window: {orphans[:10]}")
    totals = {k: 0.0 for k in LAYER_UNITS}
    for led in per_entry.values():
        for k, v in led["metrics"].items():
            if k in totals and k not in ("exec.slot_use", "jvm.heap_peak_mb"):
                totals[k] += v
    all_jobs = [(j["start_ms"], j["end_ms"] or j["start_ms"])
                for js in att["jobs"].values() for j in js]
    jw = union_ms(all_jobs)
    totals["exec.slot_use"] = totals["exec.task_run_s"] * 1e3 / (jw * cores) \
        if jw > 0 else 0.0
    totals["jvm.heap_peak_mb"] = max(
        (led["metrics"]["jvm.heap_peak_mb"] for led in per_entry.values()),
        default=0.0)
    setup = result["setup"]
    for k in ("session_s", "warmup_s", "index_build_s"):
        totals[f"setup.{k}"] = setup[k]
    totals["trace.wall_s"] = sum(led["metrics"]["wall_s"]
                                 for led in per_entry.values())
    return {"totals": totals,
            "entries": {n: {**led["metrics"],
                            "residual_ms": led["residual_ms"]}
                        for n, led in per_entry.items()},
            "reconcile_errors": bad}
