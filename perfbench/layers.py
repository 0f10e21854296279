"""Per-layer figures of a traced run, and tools to read traces.

    python3 perfbench/layers.py summary <trace.json>
    python3 perfbench/layers.py diff <before.json> <after.json>

run.py writes one trace per traced run under perfbench/.work/traces/.
A trace holds the span tree of every traced pass and the per-layer
figures computed from it.

Span tree: pass > job > {session, operators.build, sink}. Spark jobs
hang under whichever of those windows was open when they started (by
time, not by job group: jobs submitted from `graft.Overlap` pool
threads carry no group), Spark stages under their job. Planning phases
(QueryPlanningTracker) and streaming micro-batches are spans too.

Self time splits each window by priority: time inside a Spark job is
`exec`, else inside a planning phase `planning`, else inside a
micro-batch `streaming`, else the window's own layer. Per job the
layers therefore add up to the job's traced wall time; `trace.coverage`
compares their sum with the untraced pass's wall time.
"""
import json
import sys

from stats import clip, concurrency, median, partition, tail, union_length

LAYERS = ["session", "operators.build", "planning", "streaming", "exec", "sink"]
PHASES = ["analysis", "optimization", "planning"]
TRACE_ONLY = {"functions.plan_exprs", "streaming.input_rows", "trace.unattributed_s"}
# graft native expressions the harness can time standalone (its FunctionProbes)
FUNCTIONS = ["word_shingles", "md5_longs", "dot_product"]
STREAM_PHASES = ["addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
                 "commitOffsets"]


def _iv(items, a="start_ms", b="end_ms"):
    return [(x[a], x[b]) for x in items if x.get(b) is not None and x[b] >= x[a]]


def _in(t, lo, hi):
    return lo <= t < hi


def job_tree(job, spark_jobs, stages, phases, batches):
    """Span tree and layer self times of one benchmark job."""
    windows = {"session": (job["start_ms"], job["build_start_ms"]),
               "operators.build": (job["build_start_ms"], job["build_end_ms"]),
               "sink": (job["build_end_ms"], job["end_ms"])}
    exec_iv = _iv(spark_jobs)
    plan_iv = [iv for _, iv in phases]
    batch_iv = [(b["start_ms"], b["start_ms"] + b["duration_ms"]["triggerExecution"])
                for b in batches]
    self_ms = dict.fromkeys(LAYERS, 0.0)
    children = []
    for name, (lo, hi) in windows.items():
        prio = [("exec", exec_iv), ("planning", plan_iv)]
        if name == "operators.build":
            prio.append(("streaming", batch_iv))
        part = partition((lo, hi), prio)
        for k, v in part.items():
            self_ms[name if k == "self" else k] += v
        kids = []
        for sj in spark_jobs:
            if _in(sj["start_ms"], lo, hi):
                kids.append({"name": f"spark.job.{sj['id']}", "start_ms": sj["start_ms"],
                             "end_ms": sj["end_ms"], "children": [
                                 {"name": f"spark.stage.{st['id']}", "start_ms": st["submit_ms"],
                                  "end_ms": st["end_ms"], "tasks": st["tasks"]}
                                 for st in stages if st["id"] in sj["stages"]]})
        kids += [{"name": f"planning.{ph}", "start_ms": a, "end_ms": b}
                 for ph, (a, b) in phases if _in(a, lo, hi)]
        kids += [{"name": "streaming.batch", "start_ms": a, "end_ms": b}
                 for a, b in batch_iv if _in(a, lo, hi)]
        children.append({"name": name, "start_ms": lo, "end_ms": hi,
                         "children": sorted(kids, key=lambda k: k["start_ms"])})
    span = {"name": f"job.{job['row']}", "start_ms": job["start_ms"], "end_ms": job["end_ms"],
            "error": job["error"], "children": children}
    return span, {k: v / 1e3 for k, v in self_ms.items()}


def pass_figures(p, trace, meta, cpus):
    lo, hi = p["start_ms"], p["end_ms"]
    sj_all = [j for j in trace["spark_jobs"] if _in(j["start_ms"], lo, hi) and "end_ms" in j]
    st_all = [s for s in trace["stages"] if _in(s["submit_ms"], lo, hi)]
    self_s = dict.fromkeys(LAYERS, 0.0)
    spans, phase_iv, batches_all, build_jobs = [], {k: [] for k in PHASES}, [], 0
    for job in p["jobs"]:
        jlo, jhi = job["start_ms"], job["end_ms"]
        sj = [j for j in sj_all if _in(j["start_ms"], jlo, jhi)]
        build_jobs += sum(_in(j["start_ms"], job["build_start_ms"], job["build_end_ms"])
                          for j in sj)
        phases = set()
        for q in trace["queries"]:
            if q["row"] != job["row"]:
                continue
            for ph, iv in q["phases"].items():
                if _in(iv["start_ms"], jlo, jhi):
                    phases.add((ph, (iv["start_ms"], iv["end_ms"])))
        for ph, iv in job["final_phases"].items():
            if _in(iv["start_ms"], jlo, jhi):
                phases.add((ph, (iv["start_ms"], iv["end_ms"])))
        phases = sorted(phases, key=lambda x: x[1])
        for ph, iv in phases:
            phase_iv.setdefault(ph, []).append(iv)
        batches = [b for b in trace["progress"]
                   if b["row"] == job["row"] and _in(b["start_ms"], jlo, jhi)]
        batches_all += batches
        span, s = job_tree(job, sj, st_all, phases, batches)
        spans.append(span)
        for k, v in s.items():
            self_s[k] += v
    wall = (hi - lo) / 1e3
    tsum = {k: sum(s.get(k, 0) for s in st_all) for k in (
        "tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms", "sw_bytes", "sw_records", "sw_time_ns",
        "sr_bytes", "fetch_wait_ms", "spill_disk", "spill_mem", "in_bytes", "in_records",
        "failed_tasks")}
    conc_ms, max_conc = concurrency(_iv(sj_all))
    jobs_ms = [(j["start_ms"], j["end_ms"]) for j in p["jobs"]]
    builds = [(j["build_start_ms"], j["build_end_ms"]) for j in p["jobs"]]
    sinks = [(j["build_end_ms"], j["end_ms"]) for j in p["jobs"]]
    trig = [b["duration_ms"]["triggerExecution"] for b in batches_all]
    f = {
        "operators.session_s": self_s["session"],
        "operators.build_s": sum(b - a for a, b in builds) / 1e3,
        "operators.build_self_s": self_s["operators.build"],
        "operators.build_jobs": build_jobs,
        "exec.self_s": self_s["exec"],
        "exec.jobs": len(sj_all),
        "exec.stages": len(st_all),
        "exec.tasks": tsum["tasks"],
        "exec.task_run_s": tsum["run_ms"] / 1e3,
        "exec.task_cpu_s": tsum["cpu_ns"] / 1e9,
        "exec.sched_delay_s": tsum["wait_ms"] / 1e3,
        "exec.gc_s": tsum["gc_ms"] / 1e3,
        "exec.failed_tasks": tsum["failed_tasks"],
        "exec.core_util": tsum["run_ms"] / 1e3 / (wall * cpus),
        "shuffle.write_bytes": tsum["sw_bytes"],
        "shuffle.write_records": tsum["sw_records"],
        "shuffle.read_bytes": tsum["sr_bytes"],
        "shuffle.fetch_wait_s": tsum["fetch_wait_ms"] / 1e3,
        "shuffle.write_s": tsum["sw_time_ns"] / 1e9,
        "shuffle.spill_disk_bytes": tsum["spill_disk"],
        "shuffle.spill_mem_bytes": tsum["spill_mem"],
        "shuffle.combine_ratio": tsum["sw_records"] / max(1, meta.get("tokens", 0)),
        "sources.bytes_read": tsum["in_bytes"],
        "sources.rows_read": tsum["in_records"],
        "planning.self_s": self_s["planning"],
        "sink.write_s": sum(b - a for a, b in sinks) / 1e3,
        "sink.self_s": self_s["sink"],
        "overlap.concurrent_job_s": conc_ms / 1e3,
        "overlap.max_concurrent_jobs": max_conc,
        "streaming.self_s": self_s["streaming"],
        "streaming.batches": len(batches_all),
        "streaming.data_batch_frac":
            sum(b["input_rows"] > 0 for b in batches_all) / max(1, len(batches_all)),
        "streaming.batch_p50_ms": median(trig),
        "streaming.batch_tail_ms": tail(trig)[1],
        "streaming.input_rows": sum(b["input_rows"] for b in batches_all),
        "streaming.state_rows": max((b["state_rows"] for b in batches_all), default=0),
        "streaming.state_mem_bytes": max((b["state_mem_bytes"] for b in batches_all), default=0),
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches_all),
        "trace.wall_s": wall,
    }
    for ph in PHASES:
        f[f"planning.{ph}_s"] = union_length(phase_iv.get(ph, [])) / 1e3
    for ph in STREAM_PHASES:
        f[f"streaming.{ph}_ms"] = median([b["duration_ms"][ph] for b in batches_all])
    # time between jobs belongs to no job
    f["trace.unattributed_s"] = wall - union_length(clip(jobs_ms, lo, hi)) / 1e3
    span = {"name": "pass", "start_ms": lo, "end_ms": hi, "children": spans}
    return f, span, self_s


UNITS = [("ns_per_row", "ns"), ("bytes", "bytes"), ("_ms", "ms"), ("_s", "s"),
         ("_frac", "ratio"), ("_ratio", "ratio"), ("_util", "ratio"),
         ("overhead", "ratio"), ("coverage", "ratio")]


def unit_of(name):
    for part, unit in UNITS:
        if name.endswith(part) or (part == "bytes" and "bytes" in name):
            return unit
    return "count"


def per_layer(res, meta, cpus, sink_bytes, sink_files):
    """({metric: (value, unit)}, trace document) of one traced run."""
    untraced_wall = median([p["wall_s"] for p in res["passes"]])
    figs, spans, selfs = [], [], []
    for p in res["traced_passes"]:
        f, span, s = pass_figures(p, res["trace"], meta, cpus)
        figs.append(f)
        spans.append(span)
        selfs.append(s)
    f = {k: median([x[k] for x in figs]) for k in figs[0]}
    f["trace.overhead"] = median([p["wall_s"] for p in res["traced_passes"]]) / untraced_wall
    f.update({f"setup.{k}": v for k, v in res["setup"].items() if k.endswith("_s")})
    src = res["sources"].values()
    f["sources.load_s"] = sum(t["load_s"] for t in src)
    f["sources.scan_s"] = sum(t["scan_s"] for t in src)
    f["sink.bytes"] = sink_bytes
    f["sink.files"] = sink_files
    # an expression the workload's plans do not contain reads 0
    for fn in FUNCTIONS:
        f[f"functions.{fn}.ns_per_row"] = res["functions"].get(fn, 0.0)
    f["functions.plan_exprs"] = len(res["trace"]["graft_exprs"])
    rebuilt = [j for j in res["rebuild_pass"]["jobs"] if j["warm_build_s"] is not None]
    cold = sum((j["build_end_ms"] - j["build_start_ms"]) / 1e3 for j in rebuilt)
    warm = sum(j["warm_build_s"] for j in rebuilt)
    f["cache.cold_build_s"] = cold
    f["cache.warm_build_s"] = warm
    f["cache.saving_frac"] = 1 - warm / cold if cold > 0 else 0.0
    layer_self_s = {k: median([s[k] for s in selfs]) for k in LAYERS}
    # the traced run's layer self times against the untraced pass they explain
    f["trace.coverage"] = sum(layer_self_s.values()) / untraced_wall
    doc = {"metrics": dict(sorted(f.items())), "untraced_wall_s": untraced_wall,
           "layer_self_s": layer_self_s,
           "graft_exprs": res["trace"]["graft_exprs"],
           "spans": spans}
    # the trace keeps every figure; the result reports the declared ones
    metrics = {k: (v, unit_of(k)) for k, v in doc["metrics"].items() if k not in TRACE_ONLY}
    return metrics, doc


# ---- command-line tools over written traces ----

def _load(path):
    with open(path) as f:
        return json.load(f)


def summary(doc):
    wall = doc["metrics"]["trace.wall_s"]
    lines = [f"{doc.get('workload', '?')} seed {doc.get('seed', '?')}: traced pass "
             f"{wall:.3f} s, untraced {doc.get('untraced_wall_s', float('nan')):.3f} s, "
             f"overhead {doc['metrics']['trace.overhead']:.3f}, "
             f"coverage {doc['metrics']['trace.coverage']:.3f}",
             f"{'layer':24s} {'self s':>10s} {'share':>7s}"]
    for k, v in sorted(doc["layer_self_s"].items(), key=lambda kv: -kv[1]):
        lines.append(f"{k:24s} {v:10.3f} {v / wall:7.1%}")
    lines.append("")
    lines.append(f"{'metric':40s} {'value':>16s}")
    for k, v in sorted(doc["metrics"].items()):
        lines.append(f"{k:40s} {v:16.4f}")
    return "\n".join(lines)


def diff(a, b):
    lines = [f"{'layer':24s} {'before s':>10s} {'after s':>10s} {'delta s':>10s}"]
    keys = sorted(set(a["layer_self_s"]) | set(b["layer_self_s"]))
    for k in sorted(keys, key=lambda k: -abs(b["layer_self_s"].get(k, 0)
                                             - a["layer_self_s"].get(k, 0))):
        x, y = a["layer_self_s"].get(k, 0.0), b["layer_self_s"].get(k, 0.0)
        lines.append(f"{k:24s} {x:10.3f} {y:10.3f} {y - x:+10.3f}")
    lines.append("")
    lines.append(f"{'metric':40s} {'before':>14s} {'after':>14s} {'change':>8s}")
    for k in sorted(set(a["metrics"]) | set(b["metrics"])):
        x, y = a["metrics"].get(k), b["metrics"].get(k)
        if x is None or y is None:
            lines.append(f"{k:40s} {x!s:>14s} {y!s:>14s}")
            continue
        ch = f"{(y - x) / x:+7.1%}" if x else ""
        lines.append(f"{k:40s} {x:14.4f} {y:14.4f} {ch:>8s}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "summary":
        print(summary(_load(sys.argv[2])))
    elif len(sys.argv) == 4 and sys.argv[1] == "diff":
        print(diff(_load(sys.argv[2]), _load(sys.argv[3])))
    else:
        raise SystemExit(__doc__)
