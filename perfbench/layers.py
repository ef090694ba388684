"""Per-layer metrics of one traced run.

Turns the harness's raw event log (jobs, stages with summed task
metrics, write-command planning phases, stream progress) into the
per-layer metrics listed in BENCHMARK.json, and into the span and count
file of the run. Every total is per traced pass: summed over the traced
passes' queries and divided by their number. Layer names follow the
program's modules; README.md in this directory maps each layer to the
end-to-end metric and workload it should move.
"""
import stats

MB = 1e6


def _owner_of_stages(jobs, stages):
    """Job id -> the submitted stage records it ran. A stage id listed by
    several jobs goes to the one whose interval holds its submission."""
    by_id = {}
    for s in stages:
        if "submit_ms" in s and "end_ms" in s:
            by_id.setdefault(s["id"], []).append(s)
    out = {j["id"]: [] for j in jobs}
    for sid, recs in by_id.items():
        owners = [j for j in jobs if sid in j["stages"]]
        for s in recs:
            inside = [j for j in owners if j["start_ms"] <= s["submit_ms"] <= j["end_ms"]]
            pick = (inside or owners or [None])[0]
            if pick is not None:
                out[pick["id"]].append(s)
    return out


def layer_metrics(run, result_rows):
    """(metrics, trace document) of a traced run. `result_rows` maps a
    query to the row count of its result (from the warm pass)."""
    tr = run["trace"]
    cpus = run["cpus"]
    traced = [p for p in run["passes"] if p["traced"]]
    plain = [p for p in run["passes"] if not p["traced"]]
    n = len(traced)
    # a query that raised has no layers worth charging; its jobs end up
    # in trace.unattributed_jobs
    queries = [q for p in traced for q in p["queries"] if q["error"] is None]
    jobs = tr["jobs"]
    owner = stats.attribute(jobs, queries, tr["stream_runs"])
    stage_of = _owner_of_stages(jobs, tr["stages"])
    run_owner = stats.stream_owners(tr["stream_runs"], queries)

    per_q = {(q["pass"], q["name"]): {"jobs": [], "batches": []} for q in queries}
    table_jobs = unattributed = 0
    for j in jobs:
        key = owner[j["id"]]
        if j["group"].startswith("pb|tables|"):
            table_jobs += 1
        elif key in per_q:
            per_q[key]["jobs"].append(j)
        else:
            unattributed += 1
    for b in tr["batches"]:
        key = run_owner.get(b["run_id"])
        if key in per_q:
            per_q[key]["batches"].append(b)

    tot = dict.fromkeys([
        "construct_ms", "exec_ms", "construct_jobs", "jobs", "stages",
        "single_task_stages", "tasks", "task_wait_ms", "run_ms", "cpu_ns",
        "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
        "shuffle_records", "fetch_wait_ms", "spill_bytes", "input_bytes",
        "input_records", "output_bytes", "output_records", "result_rows",
        "batches", "nodata_batches", "trigger_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms", "state_commit_ms",
        "state_rows_updated", "clipped_ms", "wall_ms"], 0.0)
    self_ms = dict.fromkeys(stats.LAYERS, 0.0)
    peak_mem = state_mem = 0.0
    spans, counts = [], []
    for q in queries:
        rec = per_q[(q["pass"], q["name"])]
        qjobs = rec["jobs"]
        qstages = [s for j in qjobs for s in stage_of[j["id"]]]
        tot["construct_ms"] += q["construct_end_ms"] - q["start_ms"]
        tot["exec_ms"] += q["end_ms"] - q["construct_end_ms"]
        tot["wall_ms"] += q["end_ms"] - q["start_ms"]
        tot["construct_jobs"] += sum(j["start_ms"] < q["construct_end_ms"] for j in qjobs)
        tot["jobs"] += len(qjobs)
        tot["stages"] += len(qstages)
        tot["single_task_stages"] += sum(s.get("num_tasks", 0) == 1 for s in qstages)
        for k in ("tasks", "task_wait_ms", "run_ms", "cpu_ns", "gc_ms",
                  "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
                  "fetch_wait_ms", "spill_bytes", "input_bytes", "input_records",
                  "output_bytes", "output_records"):
            tot[k] += sum(s.get(k, 0) for s in qstages)
        peak_mem = max([peak_mem] + [s.get("peak_mem_bytes", 0) for s in qstages])
        tot["result_rows"] += result_rows.get(q["name"], 0)
        for b in rec["batches"]:
            tot["batches"] += 1
            tot["nodata_batches"] += b["input_rows"] == 0
            for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms",
                      "commit_offsets_ms", "state_commit_ms", "state_rows_updated"):
                tot[k] += b[k]
            state_mem = max(state_mem, b["state_memory_bytes"])

        root, children = stats.span_tree(
            q, qjobs, {j["id"]: stage_of[j["id"]] for j in qjobs}, rec["batches"])
        own, clipped = stats.self_times(root, children)
        tot["clipped_ms"] += clipped
        for layer, v in own.items():
            self_ms[layer] += v
        qid = f"{q['pass']}|{q['name']}"
        todo = [(root, None)]
        while todo:
            span, parent = todo.pop()
            sid = f"{span[0]}:{span[3]}"
            spans.append({"query": qid, "layer": span[0], "id": sid,
                          "parent": parent, "start_ms": span[1], "end_ms": span[2]})
            todo += [(c, sid) for c in children.get(span, ())]
        counts.append({"query": qid, "wall_ms": q["end_ms"] - q["start_ms"],
                       "self_ms": own, "jobs": len(qjobs), "stages": len(qstages),
                       "tasks": sum(s.get("tasks", 0) for s in qstages),
                       "batches": len(rec["batches"]),
                       "persisted_rdds": q.get("persisted_rdds", 0),
                       "cached_bytes": q.get("cached_bytes", 0)})

    phase_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    windows = [(q["construct_end_ms"], q["end_ms"]) for q in queries]
    for ph in tr["phases"]:
        for name in phase_s:
            p = ph.get(name)
            if p and any(stats.in_window(p, lo, hi) for lo, hi in windows):
                phase_s[name] += (p["end_ms"] - p["start_ms"]) / 1e3

    def wall(ps):
        return stats.median([(p["end_ms"] - p["start_ms"]) / 1e3 for p in ps])

    pass_s = wall(traced)
    per = 1.0 / n
    m = {
        "construct.s": tot["construct_ms"] / 1e3 * per,
        "construct.jobs": tot["construct_jobs"] * per,
        "tables.read_s": sum(t["end_ms"] - t["start_ms"] for t in run["tables"]) / 1e3,
        "tables.jobs": table_jobs,
        "plan.analysis_s": phase_s["analysis"] * per,
        "plan.optimization_s": phase_s["optimization"] * per,
        "plan.planning_s": phase_s["planning"] * per,
        "exec.s": tot["exec_ms"] / 1e3 * per,
        "exec.jobs": tot["jobs"] * per,
        "exec.stages": tot["stages"] * per,
        "exec.tasks": tot["tasks"] * per,
        "exec.single_task_stage_frac": tot["single_task_stages"] / max(1, tot["stages"]),
        "sched.task_wait_s": tot["task_wait_ms"] / 1e3 * per,
        "exec.core_util": tot["run_ms"] / max(1.0, tot["wall_ms"] * cpus),
        "executor.run_s": tot["run_ms"] / 1e3 * per,
        "executor.cpu_s": tot["cpu_ns"] / 1e9 * per,
        "executor.gc_s": tot["gc_ms"] / 1e3 * per,
        "shuffle.write_mb": tot["shuffle_write_bytes"] / MB * per,
        "shuffle.read_mb": tot["shuffle_read_bytes"] / MB * per,
        "shuffle.records": tot["shuffle_records"] * per,
        "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3 * per,
        "spill.mb": tot["spill_bytes"] / MB * per,
        "exec.peak_mem_mb": peak_mem / MB,
        "scan.mb": tot["input_bytes"] / MB * per,
        "scan.rows": tot["input_records"] * per,
        "scan.rows_per_result_row": tot["input_records"] / max(1, tot["result_rows"]),
        "stream.batches": tot["batches"] * per,
        "stream.nodata_batch_frac": tot["nodata_batches"] / max(1, tot["batches"]),
        "stream.trigger_ms": tot["trigger_ms"] * per,
        "stream.add_batch_ms": tot["add_batch_ms"] * per,
        "stream.wal_commit_ms": tot["wal_commit_ms"] * per,
        "stream.commit_offsets_ms": tot["commit_offsets_ms"] * per,
        "state.commit_ms": tot["state_commit_ms"] * per,
        "state.rows_updated": tot["state_rows_updated"] * per,
        "state.memory_mb": state_mem / MB,
        "write.mb": tot["output_bytes"] / MB * per,
        "write.records": tot["output_records"] * per,
        "memo.persisted_rdds": max([0] + [q.get("persisted_rdds", 0) for q in queries]),
        "memo.cached_mb": max([0] + [q.get("cached_bytes", 0) for q in queries]) / MB,
        "cleanup.s": run["cleanup_s"],
        "memo.leaked_rdds": run["leaked_rdds"],
        "trace.pass_s": pass_s,
        "trace.overhead_s": pass_s - wall(plain),
        "trace.clipped_frac": tot["clipped_ms"] / max(1.0, tot["wall_ms"]),
        "trace.unattributed_jobs": unattributed,
        "share.construct_sched": (self_ms["construct"] + self_ms["job"]) / max(1.0, tot["wall_ms"]),
    }
    for layer, v in self_ms.items():
        m["self." + layer.replace("stream.batch", "stream_batch") + "_s"] = v / 1e3 * per
    return m, {"spans": spans, "counts": counts}


UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_mb": "MB", ".mb": "MB",
         "_frac": "ratio", "_util": "ratio", "_row": "ratio",
         "construct_sched": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"
