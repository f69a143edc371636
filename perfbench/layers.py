"""Metrics of one run: the end-to-end table, and in a traced run the
per-layer table and the self time of each layer."""
import json
import math
import os

import metrics as M

# The closed-loop mix: the pushed-down relational executors plus two
# LLM-curation kernels (vector kNN, MinHash dedup), so the vector and
# hash kernels stay measured without a workload of their own.
MIXES = {
    "olap_tpch": ["q1_agg", "q111_tpch_q6", "q110_tpch_q3", "q90_tpch_q5",
                  "q92_tpch_q18", "q40_window_rank", "q35_like_regexp",
                  "q185_mysql_json", "q51_knn_bruteforce", "q61_dedup_minhash"],
}
MIX_QUERIES = MIXES["olap_tpch"]
VEC_QUERIES = {"q51_knn_bruteforce", "q218_ivfpq_rerank", "q131_kmeans_embed"}
STR_QUERIES = {"q35_like_regexp", "q185_mysql_json"}

# The bounded metrics are the ones that hold still between runs on a
# shared virtual machine: wall-clock figures swing with the host's steal
# time, and process CPU with the JIT compiler threads' work, so those are
# reported (below and in PER_LAYER) but not bounded.
END_TO_END = {"setup_s": "s", "thread_cpu_s_per_op": "s", "mem_peak_mb": "MB"}
UNBOUNDED = {"ops_per_s": "1/s", "latency_p50_s": "s", "setup_wall_s": "s",
             "cpu_s_per_op": "s", "jvm.vmhwm_mb": "MB"}

# layer a span's self time is charged to, by span name
SPAN_LAYER = {
    "op": "bench", "tick": "bench", "read": "bench",
    "build": "operators.build", "plan": "operators.plan", "exec": "operators.exec",
    "ingest.changelog": "streaming.Ingest", "ingest.mv": "streaming.Ingest",
    "read.snapshot": "streaming.Ingest.read", "read.mv": "streaming.Ingest.read",
    "job": "exec.job", "stage": "exec.stage"}
LAYERS = sorted(set(SPAN_LAYER.values()))

PER_LAYER = dict(
    list(UNBOUNDED.items()) +
    [("host.steal_share", "ratio"),
     ("session.start_s", "s"), ("engine.attach_s", "s"), ("warmup_s", "s"),
     ("gen_s", "s"), ("sources.load_s", "s"),
     ("scan.time_s", "s"), ("scan.bytes_read", "bytes"), ("scan.files_read", "count"),
     ("scan.rows_per_result_row", "ratio"),
     ("op.build_s", "s"), ("op.plan_s", "s"), ("op.exec_s", "s")] +
    [(f"op.{q}.p50_s", "s") for q in MIX_QUERIES] +
    [("functions.vec_cpu_s", "s"),
     ("functions.str_cpu_s", "s"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.task_overhead_s", "s"), ("exec.busy_ratio", "ratio"),
     ("exec.task_cpu_s", "s"),
     ("shuffle.write_bytes", "bytes"), ("shuffle.records", "count"),
     ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"),
     ("spill.memory_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
     ("exec.gc_s", "s"), ("exec.peak_exec_mem_mb", "MB"),
     ("ingest.tick_s", "s"), ("ingest.batches_per_tick", "count"),
     ("ingest.add_batch_ms", "ms"), ("ingest.wal_commit_ms", "ms"),
     ("ingest.query_planning_ms", "ms"), ("ingest.latest_offset_ms", "ms"),
     ("ingest.compact_ticks", "count"), ("ingest.compact_tick_s", "s"),
     ("ingest.bytes_written", "bytes"), ("pile.segments_at_read", "count"),
     ("read.snapshot_s", "s"), ("read.mv_s", "s"),
     ("ingest_rows_per_s", "1/s"), ("freshness_p50_s", "s"),
     ("write_amp", "ratio"), ("space_amp", "ratio"),
     ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.heap_peak_mb", "MB"),
     ("gen.lateness_p50_s", "s"), ("gen.lateness_max_s", "s"),
     ("error_rate", "ratio"), ("trace.overhead_ratio", "ratio"),
     ("trace.listener_s", "s"), ("trace.unattributed_job_share", "ratio")] +
    [(f"self.{layer}_s", "s") for layer in LAYERS])


def _secs(op):
    return (op["end_ms"] - op["start_ms"]) / 1000


def end_to_end(rec):
    """End-to-end values plus the notes printed beside them."""
    ops, region = rec["ops"], rec["region"]
    completed = [o for o in ops if o.get("rows", 0) != -1 and
                 not any(r["error"] for r in o.get("reads", []))]
    correct = [o for o in ops if o["ok"]]
    lat = [_secs(o) for o in completed]
    span_s = (max(o["end_ms"] for o in ops) - region["start_ms"]) / 1000
    values = {
        "setup_s": rec["setup_cpu_ms"] / 1000,
        "setup_wall_s": rec["setup_wall_ms"] / 1000,
        "ops_per_s": len(correct) / span_s,
        "latency_p50_s": M.median(lat),
        "thread_cpu_s_per_op": region["thread_cpu_ms"] / 1000 / max(1, len(completed)),
        "cpu_s_per_op": region["cpu_ms"] / 1000 / max(1, len(completed)),
        "mem_peak_mb": region["heap_after_gc_peak_bytes"] / 2**20,
        "jvm.vmhwm_mb": rec["vmhwm_kb"] / 1024,
    }
    notes = {"setup_s": "process CPU from JVM start to the first timed op",
             "setup_wall_s": "wall time from JVM start to the first timed op",
             "thread_cpu_s_per_op": f"host steal {100 * region['steal_share']:.1f}% "
                                    "of machine CPU",
             "cpu_s_per_op": f"process CPU: {region['jit_ms'] / 1000:.1f} s JIT compiling "
                             f"in {(region['end_ms'] - region['start_ms']) / 1000:.1f} s",
             "mem_peak_mb": "heap left after a collection, from the end of set-up",
             "ops_per_s": f"{len(correct)} correct ops in {span_s:.2f} s",
             "latency_p50_s": f"{len(lat)} ops"}
    return values, notes, len(ops), len(ops) - len(correct), lat


def htap_values(rec):
    """The htap-only figures: ingest rate, freshness and amplification."""
    ticks = [t for t in rec["ticks"] if not t["warmup"]]
    prefill = sum(1 for t in rec["ticks"] if t["warmup"])
    deliveries = [d for d in rec["deliveries"] if d["batch"] >= prefill]
    fresh = M.freshness(deliveries, ticks)
    last = max(ticks, key=lambda t: t["end_ms"]) if ticks else None
    rows = (last["committed"] - prefill) * rec["batch_rows"] if last else 0
    late = M.lateness(deliveries)
    reads = [r for o in rec["ops"] for r in o["reads"]]
    return {
        "ingest_rows_per_s": rows / ((last["end_ms"] - rec["region"]["start_ms"]) / 1000)
        if last else 0.0,
        "freshness_p50_s": M.median(fresh),
        "write_amp": sum(t["bytes_written"] for t in rec["ticks"]) / rec["batch_bytes"],
        "space_amp": rec["pile_bytes"] / max(1, rec["compacted_bytes"]),
        "gen.lateness_p50_s": M.median(late),
        "gen.lateness_max_s": max(late) if late else 0.0,
        "ingest.tick_s": M.median([(t["end_ms"] - t["start_ms"]) / 1000 for t in ticks]),
        "ingest.batches_per_tick": (sum(t["batches"] for t in ticks) / len(ticks)
                                    if ticks else 0.0),
        "ingest.compact_ticks": sum(1 for t in ticks if t["compacted"]),
        "ingest.compact_tick_s": M.median([(t["end_ms"] - t["start_ms"]) / 1000
                                           for t in ticks if t["compacted"]]),
        "ingest.bytes_written": (sum(t["bytes_written"] for t in ticks) / len(ticks)
                                 if ticks else 0.0),
        "pile.segments_at_read": M.median([r["segments"] for r in reads
                                           if r["kind"] == "snapshot"]),
        "read.snapshot_s": M.median([_secs(r) for r in reads if r["kind"] == "snapshot"]),
        "read.mv_s": M.median([_secs(r) for r in reads if r["kind"] == "mv"]),
    }, fresh


def span_tree(trace):
    """Benchmark spans plus Spark job and stage spans in one tree. A job
    hangs under the innermost benchmark span of its op that was open
    when it started; a stage under its job."""
    spans = [dict(s, id=f"b{s['id']}", parent=f"b{s['parent']}" if s["parent"] else None)
             for s in trace["spans"]]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for j in trace["jobs"]:
        open_ = [s for s in by_op.get(j["op"], [])
                 if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
        parent = max(open_, key=lambda s: s["start_ms"])["id"] if open_ else "unattributed"
        spans.append({"id": f"j{j['job']}", "parent": parent, "name": "job",
                      "op": j["op"], "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for st in trace["stages"]:
        spans.append({"id": f"s{st['stage']}.{st['attempt']}", "parent": f"j{st['job']}",
                      "name": "stage", "op": st["op"],
                      "start_ms": st["start_ms"], "end_ms": st["end_ms"]})
    return M.clip_to_parents(spans)


def self_time_table(spans, ops):
    """Per layer: self time summed over the given ops' span trees, in
    seconds per op, and the ops' mean wall time. The self times of a
    tree sum to its root's wall time by construction."""
    wanted = set(ops)
    roots = [s for s in spans if s["parent"] is None and s["op"] in wanted]
    selfs = M.self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        while s["parent"] is not None:
            s = by_id.get(s["parent"])
            if s is None:
                return None
        return s

    per_layer = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        r = root_of(s)
        if r is not None and r["op"] in wanted:
            per_layer[SPAN_LAYER[s["name"]]] += selfs[s["id"]] / 1000
    wall = sum((r["end_ms"] - r["start_ms"]) / 1000 for r in roots)
    n = max(1, len(roots))
    return {layer: v / n for layer, v in per_layer.items()}, wall / n


def unattributed_job_share(spans, ops):
    """Share of the given ops' Spark job time spent in jobs that started
    outside every benchmark span of their op, and so are in no op's
    tree: work the self-time table cannot account for."""
    jobs = [s for s in spans if s["name"] == "job" and s["op"] in set(ops)]
    total = sum(s["end_ms"] - s["start_ms"] for s in jobs)
    lost = sum(s["end_ms"] - s["start_ms"] for s in jobs if s["parent"] == "unattributed")
    return lost / total if total else 0.0


def per_layer(rec):
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in end_to_end(rec)[0].items() if k in PER_LAYER})
    trace = rec["trace"]
    ops = rec["ops"]
    ids = [o["op"] for o in ops]
    counters = trace["counters"]
    groups = list(ids)
    if rec["workload"] == "htap_ingest":
        groups += [t["tick"] for t in rec["ticks"] if not t["warmup"]]

    def total(key, which=None):
        return sum(counters.get(g, {}).get(key, 0.0) for g in (which or groups))

    n = max(1, len(groups))
    out.update({
        "session.start_s": rec["session_ms"] / 1000,
        "engine.attach_s": rec["attach_ms"] / 1000,
        "sources.load_s": rec["load_ms"] / 1000,
        "warmup_s": rec["warmup_ms"] / 1000,
        "gen_s": rec["gen_s"],
        "scan.time_s": total("scan.scan time") / 1000 / n,
        "scan.bytes_read": total("input_bytes") / n,
        "scan.files_read": total("scan.number of files read") / n,
        "exec.jobs": total("jobs") / n,
        "exec.stages": total("stages") / n,
        "exec.tasks": total("tasks") / n,
        "exec.task_overhead_s": total("overhead_ms") / 1000 / n,
        "exec.busy_ratio": total("run_ms") / ((rec["region"]["end_ms"] - rec["region"]["start_ms"])
                                              * rec["cores"]),
        "exec.task_cpu_s": total("cpu_ns") / 1e9 / n,
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "shuffle.records": total("shuffle_records") / n,
        "shuffle.write_s": total("shuffle_write_ns") / 1e9 / n,
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1000 / n,
        "spill.memory_bytes": total("spill_memory_bytes") / n,
        "spill.disk_bytes": total("spill_disk_bytes") / n,
        "exec.gc_s": total("gc_ms") / 1000 / n,
        "exec.peak_exec_mem_mb": max([counters.get(g, {}).get("peak_exec_mem_bytes", 0.0)
                                      for g in groups] + [0.0]) / 2**20,
        "host.steal_share": rec["region"]["steal_share"],
        "jvm.gc_s": rec["region"]["gc_ms"] / 1000,
        "jvm.jit_s": rec["region"]["jit_ms"] / 1000,
        "jvm.heap_peak_mb": rec["region"]["heap_peak_bytes"] / 2**20,
        "error_rate": sum(1 for o in ops if not o["ok"]) / max(1, len(ops)),
        "trace.listener_s": trace["listener_ms"] / 1000,
    })
    if rec["workload"] == "htap_ingest":
        out.update(htap_values(rec)[0])
        # the timed window runs once, so the overhead is the listeners'
        # own CPU time as a share of the window's process CPU time
        out["trace.overhead_ratio"] = trace["listener_ms"] / rec["region"]["thread_cpu_ms"]
        warm = {t["tick"] for t in rec["ticks"] if t["warmup"]}
        progress = [p for p in trace["progress"] if p["tick"] not in warm]
        for name, key in [("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                          ("query_planning_ms", "queryPlanning"),
                          ("latest_offset_ms", "latestOffset")]:
            out[f"ingest.{name}"] = M.median([p["duration_ms"].get(key, 0) for p in progress])
    else:
        result_rows = sum(max(0, o["rows"]) for o in ops)
        out["scan.rows_per_result_row"] = (total("scan.number of output rows") /
                                           max(1, result_rows))
        out["op.build_s"] = M.median([o["build_ms"] / 1000 for o in ops])
        out["op.plan_s"] = M.median([o["plan_ms"] / 1000 for o in ops])
        out["op.exec_s"] = M.median([o["exec_ms"] / 1000 for o in ops])
        for q in set(o["query"] for o in ops):
            out[f"op.{q}.p50_s"] = M.median([_secs(o) for o in ops if o["query"] == q])

        def of(qs):
            return [o["op"] for o in ops if o["query"] in qs]
        for name, qs in [("vec", VEC_QUERIES), ("str", STR_QUERIES)]:
            sel = of(qs)
            if sel:
                out[f"functions.{name}_cpu_s"] = total("cpu_ns", sel) / 1e9 / len(sel)
        # in thread CPU time, which steal time on a shared host does not move
        out["trace.overhead_ratio"] = (rec["region"]["thread_cpu_ms"] /
                                       rec["region_untraced"]["thread_cpu_ms"] - 1)
    spans = span_tree(trace)
    for layer, v in self_time_table(spans, groups)[0].items():
        out[f"self.{layer}_s"] = v
    out["trace.unattributed_job_share"] = unattributed_job_share(spans, groups)
    return out


def tail_line(name, values, what):
    """A table line for a tail: the value with its percentile and sample
    count, or n/a when no percentile of at least M.TAIL_MIN_PCT has
    M.TAIL_SAMPLES samples above it."""
    v, pct, n = M.tail(values)
    need = math.ceil(M.TAIL_SAMPLES * 100 / (100 - M.TAIL_MIN_PCT))
    if n < need:
        return f"  {name:<22} {'n/a':>14} {'s':<6} {n} {what}; a p{M.TAIL_MIN_PCT:.0f}+ tail needs {need}"
    return f"  {name:<22} {v:>14.6f} {'s':<6} p{pct:.1f} of {n} {what}"


def report(rec, traced, work, out_dir, seed):
    """Print the human-readable table; return the result object."""
    values, notes, attempted, failed, lat = end_to_end(rec)
    w = rec["workload"]
    print(f"workload {w}  seed {seed}  cores {rec['cores']}  ops {attempted}  failed {failed}")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"  FAILED {o['op']} {o.get('query', 'read')}: {o['error']}")
    rows = [(k, values[k], u) for k, u in list(END_TO_END.items()) + list(UNBOUNDED.items())]
    rows.append(("error_rate", failed / attempted, "ratio"))
    if w == "htap_ingest":
        hv, fresh = htap_values(rec)
        units = {"ingest_rows_per_s": "1/s", "freshness_p50_s": "s",
                 "write_amp": "ratio", "space_amp": "ratio"}
        rows += [(k, hv[k], u) for k, u in units.items()]
    for k, v, u in rows:
        print(f"  {k:<22} {v:>14.6f} {u:<6} {notes.get(k, '')}")
    print(tail_line("latency_tail_s", lat, "ops"))
    if w == "htap_ingest":
        print(tail_line("freshness_tail_s", fresh, "batches"))
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    if traced:
        pl = per_layer(rec)
        ops = [o["op"] for o in rec["ops"]]
        if w == "htap_ingest":
            ops += [t["tick"] for t in rec["ticks"] if not t["warmup"]]
        spans = span_tree(rec["trace"])
        table, wall = self_time_table(spans, ops)
        print(f"  per-layer self time per op (mean op wall {wall:.4f} s; outside every "
              f"layer span: bench {100 * table['bench'] / wall if wall else 0:.1f}% of it, "
              f"and {100 * pl['trace.unattributed_job_share']:.1f}% of Spark job time "
              f"unattributed):")
        for layer, v in table.items():
            print(f"    {layer:<24} {v:10.4f} s  {100 * v / wall if wall else 0:5.1f}%")
        for k, u in PER_LAYER.items():
            note = ""
            if k == "trace.overhead_ratio" and w == "htap_ingest":
                note = "listener CPU / timed-window thread CPU (no untraced pass)"
            print(f"  {k:<34} {pl[k]:>16.6f} {u:<6} {note}")
        os.makedirs(f"{out_dir}/traces", exist_ok=True)
        path = f"{out_dir}/traces/{w}-seed{seed}.json"
        with open(path, "w") as f:
            json.dump({"workload": w, "seed": seed, "spans": spans,
                       "self_time_per_op_s": table, "per_layer": pl,
                       "counters": rec["trace"]["counters"]}, f)
        print(f"  span file: {os.path.relpath(path)}")
        metrics = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
