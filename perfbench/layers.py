"""Per-layer metrics of a traced run, from its spans and Spark's task
metrics.

A layer's self time is the time its spans were open minus the time their
child spans were open (`SELF_TIME` names the metric of each layer). Unless
a name says otherwise, a metric is a total over the measured ops divided
by their number, so the layers' self times plus `op.glue_ms` add up to
`trace.op_ms`. On `loaded_rw` the set-up load counts as one measured op.
Metrics of a layer a workload never calls are 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import spark_job_metrics, storage_bytes

SELF_TIME = {"sparql": "sparql.parse_ms",
             "subsumption": "subsumption.rewrite_ms",
             "translator": "translator.translate_ms",
             "catalyst": "catalyst.plan_ms", "exec": "exec.wall_ms",
             "pipeline": "pipeline.call_ms", "store": "store.self_ms",
             "update": "update.self_ms"}

PIPELINE_MODULES = ("dedup", "text", "temporal", "similarity", "sessions",
                    "pii")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the value at the highest percentile that
    still has at least 10 samples above it. With 10 or fewer samples no
    percentile qualifies, and the median is returned at percentile 50:
    the maximum of 10 loaded_rw reads spread 0.29 (interquartile range
    over median) across ten seeds, beyond any usable regression bound."""
    n = len(values)
    if n <= 10:
        return statistics.median(values), 50.0, n
    s = sorted(values)
    rank = n - 10
    return s[rank - 1], 100.0 * rank / n, n


def layer_metrics(spark, tracer, rec: dict, cores: int
                  ) -> tuple[dict, dict]:
    """(per-layer metrics, per-op-name counters) of a traced run."""
    done = rec["done"]
    measured = {e["op"]["op_id"] for e in done}
    spans = [s for s in tracer.spans if s.op_id in measured]
    n_ops = len(done)
    children = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            children[s.parent] += s.dur
    self_s = {s.sid: s.dur - children[s.sid] for s in spans}
    jobs = spark_job_metrics(spark)
    held = storage_bytes(spark)

    def span_jobs(s) -> dict:
        return jobs.get(f"{s.op_id}|{s.sid}", {})

    def total(layer: str, fn=lambda s: self_s[s.sid], name=None) -> float:
        return sum(fn(s) for s in spans if s.layer == layer
                   and (name is None or s.name == name))

    def per_op(x: float) -> float:
        return x / n_ops

    def jsum(sel, field: str) -> float:
        return sum(span_jobs(s).get(field, 0) for s in spans if sel(s))

    # self time per measured op of every layer, under the layer's own name
    m: dict[str, tuple[float, str]] = {}
    for layer, name in SELF_TIME.items():
        m[name] = (per_op(total(layer)) * 1e3, "ms")
    root_ms = sum(s.dur for s in spans if s.layer == "op") * 1e3
    glue_ms = total("op") * 1e3
    m["op.glue_ms"] = (per_op(glue_ms), "ms")
    m["trace.op_ms"] = (per_op(root_ms), "ms")
    m["trace.attributed_frac"] = (
        (root_ms - glue_ms) / root_ms if root_ms else 0.0, "fraction")
    reads = [e["latency"] for e in done
             if e["op"]["kind"] == "read" and e["ok"]]
    m["trace.latency_p50_s"] = (statistics.median(reads) if reads else 0.0,
                                "s")
    n_rw = sum(1 for e in done if e["op"]["kind"] in ("read", "write"))
    m["trace.ops_per_s"] = (n_rw / rec["wall"], "1/s")

    # sparql / subsumption
    m["sparql.calls"] = (per_op(sum(1 for s in spans
                                    if s.layer == "sparql")), "count")
    for k in ("in", "out"):
        m[f"subsumption.group_nodes_{k}"] = (per_op(total(
            "subsumption", lambda s: s.attrs.get(f"groups_{k}", 0))), "count")

    # translator
    children_cpu = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            children_cpu[s.parent] += s.cpu
    m["translator.cpu_ms"] = (per_op(total(
        "translator", lambda s: s.cpu - children_cpu[s.sid])) * 1e3, "ms")
    m["translator.jvm_calls"] = (per_op(total(
        "translator", lambda s: s.jvm_calls)), "count")
    m["translator.jvm_wait_ms"] = (per_op(total(
        "translator", lambda s: s.jvm_wait_s)) * 1e3, "ms")

    # catalyst (phase times of the final DataFrame, from Spark's tracker)
    planned = [s for s in spans if s.layer == "catalyst"]
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = (per_op(sum(s.attrs.get(k, 0.0)
                                            for s in planned)), "ms")
    m["catalyst.plan_nodes"] = (per_op(sum(s.attrs.get("plan_nodes", 0)
                                           for s in planned)), "count")

    # exec (the final action of each read)
    def is_exec(s):
        return s.layer == "exec"
    exec_s = total("exec", lambda s: s.dur)
    run_ms = jsum(is_exec, "executorRunTime")
    result_rows = sum(e.get("rows", 0) for e in done)
    input_rows = jsum(is_exec, "inputRecords")
    m["exec.jobs"] = (per_op(jsum(is_exec, "jobs")), "count")
    m["exec.tasks"] = (per_op(jsum(is_exec, "numTasks")), "count")
    m["exec.failed_tasks"] = (per_op(jsum(is_exec, "numFailedTasks")),
                              "count")
    m["exec.executor_cpu_ms"] = (per_op(jsum(is_exec, "executorCpuTime"))
                                 / 1e6, "ms")
    m["exec.executor_run_ms"] = (per_op(run_ms), "ms")
    m["exec.gc_ms"] = (per_op(jsum(is_exec, "jvmGcTime")), "ms")
    m["exec.slot_idle_frac"] = (
        1.0 - run_ms / (exec_s * 1e3 * cores) if exec_s else 0.0, "fraction")
    m["exec.input_rows"] = (per_op(input_rows), "count")
    m["exec.shuffle_read_bytes"] = (per_op(jsum(is_exec, "shuffleReadBytes")),
                                    "bytes")
    m["exec.shuffle_write_bytes"] = (
        per_op(jsum(is_exec, "shuffleWriteBytes")), "bytes")
    m["exec.spill_bytes"] = (per_op(jsum(is_exec, "memoryBytesSpilled")
                                    + jsum(is_exec, "diskBytesSpilled")),
                             "bytes")
    peaks = [span_jobs(s).get("peakExecutionMemory", 0)
             for s in spans if is_exec(s)]
    m["exec.peak_exec_mem_mb"] = (max(peaks, default=0) / 2**20, "MB")
    m["exec.result_rows"] = (per_op(result_rows), "count")
    m["exec.input_rows_per_result_row"] = (
        input_rows / result_rows if result_rows else 0.0, "ratio")

    # pipeline: self time of the registry call, and per module the traced
    # op time and every job the op ran (eager build jobs and the action)
    op_module = {s.op_id: s.attrs.get("module", "").removesuffix(".py")
                 for s in spans if s.layer == "pipeline"}
    for mod in PIPELINE_MODULES:
        ops = {o for o, v in op_module.items() if v == mod}

        def in_mod(s, ops=ops):
            return s.op_id in ops
        m[f"pipeline.{mod}_ms"] = (per_op(sum(
            s.dur for s in spans if s.layer == "op" and in_mod(s))) * 1e3,
            "ms")
        m[f"pipeline.{mod}.executor_cpu_ms"] = (
            per_op(jsum(in_mod, "executorCpuTime")) / 1e6, "ms")
        m[f"pipeline.{mod}.shuffle_write_bytes"] = (
            per_op(jsum(in_mod, "shuffleWriteBytes")), "bytes")

    # store (loaded quads table)
    loads = [s for s in spans if s.layer == "store"]
    load_entries = [e for e in done if e["op"]["kind"] == "load" and e["ok"]]
    quads = sum(e["size"] for e in load_entries)
    load_s = sum(s.dur for s in loads)
    m["store.load_ms"] = (load_s * 1e3 / len(loads) if loads else 0.0, "ms")
    m["store.quads_loaded"] = (float(quads), "count")
    m["store.load_quads_per_s"] = (quads / load_s if load_s else 0.0, "1/s")
    m["store.held_mb"] = (held / 2**20 if loads else 0.0, "MB")
    loaded_reads = {e["op"]["op_id"] for e in done
                    if loads and e["op"]["kind"] == "read"}
    rows = sum(e.get("rows", 0) for e in done
               if e["op"]["op_id"] in loaded_reads)
    read_input = jsum(lambda s: s.op_id in loaded_reads, "inputRecords")
    m["store.read_input_rows"] = (float(read_input), "count")
    m["store.read_result_rows"] = (float(rows), "count")
    m["store.input_rows_per_result_row"] = (
        read_input / rows if rows else 0.0, "ratio")

    # update
    writes = [e for e in done if e["op"]["kind"] == "write"]
    n_w = len(writes)
    m["update.parse_ms"] = (total("sparql", lambda s: s.dur, "parse_update")
                            * 1e3 / n_w if n_w else 0.0, "ms")
    m["update.apply_ms"] = (total("update") * 1e3 / n_w if n_w else 0.0,
                            "ms")
    changed = sum(e["op"]["changed"] for e in writes)
    written = sum(e.get("rows_written", 0) for e in writes)
    m["update.rows_written"] = (float(written), "count")
    m["update.quads_changed"] = (float(changed), "count")
    m["update.rows_written_per_quad_changed"] = (
        written / changed if changed else 0.0, "ratio")
    ok_w = [e["latency"] for e in writes if e["ok"]]
    m["update.write_p50_s"] = (statistics.median(ok_w) if ok_w else 0.0, "s")
    m["update.write_tail_s"] = (tail(ok_w)[0] if ok_w else 0.0, "s")
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    return metrics, by_name(spans, done, span_jobs)


def by_name(spans, done, span_jobs) -> dict:
    """Median traced latency and mean Spark work counters per op name:
    the counters do not drift with the machine's wall-time floor."""
    names = {e["op"]["op_id"]: e["op"]["name"] for e in done}
    lat: dict[str, list] = defaultdict(list)
    for e in done:
        if e["ok"]:
            lat[e["op"]["name"]].append(e["latency"])
    work: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        name = names.get(s.op_id)
        for k, v in span_jobs(s).items():
            if name is not None and k != "peakExecutionMemory":
                work[name][k] += v
    out = {}
    for name, v in sorted(lat.items()):
        n = len(v)
        w = work[name]
        out[name] = {
            "n": n, "median_s": statistics.median(v),
            "jobs": w["jobs"] / n, "tasks": w["numTasks"] / n,
            "executor_cpu_ms": w["executorCpuTime"] / 1e6 / n,
            "input_rows": w["inputRecords"] / n,
            "shuffle_bytes": (w["shuffleReadBytes"]
                              + w["shuffleWriteBytes"]) / n}
    return out
