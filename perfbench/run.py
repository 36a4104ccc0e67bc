#!/usr/bin/env python3
"""Layered benchmark of the rdf_fusion_spark engine.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 16 --trace 0

One process, one closed-loop client, Spark on `local[<cores>]`. The
benchmark generates its warehouse tables, starts a session, sets the
workload up (set-up time is `setup_s`), then runs a fixed number of
whole cycles of the seeded op list, set by `--seconds` (see `CYCLE_S`),
and checks every result against a reference outside the measured time.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the engine's layer entry points are wrapped in spans (perfbench/spans.py)
and the metrics are per-layer self times and counters. Earlier stdout
lines starting with `DIAG ` carry the details (tail percentile and sample
count, failures, per-template medians). Everything the run writes stays
in the checkout: `.perfbench_work/` (removed at exit) and the N-Triples
dump that `loaded_rw` reuses, in `.perfbench_cache/`, keyed on the
generated tables and the engine's source.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale per workload: sf0.01 for the virtual warehouse and sf0.001 for
# the loaded store, so that set-up plus a measured window fits the
# per-run time budget (see README.md).
SCALE = {"explore": 0.01, "analytic": 0.01, "pipeline": 0.01,
         "loaded_rw": 0.001}
WARMUP_SEED = -1
# Seconds of `--seconds` that one cycle of each workload stands for.
# `--seconds` fixes the number of measured cycles, ceil(seconds / CYCLE_S),
# instead of acting as a time limit: every run takes the same number of
# samples on any machine and tree, so the tail percentile cannot shift
# when ops get slower. At `--seconds 16` the read counts are 25, 27, 28
# and 10: never 11-21, where the tail rule's percentile would sit at or
# below the median. On a 4-core VM a cycle takes about 4 s (explore),
# 11 s (analytic), 5 s (pipeline) and 7 s (loaded_rw).
CYCLE_S = {"explore": 3.5, "analytic": 6.0, "pipeline": 4.0,
           "loaded_rw": 8.0}
LOAD_OP = {"op_id": "load", "cycle": -1, "kind": "load", "name": "load_dir"}


def start_session(work: str):
    from pyspark.sql import SparkSession
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def n_cycles(workload: str, seconds: float) -> int:
    return math.ceil(seconds / CYCLE_S[workload])


class Workload:
    """Set-up, op execution and output checks of one workload."""

    def __init__(self, name: str, sf: float, spark, tracer, data_dir: str):
        from rdf_fusion_spark import entry_queries as EQ
        self.EQ = EQ
        self.name = name
        self.sf = sf
        self.spark = spark
        self.tr = tracer
        self.data_dir = data_dir
        self.store = None
        self.expected_size = None
        self.oracle = None
        self.dump_s = 0.0

    # -- set-up ----------------------------------------------------------

    def setup(self, warmup_ops: list[dict]) -> None:
        import check
        EQ = self.EQ
        self.oracle = check.Oracle(self.data_dir)
        if self.name in ("explore", "analytic"):
            self.virtual = EQ.get_graph(self.spark, self.data_dir)
        if self.name == "analytic":
            self.prepared = {}
            for q in warmup_ops:
                if q["name"] in self.prepared:
                    continue
                spec = EQ.SPECS[q["name"]]
                res = self.virtual.prepare(EQ.PROLOGUE + spec.sparql)
                self.prepared[q["name"]] = res.df.select(
                    [EQ._u(res.df[c], t).alias(c) for c, t in spec.out])
        elif self.name == "pipeline":
            # the registry functions themselves, not `EQ.queries()`: its
            # plan cache would hand back the DataFrame built in warm-up,
            # and the window would never run the operators' build code
            self.calls = EQ.PIPELINE_QUERIES
        elif self.name == "loaded_rw":
            t = time.perf_counter()
            self.nt_dir = self._graph_dump()
            self.dump_s = time.perf_counter() - t
            self.n_quads = self._count_lines(self.nt_dir)
            self.load_entry = timed_op(self, LOAD_OP, self.tr)
            self.expected_size = self.load_entry.get("size")
            self.load_entry["ok"] = self.expected_size == self.n_quads
        for op in warmup_ops:
            self.run_op(op)
        if self.name == "loaded_rw":
            # the warm-up write group leaves the store at its loaded size
            if len(self.store) != self.expected_size:
                self.load_entry["ok"] = False

    def _graph_dump(self) -> str:
        """N-Triples dump of the virtual graph. It takes longer than a
        measured window, so it is written once per input and reused: the
        cache key hashes the generated tables and every engine source
        file, so a dump made from other data or by another engine tree
        (another serializer) is never loaded. Its time is left out of
        `setup_s` whether or not it was cached."""
        cache = os.path.join(ROOT, ".perfbench_cache")
        stem = f"graph-sf{self.sf}-"
        path = os.path.join(cache, stem + self._dump_key() + ".nt")
        if not os.path.isdir(path):
            if os.path.isdir(cache):
                for old in os.listdir(cache):
                    if old.startswith(stem):
                        shutil.rmtree(os.path.join(cache, old),
                                      ignore_errors=True)
            tmp = f"{path}.{os.getpid()}"
            self.EQ.get_graph(self.spark, self.data_dir).dump(
                tmp, format="ntriples")
            os.replace(tmp, path)
        return path

    def _dump_key(self) -> str:
        import rdf_fusion_spark
        h = hashlib.sha256()
        for base, suffix in ((self.data_dir, ".parquet"), (
                os.path.dirname(rdf_fusion_spark.__file__), ".py")):
            for d, _, files in sorted(os.walk(base)):
                for f in sorted(files):
                    if f.endswith(suffix):
                        p = os.path.join(d, f)
                        h.update(os.path.relpath(p, base).encode() + b"\0")
                        with open(p, "rb") as fh:
                            h.update(fh.read())
        return h.hexdigest()[:16]

    @staticmethod
    def _count_lines(path: str) -> int:
        n = 0
        for f in os.listdir(path):
            if not f.startswith((".", "_")):
                with open(os.path.join(path, f), "rb") as fh:
                    n += sum(1 for _ in fh)
        return n

    # -- ops -------------------------------------------------------------

    def _plan(self, df) -> None:
        """Traced runs force Catalyst before the action so it gets its own
        span; the action then reuses the planned query."""
        if self.tr.enabled:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            from spans import catalyst_phases
            self.tr.annotate(**catalyst_phases(qe))

    def _select(self, store, op) -> tuple[list, list]:
        res = store.query(op["sparql"])
        with self.tr.span("final_plan", "catalyst"):
            df = res.df.select([self.EQ._u(res.df[c], t).alias(c)
                                for c, t in op["out"]])
            self._plan(df)
        with self.tr.span("action", "exec"):
            return df.columns, df.collect()

    def _rerun(self, df) -> tuple[list, list]:
        with self.tr.span("final_plan", "catalyst"):
            df = df.select("*")
            self._plan(df)
        with self.tr.span("action", "exec"):
            return df.columns, df.collect()

    def run_op(self, op: dict):
        """Runs one op; returns (columns, rows) for reads, None otherwise."""
        kind, name = op["kind"], op["name"]
        if kind == "load":
            from rdf_fusion_spark.store import GraphStore
            with self.tr.span(name, "store"):
                self.store = GraphStore.load_dir(self.spark, self.nt_dir,
                                                 format="ntriples")
            return None
        if kind == "write":
            if self.tr.enabled:
                self._rdd_before = self.spark.sparkContext._jsc.sc().newRddId()
            self.store.update(op["sparql"])
            return None
        if self.name == "explore":
            return self._select(self.virtual, op)
        if self.name == "loaded_rw":
            return self._select(self.store, op)
        if self.name == "analytic":
            return self._rerun(self.prepared[name])
        with self.tr.span(name, "pipeline",
                          module=self.EQ._PIPELINE_MODULE_MAP[name]):
            df = self.calls[name](self.spark, self.data_dir)
        return self._rerun(df)

    def rows_written(self) -> int:
        """Rows of the quads table's materialized leaves created by the
        last write: the rows the write re-materialized."""
        plan = self.store.quads._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        n = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            if leaf.rdd().id() > self._rdd_before:
                n += leaf.rdd().count()
        return n

    # -- references ------------------------------------------------------

    def reference(self, op: dict) -> str:
        if "oracle" in op:  # explore and loaded_rw reads
            return self.oracle.digest(op["oracle"])
        return self.oracle.digest(self.EQ.oracle_sql()[op["name"]])


def run(args, work: str, t_start: float) -> dict:
    sys.path.insert(0, HERE)
    import datagen
    import ops as O
    from spans import Tracer

    sf = args.sf or SCALE[args.workload]
    tables = datagen.make_tables(sf)
    data_dir = datagen.write_tables(tables, os.path.join(work, "data"))
    ops = O.make_ops(args.workload, args.seed,
                     n_cycles(args.workload, args.seconds), tables)
    # warm-up: one cycle with constants from its own seed, so every op kind
    # has run once (a first execution costs 2-3x a warm one)
    warmup = [{**op, "op_id": "warmup-" + op["op_id"]}
              for op in O.make_ops(args.workload, WARMUP_SEED, 1, tables)]
    t_data = time.perf_counter()
    spark, cores = start_session(work)
    try:
        t_session = time.perf_counter()
        tr = Tracer(spark, args.trace == 1)
        wl = Workload(args.workload, sf, spark, tr, data_dir)
        wl.setup(warmup)
        t_setup = time.perf_counter()
        setup_s = t_setup - t_start - wl.dump_s
        print("DIAG " + json.dumps({"setup_parts_s": {
            "data_and_ops": t_data - t_start, "session": t_session - t_data,
            "workload": t_setup - t_session - wl.dump_s,
            "dump_not_counted": wl.dump_s}}))

        rec = measure(wl, ops, tr)
        if args.workload == "loaded_rw":
            rec["done"].insert(0, wl.load_entry)
        tr.close()
        checks = verify(wl, rec)
        if args.trace:
            from layers import layer_metrics
            metrics, names = layer_metrics(spark, tr, rec, cores)
            print("DIAG " + json.dumps({"counters_by_name": names},
                                       sort_keys=True))
            if args.spans:
                tr.dump(args.spans)
        else:
            metrics = end_to_end(rec, setup_s)
        return report(args, rec, checks, metrics)
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stops Spark and waits for the JVM that PySpark started to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)


def timed_op(wl: Workload, op: dict, tr) -> dict:
    """Runs one op inside its root span. Output digests and store-size
    checks run after the clock stops; entry["check_s"] is their time."""
    import check
    entry = {"op": op, "ok": False, "error": None}
    s = time.perf_counter()
    try:
        with tr.span(op["name"], "op", op_id=op["op_id"]):
            out = wl.run_op(op)
        entry["latency"] = time.perf_counter() - s
    except Exception as e:  # an op failure is a measured outcome
        entry["latency"] = time.perf_counter() - s
        entry["error"] = f"{type(e).__name__}: {e}"[:300]
        traceback.print_exc(file=sys.stderr)
        out = None
    c = time.perf_counter()
    if entry["error"] is None:
        if out is not None:
            entry["digest"] = check.digest(*out)
            entry["rows"] = len(out[1])
        elif op["kind"] == "load":
            entry["size"] = len(wl.store)
        else:
            wl.expected_size += op["delta"]
            entry["size"] = len(wl.store)
            entry["ok"] = entry["size"] == wl.expected_size
            if tr.enabled:
                entry["rows_written"] = wl.rows_written()
    entry["check_s"] = time.perf_counter() - c
    return entry


def measure(wl: Workload, ops: list[dict], tr) -> dict:
    """Closed loop over the whole op list; the time of the checks between
    ops is excluded from the wall time."""
    done = []
    untimed = 0.0
    t0 = time.perf_counter()
    for op in ops:
        entry = timed_op(wl, op, tr)
        untimed += entry["check_s"]
        done.append(entry)
    wall = time.perf_counter() - t0 - untimed
    return {"done": done, "wall": wall}


def verify(wl: Workload, rec: dict) -> dict:
    refs: dict[str, str] = {}
    for e in rec["done"]:
        op = e["op"]
        if e["error"] is not None or "digest" not in e:
            continue
        key = op.get("sparql") or op["name"]
        if key not in refs:
            refs[key] = wl.reference(op)
        e["ok"] = e["digest"] == refs[key]
    wl.oracle.close()
    return {"references": len(refs)}


def end_to_end(rec: dict, setup_s: float) -> dict:
    from layers import tail
    done = rec["done"]
    reads = [e["latency"] for e in done
             if e["op"]["kind"] == "read" and e["ok"]]
    n_ops = sum(1 for e in done if e["op"]["kind"] in ("read", "write"))
    failed = sum(1 for e in done if not e["ok"])
    t, _, _ = tail(reads) if reads else (float("nan"), 0, 0)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_s": {"value": statistics.median(reads) if reads
                          else float("nan"), "unit": "s"},
        "latency_tail_s": {"value": t, "unit": "s"},
        "ops_per_s": {"value": n_ops / rec["wall"], "unit": "1/s"},
        "ok_frac": {"value": 1.0 - failed / len(done), "unit": "fraction"},
    }


def report(args, rec: dict, checks: dict, metrics: dict) -> dict:
    from layers import tail
    done = rec["done"]
    failed = [e for e in done if not e["ok"]]
    reads = [e["latency"] for e in done
             if e["op"]["kind"] == "read" and e["ok"]]
    writes = [e["latency"] for e in done
              if e["op"]["kind"] == "write" and e["ok"]]
    diag = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "measured_wall_s": rec["wall"],
            "cycles": len({e["op"]["cycle"] for e in done
                           if e["op"]["cycle"] >= 0}),
            "failed_frac": len(failed) / len(done),
            "references": checks["references"]}
    if reads:
        v, p, n = tail(reads)
        diag["read_tail"] = {"value_s": v, "percentile": p, "n": n}
    if writes:
        v, p, n = tail(writes)
        diag["write_p50_s"] = statistics.median(writes)
        diag["write_tail"] = {"value_s": v, "percentile": p, "n": n}
    loads = [e for e in done if e["op"]["kind"] == "load" and e["ok"]]
    if loads:
        diag["load_quads_per_s"] = statistics.median(
            e["size"] / e["latency"] for e in loads)
    per = {}
    for e in done:
        if e["ok"]:
            per.setdefault(e["op"]["name"], []).append(e["latency"])
    diag["median_s_by_name"] = {k: statistics.median(v)
                                for k, v in sorted(per.items())}
    diag["latency_s_in_order"] = [[e["op"]["name"], round(e["latency"], 4)]
                                  for e in done]
    print("DIAG " + json.dumps(diag, sort_keys=True))
    for e in failed:
        print("DIAG " + json.dumps({"failed_op": e["op"]["op_id"],
                                    "name": e["op"]["name"],
                                    "error": e["error"]}))
    return {"correct": not failed, "attempted": len(done),
            "failed": len(failed), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor")
    ap.add_argument("--spans", default=None,
                    help="traced runs: write the spans as JSON lines here")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import rdf_fusion_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}",
              file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
