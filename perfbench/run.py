"""The repository's benchmark: one closed-loop client, one operation in
flight, on a ``local[n]`` Spark session over seeded inputs, with ``n``
half the CPUs this process may run on.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 5 --trace 0

Phases of a run:

1. generate the inputs from ``--seed`` (numpy/pyarrow, untimed);
2. set up the session (``setup_s``): package import, ``get_spark``,
   ``load_tables``, one Python worker per core;
3. the cold pass (its process-tree CPU is ``cold_cpu_s``): every
   operation once, in declared order;
4. warm passes until ``--seconds`` have gone, in whole passes and at
   least one;
5. check every cold-pass output against its DuckDB twin (and, on
   ``curation``, the ingest state against its from-scratch twin).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics
with ``--trace 0``; the per-layer metrics with ``--trace 1``).  The
human report -- medians, tails, sample counts, per-entry times, host
context, tracing overhead -- goes to standard error.  Everything the
run writes stays under ``.perfbench_work/`` in the checkout.

The end-to-end metrics are the ones that repeat from run to run on a
4-CPU host shared with other guests: set-up time and the cold pass's
CPU.  There the cold pass's wall time and the warm figures spread up
to 29% between runs, because the CPU share other guests take varies
from run to run (0.3-24%) and the JVM is still compiling after several
warm passes.  They are reported in ``RUN_FIGURES``, which carry no
bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import gen
import measure
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "simple_rust_query_engine_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
}

#: the cold pass's wall time and ``measure.warm_figures`` of the
#: measured warm passes
RUN_FIGURES = {
    "cold.wall_s": "s",
    "warm.ops_per_s": "1/s",
    "warm.op_geomean_s": "s",
    "warm.cpu_s_per_op": "s",
}

PER_LAYER = {
    **RUN_FIGURES,
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "session.prefork_s": "s",
    "session.release_barriers_s": "s",
    "session.released_rdds": "count",
    "dataframe.sql_s": "s",
    "plans.plan_cold_s": "s",
    "plans.plan_warm_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "pipeline.build_s": "s",
    "pipeline.eager_jobs": "count",
    "pipeline.kernel_cpu_s": "s",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "sources.write_mb_per_batch": "MB",
    "sources.files_per_batch": "count",
    "sources.read_files": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "ingest.docs_per_s": "1/s",
    "ingest.batch_p50_s": "s",
    "ingest.read_p50_s": "s",
    "ingest.state_bytes_per_doc_byte": "ratio",
    "process.peak_rss_mb": "MB",
}

#: share of MemTotal given to the driver heap (local mode: the only JVM)
DRIVER_MEM_SHARE = 0.2


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def configure(work: str, trace: bool) -> dict:
    """Size the session to the host through the package's own knobs and
    keep every file Spark and Python write under ``work``.

    Spark gets half the CPUs: the JIT and GC threads, the Python driver
    and the Python workers run beside its task threads, and with a task
    thread on every CPU a run's times follow the CPU other guests take.
    On a shared 4-CPU host, on the same seeds, curation's metrics spread
    19-31% run to run at ``local[4]``, with warm throughput 0.26 op/s,
    and 8-16% at ``local[2]``, with 0.31 op/s."""
    host = measure.host_context()
    host["spark_cores"] = max(1, host["cores"] // 2)
    mem_gb = max(1, int(host["mem_total_gb"] * DRIVER_MEM_SHARE))
    dirs = {d: os.path.join(work, d) for d in ("conf", "tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": f"file://{dirs['eventlog']}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["spark_cores"]),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_CONF_DIR=dirs["conf"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        # every JVM the launch starts: no /tmp/hsperfdata files
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)
    host["driver_mem"] = f"{mem_gb}g"
    return host


def prefork(spark) -> None:
    """Start one Python worker per core, each with numpy and pandas
    imported, so no timed operation pays for worker start-up."""

    def _touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    par = spark.sparkContext.defaultParallelism
    spark.range(0, par, 1, par).mapInPandas(_touch, "id long").count()


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every process the session
    started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in measure.process_tree() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in started:
        # bounded: an orphan nobody reaps stays a zombie
        while time.time() < deadline + 10:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline else 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def _problems(check, *args) -> list[str]:
    try:
        return check(*args)
    except Exception as exc:  # a check that cannot run fails its op
        return [f"{type(exc).__name__}: {exc}"]


class Bench:
    def __init__(self, workload: str, seconds: int, tracer, work: str, data: str):
        self.workload = workload
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.data = data
        self.entries = workloads.entries(workload)
        self.ops: list[dict] = []
        self.cold_out: dict = {}
        self.spark = None

    def setup(self) -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.setup"):
            from simple_rust_query_engine_spark import session

            t1 = time.perf_counter()
            with tr.span("session.get_spark"):
                self.spark = spark = session.get_spark("perfbench")
            t2 = time.perf_counter()
            with tr.span("session.load_tables"):
                tables = session.load_tables(spark, self.data)
            t3 = time.perf_counter()
            with tr.span("session.prefork"):
                prefork(spark)
        self.setup_s = time.perf_counter() - t0
        self.setup_parts = {"import": t1 - t0, "get_spark": t2 - t1, "load_tables": t3 - t2,
                            "prefork": t0 + self.setup_s - t3}
        self.session = session
        self.ctx = workloads.Context(spark, tables, tr, self.work, self.data)

    def run_op(self, entry, phase: str, pass_no: int) -> None:
        tr = self.tracer
        tr.op = f"{phase}{pass_no}:{entry.label}"
        rec = {"op": tr.op, "entry": entry.label, "phase": phase, "ok": True}
        tree = measure.process_tree()
        cpu0 = measure.cpu_seconds(tree)
        workers = measure.python_workers(tree) if tr.enabled else []
        kcpu0 = measure.cpu_seconds(workers)
        start = time.perf_counter()
        with tr.span("op"):
            with tr.span("session.release_barriers"):
                rec["released"] = self.session.release_barriers(self.spark)
            t0 = time.perf_counter()
            with tr.span("run"):
                try:
                    out = entry.run(self.ctx)
                except Exception as exc:  # the run goes on; the op counts as failed
                    out = None
                    rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            rec["latency"] = time.perf_counter() - t0
        rec["wall"] = time.perf_counter() - start
        # a process started during the op counts with all its CPU; one
        # that ended is in its parent's reaped-children CPU
        after = measure.process_tree()
        rec["cpu"] = measure.cpu_seconds(set(tree) | set(after)) - cpu0
        if tr.enabled:
            workers += [p for p in measure.python_workers(after) if p not in workers]
        rec["kernel_cpu"] = measure.cpu_seconds(workers) - kcpu0
        if out is not None:
            if phase == "cold":
                self.cold_out[entry.label] = out
            elif isinstance(entry, workloads.BatchEntry) and len(out.rows) != len(self.cold_out.get(entry.label, out).rows):
                rec.update(ok=False, error="warm row count differs from the cold pass")
        self.ops.append(rec)
        tr.op = None

    def _ingest(self):
        return next((e for e in self.entries if isinstance(e, workloads.IngestEntry)), None)

    def measure_passes(self) -> dict:
        """Cold pass, then warm passes; the warm figures are
        ``measure.warm_figures`` of the warm ops."""
        t0 = time.perf_counter()
        for e in self.entries:
            self.run_op(e, "cold", 0)
        cold_s = time.perf_counter() - t0
        ingest = self._ingest()
        steal0 = measure.steal_seconds()
        t0 = time.perf_counter()
        passes, pass_wall = 0, []
        while not passes or time.perf_counter() - t0 < self.seconds:
            if ingest is not None and ingest.remaining(self.ctx) < 1:
                break
            passes += 1
            p0 = time.perf_counter()
            for e in self.entries:
                self.run_op(e, "warm", passes)
            pass_wall.append(time.perf_counter() - p0)
        warm_s = time.perf_counter() - t0
        steal = measure.steal_seconds() - steal0
        warm = [o for o in self.ops if o["phase"] == "warm"]
        tree = measure.process_tree()
        figures = measure.warm_figures(warm)
        return {
            "setup_s": self.setup_s,
            "cold.wall_s": cold_s,
            "cold_cpu_s": sum(o["cpu"] for o in self.ops if o["phase"] == "cold"),
            **{f"warm.{k}": v for k, v in figures.items()},
            "peak_rss_mb": measure.peak_rss_mb(tree),
            "_rss": {p: measure.peak_rss_mb([p]) for p in tree},
            "_passes": pass_wall,
            "_pass_cpu": [sum(o["cpu"] for o in warm if o["op"].startswith(f"warm{n}:")) for n in range(1, passes + 1)],
            "_steal": steal / (warm_s * len(os.sched_getaffinity(0))),
        }

    def check(self) -> None:
        """Compare each cold-pass output with its DuckDB twin; an op whose
        output differs counts as failed."""
        from simple_rust_query_engine_spark.testing import compare, duckdb_conn

        con = duckdb_conn(self.data)
        cold = {o["entry"]: o for o in self.ops if o["phase"] == "cold"}
        for e in self.entries:
            if isinstance(e, workloads.IngestEntry):
                problems = _problems(e.final_checks, self.ctx)
                rec = [o for o in self.ops if o["entry"] == e.label][-1]
            elif e.label in self.cold_out:
                problems = _problems(compare, self.cold_out[e.label], con, e.oracle())
                rec = cold[e.label]
            else:
                continue
            if problems:
                rec.update(ok=False, error="; ".join(problems)[:300])
        con.close()


def report(bench: Bench, e2e: dict, host: dict) -> None:
    log(f"# host: {host}")
    log(f"# workload {bench.workload}: {len(e2e['_passes'])} warm passes, wall "
        + ", ".join(f"{x:.2f}" for x in e2e["_passes"]) + " s, CPU "
        + ", ".join(f"{x:.2f}" for x in e2e["_pass_cpu"]) + " s")
    log(f"# CPU stolen by other guests during the warm passes: {e2e['_steal']:.1%}")
    log("# setup: " + ", ".join(f"{k} {v:.2f}s" for k, v in bench.setup_parts.items()))
    log("# peak RSS MB by process: " + ", ".join(f"{p}:{v:.0f}" for p, v in e2e["_rss"].items()))
    log(f"# {'entry':<24} {'cold_s':>8} {'warm_p50':>9} {'tail':>14} {'n':>3}")
    for e in bench.entries:
        cold = [o["latency"] for o in bench.ops if o["entry"] == e.label and o["phase"] == "cold"]
        s = measure.summary([o["latency"] for o in bench.ops if o["entry"] == e.label and o["phase"] == "warm"])
        t = f"p{s['tail_p']:g}={s['tail']:.3f}" if s["tail"] is not None else "-"
        log(f"# {e.label:<24} {cold[0]:8.3f} {s['median'] or 0:9.3f} {t:>14} {s['n']:3d}")
    s = measure.summary([o["latency"] for o in bench.ops if o["phase"] == "warm"])
    t = f"p{s['tail_p']:g} {s['tail']:.3f} s" if s["tail"] is not None else "no tail (under 20 samples)"
    log(f"# warm op latency: median {s['median']:.3f} s, {t}, n={s['n']}")
    for k, unit in {**END_TO_END, **RUN_FIGURES}.items():
        log(f"# {k:<18} {e2e[k]:12.4f} {unit}")
    log(f"# peak_rss_mb    {e2e['peak_rss_mb']:12.4f} MB (summed high-water marks of the process tree)")
    failed = [o for o in bench.ops if not o["ok"]]
    log(f"# error_rate {len(failed)}/{len(bench.ops)}")
    for o in failed:
        log(f"# FAILED {o['op']}: {o.get('error')}")


def ingest_figures(bench: Bench) -> dict:
    ing = bench._ingest()
    if ing is None or not ing.state.batches:
        return dict.fromkeys(("ingest.docs_per_s", "ingest.batch_p50_s", "ingest.read_p50_s", "ingest.state_bytes_per_doc_byte"), 0.0)
    b = ing.state.batches
    return {
        "ingest.docs_per_s": ing.state.docs / sum(x["batch_s"] for x in b),
        "ingest.batch_p50_s": measure.percentile([x["batch_s"] for x in b], 50),
        "ingest.read_p50_s": measure.percentile([r for x in b for r in x["reads_s"]], 50),
        "ingest.state_bytes_per_doc_byte": b[-1]["state_bytes"] / ing.state.doc_bytes,
    }


def per_layer(bench: Bench, events: dict, e2e: dict) -> dict:
    """Per-layer figures from the spans, the event log and ``/proc``.
    Per-op figures are means over warm operations; streaming and
    sources figures are means over ingest batches."""
    spans = bench.tracer.spans
    by_op: dict = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    warm = [o for o in bench.ops if o["phase"] == "warm"]
    cold = [o for o in bench.ops if o["phase"] == "cold"]
    n = len(warm)
    jobs = [(j["start"], j["end"]) for j in events["jobs"]]

    def dur(name, ops=warm):
        return sum(s["end"] - s["start"] for o in ops for s in by_op.get(o["op"], []) if s["name"] == name)

    def jobs_in(name, ops=warm):
        wins = [(s["start"], s["end"]) for o in ops for s in by_op.get(o["op"], []) if s["name"] == name]
        return sum(1 for js, _ in jobs for ws, we in wins if ws <= js <= we)

    setup = {s["name"]: s["end"] - s["start"] for s in by_op.get(None, [])}
    out = {
        **{k: e2e[k] for k in RUN_FIGURES},
        "session.get_spark_s": setup["session.get_spark"],
        "session.load_tables_s": setup["session.load_tables"],
        "session.prefork_s": setup["session.prefork"],
        "session.release_barriers_s": dur("session.release_barriers") / n,
        "session.released_rdds": sum(o["released"] for o in warm) / n,
        "dataframe.sql_s": dur("dataframe.sql") / n,
        "plans.plan_cold_s": dur("plans.plan", cold) / len(cold),
        "plans.plan_warm_s": dur("plans.plan") / n,
        "operators.build_s": dur("operators.build") / n,
        "operators.eager_jobs": jobs_in("operators.build") / n,
        "pipeline.build_s": dur("pipeline.build") / n,
        "pipeline.eager_jobs": jobs_in("pipeline.build") / n,
        "pipeline.kernel_cpu_s": sum(o["kernel_cpu"] for o in warm) / n,
    }

    totals = dict.fromkeys(("jobs", "stages", "tasks", "driver_s", "run_s", "cpu_s", "gc_s", "sr", "sw", "spill", "failed"), 0.0)
    for o in warm:
        run = next(s for s in by_op[o["op"]] if s["name"] == "run")
        lo, hi = run["start"], run["end"]
        mine = measure.clipped([(s, e) for s, e in jobs if lo <= s <= hi], lo, hi)
        totals["jobs"] += len(mine)
        totals["driver_s"] += (hi - lo) - measure.union_length(mine)
        totals["stages"] += sum(1 for st in events["stages"] if lo <= st["end"] <= hi)
        for t in events["tasks"]:
            if lo <= t["end"] <= hi:
                totals["tasks"] += 1
                totals["run_s"] += t["run_s"]
                totals["cpu_s"] += t["cpu_s"]
                totals["gc_s"] += t["gc_s"]
                totals["sr"] += t["shuffle_read_b"]
                totals["sw"] += t["shuffle_write_b"]
                totals["spill"] += t["spill_b"]
                totals["failed"] += t["failed"]
    mb = 1e6
    out.update({
        "spark.jobs": totals["jobs"] / n,
        "spark.stages": totals["stages"] / n,
        "spark.tasks": totals["tasks"] / n,
        "spark.driver_s": totals["driver_s"] / n,
        "spark.executor_run_s": totals["run_s"] / n,
        "spark.executor_cpu_s": totals["cpu_s"] / n,
        "spark.jvm_gc_s": totals["gc_s"] / n,
        "spark.shuffle_read_mb": totals["sr"] / mb / n,
        "spark.shuffle_write_mb": totals["sw"] / mb / n,
        "spark.spill_mb": totals["spill"] / mb / n,
        "spark.failed_tasks": totals["failed"] / n,
    })

    ing = bench._ingest()
    batches = ing.state.batches if ing is not None else []
    nb = len(batches) or 1
    ing_ops = [o for o in bench.ops if ing is not None and o["entry"] == ing.label]

    def prog(*keys):
        return sum(p.get(k, 0) for b in batches for p in b["progress"] for k in keys) / 1e3 / nb

    reads = [f for b in batches for f in b["read_files"]]
    out.update({
        "streaming.batch_s": prog("triggerExecution"),
        "streaming.add_batch_s": prog("addBatch"),
        "streaming.planning_s": prog("queryPlanning"),
        "streaming.commit_s": prog("walCommit", "commitOffsets"),
        "streaming.jobs_per_batch": jobs_in("streaming.drain", ing_ops) / nb,
        "sources.write_mb_per_batch": sum(b["write_bytes"] for b in batches) / mb / nb,
        "sources.files_per_batch": sum(b["new_files"] for b in batches) / nb,
        "sources.read_files": sum(reads) / len(reads) if reads else 0.0,
    })
    out.update(ingest_figures(bench))
    out["process.peak_rss_mb"] = e2e["peak_rss_mb"]
    return out


def report_trace(tracer, values: dict, e2e: dict, last: str, spans_path: str) -> None:
    for k, unit in PER_LAYER.items():
        log(f"# {k:<34} {values[k]:12.4f} {unit}")
    selfs = measure.self_times(tracer.spans)
    by_name: dict = {}
    for s in tracer.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    log("# self time by span: " + ", ".join(f"{k} {v:.2f}s" for k, v in sorted(by_name.items(), key=lambda kv: -kv[1])))
    log(f"# spans written to {os.path.relpath(spans_path, ROOT)}")
    if os.path.exists(last):
        with open(last) as fh:
            base = json.load(fh)
        log(f"# tracing overhead (traced minus the last untraced run, seed {base['seed']}):")
        for k, unit in END_TO_END.items():
            log(f"#   {k:<14} {e2e[k] - base['metrics'][k]:+12.4f} {unit}")
    else:
        log("# tracing overhead: no untraced run of this workload on record")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size relative to sf0.1 (tests use a tiny scale)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"perfbench: the package {PACKAGE}/ is not in {ROOT}; nothing to measure")
        return 2
    trace = bool(args.trace)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        host = configure(work, trace)
        data = os.path.join(work, "data")
        phases = {}
        t0 = time.perf_counter()
        stats = gen.generate(data, args.seed, args.scale, workloads.INPUTS[args.workload])
        phases["generate"] = time.perf_counter() - t0
        log(f"# inputs (seed {args.seed}, scale {args.scale}): "
            + ", ".join(f"{k} {v['rows']} rows/{v['bytes']} B" for k, v in stats.items()))
        tracer = measure.Tracer(trace)
        bench = Bench(args.workload, args.seconds, tracer, work, data)
        try:
            bench.setup()
            t0 = time.perf_counter()
            e2e = bench.measure_passes()
            t1 = time.perf_counter()
            bench.check()
            t2 = time.perf_counter()
        finally:
            if bench.spark is not None:
                stop_session(bench.spark)
        phases.update(measure=t1 - t0, check=t2 - t1, stop=time.perf_counter() - t2)
        report(bench, e2e, host)
        log("# phase wall: " + ", ".join(f"{k} {v:.2f}s" for k, v in phases.items()))
        last = os.path.join(WORK, f"last-{args.workload}-scale{args.scale:g}-untraced.json")
        if trace:
            logs = os.listdir(os.path.join(work, "eventlog"))
            events = measure.read_event_log(os.path.join(work, "eventlog", logs[0]))
            values = per_layer(bench, events, e2e)
            spans_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl")
            tracer.write(spans_path)
            report_trace(tracer, values, e2e, last, spans_path)
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            for k, v in ingest_figures(bench).items():
                log(f"# {k:<34} {v:12.4f} {PER_LAYER[k]}")
            with open(last, "w") as fh:
                json.dump({"seed": args.seed, "metrics": {k: e2e[k] for k in END_TO_END}}, fh)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        failed = sum(1 for o in bench.ops if not o["ok"])
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(bench.ops),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
