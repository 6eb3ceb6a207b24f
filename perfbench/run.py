"""Benchmark entry point.

    python3 perfbench/run.py --workload kol_dashboard --seed 1 \
        --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine's
own SparkSession, runs an untimed warm-up, measures for ``--seconds``,
checks every output, and prints human-readable metric lines followed
by one JSON line (the last line of stdout).  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate run that records spans
and the Spark event log and reports the per-layer metrics.  See
README.md for the workloads and every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import batch
import speed
import tracing
from engine import configure_env, fingerprint, rss_now, stop_engine
from gen import NEAR_DUP_SHARE, write_tables
from stats import median, percentile, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("kol_dashboard", "curation_graph", "speed_layer")

#: the gated end-to-end metrics (BENCHMARK.json); every workload reports
#: them.  peak_rss_mb and the workload-specific ones are printed only.
END_TO_END = {"setup_s": "s", "batch_wall_s": "s", "query_p50_s": "s"}
PRINTED = {**END_TO_END, "peak_rss_mb": "MB", "query_p90_s": "s",
           "ingest_rps": "1/s", "event_latency_p50_s": "s",
           "event_latency_p99_s": "s", "lookup_p50_ms": "ms",
           "lookup_p90_ms": "ms"}

_OPS = [f"operators.{g}.{k}" for g in
        ("dedup", "text", "similarity", "graph", "relational")
        for k in ("self_s", "calls")]
PER_LAYER = {
    "plans.build_s": "s", "plans.build_self_s": "s", "exec.action_s": "s",
    "spark.jobs_per_query": "count", "io.load_table_calls": "count",
    "session.start_s": "s",
    "checkpoint.materialize_calls": "count",
    "checkpoint.materialize_s": "s", "checkpoint.materialize_share": "ratio",
    **{m: ("s" if m.endswith("_s") else "count") for m in _OPS},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.task_skew": "ratio",
    "spark.core_busy_frac": "ratio",
    "source.rows_read_per_row_committed": "ratio",
    "source.latest_offset_ms": "ms", "source.backlog_records_max": "count",
    "producer.late_s_max": "s",
    "stream.batches": "count", "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms", "stream.wal_commit_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "merge.calls": "count", "merge.s_p50": "s",
    "merge.buckets_rewritten_per_batch": "count",
    "merge.rows_rewritten_per_source_row": "ratio",
    "lookup.files_scanned": "count", "lookup.spark_jobs": "count",
    "trace.wall_s": "s",
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "bigdata_project_hust_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests",
                                            "oracle_harness.py")))


def engine_layers(c, window: tuple[float, float], ops: int,
                  cpus: int) -> dict[str, float]:
    """Spark event-log counters over the timed window, per operation
    (a query execution or a micro-batch)."""
    n = max(ops, 1)
    wall = max(window[1] - window[0], 1e-9)
    return {
        "spark.jobs": c.jobs / n, "spark.stages": c.stages / n,
        "spark.tasks": c.tasks / n,
        "spark.executor_run_s": c.executor_run_s / n,
        "spark.executor_cpu_s": c.executor_cpu_s / n,
        "spark.gc_s": c.gc_s / n,
        "spark.shuffle_write_mb": c.shuffle_write_mb / n,
        "spark.shuffle_read_mb": c.shuffle_read_mb / n,
        "spark.spill_mb": c.spill_mb / n, "spark.input_mb": c.input_mb / n,
        "spark.task_skew": c.task_skew,
        "spark.core_busy_frac": c.executor_run_s / (wall * cpus),
    }


def batch_layers(tracer, res, groups: dict[str, int]) -> dict[str, float]:
    """Per-query-execution means of the span-derived layer metrics."""
    kids = tracer.children()
    spans = tracer.spans
    t0, t1 = res.window
    n = max(len(res.executions), 1)
    out: dict[str, float] = {}
    builds = tracer.select("plans.build", t0, t1)
    out["plans.build_s"] = sum(spans[i].end - spans[i].start
                               for i in builds) / n
    self_total = 0.0
    for i in builds:
        ck = [(spans[d].start, spans[d].end)
              for d in tracer.descendants(i, kids)
              if spans[d].name.startswith("checkpoint.")]
        self_total += self_time(spans[i].start, spans[i].end, ck)
    out["plans.build_self_s"] = self_total / n
    out["exec.action_s"] = sum(spans[i].end - spans[i].start for i in
                               tracer.select("exec.action", t0, t1)) / n
    out["io.load_table_calls"] = len(tracer.select("io.load_table",
                                                   t0, t1)) / n
    ck_top = [i for i in tracer.select("checkpoint.", t0, t1)
              if spans[i].parent is None
              or not spans[spans[i].parent].name.startswith("checkpoint.")]
    ck_s = sum(spans[i].end - spans[i].start for i in ck_top)
    out["checkpoint.materialize_calls"] = len(
        [i for i in tracer.select("checkpoint.materialize", t0, t1)
         if spans[i].name == "checkpoint.materialize"]) / n
    out["checkpoint.materialize_s"] = ck_s / n
    busy = sum(e.latency for e in res.executions)
    out["checkpoint.materialize_share"] = ck_s / busy if busy else 0.0
    for layer in tracing.LAYERS:
        ids = tracer.select(f"operators.{layer}.", t0, t1)
        out[f"operators.{layer}.self_s"] = sum(
            tracer.self_s(i, kids) for i in ids) / n
        out[f"operators.{layer}.calls"] = len(ids) / n
    out["spark.jobs_per_query"] = sum(
        groups.get(e.rid, 0) for e in res.executions) / n
    out["trace.wall_s"] = sum(res.pass_walls) / max(len(res.pass_walls), 1)
    return out


def run_batch(args, spark_start, cpus: int, work: str, tracer) -> dict:
    queries, sf, rounds = batch.WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    g0 = time.time()
    write_tables(args.seed, sf, data)
    gen_s = time.time() - g0
    spark = spark_start()
    spark_up = time.time()
    res = batch.BatchResult()
    batch.warm_up(spark, queries, data, rounds)
    ready = time.time()
    batch.measure(spark, queries, data, args.seconds, tracer, res)
    env = fingerprint(spark, cpus, args,
                      f"sf{sf} queries={len(queries)} warm_up_rounds={rounds} "
                      f"near_dup_share="
                      f"{NEAR_DUP_SHARE} events.user_id=uniform")
    rss = rss_now()
    c0 = time.time()
    bad = batch.check(spark, queries, data)
    check_s = time.time() - c0
    failed = sum(1 for e in res.executions
                 if e.error is not None or e.query in bad)
    lat = [e.latency for e in res.executions if e.error is None]
    e2e = {"batch_wall_s": median(res.pass_walls),
           "query_p50_s": percentile(lat, 50),
           "peak_rss_mb": rss}
    detail = {"query_p90_s": percentile(lat, 90),
              "samples": {"query": len(lat), "pass": len(res.pass_walls)},
              "phase_s": {"gen": gen_s, "warm_up": ready - spark_up,
                          "measure": res.window[1] - res.window[0],
                          "check": check_s},
              "latency_s": {e.rid: round(e.latency, 4)
                            for e in res.executions},
              "mismatches": bad,
              "errors": {e.rid: e.error for e in res.executions if e.error}}
    return {"env": env, "gen_s": gen_s, "ready": ready, "e2e": e2e,
            "detail": detail, "attempted": len(res.executions),
            "failed": failed, "ops": len(res.executions),
            "window": res.window, "result": res}


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: the program is missing under {ROOT} "
              "(bigdata_project_hust_spark/, tests/oracle_harness.py)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work_base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_base, f"{args.workload}-s{args.seed}"
                                   f"-t{args.trace}-{os.getpid()}")
    cpus = configure_env(work, bool(args.trace), [ROOT, HERE])
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)

    def spark_start():
        from bigdata_project_hust_spark import session
        return session.get_spark("perfbench")

    try:
        if args.workload == "speed_layer":
            out = speed.run(args, spark_start, cpus, work, tracer)
        else:
            out = run_batch(args, spark_start, cpus, work, tracer)
        # process start -> session up + warm-up done, minus input generation
        setup_s = out["ready"] - t_proc - out["gen_s"]
        layers = None
        if tracer is not None:
            stop_engine()   # flushes the event log
            counters = tracing.read_event_log(
                os.path.join(work, "eventlog"), *out["window"])
            groups = counters.jobs_by_group
            if args.workload == "speed_layer":
                layers = speed.layers(tracer, out, groups)
            else:
                layers = batch_layers(tracer, out["result"], groups)
            layers.update(engine_layers(counters, out["window"], out["ops"],
                                        cpus))
            layers["session.start_s"] = sum(
                s.end - s.start for s in tracer.spans
                if s.name == "session.get_spark")
            tracer.dump(os.path.join(work_base,
                                     f"spans-{args.workload}.jsonl"))
    finally:
        stop_engine()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, **out["e2e"]}
    print("# env " + json.dumps(out["env"], sort_keys=True))
    if tracer is not None:
        print("# traced run: the end-to-end values include tracing cost")
    attempted, failed = out["attempted"], out["failed"]
    print(f"failed_frac = {failed / max(attempted, 1):.6g} ratio "
          f"({failed}/{attempted})")
    shown = {**e2e, **out["detail"]}
    for k, unit in PRINTED.items():
        if k in shown:
            v = shown[k]
            print(f"{k} = {'n/a' if v is None else f'{v:.6g} {unit}'}")
    print("# detail " + json.dumps(out["detail"], default=str))
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
        _remember(work_base, args, e2e)
    else:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        base = _recall(work_base, args)
        if base:
            print(f"trace.overhead = {layers['trace.wall_s'] / base:.4g} "
                  f"(traced {layers['trace.wall_s']:.4g} s / untraced "
                  f"{base:.4g} s, batch_wall_s)")
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _remember(work_base: str, args, e2e: dict) -> None:
    path = os.path.join(work_base, f"untraced-{args.workload}-s{args.seed}"
                                   ".json")
    with open(path, "w") as f:
        json.dump(e2e, f)


def _recall(work_base: str, args) -> float | None:
    path = os.path.join(work_base, f"untraced-{args.workload}-s{args.seed}"
                                   ".json")
    try:
        with open(path) as f:
            return json.load(f)["batch_wall_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
