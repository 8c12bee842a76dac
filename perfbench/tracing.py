"""The traced run: per-layer times and counts, taken from outside the
package.

Layers take their names from the package's modules (``session``,
``sources``, ``transform``, ``sinks``, ``history``, ``views``, ``cli``)
plus ``spark``, the engine under all of them. Every call into a layer
runs under a Spark job group named after the layer, with an uncompressed
event log on, so the engine's work can be summed per layer afterwards.
A layer's self time comes from stepwise actions: e.g. scan -> noop
sink, then scan + transform -> noop sink, then the full write; each
step's wall minus the previous one's is the added layer's self time.
The engine's sums per layer (``spark.<layer>.*``) are taken the same
way: a step's job group minus the group of the step before it, divided
by the number of repetitions, so each value is one pass's work in that
layer alone.

Each workload reports every metric of ``PER_LAYER``; a layer the
workload does not call reads 0. ``trace.plain_op_p50_s`` is the plain
operation in the traced session (compare with the untraced run's
``op_p50_s`` for the cost of the event log), and ``trace.layer_gap_s``
is the plain wall minus the summed layer self times.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import gen
import harness
from harness import median, timed

SPARK_GROUPS = ("sources", "transform", "sinks", "views", "cli")
SPARK_METRICS = (
    ("executor_run_s", "s", "lower"), ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("tasks", "count", "lower"),
    ("shuffle_write_bytes", "B", "lower"), ("shuffle_read_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"), ("python_source_rows", "count", "lower"),
)

PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("sources.dump_scan_s", "s", "lower"),
    ("sources.malformed_count_s", "s", "lower"),
    ("sources.sacct_fetch_s", "s", "lower"),
    ("sources.sacct_stub_s", "s", "lower"),
    ("sources.records_ok", "count", "higher"),
    ("sources.records_malformed", "count", "lower"),
    ("transform.parse_s", "s", "lower"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.bytes_written", "B", "lower"),
    ("sinks.upsert_s", "s", "lower"),
    ("sinks.rows_rewritten_per_row_upserted", "ratio", "lower"),
    ("sinks.rows_scanned_per_row_returned", "ratio", "lower"),
    ("history.windows", "count", "higher"),
    ("history.watermark_s", "s", "lower"),
    ("views.eff_s", "s", "lower"),
    ("views.user_rollup_s", "s", "lower"),
    ("views.sort_aggregates", "count", "lower"),
    ("cli.sql_plan_s", "s", "lower"),
    ("cli.render_s", "s", "lower"),
    ("cli.rows_rendered", "count", "higher"),
    ("cli.seff_job_p50_s", "s", "lower"),
    ("cli.seff_user_p50_s", "s", "lower"),
    ("cli.sacct_select_p50_s", "s", "lower"),
    ("cli.job_lookup_p50_s", "s", "lower"),
    ("cli.cold_process_s", "s", "lower"),
    ("trace.plain_op_p50_s", "s", "lower"),
    ("trace.layer_gap_s", "s", "lower"),
) + tuple((f"spark.{g}.{m}", u, b) for g in SPARK_GROUPS for m, u, b in SPARK_METRICS)

#: repetitions of each stepwise measurement; the median is reported
REPS = 2


@contextmanager
def group(spark, name: str):
    """Tag every Spark job started inside with job group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- event log ------------------------------------------------------------

def _walk(plan, exec_id, nodes):
    nodes.append((exec_id, plan.get("nodeName", ""), plan.get("metrics", [])))
    for child in plan.get("children", []):
        _walk(child, exec_id, nodes)


def parse_event_log(log_dir) -> dict:
    """Per job group: task metric sums, rows written, scan output rows,
    and the SortAggregate nodes of each SQL execution's final plan."""
    stage_group: dict = {}
    exec_group: dict = {}
    plans: dict = {}                      # execution id -> nodes of its latest plan
    acc: dict = defaultdict(float)        # accumulator id -> summed task updates
    out: dict = defaultdict(lambda: defaultdict(float))
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir)
                   for f in files if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if props.get("spark.sql.execution.id") is not None:
                        exec_group[int(props["spark.sql.execution.id"])] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    for a in ev.get("Task Info", {}).get("Accumulables", []):
                        if isinstance(a.get("Update"), (int, float)):
                            acc[a["ID"]] += a["Update"]
                        elif isinstance(a.get("Update"), str) and a["Update"].isdigit():
                            acc[a["ID"]] += int(a["Update"])
                    if g is None:
                        continue
                    o = out[g]
                    o["tasks"] += 1
                    o["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    o["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ow = tm.get("Output Metrics") or {}
                    o["records_written"] += ow.get("Records Written", 0)
                    o["bytes_written"] += ow.get("Bytes Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    nodes: list = []
                    _walk(ev["sparkPlanInfo"], ev["executionId"], nodes)
                    plans[ev["executionId"]] = nodes
    for exec_id, nodes in plans.items():
        g = exec_group.get(exec_id)
        if g is None:
            continue
        o = out[g]
        o["sort_aggregates"] += sum(1 for _, n, _ in nodes if n == "SortAggregate")
        for _, node, metrics in nodes:
            for m in metrics:
                name = m.get("name", "")
                if node.startswith("Scan") and name == "number of output rows":
                    o["rows_scanned"] += acc.get(m["accumulatorId"], 0)
                # rows the Python DataSource's workers handed to the JVM (its
                # byte counters are cumulative per reused worker, not per task)
                if node.startswith("BatchScan") and name == "number of output rows":
                    o["python_source_rows"] += acc.get(m["accumulatorId"], 0)
    return out


def layer_sum(per_group: dict, terms, metric: str) -> float:
    """One layer's share of an event-log sum: ``terms`` are (job group,
    weight) pairs, e.g. the step's group at 1/REPS and the previous
    step's group at -1/REPS."""
    return sum(w * per_group[g][metric] for g, w in terms if g in per_group)


def spark_metrics(per_group: dict, layers: dict) -> dict:
    return {f"spark.{layer}.{m}": layer_sum(per_group, layers.get(layer, ()), m)
            for layer in SPARK_GROUPS for m, _, _ in SPARK_METRICS}


def stepwise(groups, reps: int) -> dict:
    """Layer terms for consecutive steps ``groups`` = ((layer, group),
    ...), each step re-running the ones before it: the first layer is
    its group, each later one its group minus the previous group."""
    out, prev = {}, None
    for layer, g in groups:
        out.setdefault(layer, []).append((g, 1 / reps))
        if prev is not None:
            out[layer].append((prev, -1 / reps))
        prev = g
    return out


# -- per-workload traced procedures -----------------------------------------

def trace_history(wl, sess) -> tuple[dict, list, dict]:
    """Plain round, then a stepwise round: sacct source -> noop, source +
    transform -> noop, the upsert, the watermark stamp, per window. The
    engine's sums are those of the whole stepwise round."""
    from slurm2sql_spark import api
    from slurm2sql_spark.sources.sacct_source import SacctDataSource
    from slurm2sql_spark.sinks.parquet_sink import upsert
    from slurm2sql_spark.streaming.history import set_watermark

    spark, h = sess.spark, wl.hist
    ops = wl.run_round()
    plain_round = sum(op.wall for op in ops)
    m: dict = {"trace.plain_op_p50_s": median(op.wall for op in ops)}

    table = str(wl.work / "traced_table")
    wl._reset(table)
    fetch = stub = parse = ups = mark = 0.0
    n_windows = n_rows = 0
    for stub_path, windows in ((h.stub1, h.windows1), (h.stub2, h.windows2)):
        for ws, we, n in windows:
            opts = {"start": gen.bound_str(ws), "end": gen.bound_str(we), "sacct_bin": stub_path}
            with group(spark, "history.sources"):
                spark.dataSource.register(SacctDataSource)
                reader = spark.read.format("sacct")
                for k, v in opts.items():
                    reader = reader.option(k, v)
                t_src, _ = timed(noop, reader.load())
            with group(spark, "history.transform"):
                typed = api.ingest(spark, sacct_options=opts, now=h.stop)
                t_tr, _ = timed(noop, typed)
            t_stub, _ = timed(subprocess.run, [stub_path, f"--starttime={gen.bound_str(ws)}",
                                               f"--endtime={gen.bound_str(we)}"],
                              stdout=subprocess.DEVNULL, check=True)
            with group(spark, "history.sinks"):
                t_up, _ = timed(upsert, spark, typed, table)
            t_wm, _ = timed(set_watermark, table, min(we, h.stop))
            fetch += t_src
            stub += t_stub
            parse += t_tr - t_src
            ups += t_up - t_tr
            mark += t_wm
            n_windows += 1
            n_rows += n
    m.update({
        "sources.sacct_fetch_s": fetch, "sources.sacct_stub_s": stub,
        "sources.records_ok": n_rows, "transform.parse_s": parse,
        "sinks.upsert_s": ups, "history.windows": n_windows,
        "history.watermark_s": mark,
        "trace.layer_gap_s": plain_round - (fetch + parse + ups + mark),
        "_rows_upserted": n_rows,
    })
    counts = wl._day_counts(table)
    if [counts.get(d, 0) for d in range(len(h.windows1))] != [n for _, _, n in h.windows1] \
            or wl._stale_days(table):
        ops.append(_wrong("stepwise history round left a wrong table"))
    layers = stepwise((("sources", "history.sources"), ("transform", "history.transform"),
                       ("sinks", "history.sinks")), reps=1)
    return m, ops, layers


def _wrong(msg):
    from workloads import Op

    return Op("trace", 0.0, 0, wrong=msg)


def trace_ingest(spark, work, dump) -> tuple[dict, list, dict]:
    """The dump ingest step by step: scan -> noop, scan + transform ->
    noop, the full write, the malformed-line count; plus the plain
    ingest with all of them in one call."""
    from slurm2sql_spark.operators.transform import slurm_transform
    from slurm2sql_spark.sinks.parquet_sink import read_table, write_overwrite
    from slurm2sql_spark.sources.csv_source import sacct_dump_scan

    from workloads import ingest_dump

    ops: list = []
    scratch = str(work / "traced_table")
    steps = defaultdict(list)
    for _ in range(REPS):
        steps["plain"].append(timed(ingest_dump, spark, dump, scratch)[0])
        with group(spark, "ingest.scan"):
            ok, bad = sacct_dump_scan(spark, dump.path)
            steps["scan"].append(timed(noop, ok)[0])
        with group(spark, "ingest.malformed"):
            t_bad, n_bad = timed(bad.count)
            steps["bad"].append(t_bad)
        with group(spark, "ingest.transform"):
            ok, _ = sacct_dump_scan(spark, dump.path)
            typed = slurm_transform(ok, now=dump.now)
            steps["transform"].append(timed(noop, typed)[0])
        with group(spark, "ingest.sinks"):
            ok, _ = sacct_dump_scan(spark, dump.path)
            typed = slurm_transform(ok, now=dump.now)
            steps["write"].append(timed(write_overwrite, typed, scratch)[0])
    n_ok = read_table(spark, scratch).count()
    if n_ok != len(dump.records) or n_bad != dump.malformed:
        ops.append(_wrong(f"traced ingest: {n_ok} rows, {n_bad} malformed"))
    s = {k: median(v) for k, v in steps.items()}
    layers = stepwise((("sources", "ingest.scan"), ("transform", "ingest.transform"),
                       ("sinks", "ingest.sinks")), REPS)
    layers["sources"].append(("ingest.malformed", 1 / REPS))
    return {
        "sources.dump_scan_s": s["scan"], "sources.malformed_count_s": s["bad"],
        "sources.records_ok": n_ok, "sources.records_malformed": n_bad,
        "transform.parse_s": s["transform"] - s["scan"],
        "sinks.write_s": s["write"] - s["transform"],
        # work outside the stepwise Spark actions: the header job and the plan build
        "trace.layer_gap_s": s["plain"] - (s["write"] + s["bad"]),
        "trace.plain_op_p50_s": s["plain"],
    }, ops, layers


def trace_report(wl, sess) -> tuple[dict, list, dict]:
    """The set-up's ingest step by step, the views, each report class
    under its own job group, one cold CLI process. The engine's sums of
    ``views`` are one ``eff`` over the table plus one ``user_rollup``
    over ``eff`` held in memory; those of ``cli`` are one round of the
    report mix, including the table scan and the views under it."""
    from slurm2sql_spark.cli import SEFF_PER_JOB_SQL, format_table
    from slurm2sql_spark.operators.views import eff, user_rollup
    from slurm2sql_spark.sinks.parquet_sink import read_table

    from workloads import parse_simple

    spark = sess.spark
    m, ops, layers = trace_ingest(spark, wl.work, wl.dump)

    # views
    eff_t, roll_t = [], []
    for _ in range(REPS):
        with group(spark, "views.eff"):
            eff_t.append(timed(noop, eff(read_table(spark, wl.table)))[0])
        # the rollup alone, over the eff view held in memory
        held = eff(read_table(spark, wl.table)).cache()
        held.count()
        with group(spark, "views.user_rollup"):
            roll_t.append(timed(lambda: user_rollup(held).collect())[0])
        held.unpersist(blocking=True)
    m.update({"views.eff_s": median(eff_t), "views.user_rollup_s": median(roll_t)})
    layers["views"] = [("views.eff", 1 / REPS), ("views.user_rollup", 1 / REPS)]
    layers["cli"] = [(f"cli.{cls}", 1) for cls, _ in wl.MIX]

    # reports: a plain round, then the same round under per-class job groups
    t_plain = defaultdict(list)
    for op in wl.run_round():
        ops.append(op)
        t_plain[op.cls].append(op.wall)
    m["trace.plain_op_p50_s"] = harness.geomean(median(v) for v in t_plain.values())
    walls = defaultdict(list)
    returned = 0
    for cls, n in wl.MIX:
        for i in range(n):
            with group(spark, f"cli.{cls}"):
                op = wl._call(cls, i)
            ops.append(op)
            walls[cls].append(op.wall)
            if cls in ("sacct_select", "job_lookup"):
                returned += op.returned
    for cls in walls:
        m[f"cli.{cls}_p50_s"] = median(walls[cls])
    m["_rows_returned"] = returned

    # one per-job seff split into planning, execution and rendering
    jid = wl.targets["seff_job"][0]
    eff(read_table(spark, wl.table)).createOrReplaceTempView("eff")
    q = SEFF_PER_JOB_SQL.format(long_output="", where=f" AND JobID IN ('{jid}')", order_by="")
    plan_t, exec_t, fmt_t = [], [], []
    for _ in range(REPS):
        with group(spark, "cli.plan"):
            t_plan, df = timed(lambda: spark.sql(q))
            t_plan += timed(lambda: df._jdf.queryExecution().executedPlan())[0]
            exec_t.append(timed(lambda: df.limit(10000).collect())[0])
            t_fmt, text = timed(format_table, df)
        plan_t.append(t_plan)
        fmt_t.append(t_fmt)
    m["cli.sql_plan_s"] = median(plan_t)
    m["cli.render_s"] = max(0.0, median(fmt_t) - median(exec_t))
    m["cli.rows_rendered"] = len(parse_simple(text)[1])

    # one cold CLI process: interpreter, JVM, session, query, render
    t_cold, proc = timed(subprocess.run,
                         [sys.executable, "-m", "slurm2sql_spark.cli", "seff", "--db", wl.table],
                         cwd=str(harness.ROOT), capture_output=True, text=True)
    lines = proc.stdout.rstrip("\n").split("\n")
    want = min(10000, len(wl.ended))
    if proc.returncode != 0 or len(lines) != want + 2:
        ops.append(_wrong(f"cold seff: exit {proc.returncode}, {len(lines) - 2} rows != {want}"))
    m["cli.cold_process_s"] = t_cold
    return m, ops, layers


def run_traced(workload_cls, seed: int, work) -> dict:
    from run import log, set_up, warm_up

    sess = harness.Session(work, event_log=True)
    try:
        wl, _ = set_up(sess, workload_cls, seed, work, time.perf_counter())
        warm_up(wl)
        procedure = {"history_upsert": trace_history, "report_queries": trace_report}[wl.name]
        m, ops, layers = procedure(wl, sess)
        m["session.get_spark_s"] = sess.start_s
        rows_upserted = m.pop("_rows_upserted", 0)
        returned = m.pop("_rows_returned", 0)
    finally:
        sess.stop()
    per_group = parse_event_log(sess.event_log_dir)
    m.update(spark_metrics(per_group, layers))
    sinks = layers["sinks"]
    if rows_upserted:
        m["sinks.rows_rewritten_per_row_upserted"] = \
            layer_sum(per_group, sinks, "records_written") / rows_upserted
    m["sinks.bytes_written"] = layer_sum(per_group, sinks, "bytes_written")
    scanned = sum(per_group[g]["rows_scanned"] for g in ("cli.sacct_select", "cli.job_lookup")
                  if g in per_group)
    if returned:
        m["sinks.rows_scanned_per_row_returned"] = scanned / returned
    # the views' SortAggregate nodes as the seff reports of one round
    # plan them (the columns a report reads decide the aggregate operator)
    m["views.sort_aggregates"] = sum(per_group[g]["sort_aggregates"]
                                     for g in ("cli.seff_job", "cli.seff_user") if g in per_group)
    for msg in [op.wrong for op in ops if op.wrong]:
        log(msg)
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {
        "correct": not any(op.wrong for op in ops),
        "attempted": len(ops),
        "failed": sum(1 for op in ops if op.failed),
        "metrics": {k: {"value": float(m.get(k, 0.0)), "unit": units[k]} for k in units},
    }
