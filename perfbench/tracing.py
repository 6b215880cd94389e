"""Traced run: spans around the replication layers, recorded from the
benchmark's side, and Spark stage metrics read from the status store.

``Tracer.install`` wraps the layers' functions at their module
attributes (the pipeline looks them up there on every call), so nothing
in the program changes. Each wrapper records a span (name, start, end,
parent, batch); spans stay in memory until the run ends.

Spark jobs and stages are tagged with the innermost span whose interval
holds their submission time. The streaming driver applies one batch at
a time, so at most one span chain is open when a job is submitted.

``ordered_stream``, ``safe_mode_rewrite`` and ``generate_sql`` only
build plans; their compute runs in later jobs of the same batch:

- order gate (``ordering``): the jobs the batch runs before it calls
  ``safe_mode_rewrite`` (watermark aggregate and the DDL collect that
  first materializes the gated stream), minus the relay write;
- safe-mode rewrite + statement build (``sqlgen``): the jobs between
  the ``safe_mode_rewrite`` call and the causality span (the table
  list collect materializes the rewritten batch), plus the
  shuffle-map stages of the ``apply_statements`` job (the per-table
  statement projections and the causality stamp join);
- DB-API execution (``jdbc``): the result stage of the
  ``apply_statements`` job, whose tasks are the sink workers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from measure import median

UNITS = {
    "gen.late_s_max": "s", "gen.segments": "count",
    "sources.batches": "count", "sources.rows_per_batch_p50": "rows",
    "sources.read_lag_segments_p50": "segments",
    "pipeline.batch_s_p50": "s", "pipeline.jobs_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.driver_only_s_per_batch": "s",
    "relay.s": "s", "relay.files": "count", "relay.bytes": "bytes",
    "ordering.stage_s": "s", "ordering.rows_in": "rows",
    "sqlgen.stage_s": "s", "sqlgen.stmts_per_event": "ratio",
    "sqlgen.tables_per_batch": "count",
    "causality.s": "s", "causality.edges": "count",
    "causality.groups": "count", "causality.local_share": "ratio",
    "causality.worker_skew": "ratio",
    "jdbc.s": "s", "jdbc.stmts": "count", "jdbc.worker_skew": "ratio",
    "jdbc.checkpoint_s": "s",
    "spark.executor_run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "trace.unaccounted_s_per_batch": "s", "trace.window_s": "s",
    "proc.peak_rss_mb": "MB",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, list] = {"cc_local": [], "cc_groups_calls": 0}
        self._local = threading.local()
        self._batch = -1
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1]["name"] if stack else None,
               "batch": self._batch}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def _wrap(self, owner, attr: str, name: str, on_result=None,
              new_batch: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if new_batch:
                tracer._batch += 1
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(args, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from tidb_binlog_spark.operators import causality, ordering, safe_mode
        from tidb_binlog_spark.sinks import jdbc, relay, sqlgen
        from tidb_binlog_spark.streaming import pipeline

        def on_cc_groups(args, out):
            self.counts["cc_groups_calls"] += 1

        def on_local(args, out):
            # the driver union-find path: (txn ids, key codes, n_keys) in,
            # (unique txns, labels) out
            ut, lab = out
            self.counts["cc_local"].append(
                (self._batch, len(args[0]), len(set(lab.tolist()))))

        self._wrap(pipeline.SqlBatchApplier, "apply", "pipeline.batch",
                   new_batch=True)
        self._wrap(relay.RelayLog, "append", "relay.append")
        self._wrap(ordering, "ordered_stream", "ordering.build")
        self._wrap(safe_mode, "safe_mode_rewrite", "safe_mode.build")
        self._wrap(sqlgen, "generate_sql", "sqlgen.build")
        self._wrap(causality, "causality_groups", "causality.groups",
                   on_result=on_cc_groups)
        self._wrap(causality, "_local_components_np", "causality.local",
                   on_result=on_local)
        self._wrap(causality, "stamp_workers", "causality.stamp")
        self._wrap(jdbc, "apply_statements", "jdbc.apply")
        self._wrap(jdbc, "save_checkpoint", "jdbc.checkpoint")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the status store; works with the UI off once
    ``stageList`` gets its full five-argument signature."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        jobs.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                     "end": _opt_ms(j.completionTime())})
    stages = []
    sl = store.stageList(None, False, False, no_quantiles, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        stages.append({
            "id": s.stageId(), "attempt": s.attemptId(),
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "shuffle_read_records": s.shuffleReadRecords(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return jobs, stages


def task_values(spark, stage: dict) -> tuple[list[float], list[int]]:
    """Per-task (executor run seconds, shuffle records read)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tl = store.taskList(stage["id"], stage["attempt"], 100_000)
    run, recs = [], []
    for i in range(tl.size()):
        tm = tl.apply(i).taskMetrics()
        if tm.isDefined():
            m = tm.get()
            run.append(m.executorRunTime() / 1e3)
            recs.append(m.shuffleReadMetrics().recordsRead())
    return run, recs


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[0] is not None
                       and iv[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _within(t, span) -> bool:
    return t is not None and span["start"] <= t <= span["end"]


def _skew(xs) -> float:
    """max / mean; 1.0 when nothing was measured."""
    if not xs or sum(xs) == 0:
        return 1.0
    return max(xs) / (sum(xs) / len(xs))


def layer_metrics(tracer: Tracer, spark, window: tuple[float, float],
                  data_events: int) -> dict[str, float]:
    """Per-layer numbers of one traced run (see the module docstring
    for how stage time is attributed)."""
    jobs, stages = read_status_store(spark)
    t0, t1 = window
    jobs = [j for j in jobs if j["start"] is not None and t0 <= j["start"] <= t1]
    stages = [s for s in stages if s["start"] is not None
              and t0 <= s["start"] <= t1]
    by_name: dict[str, list[dict]] = {}
    for sp in tracer.spans:
        by_name.setdefault(sp["name"], []).append(sp)
    batches = sorted(by_name.get("pipeline.batch", []),
                     key=lambda s: s["start"])

    batch_s, jobs_pb, tasks_pb, driver_only, unaccounted = [], [], [], [], []
    tables_pb, worker_rec_skew, worker_run_skew = [], [], []
    gate_s = build_s = jdbc_s = 0.0
    stmts = 0
    for b in batches:
        bid = b["batch"]
        kids = {n: [s for s in by_name.get(n, []) if s["batch"] == bid]
                for n in by_name}
        b_jobs = [j for j in jobs if _within(j["start"], b)]
        b_stages = [s for s in stages if _within(s["start"], b)]
        batch_s.append(b["end"] - b["start"])
        jobs_pb.append(len(b_jobs))
        tasks_pb.append(sum(s["tasks"] for s in b_stages))
        busy = _union_s((max(j["start"], b["start"]),
                         min(j["end"] or b["end"], b["end"]))
                        for j in b_jobs)
        driver_only.append(b["end"] - b["start"] - busy)
        tables_pb.append(len(kids.get("sqlgen.build", [])))

        relay = kids.get("relay.append", [])
        rewrite = kids.get("safe_mode.build", [])
        cc = kids.get("causality.groups", []) + kids.get("causality.stamp", [])
        applies = kids.get("jdbc.apply", [])
        mark = min((s["start"] for s in rewrite), default=b["end"])
        cc_start = min((s["start"] for s in cc), default=b["end"])

        def in_any(t, spans):
            return any(_within(t, s) for s in spans)

        gate = [s for s in b_stages if s["start"] < mark
                and not in_any(s["start"], relay)]
        pre_cc = [s for s in b_stages if mark <= s["start"] < cc_start
                  and not in_any(s["start"], cc + applies)]
        apply_st = [s for s in b_stages if in_any(s["start"], applies)]
        result = [s for s in apply_st if s["shuffle_bytes"] == 0]
        maps = [s for s in apply_st if s["shuffle_bytes"] > 0]
        gate_iv = [(s["start"], s["end"]) for s in gate]
        build_iv = [(s["start"], s["end"]) for s in pre_cc + maps]
        jdbc_iv = [(s["start"], s["end"]) for s in result]
        gate_s += _union_s(gate_iv)
        build_s += _union_s(build_iv)
        jdbc_s += _union_s(jdbc_iv)
        for s in result:
            stmts += s["shuffle_read_records"]
            run, recs = task_values(spark, s)
            worker_run_skew.append(_skew(run))
            worker_rec_skew.append(_skew(recs))
        layer_iv = ([(s["start"], s["end"]) for s in relay + cc]
                    + [(s["start"], s["end"])
                       for s in kids.get("jdbc.checkpoint", [])]
                    + gate_iv + build_iv + jdbc_iv)
        unaccounted.append(b["end"] - b["start"] - _union_s(layer_iv))

    def total(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    local = tracer.counts["cc_local"]
    calls = tracer.counts["cc_groups_calls"]

    def med(xs):
        return median(xs) if xs else 0.0

    return {
        "pipeline.batch_s_p50": med(batch_s),
        "pipeline.jobs_per_batch": med(jobs_pb),
        "pipeline.tasks_per_batch": med(tasks_pb),
        "pipeline.driver_only_s_per_batch": med(driver_only),
        "relay.s": total("relay.append"),
        "ordering.stage_s": gate_s,
        "sqlgen.stage_s": build_s,
        "sqlgen.stmts_per_event": stmts / data_events if data_events else 0.0,
        "sqlgen.tables_per_batch": med(tables_pb),
        "causality.s": total("causality.groups") + total("causality.stamp"),
        "causality.edges": sum(e for _, e, _ in local),
        "causality.groups": sum(g for _, _, g in local),
        "causality.local_share": len(local) / calls if calls else 0.0,
        "causality.worker_skew": med(worker_rec_skew),
        "jdbc.s": jdbc_s,
        "jdbc.stmts": stmts,
        "jdbc.worker_skew": med(worker_run_skew),
        "jdbc.checkpoint_s": total("jdbc.checkpoint"),
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "trace.unaccounted_s_per_batch": med(unaccounted),
    }


def dir_files_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size
