"""Replication benchmark: one command per run.

    python3 perfbench/run.py --workload repl_bulk --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory):

- ``repl_bulk``: closed-loop drain of a pre-landed backlog through
  ``streaming.pipeline.run_sql_apply_stream`` with the relay WAL on;
- ``repl_live``: the same pipeline with the relay off, restarted cold
  under load: a separate open-loop generator process (``gen.py``)
  lands a segment every 0.1 s on a fixed schedule while the first
  (cold) batch runs.

Both pin safe mode on (drainer ``safe-mode = true``), use
``num_workers = cores`` and the SQLite shared sink, and check the
downstream tables against an independent pandas reference
(``reference.py``) after the timed section.

The last stdout line is the result JSON; the line before it carries the
provenance (input hash, seed, ``local[N]``) and run details. With
``--trace 1`` the layers are wrapped (``tracing.py``) and the per-layer
metrics replace the end-to-end ones.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# repl_bulk: a backlog of BULK_SEGMENTS segments, BULK_EVENTS_PER_S
# events per second of run length, drained in one micro-batch (one
# cold batch keeps a run near 45 s)
BULK_SEGMENTS = 8
BULK_EVENTS_PER_S = 3200
# repl_live: one segment every LIVE_INTERVAL_S at LIVE_EVENTS_PER_S,
# landing for LIVE_SHARE of the run length (all during the cold batch)
LIVE_EVENTS_PER_S = 2000
LIVE_INTERVAL_S = 0.1
LIVE_SHARE = 0.3
STAGE_REPEATS = 3


def _program_present() -> bool:
    return os.path.isfile(os.path.join(REPO, "tidb_binlog_spark",
                                       "streaming", "pipeline.py"))


def _prepare_env(work: str, cores: int) -> None:
    """Everything Spark and its Python workers write goes under
    ``work``; the workers import the program from the repository root
    whatever the current directory is."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    sys.path.insert(0, REPO)


def _start_spark(work: str, cores: int):
    from tidb_binlog_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", shuffle_partitions=cores, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _stream(spark, src, work, tag, cores, relay, available_now):
    """Start ``run_sql_apply_stream`` with the benchmark's settings."""
    import gen
    from tidb_binlog_spark.operators.safe_mode import SafeModeWindow
    from tidb_binlog_spark.streaming.pipeline import run_sql_apply_stream
    d = os.path.join(work, tag)
    return run_sql_apply_stream(
        spark, src, os.path.join(d, "db"), os.path.join(d, "ckpt"),
        safe_window=SafeModeWindow(configured=True),
        num_workers=cores, setup_sql=gen.table_ddl(),
        available_now=available_now,
        relay_dir=os.path.join(d, "relay") if relay else None), d


def _stage(seed, work, n_segments, n_events, land: bool):
    """Generate (and for the backlog, land) the run's inputs into a
    fresh directory. Returns (tables, src dir, sha256)."""
    import gen
    src = os.path.join(work, "src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    tables = gen.make_stream(seed, n_segments, n_events)
    digest = gen.content_hash(tables)
    if land:
        # strictly increasing mtimes: the file source lists by mtime
        base = time.time_ns() - len(tables) * 10_000_000
        for k, t in enumerate(tables):
            gen.land(t, src, gen.segment_name(k),
                     mtime_ns=base + k * 10_000_000)
    return tables, src, digest


def _spawn_lander(seed, src, n_segments, n_events):
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
         "--dest", src, "--segments", str(n_segments),
         "--events", str(n_events), "--interval", str(LIVE_INTERVAL_S)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    if proc.stdout.readline().strip() != "ready":
        proc.kill()
        proc.wait()
        raise RuntimeError("load generator failed to start")
    return proc


def _send(proc, line: str) -> None:
    proc.stdin.write(line + "\n")
    proc.stdin.flush()


def _await_log(q, path: str, timeout_s: float) -> None:
    """Block until the streaming checkpoint holds ``path``."""
    deadline = time.time() + timeout_s
    while not os.path.exists(path):
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise RuntimeError(f"{path} not written in {timeout_s} s")
        time.sleep(0.02)


def run(args) -> tuple[dict, dict]:
    """One run of ``args.workload``; returns (provenance, result)."""
    import gen
    import measure
    import reference

    work = os.path.join(os.getcwd(), ".perfbench_run", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, args.cores)
    live = args.workload == "repl_live"
    if live:
        # segment 0 is the restart batch's only input; 1.. are scheduled
        n_sched = max(1, round(args.seconds * LIVE_SHARE / LIVE_INTERVAL_S))
        n_segments = n_sched + 1
        n_events = max(1, round(LIVE_EVENTS_PER_S * LIVE_INTERVAL_S))
    else:
        n_segments = BULK_SEGMENTS
        n_events = max(1, args.seconds * BULK_EVENTS_PER_S // BULK_SEGMENTS)
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "master": f"local[{args.cores}]", "segments": n_segments,
                  "events_per_segment": n_events,
                  "key_space": gen.key_space(n_segments * n_events)}
    spark = lander = tracer = q = None
    rss = measure.PeakRss()
    try:
        with rss:
            spark = _start_spark(work, args.cores)
            t_session = time.time()
            stage_s = []
            for _ in range(STAGE_REPEATS):
                t = time.time()
                tables, src, digest = _stage(args.seed, work, n_segments,
                                             n_events, land=not live)
                stage_s.append(time.time() - t)
            setup_s = (t_session - PROCESS_T0) + measure.median(stage_s)
            warm_s = 0.0
            if live:
                lander = _spawn_lander(args.seed, src, n_sched, n_events)
                rss.exclude.add(lander.pid)
                t = time.time()
                q, run_dir = _stream(spark, src, work, "run", args.cores,
                                     relay=False, available_now=False)
                _send(lander, "warm")
                # batch 0 has planned its input (segment 0 alone) once its
                # offset log exists; the schedule starts while it runs cold
                _await_log(q, os.path.join(run_dir, "ckpt", "offsets", "0"), 170)
                warm_s = time.time() - t
                setup_s += warm_s
            if args.trace:
                import tracing
                tracer = tracing.Tracer()
                tracer.install()
            t_due = time.time()
            gen_report = None
            if live:
                _send(lander, f"go {time.time() + 0.2!r}")
                out, _ = lander.communicate(
                    timeout=n_sched * LIVE_INTERVAL_S + 60)
                if lander.returncode != 0:
                    raise RuntimeError("load generator failed")
                gen_report = json.loads(out.strip().splitlines()[-1])
                if gen_report["hash"] != digest:
                    raise RuntimeError("generator inputs differ from reference")
                q.processAllAvailable()
                q.stop()
            else:
                q, run_dir = _stream(spark, src, work, "run", args.cores,
                                     relay=True, available_now=True)
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            t_end = time.time()

        # ---- outside the timed section: checkpoint logs and checks
        log = measure.StreamLog(os.path.join(run_dir, "ckpt"))
        seg_batch = {gen.segment_index(p): b for p, b in log.batch_of().items()}
        if live:
            timed = range(1, n_segments)
            due = dict(zip(timed, gen_report["due"]))
        else:
            timed = range(n_segments)
            due = dict.fromkeys(timed, t_due)
        batches = sorted({seg_batch[k] for k in timed if k in seg_batch})
        lags = [log.end[seg_batch[k]] - due[k] for k in timed
                if k in seg_batch]
        data_events = len(timed) * n_events
        # from the start of the batch running when the timed section began
        # (on repl_live, the cold restart batch the schedule lands behind)
        t_first = min(log.start[b] for b in log.committed()
                      if log.end[b] >= t_due)
        t_last = log.end[batches[-1]]
        mismatch = reference.check_sink(reference.events_frame(tables),
                                        os.path.join(run_dir, "db"),
                                        gen.TABLES)
        tail, tail_pct, n_lag = measure.tail_percentile(lags)
        if tail is None:        # too few distinct lags: report the max
            tail, tail_pct = max(lags), 100.0
        info.update({
            "inputs_sha256": digest, "batches_timed": len(batches),
            "segments_committed": len(seg_batch), "mismatch_rows": mismatch,
            "window_s": t_end - t_due, "drain_s": t_last - t_first,
            "lag_samples": n_lag, "lag_tail_percentile": tail_pct,
            "setup_parts_s": {"session": t_session - PROCESS_T0,
                              "stage": stage_s, "stream_start": warm_s},
        })
        if gen_report is not None:
            info["gen_late_s_max"] = gen_report["late_s_max"]
        correct = mismatch == 0 and len(seg_batch) == n_segments
        if args.trace:
            metrics = _layer_metrics(tracer, spark, (t_due, t_end), log,
                                     batches, seg_batch, gen_report, run_dir,
                                     data_events, n_events, t_due)
            metrics["proc.peak_rss_mb"] = (rss.peak / 2 ** 20, "MB")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "events_per_s": (data_events / (t_last - t_first), "events/s"),
                "lag_p50_s": (measure.median(lags), "s"),
                "lag_tail_s": (tail, "s"),
            }
        result = {"correct": bool(correct), "attempted": len(batches),
                  "failed": 0,
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}}
        return info, result
    finally:
        if tracer is not None:
            tracer.uninstall()
        if lander is not None and lander.poll() is None:
            lander.kill()
            lander.wait()
        if q is not None and q.isActive:
            q.stop()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # only if no other run uses it
        except OSError:
            pass


def _layer_metrics(tracer, spark, window, log, batches, seg_batch,
                   gen_report, run_dir, data_events, n_events, t_due):
    """Per-layer numbers: the trace's, plus what the generator, the
    checkpoint logs and the relay directory tell."""
    import measure
    import tracing
    m = tracing.layer_metrics(tracer, spark, window, data_events)
    rows = dict.fromkeys(batches, 0)
    for b in seg_batch.values():
        if b in rows:
            rows[b] += n_events + 3     # data events + one heartbeat/source
    if gen_report is not None:
        landed = dict(enumerate(gen_report["landed"], start=1))
    else:
        landed = dict.fromkeys(seg_batch, t_due)
    read_lag = []
    for b in batches:
        arrived = {k for k, t in landed.items() if t <= log.start[b]}
        read_lag.append(sum(1 for k in arrived if seg_batch.get(k, b + 1) > b))
    relay_files, relay_bytes = tracing.dir_files_bytes(os.path.join(run_dir, "relay"))
    m.update({
        "gen.late_s_max": gen_report["late_s_max"] if gen_report else 0.0,
        "gen.segments": len(gen_report["landed"]) if gen_report else 0,
        "sources.batches": len(batches),
        "sources.rows_per_batch_p50": measure.median(rows.values()),
        "sources.read_lag_segments_p50": measure.median(read_lag),
        "relay.files": relay_files,
        "relay.bytes": relay_bytes,
        "ordering.rows_in": sum(rows.values()),
        "trace.window_s": window[1] - window[0],
    })
    return {k: (float(v), tracing.UNITS[k]) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("repl_bulk", "repl_live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] and sink workers (default: all cores)")
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (tidb_binlog_spark/) is not under "
              f"{REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    info, result = run(args)
    print(json.dumps({"provenance": info}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
