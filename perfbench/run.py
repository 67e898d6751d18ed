"""perfbench: end-to-end and per-layer benchmark of the stats_spark jobs.

    python3 perfbench/run.py --workload stats_cold --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed`` (cached under
``.bench_build/perfbench``), starts a SparkSession sized to this host,
runs the workload's job, checks every result against the reference and
prints one JSON object as the last line of stdout.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
one traced job.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {"job_s": "s", "turns_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "parse.busy_s": "s", "parse.task_s": "s", "parse.convs_in": "count",
    "parse.battles_ok": "count", "parse.ok_ratio": "ratio",
    "parse.shuffle_bytes": "bytes",
    "enrich.busy_s": "s", "enrich.task_s": "s", "enrich.gc_s": "s",
    "enrich.mon_rows": "count", "enrich.cache_mem_mb": "MB",
    "aggregate.busy_s": "s", "aggregate.task_s": "s",
    "aggregate.shuffle_bytes": "bytes", "aggregate.spill_bytes": "bytes",
    "aggregate.rows_out": "count", "aggregate.usage_chain_s": "s",
    "aggregate.moveset_s": "s", "aggregate.teammates_s": "s",
    "pipeline.parse_s": "s", "pipeline.cache_s": "s", "pipeline.sinks_s": "s",
    "pipeline.core_util": "ratio", "pipeline.driver_gap_s": "s",
    "pipeline.leftover_cached_frames": "count",
    "pipeline.leftover_cache_mb": "MB",
    "sources.scan_s": "s", "sources.bytes_read": "bytes",
    "sources.write_s": "s", "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "anonymize.busy_s": "s", "anonymize.task_s": "s",
    "anonymize.lines_in": "count", "anonymize.lines_out": "count",
    "anonymize.verify_s": "s", "anonymize.leaks": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "trace.total_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session(cores: int, evlog_dir: str | None = None):
    """SparkSession fitted to this host, with every scratch file inside
    the checkout.  Returns (spark, seconds to a ready session)."""
    from perfbench import host

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    if evlog_dir:
        os.environ["STATS_SPARK_EVLOG"] = evlog_dir
    # the corpora are small; a heap of an eighth of the host (2 GiB here)
    # leaves memory to the machine's other tenants
    mem_mb = int(max(1024, min(8192, host.mem_total_mb() // 8)))
    t0 = time.time()
    from stats_spark.session import EXECUTOR_JVM_FLAGS, get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{EXECUTOR_JVM_FLAGS} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the JVM's
    Python daemon and workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Runs and checks one workload's jobs, counting attempts."""

    def __init__(self, spark, wl, inp, ref):
        self.spark, self.wl, self.inp, self.ref = spark, wl, inp, ref
        self.attempted = self.failed = 0
        self.runs: list[dict] = []
        self.peak_breakdown: dict = {}
        self.out_dir = os.path.join(WORK, "out", wl.name)

    def job(self, traced_by=None) -> dict:
        """One job into a fresh output directory; returns its record.
        A job that raises or whose output is wrong counts as failed."""
        from perfbench import host, jobs

        jobs.fresh_dir(self.out_dir)
        rec = dict(load_before=host.loadavg(), traced=traced_by is not None)
        cpu0 = host.cpu_jiffies()
        proc_cpu0 = host.tree_cpu_s(os.getpid())
        t0 = time.time()
        try:
            if traced_by is None:
                rec["result"] = self.wl.run(self.spark, self.inp, self.out_dir)
            else:
                rec["result"] = self.wl.traced(self.spark, traced_by,
                                               self.inp, self.out_dir)
            rec["t0"], rec["t1"] = t0, time.time()
            errors = self.wl.check(self.inp, self.ref, self.out_dir,
                                   rec["result"])
        except Exception:  # the job failed: record it and carry on
            rec["t0"], rec["t1"] = t0, time.time()
            rec["result"] = {}
            errors = [traceback.format_exc()]
        rec["seconds"] = rec["t1"] - t0
        rec["load_after"] = host.loadavg()
        rec["cpu_steal_share"] = host.steal_share(cpu0, host.cpu_jiffies())
        rec["cpu_s"] = host.tree_cpu_s(os.getpid()) - proc_cpu0
        rec["errors"] = errors
        self.attempted += 1
        if errors:
            self.failed += 1
            log(f"{self.wl.name}: job failed: " + "; ".join(errors)[:2000])
        self.runs.append(rec)
        return rec


def measure(wl, inp, ref, seconds: float) -> tuple[Runner, dict]:
    """End-to-end metrics: set-up, then timed jobs for ``seconds``."""
    from perfbench import host

    with host.RssSampler(os.getpid()) as rss:
        spark, setup_s = start_session(host.nproc())
        r = Runner(spark, wl, inp, ref)
        for _ in range(wl.warm_up_jobs):
            setup_s += r.job()["seconds"]
        rss.reset()
        deadline = time.time() + seconds
        timed = []
        while True:
            timed.append(r.job())
            # a workload without warm-up times exactly its first job
            if not wl.warm_up_jobs or time.time() >= deadline:
                break
        peak = rss.peak()
        r.peak_breakdown = rss.peak_breakdown
        stop_session(spark)
    job_s = statistics.median(j["seconds"] for j in timed)
    return r, dict(job_s=job_s, turns_per_s=inp.n_turns / job_s,
                   setup_s=setup_s, peak_rss_mb=peak)


def trace(wl, inp, ref, spans_path: str) -> tuple[Runner, dict]:
    """Per-layer metrics under Spark's event log: the workload's warm-up
    jobs, one plain job timed as ``measure`` times it, then one traced
    job."""
    from perfbench import host, jobs
    from perfbench.tracing import EventLog, Tracer

    evlog = jobs.fresh_dir(os.path.join(WORK, "evlog"))
    cores = host.nproc()
    spark, start_s = start_session(cores, evlog_dir=evlog)
    r = Runner(spark, wl, inp, ref)
    warmup_s = sum(r.job()["seconds"] for _ in range(wl.warm_up_jobs))
    before_n, before_mb = jobs.cached_frames(spark)
    plain = r.job()
    after_n, after_mb = jobs.cached_frames(spark)
    tracer = Tracer(spark, run_id=f"{wl.name}-{os.getpid()}")
    traced = r.job(traced_by=tracer)
    stop_session(spark)
    tracer.write(spans_path)
    ev = EventLog(EventLog.find(evlog))

    res, got = plain["result"], traced["result"]
    parse, enrich = ev.by_layer("parse"), ev.by_layer("enrich")
    agg, anon = ev.by_layer("aggregate"), ev.by_layer("anonymize")
    written, files = jobs.tree_bytes(r.out_dir)
    window = ev.window(plain["t0"], plain["t1"], cores)
    traced_total = tracer.total("run")
    battles_ok = got.get("battles_ok", 0)
    m = {
        "parse.busy_s": tracer.total("parse"),
        "parse.task_s": parse.task_s,
        "parse.convs_in": inp.n_convs if "battles_ok" in got else 0,
        "parse.battles_ok": battles_ok,
        "parse.ok_ratio": battles_ok / inp.n_convs,
        "parse.shuffle_bytes": parse.shuffle_bytes,
        "enrich.busy_s": tracer.total("enrich"),
        "enrich.task_s": enrich.task_s,
        "enrich.gc_s": enrich.gc_s,
        "enrich.mon_rows": got.get("mon_rows", 0),
        "enrich.cache_mem_mb": got.get("enrich_cache_mb", 0.0),
        "aggregate.busy_s": tracer.total("aggregate"),
        "aggregate.task_s": agg.task_s,
        "aggregate.shuffle_bytes": agg.shuffle_bytes,
        "aggregate.spill_bytes": agg.spill_bytes,
        "aggregate.rows_out": got.get("rows_out", 0),
        "aggregate.usage_chain_s": tracer.total("aggregate.usage_chain"),
        "aggregate.moveset_s": tracer.total("aggregate.moveset"),
        "aggregate.teammates_s": tracer.total("aggregate.teammates"),
        "pipeline.parse_s": res.get("parse_seconds", 0.0),
        "pipeline.cache_s": res.get("cache_seconds", 0.0),
        "pipeline.sinks_s": res.get("sink_seconds", 0.0),
        "pipeline.core_util": window["core_util"],
        "pipeline.driver_gap_s": window["driver_gap_s"],
        "pipeline.leftover_cached_frames": after_n - before_n,
        "pipeline.leftover_cache_mb": after_mb - before_mb,
        "sources.scan_s": tracer.total("sources.scan"),
        "sources.bytes_read": ev.traced_bytes_read(),
        "sources.write_s": (tracer.total("sources.checkpoint")
                            + tracer.total("sources.write")),
        "sources.bytes_written": written,
        "sources.files_written": files,
        "anonymize.busy_s": tracer.total("anonymize"),
        "anonymize.task_s": anon.task_s,
        "anonymize.lines_in": inp.public_lines if "lines_out" in got else 0,
        "anonymize.lines_out": got.get("lines_out", 0),
        "anonymize.verify_s": tracer.total("anonymize.verify"),
        "anonymize.leaks": got.get("leaks", 0),
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "trace.total_s": traced_total,
        "trace.overhead_s": traced_total - plain["seconds"],
    }
    return r, m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--convs", type=int, default=None,
                    help="corpus size (default: the workload's own)")
    args = ap.parse_args(argv)

    # the program under test lives beside this directory; Spark's Python
    # workers import it too, so they get the same path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import pyspark  # noqa: F401
        import stats_spark  # noqa: F401
        from tests import oracle  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    from perfbench import host, inputs, jobs

    wl = jobs.WORKLOADS.get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(jobs.WORKLOADS)}")
        return 2
    t0 = time.time()
    inp = inputs.ensure_inputs(WORK, args.seed, args.convs or wl.default_convs,
                               wl.with_reference)
    ref = inputs.load_reference(inp) if wl.with_reference else None
    log(f"inputs ready in {time.time() - t0:.1f}s: {inp.n_convs} conversations,"
        f" {inp.n_turns} turns ({inp.dir})")

    facts = host.host_facts()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{wl.name}-s{args.seed}-trace{args.trace}"
    if args.trace:
        runner, values = trace(wl, inp, ref,
                               os.path.join(results, f"{tag}.spans.jsonl"))
        units = PER_LAYER
    else:
        runner, values = measure(wl, inp, ref, args.seconds)
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    detail = dict(workload=wl.name, seed=args.seed, n_convs=inp.n_convs,
                  n_turns=inp.n_turns, host_before=facts,
                  host_after=host.host_facts(),
                  failed_frac=runner.failed / runner.attempted,
                  runs=[{k: v for k, v in r.items() if k != "result"}
                        for r in runner.runs],
                  peak_pss_mb_by_process=runner.peak_breakdown,
                  metrics=metrics)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(f"perfbench: {wl.name} seed={args.seed} host={json.dumps(facts)} "
          f"after={json.dumps(detail['host_after'])}")
    print(f"perfbench: failed_frac={detail['failed_frac']} ratio "
          f"({runner.failed} of {runner.attempted} jobs)")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
