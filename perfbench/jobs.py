"""The benchmark's workloads, each as a plain job and as a traced job.

A plain job calls the program the way its user does and is what the
end-to-end metrics time.  A traced job calls each layer's public
function in pipeline order, materializes at every layer boundary and
records a span around each call, so each layer's time and Spark task
metrics can be attributed; it runs once, apart from the timed jobs.
"""

from __future__ import annotations

import os
import shutil

from perfbench import check
from perfbench.tracing import Tracer

ANON_SALT = "perfbench-salt"


def cached_frames(spark) -> tuple[int, float]:
    """(count, MB) of the frames Spark holds cached right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)
    return len(infos), mb


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` — Spark's
    checksum and marker files are not counted."""
    size = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class StatsCold:
    """The monthly stats job as submitted: raw transcripts to the 11
    routed sinks plus rejects, in a fresh process."""

    name = "stats_cold"
    default_convs = 500
    with_reference = True
    # spark-submit starts a new JVM for every monthly job, so the one
    # job timed is the first in the process, JIT and codegen included;
    # warming up first would time a job no user runs, and would leave
    # no time budget for a second sample anyway
    warm_up_jobs = 0

    def run(self, spark, inp, out_dir: str) -> dict:
        from stats_spark.plans import pipeline

        return pipeline.run_pipeline(spark, inp.paths, out_dir, resume=False)

    def check(self, inp, ref, out_dir: str, result: dict) -> list[str]:
        return check.check_stats(out_dir, ref)

    def traced(self, spark, tracer: Tracer, inp, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from stats_spark.operators.parse import parse_battles
        from stats_spark.plans import pipeline
        from stats_spark.sources import tables

        mine = []  # frames this traced job caches; unpersisted at the end

        def keep(df):
            mine.append(df.cache())
            return mine[-1]

        counts: dict = {}
        with tracer.span("run", layer="pipeline"):
            with tracer.span("sources.scan", layer="sources"):
                tr = keep(tables.load_transcripts(spark, inp.paths))
                cv = keep(tables.load_conversations(spark, inp.paths))
                tr.count()
                cv.count()
            with tracer.span("parse"):
                battles = keep(parse_battles(tr, cv))
                battles.count()
                counts["battles_ok"] = battles.filter(
                    F.col("error").isNull()).count()
            with tracer.span("sources.checkpoint", layer="sources"):
                tables.write_routed(battles, out_dir, "battles")
                ckpt = spark.read.parquet(os.path.join(out_dir, "battles"))
            before = cached_frames(spark)[1]
            with tracer.span("enrich"):
                frames = pipeline.build_frames(spark, ckpt, cache=True)
                mine.extend(frames["_cached"])
                counts["mon_rows"] = frames["_cached"][0].count()
                for df in frames["_cached"][1:]:
                    df.count()
            counts["enrich_cache_mb"] = cached_frames(spark)[1] - before
            sinks, rows = {}, 0
            groups = [("aggregate.usage_chain",
                       ("usage_tagged", "usage", "usage_totals")),
                      ("aggregate.moveset", ("moveset",)),
                      ("aggregate.teammates", ("teammates",)),
                      ("aggregate.other",
                       ("encounters", "leads", "battle_counts", "metagame",
                        "stalliness", "viability"))]
            with tracer.span("aggregate"):
                for span, names in groups:
                    with tracer.span(span, layer="aggregate"):
                        for s in names:
                            sinks[s] = keep(frames[s])
                            rows += sinks[s].count()
                rejects = keep(frames["rejects"].select(
                    "conv_id", "format", "day", "error", "ts"))
                rejects.count()
            counts["rows_out"] = rows
            with tracer.span("sources.write", layer="sources"):
                for s, df in sinks.items():
                    part = (("format", "cutoff") if "cutoff" in df.columns
                            else ("format",))
                    path = tables.write_routed(df, out_dir, s,
                                               partition_cols=part)
                    tables.write_lineage(spark, out_dir, "stats_pipeline", [
                        dict(partition=s, path=path, rows=-1, seconds=0.0,
                             skipped=False)])
                rejects.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "rejects"))
        for df in mine:
            df.unpersist()
        return counts


class AnonExport:
    """The anonymized export: public sample, per-line rewrite, parquet
    write, leak verification."""

    name = "anon_export"
    default_convs = 3000
    with_reference = False
    # the first job pays JIT and codegen (about 4x a warm job), and the
    # second is still about 20% slower than the ones after it
    warm_up_jobs = 2

    def _public_sample(self, spark, inp):
        from stats_spark.operators import anonymize as A
        from stats_spark.sources import tables

        cv = tables.load_conversations(spark, inp.paths)
        tr = tables.load_transcripts(spark, inp.paths)
        sampled = A.sample_conversations(cv, 1.0, public_only=True)
        return tr.join(sampled.select("conv_id"), "conv_id", "left_semi"), \
            sampled

    def run(self, spark, inp, out_dir: str) -> dict:
        from stats_spark.operators import anonymize as A

        tr, sampled = self._public_sample(spark, inp)
        A.anonymize_transcripts(tr, sampled, salt=ANON_SALT) \
            .write.mode("overwrite").parquet(out_dir)
        leaks = A.verify_no_leaks(spark.read.parquet(out_dir), sampled).count()
        return dict(leaks=leaks)

    def check(self, inp, ref, out_dir: str, result: dict) -> list[str]:
        return check.check_anon(out_dir, result["leaks"], inp.public_kept_lines)

    def traced(self, spark, tracer: Tracer, inp, out_dir: str) -> dict:
        from stats_spark.operators import anonymize as A

        with tracer.span("run", layer="pipeline"):
            with tracer.span("sources.scan", layer="sources"):
                tr, sampled = self._public_sample(spark, inp)
                tr, sampled = tr.cache(), sampled.cache()
                tr.count()
                sampled.count()
            with tracer.span("anonymize"):
                anon = A.anonymize_transcripts(tr, sampled,
                                               salt=ANON_SALT).cache()
                lines_out = anon.count()
            with tracer.span("sources.write", layer="sources"):
                anon.write.mode("overwrite").parquet(out_dir)
            with tracer.span("anonymize.verify", layer="anonymize"):
                leaks = A.verify_no_leaks(spark.read.parquet(out_dir),
                                          sampled).count()
        for df in (tr, sampled, anon):
            df.unpersist()
        return dict(leaks=leaks, lines_out=lines_out)


WORKLOADS = {w.name: w for w in (StatsCold(), AnonExport())}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
