"""Structured Streaming variants of the pipeline front-end.

The reference is explicitly batch-only (FAQ.md:93-127); this module is
the forward-looking streaming path the north rule's checkpoint/resume
machinery maps onto: ``readStream`` over the transcripts table,
watermarked event-time windows, checkpointed sinks.

Two entry points:
  stream_line_counts   stateless-agg smoke: per (format, window,
                       line_type) counts with a watermark for late data
  stream_usage_raw     per-format per-window conversation counts (the
                       streaming analog of the battles counter)

Both read the same parquet layout the batch job reads, so
``Trigger.AvailableNow`` turns the batch corpus into a bounded stream —
the idempotent-resume story (checkpointLocation) matches the batch
job's lineage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# turn_idx is bigint: the pandas-written corpus stores INT64 and the
# streaming parquet reader enforces the declared type exactly
TRANSCRIPT_DDL = ("conv_id string, turn_idx bigint, role string, "
                  "text string, tool string, ts timestamp, day string")


def read_transcript_stream(spark: SparkSession, corpus_paths: dict) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPT_DDL + ", format string")
            .option("maxFilesPerTrigger", "4")
            .parquet(corpus_paths["transcripts"]))


def stream_line_counts(stream: DataFrame, window: str = "10 minutes",
                       watermark: str = "5 minutes") -> DataFrame:
    return (stream
            .withWatermark("ts", watermark)
            .groupBy("format", F.window("ts", window),
                     F.split("text", "\\|").getItem(1).alias("line_type"))
            .agg(F.count("*").alias("n"))
            .select("format", F.col("window.start").alias("window_start"),
                    "line_type", "n"))


def stream_usage_raw(stream: DataFrame, window: str = "30 minutes",
                     watermark: str = "10 minutes") -> DataFrame:
    """Conversations seen per format per window (counted at their
    |start| line so each conversation counts once)."""
    return (stream
            .filter(F.col("text") == "|start")
            .withWatermark("ts", watermark)
            .groupBy("format", F.window("ts", window))
            .agg(F.count("*").alias("n_convs"))
            .select("format", F.col("window.start").alias("window_start"),
                    "n_convs"))


def stream_battles(spark: SparkSession, corpus_paths: dict,
                   dims_payload: dict | None = None,
                   max_files: int = 4,
                   timeout_ms: int | None = None) -> DataFrame:
    """Stateful FSM-on-stream: the streaming twin of parse_battles.

    ``applyInPandasWithState`` keyed by conv_id buffers a conversation's
    protocol lines across micro-batches (arbitrary arrival order within
    a batch is fine — lines re-sort by turn_idx at emit, the W1
    invariant) and runs the SAME parse_battle FSM the batch operator
    runs once the terminal |win|/|tie| line arrives.  Conversation
    metadata rides along via a stream-static join with the
    conversations table (broadcast at cluster scale).

    Emits one battle row per completed conversation in append mode —
    checkpointable, idempotent, and byte-equal to the batch parse
    output (asserted by tests/test_streaming_fsm.py)."""
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from stats_spark.operators.parse import (BATTLE_SCHEMA, TEAM_FIELDS,
                                             ParseError, _reject_row,
                                             make_dims_payload, parse_battle)

    D = dims_payload or make_dims_payload()

    stream = (spark.readStream
              .schema(TRANSCRIPT_DDL + ", format string")
              .option("maxFilesPerTrigger", str(max_files))
              .parquet(corpus_paths["transcripts"]))
    cv = spark.read.parquet(corpus_paths["conversations"])
    cv_json = cv.select("conv_id",
                        F.to_json(F.struct(*cv.columns)).alias("meta_json"))
    joined = stream.join(cv_json, "conv_id")

    state_schema = "meta string, idxs array<int>, lines array<string>"
    raw_schema = (BATTLE_SCHEMA
                  .replace(f"p1_team array<struct<{TEAM_FIELDS}>>",
                           "p1_team string")
                  .replace(f"p2_team array<struct<{TEAM_FIELDS}>>",
                           "p2_team string")
                  .replace("matchups array<struct<a:string,b:string,outcome:int>>",
                           "matchups string"))

    def fn(key, pdfs, state):
        meta_json, idxs, lines = (state.get if state.exists
                                  else (None, [], []))
        idxs, lines = list(idxs), list(lines)
        done = state.hasTimedOut  # stalled conversation: flush as-is
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # bulk column extraction (no per-row iterrows): Arrow gives
            # contiguous columns, so .tolist() is one vectorized copy
            if meta_json is None:
                meta_json = pdf["meta_json"].iat[0]
            idxs.extend(int(i) for i in pdf["turn_idx"].tolist())
            lines.extend(pdf["text"].tolist())
        # Flush only when the buffer is COMPLETE.  Two completeness
        # signals, in preference order:
        #   1. ``n_lines`` in the conversation metadata (exact line
        #      count, written by datagen) — robust to post-terminal
        #      lines (|raw|, chat, |l|) in any position.
        #   2. Fallback (corpora without n_lines): the terminal
        #      |win|/|tie| line is present, is the max turn_idx, and
        #      every turn_idx below it has arrived.  This relies on the
        #      corpus invariant that the terminal line is LAST; logs
        #      with post-terminal lines must carry n_lines (or set
        #      timeout_ms so stalled state flushes).  Merely sighting
        #      the terminal line is never enough — with cross-batch
        #      disorder stragglers can arrive after it, and flushing
        #      early would parse a prefix and later re-create state
        #      that emits a second, bogus row for the same conv_id.
        if not done and lines:
            n_expected = None
            if meta_json and '"n_lines"' in meta_json:
                n_expected = json.loads(meta_json).get("n_lines")
            uniq = len(set(idxs))
            if n_expected is not None:
                done = uniq == n_expected and max(idxs) == n_expected - 1
            else:
                term = max((i for i, t in zip(idxs, lines)
                            if t.startswith("|win|") or t == "|tie"),
                           default=None)
                done = (term is not None and max(idxs) == term
                        and uniq == term + 1)
        if not done:
            state.update((meta_json, idxs, lines))
            if timeout_ms:
                # a conversation whose terminal |win|/|tie| never
                # arrives (producer crash, truncated log) flushes after
                # the timeout instead of leaking state forever; the FSM
                # then scores it as a tie or rejects it.  NOTE: a
                # ProcessingTimeTimeout plan keeps even an availableNow
                # run alive with no-data micro-batches (they are how
                # timeouts fire), so bounded runs must either pass
                # timeout_ms=None or stop the query explicitly once
                # the expected output has drained.
                state.setTimeoutDuration(timeout_ms)
            return
        state.remove()
        meta = json.loads(meta_json) if meta_json else dict(conv_id=key[0])
        ordered = [t for _i, t in sorted(zip(idxs, lines))]
        if meta.get("p1") is None:
            row = _reject_row(dict(conv_id=key[0]),
                              "No conversation metadata")
        else:
            try:
                row = parse_battle(meta, ordered, D)
            except ParseError as e:
                row = _reject_row(meta, str(e))
        for k in ("p1_team", "p2_team", "matchups"):
            row[k] = json.dumps(row[k]) if row[k] is not None else None
        if isinstance(row.get("ts"), str):   # the meta JSON round-trip
            row["ts"] = pd.Timestamp(row["ts"])
        yield pd.DataFrame([row])

    out = joined.groupBy("conv_id").applyInPandasWithState(
        fn, raw_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms
        else GroupStateTimeout.NoTimeout)
    team_t = f"array<struct<{TEAM_FIELDS}>>"
    return (out
            .withColumn("p1_team", F.from_json("p1_team", team_t))
            .withColumn("p2_team", F.from_json("p2_team", team_t))
            .withColumn("matchups",
                        F.from_json("matchups",
                                    "array<struct<a:string,b:string,outcome:int>>")))


def stream_usage(battles_stream: DataFrame,
                 cutoffs: list[int] | None = None) -> DataFrame:
    """Streamed usage counters: the batch enrichment column math
    applied directly to the battle stream (explode sides → teams →
    per-cutoff erf weight columns → running per-species counters).  With
    Trigger.AvailableNow + complete mode this reproduces the batch
    usage frame exactly; unbounded deployments swap in a watermarked
    window on ts."""
    from stats_spark.datagen import dims
    from stats_spark.operators import aggregate as agg
    from stats_spark.operators import enrich

    ok = battles_stream.filter(
        F.col("error").isNull()
        & F.col("format").isin([f for f, *_ in dims.FORMATS
                                if dims.accept_format(f)]))
    # J5: key by canonical format, same as the batch build_frames
    ok = ok.withColumn("format", enrich.canonical_format_map_col())
    sides = enrich.with_effective_rating(enrich.sides_from_battles(ok))
    mons = (sides.select("conv_id", "format", "side", "short", "outcome",
                         "rating_valid", "eff_rpr", "eff_rprd",
                         F.explode("team").alias("m"))
            .select("*", F.col("m.species").alias("species"),
                    F.col("m.turns_out").alias("turns_out"))
            .drop("m"))
    return agg.usage_by_species(enrich.with_cutoff_weights(
        mons, cutoffs or dims.DEFAULT_CUTOFFS))


def run_available_now(df: DataFrame, query_name: str,
                      mode: str = "complete"):
    """Drive a bounded stream to completion into an in-memory sink.

    ``complete`` by default: with append mode a bounded stream never
    advances the watermark past the final windows, so they would never
    emit.  Real unbounded deployments use append + checkpointLocation.
    """
    q = (df.writeStream.outputMode(mode)
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
