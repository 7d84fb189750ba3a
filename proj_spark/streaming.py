"""Structured Streaming surface: incremental event rollups.

The reference has no streaming (time `t` is a coordinate dimension, not
event time — SURVEY.md §2.3); this is engine-side surface for the
training-data pipeline: the same hourly rollup the batch query
``events_hourly`` computes, expressed as readStream -> watermarked windowed
aggregation -> sink, so a continuously-arriving events feed (or an Iceberg
table consumed incrementally by snapshot) produces identical results to the
batch query over the same data.

Scale notes: the aggregation state is keyed by (window, event_type) —
bounded by the watermark horizon; shuffle partitions size the state store;
late rows beyond the watermark are dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, payload string")


def read_event_stream(spark, src_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based stream over a directory of events parquet files (the
    local stand-in for a Kafka topic / Iceberg incremental read)."""
    return (spark.readStream
            .schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src_dir))


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly rollup; schema mirrors the batch events_hourly
    query so streaming output can be checked against the batch oracle."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("hour_start"), "event_type",
                    "n_events", "sum_value"))


def tile_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked per-tile-per-hour counts: the streaming spelling of the
    geolocate -> webmerc z8 tile -> aggregate pipeline (tile_zxy_counts /
    extract_tile_counts) for a continuously-arriving feed. Coordinates
    derive from the event keys with the same integer-hash generator the
    batch point queries use, so stream output is checkable against the
    identical batch expression.

    Scale: state is keyed by (1h window, tx, ty) — bounded by the
    watermark horizon times the z8 world tile count (65,536), a few
    hundred thousand rows of state regardless of input rate; late rows
    beyond the watermark drop deterministically. All expressions are
    JVM-side built-ins (no Python in the micro-batch path)."""
    lon = ((F.col("user_id") * F.lit(2654435761) + F.col("event_id") * 40503)
           % 36000000) / 100000.0 - 180.0
    lat = ((F.col("user_id") * F.lit(2246822519) + F.col("event_id") * 10369)
           % 17000000) / 100000.0 - 85.0
    pi = 3.141592653589793
    tx = F.floor((lon + 180.0) / 360.0 * 256.0).cast("long")
    ty = F.floor((1.0 - F.log(F.tan(pi / 4.0 + F.radians(lat) / 2.0)) / pi)
                 / 2.0 * 256.0).cast("long")
    return (events
            .withColumn("tx", tx).withColumn("ty", ty)
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "tx", "ty")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("hour_start"), "tx", "ty",
                    "n_events"))


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "append",
                  timeout_s: float = 300.0):
    """Drive the stream into an in-memory table until exhausted.

    The wait is bounded: an availableNow query that keeps scheduling
    micro-batches (e.g. a stateful operator with a processing-time timeout)
    is force-stopped after ``timeout_s`` instead of hanging the caller.
    """
    q = (stream_df.writeStream.outputMode(mode)
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         .start())
    if not q.awaitTermination(timeout_s):
        q.stop()
        q.awaitTermination(30)
    return q


def sessionize(events: DataFrame, gap_minutes: int = 30,
               watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: per-user sessionization via
    ``applyInPandasWithState`` (the engine's analogue of a bespoke
    stateful streaming operator — SURVEY.md §2.3 notes the reference has
    none; this is engine-side training-pipeline surface).

    Emits one row per CLOSED session (a user quiet for ``gap_minutes``):
    (user_id, session_start, session_end, n_events, sum_value). State per
    user is (start, last_ts, n, sum) — O(1) per key; an EVENT-time timeout
    (fires when the watermark passes last_ts + gap) closes idle sessions,
    so state is bounded by the active-user set, not history, and an
    availableNow drain terminates once the input is exhausted (a
    processing-time timeout would keep scheduling batches forever). At
    100 TB scale the state store shards by user_id across the shuffle
    partitions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60
    out_schema = ("user_id long, session_start timestamp, "
                  "session_end timestamp, n_events long, sum_value double")
    state_schema = "start double, last double, n long, total double"

    def fn(key, pdfs, state):
        closed = []
        if state.hasTimedOut:
            start, last, n, total = state.get
            closed.append((key[0], start, last, n, total))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values("ts")
            ts = rows["ts"].astype("int64").to_numpy() / 1e9
            vals = rows["value"].to_numpy()
            if state.exists:
                start, last, n, total = state.get
            else:
                start, last, n, total = float(ts[0]), float(ts[0]), 0, 0.0
            for t_i, v_i in zip(ts, vals):
                if t_i - last > gap_s and n > 0:
                    closed.append((key[0], start, last, n, total))
                    start, n, total = float(t_i), 0, 0.0
                last = float(t_i)
                n += 1
                total += float(v_i)
            state.update((start, last, n, total))
            # event-time timeout: close the session when the watermark
            # passes last_ts + gap (ms epoch)
            state.setTimeoutTimestamp(int((last + gap_s) * 1000))
        if not closed:
            yield pd.DataFrame(columns=["user_id", "session_start",
                                        "session_end", "n_events",
                                        "sum_value"])
            return
        out = pd.DataFrame(closed, columns=["user_id", "session_start",
                                            "session_end", "n_events",
                                            "sum_value"])
        out["session_start"] = pd.to_datetime(out["session_start"], unit="s")
        out["session_end"] = pd.to_datetime(out["session_end"], unit="s")
        yield out

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            # Python-boundary allowlist: stateful (per-key state across
            # micro-batches; see tests/test_stages.py)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def minhash_band_keys(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document MinHash LSH band keys as pure JVM expressions —
    identical values to textops' batch banding (rendered from textops'
    shingle, hash, permutation and band-key SQL; tests assert the
    equality) but computed WITHIN each row
    (shingle array -> transform -> array_min) instead of explode +
    groupBy. Zero shuffles and no streaming-aggregation state, so the
    same function runs on a static DataFrame and on an unbounded stream.
    Documents under 3 words have no shingles and produce no keys, like
    the batch path. Output: (id_col[, ts], band, bkey)."""
    from .textops import band_keys, minhash_perm, shingle_hash, shingles_of

    # bind the word split ONCE as a column: Spark does not CSE inside
    # higher-order-function lambdas, so inlining split() in the per-shingle
    # lambda body would re-split the full text 3x per shingle (O(words^2))
    docs = (docs.withColumn("_ws", F.split(F.col(text_col), " "))
                .selectExpr("*", f"transform({shingles_of('_ws')},"
                                 f" s -> {shingle_hash('s')}) AS _vs")
                .filter("size(_vs) >= 1"))
    keys = band_keys(lambda p: f"array_min(transform(_vs,"
                               f" v -> {minhash_perm(p, 'v')}))")
    carry = [id_col] + (["ts"] if "ts" in docs.columns else [])
    return docs.selectExpr(*carry, f"posexplode(array({', '.join(keys)}))"
                                   " AS (band, bkey)")


def streaming_minhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                            watermark: str = "2 hours",
                            horizon_ms: int = 2 * 3600 * 1000) -> DataFrame:
    """Watermark-bounded streaming MinHash-band near-dup (the incremental
    path of the engine's strongest LLM-pipeline operator): band keys come
    from the stateless :func:`minhash_band_keys`, then one stateful
    operator per (band, bkey) bucket emits a candidate pair the moment a
    new document collides with any previously-seen document in that
    bucket. Output rows are (id1, id2) with id1 < id2, appended as
    discovered; a pair agreeing on several bands is emitted once per
    band — distinct downstream, exactly like the batch LSH's candidate
    distinct.

    State per bucket is the id set seen within the horizon, evicted by an
    EVENT-time timeout when the watermark passes last-arrival + horizon —
    bounded by arrival rate x horizon like streaming_dedup, independent
    of stream length. Exact Jaccard verification stays a downstream batch
    join (state would otherwise hold full shingle sets); the streaming
    layer's contract is candidate recall, the same split a production
    crawl pipeline uses."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    sig = minhash_band_keys(docs.withWatermark("ts", watermark), id_col)
    out_schema = "id1 long, id2 long"
    state_schema = "ids array<long>"

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=["id1", "id2"])
            return
        rows = pd.concat(list(pdfs))
        known = set(state.get[0]) if state.exists else set()
        pairs = []
        for nid in sorted({int(x) for x in rows[id_col]}):
            if nid in known:
                continue
            pairs.extend((min(nid, o), max(nid, o)) for o in known)
            known.add(nid)
        state.update((sorted(known),))
        state.setTimeoutTimestamp(
            int(rows["ts"].max().timestamp() * 1000) + horizon_ms)
        if pairs:
            yield pd.DataFrame(pairs, columns=["id1", "id2"])
        else:
            yield pd.DataFrame(columns=["id1", "id2"])

    return (sig.groupBy("band", "bkey")
               # Python-boundary allowlist: stateful (per-key state across
               # micro-batches; see tests/test_stages.py)
               .applyInPandasWithState(fn, out_schema, state_schema,
                                       "append",
                                       GroupStateTimeout.EventTimeTimeout))


def streaming_dedup(events: DataFrame, key_cols=("event_id",),
                    watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key within
    the watermark horizon (dropDuplicatesWithinWatermark, the streaming
    counterpart of the batch hash-groupBy dedup_exact).

    State is one entry per distinct key seen inside the horizon and is
    evicted as the watermark advances — bounded by arrival rate x horizon,
    independent of total stream length; a plain dropDuplicates would
    accumulate state forever on an unbounded crawl feed. Re-crawled or
    replayed rows (same event_id/url) inside the horizon are dropped
    deterministically."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))
