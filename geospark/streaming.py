"""Structured Streaming ingest: pages stream -> points -> windowed
tile aggregation with watermarked late-data handling.

The reference is a pure batch library (SURVEY §2.8: no streaming);
this is the engine's extension for continuous crawl ingest. The same
extraction (JVM regex) and tile kernels (pure Column exprs) run
unchanged on streaming DataFrames — only the sink/trigger differ,
which is exactly the Spark promise the design leans on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospark.cells import with_tile
from geospark.extract import extract_points
from geospark.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of pages parquet drops (a crawl spool dir)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_tile_counts(pages: DataFrame, zoom: int = 8,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """pages stream -> per-(window, tile) point counts.

    Watermark bounds state: tiles for windows older than the watermark
    are finalized and evicted. Output schema:
    (window_start, window_end, tile_x, tile_y, n_points)."""
    pts = extract_points_stream(pages)
    tiled = with_tile(pts, zoom)
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"), "tile_x", "tile_y"
        )
        .agg(F.count("*").alias("n_points"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile_x", "tile_y", "n_points",
        )
    )


def sliding_tile_counts(points: DataFrame, zoom: int = 6,
                        window: str = "10 minutes",
                        slide: str = "5 minutes",
                        watermark: str = "0 seconds",
                        ts_col: str = "ts") -> DataFrame:
    """SLIDING-window trending tiles: per-(window, tile) event counts
    where consecutive windows overlap (window > slide), the
    "trending now" aggregation — each event lands in window/slide
    overlapping windows, and append mode emits a window only once the
    watermark passes its end (exactly-once finalized counts, state
    bounded by watermark eviction). The tumbling
    :func:`streaming_tile_counts` is the slide == window special
    case; the overlap is what a tumbling window cannot express
    without double-reading the stream.

    Output: (win_start, tile_x, tile_y, n_points)."""
    tiled = with_tile(points, zoom)
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window, slide).alias("w"),
            "tile_x", "tile_y",
        )
        .agg(F.count("*").alias("n_points"))
        .select(
            F.col("w.start").alias("win_start"),
            "tile_x", "tile_y", "n_points",
        )
    )


def extract_points_stream(pages: DataFrame) -> DataFrame:
    """Streaming variant of geospark.extract.extract_points: the SAME
    JVM regex plan, with the event-time column carried through per
    mention for downstream watermarked windows."""
    from geospark.extract import extract_points

    return extract_points(pages, carry_cols=["warc_ts"])


def run_to_memory(stream_df: DataFrame, query_name: str,
                  checkpoint_dir: str, output_mode: str = "complete") -> "object":
    """availableNow trigger into a memory sink — processes everything
    currently in the source then stops; used by tests and backfills.
    Aggregations use 'complete' here (append would only emit windows
    already past the watermark); production sinks use 'append' with a
    real watermark horizon."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# custom stateful operator: watermark-correct streaming sessionization
# (applyInPandasWithState — the engine's "operator Spark lacks" path
# for stateful streaming, per the design notes in SURVEY §7)
# ---------------------------------------------------------------------------
def sessionize_stream(events: DataFrame, gap_us: int = 30 * 60 * 1_000_000,
                      user_col: str = "user_id", ts_col: str = "ts",
                      watermark_delay: str = "0 seconds") -> DataFrame:
    """Per-key gap sessions over a stream, emitted EXACTLY ONCE and
    only when FINAL: a session is emitted when ``end + gap <`` the
    event-time watermark. Correctness argument (order-insensitive,
    append-mode exact): every future row has event time >= the
    watermark (later rows are dropped by the watermark filter), and a
    row at ``t >= wm > end + gap`` can neither extend the session nor
    merge into it (it is > gap past the end and cannot precede the
    start), so an emitted session can never change. Open sessions
    stay buffered in state; the batch twin (sessions.sessionize)
    restricted to watermark-closed sessions is the exact oracle —
    asserted in tests/test_sessions.py.

    State per key: the buffered event-time array (only events at or
    after the last emitted session's cutoff — emitted prefixes are
    dropped, so state size tracks OPEN sessions, not history).
    Output: (user, session_start_us, session_end_us, n_events).

    Idle keys flush too: a key whose events all arrived in earlier
    micro-batches still finalizes once the watermark passes its open
    session — each invocation arms an EventTimeTimeout at the earliest
    instant the first buffered session could close (its end + gap),
    and the timed-out invocation (empty pdf_iter) re-runs the same
    emit logic against the advanced watermark. Under NoTimeout the
    function would only ever run for keys present in the current
    batch, silently stranding closed sessions of idle keys in state.
    Keys with nothing left buffered drop their state entirely.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        (buf,) = state.get if state.exists else ([],)
        buf = list(buf)
        for pdf in pdf_iter:
            # robust to pandas datetime64 resolution ([ns] vs [us])
            ts = (pd.to_datetime(pdf[ts_col]).values
                  .astype("datetime64[us]").astype("int64"))
            buf.extend(int(t) for t in ts)
        buf.sort()
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        # split into sessions; emit every session provably final
        out = []
        cur = [buf[0]] if buf else []
        done = 0  # events consumed by emitted sessions
        for i in range(1, len(buf)):
            if buf[i] - buf[i - 1] > gap_us:
                if cur[-1] + gap_us < wm_us:
                    out.append((key[0], cur[0], cur[-1], len(cur)))
                    done += len(cur)
                cur = [buf[i]]
            else:
                cur.append(buf[i])
        # the trailing session is final only if the watermark passed it
        if cur and cur[-1] + gap_us < wm_us:
            out.append((key[0], cur[0], cur[-1], len(cur)))
            done += len(cur)
        rest = buf[done:]
        if rest:
            state.update((rest,))
            # wake this key (even with no new data) when the FIRST
            # remaining session could finalize: its current end + gap.
            # Spark requires the timeout to sit above the watermark;
            # firing early just re-checks and re-arms.
            first_end = rest[0]
            for j in range(1, len(rest)):
                if rest[j] - rest[j - 1] > gap_us:
                    break
                first_end = rest[j]
            state.setTimeoutTimestamp(
                max((first_end + gap_us) // 1000 + 1, wm_ms + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=["user", "session_start_us",
                              "session_end_us", "n_events"],
            )

    stream = events.withColumn("_wts", F.col(ts_col).cast("timestamp")) \
        .withWatermark("_wts", watermark_delay)
    utype = events.schema[user_col].dataType.simpleString()  # real key type
    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=(f"user {utype}, session_start_us long, "
                         "session_end_us long, n_events long"),
        stateStructType="buf array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# incremental materialized view: streaming tile counts maintained in a
# SnapshotTable (merge-on-read deltas + bounded compaction)
# ---------------------------------------------------------------------------
def maintain_tile_counts(pages_stream: DataFrame, table_path: str,
                         checkpoint_dir: str, zoom: int = 8,
                         compact_every: int = 8,
                         expire_on_compact: bool = True):
    """Continuously maintain a per-tile point-count table from a pages
    stream — the streaming half of raster<->vector (tile_rollup is the
    batch half). Per micro-batch, ``foreachBatch``:

      1. aggregates the batch to per-tile COUNT DELTAS (tiny);
      2. commits them as a file-level APPEND snapshot — O(delta)
         write, the base table is never rewritten per batch;
      3. every ``compact_every`` batch commits, rewrites the
         merge-on-read view into one compacted snapshot so the
         manifest chain (and read fan-in) stays bounded.

    Readers use :func:`read_tile_counts` (sum over delta files —
    merge-on-read, Iceberg-style). Exactly-once across retries:
    foreachBatch can replay a batch after a crash, so each commit
    records ``batch-<id>`` in its manifest and a replayed id is
    SKIPPED before any write. Resume comes for free: the stream
    checkpoint replays only unprocessed source files, and the table's
    snapshot chain is the audit trail (per-batch rows, wall time and
    per-file row/byte counts read from the delta files' parquet
    footers — the north rule's lineage metrics, at no extra job).

    Bounded state: the committed-stage set is read from disk ONCE and
    cached in the writer, and each commit is one Spark job that parses
    only its parent manifest (per-batch work stays O(1) instead of
    re-parsing every manifest each micro-batch), and with
    ``expire_on_compact`` each compaction also expires the delta
    snapshots it folded in (data dirs deleted, manifests kept as
    replay markers) — disk tracks the live view, not all history."""
    from geospark.runtime import SnapshotTable

    pts = extract_points_stream(pages_stream)
    tiled = with_tile(pts, zoom)
    cache: dict[str, object] = {}  # committed stages, seeded on first batch

    def merge(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        st = SnapshotTable(spark, table_path)
        if "stages" not in cache:
            cache["stages"] = {m["stage"] for m in st._manifests()}
            cache["n_batches"] = sum(
                1 for s in cache["stages"] if s.startswith("batch-"))
        stages = cache["stages"]
        if f"batch-{batch_id}" in stages:
            return  # crash-replay of an already-committed batch
        delta = bdf.groupBy("tile_x", "tile_y").agg(
            F.count("*").alias("n_points")
        )
        st.write(delta, stage=f"batch-{batch_id}", mode="append")
        stages.add(f"batch-{batch_id}")
        cache["n_batches"] += 1
        if compact_every and cache["n_batches"] % compact_every == 0:
            st.write(read_tile_counts(st), stage=f"compact-{batch_id}",
                     mode="overwrite")
            stages.add(f"compact-{batch_id}")
            if expire_on_compact:
                st.expire(keep_last=1)

    return (
        tiled.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_tile_counts(st) -> DataFrame:
    """Merge-on-read view of a maintain_tile_counts table: sum the
    delta snapshots per tile. After a compaction the chain restarts
    from one file set, so the fan-in stays ~compact_every."""
    return (
        st.read()
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n_points").alias("n_points"))
    )


def dedup_pages_stream(pages_stream: DataFrame,
                       key: str = "url",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup of the crawl: keep the FIRST arrival of
    each ``key`` within the watermark horizon. Spark-first: the
    built-in ``dropDuplicatesWithinWatermark`` is the right operator —
    state holds one entry per distinct key seen inside the horizon and
    is evicted past it, so memory is bounded by (arrival rate x
    horizon), not by corpus size. A re-crawl of the same url BEYOND
    the horizon re-emits — the documented contract (batch exact_dedup
    is the full-corpus complement downstream)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )


def geofence_stream(points: DataFrame, areas: list,
                    user_col: str = "user_id", ts_col: str = "ts",
                    lat_col: str = "lat", lng_col: str = "lng",
                    watermark_delay: str = "0 seconds") -> DataFrame:
    """Geofence ENTER/EXIT transitions per user against a small
    polygon layer (list of joins.Area, <= 63 fences — membership
    packs into one BIGINT state mask), emitted EXACTLY ONCE and only
    when FINAL: an event is processed once the event-time watermark
    passes its timestamp, so no late row can land between two
    already-compared positions and invalidate an emitted transition.
    Same append-mode exactness contract as sessionize_stream.

    Semantics: users start outside every fence; for each finalized
    event (per user, ordered by ts — ties broken by lat, lng) the
    point-in-multipolygon mask (joins.area_contains — the batch
    engine's exact kernel, holes honored) is XOR-diffed against the
    previous mask; each flipped bit emits (user, ts_us, fence_id,
    'enter'|'exit'). A point in several fences transitions each
    independently.

    State per user: last finalized mask + timestamp, plus the buffer
    of not-yet-final events — buffered rows drain as the watermark
    advances; the (mask, ts) pair persists for the user's lifetime
    (one row per active user, the geofencing floor). Idle keys flush
    buffered finals via EventTimeTimeout exactly like
    sessionize_stream (without it a key absent from the current batch
    would strand its final transitions in state).

    Output: (user, ts_us, fence_id, transition)."""
    import numpy as np

    from pyspark.sql.streaming.state import GroupStateTimeout

    from geospark.joins import area_contains

    if len(areas) > 63:
        raise ValueError(
            "geofence_stream packs membership into one int64 mask — "
            "at most 63 fences (shard the layer for more)"
        )
    fence_ids = [int(a.area_id) for a in areas]
    areas = list(areas)

    # bbox prefilter per fence — the streaming twin of the batch cover
    # join: inside-ring implies within-bbox, so the exact ray-cast only
    # runs on bbox candidates (matters with densified multi-hundred-
    # edge fences; a walker corpus is mostly outside any given bbox)
    boxes = [a.bbox() for a in areas]

    def mask_of(lats, lngs):
        m = np.zeros(len(lats), dtype=np.int64)
        for bit, (area, (la0, ln0, la1, ln1)) in enumerate(zip(areas, boxes)):
            cand = ((lats >= la0) & (lats <= la1)
                    & (lngs >= ln0) & (lngs <= ln1))
            if cand.any():
                idx = np.flatnonzero(cand)
                hit = np.zeros(len(lats), dtype=np.int64)
                hit[idx] = area_contains(area, lats[idx], lngs[idx]).astype(
                    np.int64)
                m |= hit << bit
        return m

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            last_mask, _last_ts, b_ts, b_lat, b_lng = state.get
            buf = list(zip(b_ts, b_lat, b_lng))
        else:
            last_mask, _last_ts, buf = 0, -1, []
        for pdf in pdf_iter:
            ts = (pd.to_datetime(pdf[ts_col]).values
                  .astype("datetime64[us]").astype("int64"))
            la = pdf[lat_col].to_numpy(dtype=float)
            ln = pdf[lng_col].to_numpy(dtype=float)
            buf.extend((int(t), float(a), float(o))
                       for t, a, o in zip(ts, la, ln))
        buf.sort()
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        n_final = 0
        while n_final < len(buf) and buf[n_final][0] < wm_us:
            n_final += 1
        out = []
        if n_final:
            fin = buf[:n_final]
            masks = mask_of(np.array([r[1] for r in fin]),
                            np.array([r[2] for r in fin]))
            prev = int(last_mask)
            for (t, _, _), m in zip(fin, masks):
                changed, m = prev ^ int(m), int(m)
                bit = 0
                while changed:
                    if changed & 1:
                        out.append((
                            key[0], int(t), fence_ids[bit],
                            "enter" if (m >> bit) & 1 else "exit",
                        ))
                    changed >>= 1
                    bit += 1
                prev = m
            last_mask, _last_ts = prev, fin[-1][0]
        rest = buf[n_final:]
        state.update((
            int(last_mask), int(_last_ts),
            [r[0] for r in rest], [r[1] for r in rest],
            [r[2] for r in rest],
        ))
        if rest:
            # wake this key when its oldest buffered event can finalize
            state.setTimeoutTimestamp(max(rest[0][0] // 1000 + 1,
                                          wm_ms + 1))
        if out:
            yield pd.DataFrame(
                out, columns=["user", "ts_us", "fence_id", "transition"],
            )

    stream = points.withColumn("_wts", F.col(ts_col).cast("timestamp")) \
        .withWatermark("_wts", watermark_delay)
    utype = points.schema[user_col].dataType.simpleString()
    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=(f"user {utype}, ts_us long, fence_id long, "
                          "transition string"),
        stateStructType=("last_mask long, last_ts long, b_ts array<long>, "
                         "b_lat array<double>, b_lng array<double>"),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
