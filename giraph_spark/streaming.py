"""Structured Streaming surface: incremental edge/page ingestion.

The reference has no streaming subsystem (BSP supersteps are its only
notion of time — SURVEY.md §2.7); this module adds the Spark-native
streaming capabilities a continuously-crawled corpus needs:

- ``read_page_stream`` / ``read_edge_stream``: file-source streams over
  the same schemas the batch engine uses (new crawl shards land as
  parquet files; each micro-batch picks them up).
- ``windowed_degree_counts``: event-time tumbling/sliding window of
  in-degree per target with a watermark for late pages — the streaming
  twin of ``graph.in_degrees``.
- ``streaming_link_extract``: the same Arrow-vectorized href extraction
  as the batch path (``corpus.extract_links``) applied to a stream —
  mapInPandas is supported unchanged on streaming DataFrames.
- ``incremental_edge_sink``: append-mode parquet sink; the batch engine
  re-runs PageRank over the accumulated table (the idiomatic
  batch-over-growing-table pattern for iterative algorithms, which are
  not expressible as a single incremental streaming query).

Everything is testable locally with ``trigger(availableNow=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
EDGE_SCHEMA = "src long, dst long, event_ts timestamp"


def read_page_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_edge_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EDGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_link_extract(pages: DataFrame) -> DataFrame:
    """href extraction on a page stream — reuses the batch Arrow UDF
    (mapInPandas is streaming-compatible; per-row invariant unchanged)."""
    from giraph_spark.corpus import extract_links

    return extract_links(pages)


def windowed_degree_counts(
    edges: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    ts_col: str = "event_ts",
) -> DataFrame:
    """Per-window in-degree per target vertex with late-data handling:
    ``groupBy(window(ts), dst).count()`` after a watermark — state is
    bounded by (watermark / slide) windows per key, so it holds at
    arbitrary stream length."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        edges.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), F.col("dst"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "dst",
            "in_degree",
        )
    )


def incremental_edge_sink(
    edges: DataFrame, path: str, checkpoint: str, available_now: bool = True
):
    """Append new edges to the growing parquet table (exactly-once via the
    checkpoint dir); returns the StreamingQuery. The batch engine reads
    the same path for the next PageRank run."""
    writer = (
        edges.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_first_seen(
    pages: DataFrame,
    key_col: str = "url",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Exactly-once *first-seen* filter over a keyed page stream: emit each
    key the first micro-batch it appears in, drop every later re-crawl.

    The custom stateful operator the batch engine cannot express as a
    windowed aggregate: per-key boolean state via
    ``applyInPandasWithState`` (Arrow-batched; state is one tiny row per
    key, optionally expired after ``ttl_minutes`` of processing time so
    the state store is bounded on an unbounded crawl).

    Reference analog: none (Giraph has no streaming — SURVEY.md §2.7);
    semantics follow the reference's duplicate-vertex resolution idea
    (first writer wins, graph/DefaultVertexResolver.java:48-70) applied
    to a stream.

    ``ttl_minutes`` is for long-running processing-time-triggered
    deployments only: timers never fire under ``availableNow`` (the
    drain trigger keeps scheduling no-data batches waiting for them),
    so tests and catch-up drains must use the default ``None``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key string, warc_ts timestamp, n_dropped long"
    state_schema = "seen boolean"

    def dedup(key, pdf_iter, state: GroupState):
        import pandas as pd

        if ttl_minutes is not None and state.hasTimedOut:
            # key idle past the TTL: forget it (bounded state store);
            # the next crawl of this key counts as first-seen again.
            state.remove()
            return iter(())
        first_row = None
        dropped = 0
        for pdf in pdf_iter:
            if not state.exists and first_row is None and len(pdf):
                first_row = pdf.iloc[0]
                dropped += len(pdf) - 1
            else:
                dropped += len(pdf)
        seen_before = state.exists
        state.update((True,))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if seen_before or first_row is None:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    {
                        "key": [key[0]],
                        "warc_ts": [first_row["warc_ts"]],
                        "n_dropped": [dropped],
                    }
                )
            ]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        pages.select(F.col(key_col).cast("string").alias("key"), "warc_ts")
        .groupBy("key")
        .applyInPandasWithState(dedup, out_schema, state_schema, "append", timeout)
    )


def running_degree_totals(edges: DataFrame) -> DataFrame:
    """Cumulative in-degree per target across the whole stream so far —
    an unbounded running aggregate (no window), kept as one counter per
    vertex in the state store and emitted once per micro-batch in which
    the vertex receives edges. The streaming twin of
    ``graph.in_degrees`` when totals-to-date (not per-window counts)
    are wanted."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "dst long, in_degree_total long"
    state_schema = "total long"

    def acc(key, pdf_iter, state: GroupState):
        import pandas as pd

        batch = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + batch
        state.update((total,))
        if batch == 0:
            return iter(())
        return iter(
            [pd.DataFrame({"dst": [key[0]], "in_degree_total": [total]})]
        )

    return (
        edges.select("dst")
        .groupBy("dst")
        .applyInPandasWithState(
            acc, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
):
    """Drain a streaming DataFrame into an in-memory table with
    availableNow (test/debug harness; mirrors the reference's in-memory
    output format, io/formats/InMemoryVertexOutputFormat.java)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_pagerank(
    spark: SparkSession,
    stream_edges: DataFrame,
    checkpoint: str,
    on_batch,
    tolerance: float = 1e-6,
    max_supersteps: int = 50,
    available_now: bool = True,
):
    """Continuous link-graph ranking: each micro-batch's edges fold into
    the accumulated graph and PageRank re-converges WARM-STARTED from the
    previous batch's ranks (``pagerank(init_ranks=...)``) — the steady-
    state cost per batch is proportional to how far the new edges moved
    the fixpoint, not to the graph size from scratch.

    ``foreachBatch`` is the right Spark shape: an iterative multi-pass
    algorithm cannot run inside a single streaming epoch, so the stream
    delivers exactly-once batches (checkpoint dir) and the batch engine
    ranks the growing table. ``on_batch(batch_id, run)`` receives each
    batch's PregelRun; the accumulated edge/rank state lives across
    batches in driver scope. Returns the StreamingQuery.

    Memory: the cross-batch snapshots (edges, ranks) are re-cut and the
    superseded blocks released every batch; each batch's ``run.vertices``
    stays readable (it backs ``on_batch``) at one V-row block per batch —
    an unbounded production stream should sink ranks per batch and drop
    the run instead of retaining it.
    """
    from giraph_spark.algorithms.pagerank import pagerank
    from giraph_spark.pregel import LineageCuts

    state: dict[str, object] = {"edges": None, "ranks": None}
    # releases each batch's superseded snapshot blocks. Not entered as a
    # scope: the snapshots outlive this call, and a batch frees the old
    # snapshot only after its own actions on the new one have returned
    cuts = LineageCuts(spark.sparkContext)

    def handle(batch: DataFrame, batch_id: int) -> None:
        new_e = batch.select("src", "dst")
        acc = new_e if state["edges"] is None else state["edges"].unionByName(new_e)
        # accumulated graph must survive across foreachBatch calls: the
        # batch frame itself is only valid within this call, so cut to a
        # materialized table (same lineage-cut discipline as the engine);
        # the width would otherwise grow by one narrow union per batch
        acc = acc.dropDuplicates(["src", "dst"])
        acc = cuts.cut(acc, "edges")
        state["edges"] = acc
        run = pagerank(
            spark,
            acc,
            tolerance=tolerance,
            max_supersteps=max_supersteps,
            init_ranks=state["ranks"],
        )
        state["ranks"] = cuts.cut(run.vertices, "ranks")
        on_batch(batch_id, run)

    writer = stream_edges.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
