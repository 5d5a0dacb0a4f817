"""Metric catalogue: every metric the benchmark prints, with its unit, its
direction, and — for a layer metric — the end-to-end metric and workloads
it should move. ``BENCHMARK.json`` lists the same names (checked by the
self-tests); README.md shows the layer map.
"""

from __future__ import annotations

WORKLOADS = ("batch_flagship", "polygon_join", "stream_ingest", "staged_checkpoint")
ALL = "all"

# name, unit, better
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pages_per_s", "pages/s", "higher"),
    ("job_s.p50", "s", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
)

# name, unit, better, moves, on
PER_LAYER = (
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("sources.materialize_s", "s", "lower", "setup_s", ALL),
    ("sources.scan_s", "s", "lower", "pages_per_s", "batch_flagship"),
    ("sources.scan_bytes", "bytes", "lower", "pages_per_s", "batch_flagship"),
    ("sources.scan_rows", "rows", "higher", "pages_per_s", "batch_flagship"),
    ("extract.self_s", "s", "lower", "job_s.p50", "batch_flagship stream_ingest"),
    ("extract.rows_in", "rows", "higher", "pages_per_s", "batch_flagship stream_ingest"),
    ("extract.rows_out", "rows", "higher", "pages_per_s", "batch_flagship stream_ingest"),
    ("extract.geo_ratio", "ratio", "higher", "pages_per_s", "batch_flagship stream_ingest"),
    ("spatial_join.self_s", "s", "lower", "job_s.p50", "polygon_join batch_flagship"),
    ("spatial_join.covering_build_s", "s", "lower", "setup_s", "polygon_join batch_flagship"),
    ("spatial_join.broadcast_bytes", "bytes", "lower", "job_s.p50", "polygon_join batch_flagship"),
    ("spatial_join.broadcast_build_s", "s", "lower", "job_s.p50", "polygon_join batch_flagship"),
    ("spatial_join.candidate_rows", "rows", "lower", "job_s.p50", "polygon_join batch_flagship"),
    ("spatial_join.refine_rows", "rows", "lower", "job_s.p50", "polygon_join"),
    ("spatial_join.match_ratio", "ratio", "higher", "job_s.p50", "polygon_join batch_flagship"),
    ("spatial_join.python_s", "s", "lower", "job_s.p50", "polygon_join"),
    ("spatial_join.shuffle_bytes", "bytes", "lower", "job_s.p50", "polygon_join"),
    ("tile.self_s", "s", "lower", "job_s.p50", "batch_flagship polygon_join"),
    ("agg.self_s", "s", "lower", "job_s.p50", "batch_flagship staged_checkpoint"),
    ("agg.build_s", "s", "lower", "job_s.p50", "batch_flagship staged_checkpoint"),
    ("agg.shuffle_records", "rows", "lower", "job_s.p50", "batch_flagship staged_checkpoint"),
    ("agg.shuffle_bytes", "bytes", "lower", "job_s.p50", "batch_flagship staged_checkpoint"),
    ("agg.spill_bytes", "bytes", "lower", "job_s.p50", "batch_flagship staged_checkpoint"),
    ("agg.peak_mem_bytes", "bytes", "lower", "peak_rss_mb", "batch_flagship staged_checkpoint"),
    ("pipeline.stage_wall_s.extract", "s", "lower", "job_s.p50", "staged_checkpoint"),
    ("pipeline.stage_wall_s.pip_join", "s", "lower", "job_s.p50", "staged_checkpoint"),
    ("pipeline.stage_wall_s.zone_tile_agg", "s", "lower", "job_s.p50", "staged_checkpoint"),
    ("pipeline.bytes_written", "bytes", "lower", "job_s.p50", "staged_checkpoint"),
    ("pipeline.files_written", "files", "lower", "job_s.p50", "staged_checkpoint"),
    ("ingest.drain_s", "s", "lower", "job_s.p50", "stream_ingest"),
    ("ingest.add_batch_ms", "ms", "lower", "job_s.p50", "stream_ingest"),
    ("ingest.planning_ms", "ms", "lower", "job_s.p50", "stream_ingest"),
    ("ingest.latest_offset_ms", "ms", "lower", "job_s.p50", "stream_ingest"),
    ("ingest.wal_commit_ms", "ms", "lower", "job_s.p50", "stream_ingest"),
    ("ingest.rows_per_drain", "rows", "higher", "pages_per_s", "stream_ingest"),
    ("windowed.drain_s", "s", "lower", "job_s.p50", "stream_ingest"),
    ("windowed.state_rows", "rows", "lower", "peak_rss_mb", "stream_ingest"),
    ("windowed.state_mem_bytes", "bytes", "lower", "peak_rss_mb", "stream_ingest"),
    ("windowed.late_rows_dropped", "rows", "lower", "job_s.p50", "stream_ingest"),
    ("spark.task_s", "s", "lower", "job_s.p50", ALL),
    ("spark.busy_share", "ratio", "higher", "job_s.p50", ALL),
    ("spark.gc_s", "s", "lower", "job_s.p50", ALL),
    ("spark.fetch_wait_s", "s", "lower", "job_s.p50", ALL),
    ("spark.tasks_failed", "count", "lower", "job_s.p50", ALL),
    ("trace.overhead_s", "s", "lower", "job_s.p50", ALL),
    ("trace.self_sum_ratio", "ratio", "lower", "job_s.p50", ALL),
)

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def result_metrics(values: dict[str, float], traced: bool) -> dict[str, dict]:
    """The ``metrics`` object of the result line: every end-to-end metric
    (untraced) or every layer metric (traced), each with its unit. A layer
    the workload does not run reads 0."""
    names = [m[0] for m in (PER_LAYER if traced else END_TO_END)]
    return {n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names}
