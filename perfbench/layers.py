"""Per-layer metrics of a traced run, named after the engine's modules.

``PER_LAYER`` is the one list of names and units; every traced run prints
all of them on every workload (a layer a workload never calls reads 0).
Values are per pass (median over the run's passes) unless noted.
"""

from __future__ import annotations

import statistics

#: registry modules corpus_curation calls: the operator pipelines, then
#: the read mix's relational modules
QUERY_MODULES = (
    "similarity", "dedup", "corpus_ops", "sketch_ops", "behavior",
    "warehouse_ops", "contrastive", "training_mix",
    "relational_ext", "relational_more", "analytics", "core", "scalar_ops",
    "timeseries",
)

_SPARK = (
    ("jobs", "count"), ("build_jobs", "count"), ("stages", "count"),
    ("skipped_stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("build_s", "s"),
    ("action_s", "s"), ("driver_gap_s", "s"),
)

PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    *((f"pipeline.{st}_s", "s") for st in (
        "create_zones", "ingestion_raw_zone", "data_quality_zone",
        "trusted_data_zone", "create_dimensions_tables")),
    ("sources.input_mb", "MB"), ("sources.rows_per_s", "rows/s"),
    ("sources.schema_jobs", "count"),
    ("catalog.output_mb", "MB"), ("catalog.files_written", "count"),
    ("catalog.write_amp", "ratio"),
    *((f"snapshots.{op}_s", "s") for op in (
        "merge", "checkpoint", "read_asof", "compaction", "expire")),
    ("snapshots.files_scanned", "count"), ("snapshots.files_rewritten", "count"),
    ("snapshots.prune_ratio", "ratio"),
    ("kv.put_s", "s"), ("kv.get_s", "s"), ("kv.compact_s", "s"),
    ("channel.publish_s", "s"), ("channel.read_s", "s"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("cache.tracked_released", "count"), ("cache.storage_mb_peak", "MB"),
    *((f"spark.{k}", u) for k, u in _SPARK),
    *((f"queries.{m}.{k}", u) for m in QUERY_MODULES for k, u in (
        ("wall_s", "s"), ("jobs", "count"), ("build_jobs", "count"),
        ("driver_gap_s", "s"))),
)


def _pass_values(spans) -> dict:
    """Sums over one pass's spans."""
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for s in spans:
        c = s.counters
        add("spark.jobs", s.jobs)
        add("spark.build_jobs", s.build_jobs)
        add("spark.build_s", s.build_s)
        add("spark.action_s", s.action_s)
        for k, _ in _SPARK:
            if k in c:
                add(f"spark.{k}", c[k])
        add("sources.schema_jobs", c.get("schema_jobs", 0))
        add("cache.tracked_released", c.get("released", 0))
        for b in c.get("stream_batches", []):
            d = b["duration_ms"]
            add("streaming.batches", 1)
            add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1e3)
            add("streaming.wal_commit_s", d.get("walCommit", 0) / 1e3)
            out["streaming.state_rows"] = max(
                out.get("streaming.state_rows", 0), b["state_rows"])
        if s.module in QUERY_MODULES:
            q = f"queries.{s.module}"
            add(f"{q}.wall_s", s.wall_s)
            add(f"{q}.jobs", s.jobs)
            add(f"{q}.build_jobs", s.build_jobs)
            add(f"{q}.driver_gap_s", c.get("driver_gap_s", 0.0))
    return out


def per_layer(runner, setups: list[dict], workload_layers: dict,
              passes: int) -> dict[str, tuple[float, str]]:
    """Every ``PER_LAYER`` metric as (value, unit)."""
    per_pass = [_pass_values([s for s in runner.spans if s.pass_no == p])
                for p in range(passes)]
    values = {k: statistics.median(pp.get(k, 0.0) for pp in per_pass)
              for k in {k for pp in per_pass for k in pp}}
    values.update(workload_layers)
    values["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    values["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    values["cache.storage_mb_peak"] = max(
        (s.counters.get("storage_mb", 0.0) for s in runner.spans), default=0.0)
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER}
