"""The closed-loop workloads and the op runner they share.

One client issues one op at a time, each after the previous one returned.
An op is a ``build`` call (plan construction, including any Spark jobs the
engine runs while building) followed by an ``action`` call; both are timed.
Between ops the runner releases the engine's tracked persists
(``cache.release_tracked``) outside the timing, as the engine's own sweep
harness does.

Each workload takes its inputs from the seed (untimed): elt_medallion
generates them, corpus_curation orders its entries by it. It runs passes
and checks every op's output afterwards (untimed).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import statistics
import time

import numpy as np

import gen
from spans import JobTracer, Span, StreamProgress, now_ms

_MB = 1024.0 * 1024.0
#: the sf0.001 test fixture tables (TPC-H-shaped star schema plus events,
#: documents and embeddings) the registry entries and their oracles use
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "sf0.001")


class Runner:
    """Runs ops, records one :class:`Span` each and, when traced, the jobs
    each op caused. ``bookkeeping_s`` is time the runner itself spent
    between ops on tracing; pass walls exclude it."""

    def __init__(self, spark, traced: bool):
        from data_engineer_development_spark.cache import release_tracked

        self.spark = spark
        self.traced = traced
        self.tracer = JobTracer(spark)
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._release = release_tracked
        self.stream = None
        if traced:
            self.stream = StreamProgress()
            spark.streams.addListener(self.stream)

    def op(self, pass_no: int, name: str, module: str, build, action=None):
        """Run one op; returns the action's result, or None if it raised."""
        span = Span(name, module, pass_no)
        tr = self.tracer if self.traced else None
        if tr:
            span.first_job = tr.next_job()
            seen_batches = len(self.stream.batches)
        span.start_epoch_ms = now_ms()
        t0 = time.perf_counter()
        result = None
        try:
            obj = build()
            t1 = time.perf_counter()
            if tr:
                span.build_end_job = tr.next_job()
            t1b = time.perf_counter()
            result = action(obj) if action is not None else obj
            t2 = time.perf_counter()
            span.build_s, span.action_s = t1 - t0, t2 - t1b
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            span.error = f"{type(exc).__name__}: {exc}"[:500]
            span.build_s = time.perf_counter() - t0
            result = None
        span.end_epoch_ms = now_ms()
        t3 = time.perf_counter()
        if tr:
            span.end_job = tr.next_job()
            if not span.build_end_job:
                span.build_end_job = span.end_job
            span.counters["storage_mb"] = tr.storage_mb()
        released = self._release()
        if tr:
            span.counters["released"] = released
            tr.flush()
            tr.harvest(span)
            span.counters["stream_batches"] = self.stream.batches[seen_batches:]
            self.bookkeeping_s += time.perf_counter() - t3
        self.spans.append(span)
        return result


def _registry_action(df):
    """Collect the result once: the rows are both the op's action and the
    output the oracle check reads afterwards."""
    return list(df.columns), [tuple(r) for r in df.collect()]


class CorpusCuration:
    """Multi-job operator pipelines from the query registry — build-time
    driver loops (Lloyd collects, checkpoints, a streaming run), Arrow
    kernels and job-count-bound sequences — interleaved with a short
    read-only relational mix whose ops are bound by per-job constants.

    The entries read the repository's sf0.001 fixture tables, copied
    unchanged into ``fixtures/``. The seed orders the mix; each op's rows
    are checked against the entry's DuckDB ``ORACLE`` SQL with the oracle
    harness's normalization."""

    name = "corpus_curation"
    # One pass must fit the run budget (README: run budget), so the mix
    # keeps one entry per mechanism: Lloyd-trained semdedup, the streaming
    # gate, clustering rounds, LSH, md5-hash sketches, a graph self-join,
    # contrastive mining, sequence packing.
    corpus_entries = (
        "semantic_dedup", "stream_neardup_gate", "dedup_survivorship",
        "dedup_minhash_lsh", "er_candidate_pairs", "cms_freq",
        "join_size_estimate", "triangle_count", "hard_negative_mining",
        "pack_sequences",
    )
    #: one read-only entry per relational read module (relational_ext,
    #: relational_more, analytics, core, scalar_ops, batch timeseries);
    #: each runs no Spark job at build time beyond parquet footer reads
    read_entries = (
        "grouping_sets_lineitem", "ntile_deciles", "window_topk_per_segment",
        "column_prune_filter", "json_extract", "tumbling_hourly",
    )

    #: the warm-up op: the engine's flagship entry (scan, filter,
    #: aggregate, sort), which is not in the measured mix
    warmup_entry = "pricing_summary"

    def __init__(self, seed: int):
        self.sf_dir = FIXTURES
        entries = self.corpus_entries + self.read_entries
        self.order = [entries[i] for i in
                      np.random.default_rng(seed).permutation(len(entries))]
        self.results: dict[str, list] = {}

    def generate(self) -> dict:
        """Nothing to generate. Counts the rows a pass reads: for each
        entry, the rows of every fixture table its oracle SQL names."""
        import pyarrow.parquet as pq

        from data_engineer_development_spark.queries import all_oracles
        from tests.oracle_harness import TABLE_NAMES

        rows = {t: pq.read_metadata(os.path.join(self.sf_dir, f"{t}.parquet")).num_rows
                for t in TABLE_NAMES}
        oracles = all_oracles()
        self.throughput_rows = sum(
            rows[t] for e in self.order for t in TABLE_NAMES
            if re.search(rf"\b{t}\b", oracles[e], re.IGNORECASE))
        return {"fixture_rows": rows, "rows_read_per_pass": self.throughput_rows}

    def warm_up(self, spark) -> None:
        from data_engineer_development_spark.queries import all_queries

        all_queries()[self.warmup_entry](spark, self.sf_dir).collect()

    def run_pass(self, runner: Runner, pass_no: int) -> None:
        from data_engineer_development_spark.queries import all_queries

        queries = all_queries()
        for entry in self.order:
            fn = queries[entry]
            module = fn.__module__.rsplit(".", 1)[-1]
            out = runner.op(
                pass_no, entry, module,
                lambda fn=fn: fn(runner.spark, self.sf_dir),
                _registry_action,
            )
            self.results.setdefault(entry, []).append(out)

    def verify(self, spark) -> list[str]:
        from data_engineer_development_spark.queries import all_oracles
        from tests.oracle_harness import _normalize_rows, duckdb_conn

        oracles = all_oracles()
        failures = []
        con = duckdb_conn(self.sf_dir)
        try:
            for entry, outs in self.results.items():
                tbl = con.execute(oracles[entry]).arrow()
                dcols = list(tbl.column_names)
                want = _normalize_rows(
                    dcols, [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]
                )
                for i, out in enumerate(outs):
                    if out is None:
                        continue  # the op raised; already counted
                    cols, rows = out
                    if sorted(cols) != sorted(dcols) or _normalize_rows(cols, rows) != want:
                        failures.append(f"{entry}[{i}]: differs from its oracle")
        finally:
            con.close()
        return failures

    def layer_metrics(self, runner: Runner) -> dict:
        return {}


class EltMedallion:
    """The reference's own job plus an incremental day on top of it.

    Per pass: the medallion pipeline end to end and the dims read back;
    a snapshot-logged copy of TRUSTED receiving the seeded CDC batches,
    then checkpoint, as-of read, compaction and expiry; a small KV
    run-record and channel publish step."""

    name = "elt_medallion"
    rows = 20_000
    warmup_rows = 2_000
    cdc_batches = 1
    cdc_frac = 0.02
    seed_files = 4

    def __init__(self, data_dir: str, seed: int, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.passes: list[dict] = []

    def generate(self) -> dict:
        self.cc = gen.civil_cases(
            os.path.join(self.data_dir, "landing"), self.rows, self.seed,
            self.cdc_batches, self.cdc_frac,
        )
        gen.civil_cases(
            os.path.join(self.data_dir, "warm"), self.warmup_rows,
            self.seed + 1, 0, 0.0,
        )
        self.throughput_rows = self.cc.rows
        return {"landing_rows": self.cc.rows,
                "landing_mb": self.cc.landing_bytes / _MB,
                "cdc_batches": self.cdc_batches}

    def warm_up(self, spark) -> None:
        """The typed landing read and quality projection over a small
        file, into the noop sink."""
        from data_engineer_development_spark.medallion import RAW_SCHEMA, quality_select
        from data_engineer_development_spark.sources import read_typed_csv

        landing = os.path.join(self.data_dir, "warm", "civil_cases.tsv")
        raw = read_typed_csv(spark, landing, RAW_SCHEMA, sep="\t", header=True)
        quality_select(raw).write.format("noop").mode("overwrite").save()

    def run_pass(self, runner: Runner, p: int) -> None:
        from pyspark.sql import functions as F

        from data_engineer_development_spark.channel import Channel, build_transfer_messages
        from data_engineer_development_spark.kv import KVStore
        from data_engineer_development_spark.medallion import (
            DIM_DECODES, RAW_SCHEMA, quality_select, run_civil_cases_pipeline,
        )
        from data_engineer_development_spark.operators import snapshots as S
        from data_engineer_development_spark.sources import read_typed_csv

        spark = runner.spark
        prefix = f"p{p}_"
        base = os.path.join(self.work_dir, f"snap_p{p}")
        rec = {"prefix": prefix, "base": base, "merges": []}
        self.passes.append(rec)
        cc = self.cc

        stages = runner.op(
            p, "pipeline.run", "pipeline",
            lambda: run_civil_cases_pipeline(spark, cc.landing_path, prefix),
            lambda pipe: pipe.run(spark),
        )
        rec["stages"] = {s.name: s.seconds for s in stages or []}

        dims = [f"Dim{k.capitalize()}" for k in DIM_DECODES]
        rec["dims"] = runner.op(
            p, "dims.read", "catalog",
            lambda: {d: spark.table(f"{prefix}dimensions.{d}") for d in dims},
            lambda frames: {d: {tuple(r) for r in df.collect()}
                            for d, df in frames.items()},
        )

        trusted = spark.table(f"{prefix}trusted.civil_cases")
        key = F.col("DOCKET")
        lo, width = 100_000, -(-cc.rows // self.seed_files)
        runner.op(
            p, "snapshots.seed", "snapshots",
            lambda: {f"t{i}": trusted.filter((key - lo) / width >= i)
                     .filter((key - lo) / width < i + 1)
                     for i in range(self.seed_files)},
            lambda adds: S.append_snapshot(
                spark, base, 1, adds, stats_key="DOCKET", auto_stats=True),
        )
        version = 1
        for b, batch in enumerate(cc.cdc):
            version += 1

            def upserts(batch=batch):
                updates = trusted.filter(key.isin(batch.update_keys)).withColumn(
                    "STATUSCD", F.lit("L"))
                inserts = quality_select(read_typed_csv(
                    spark, batch.insert_path, RAW_SCHEMA, sep="\t", header=True))
                deletes = trusted.filter(key.isin(batch.delete_keys)).select("DOCKET")
                return updates.unionByName(inserts), deletes

            rec["merges"].append(runner.op(
                p, "snapshots.merge", "snapshots", upserts,
                lambda frames, v=version: S.merge_cdc(
                    spark, base, v, frames[0], frames[1], "DOCKET"),
            ))
        runner.op(p, "snapshots.checkpoint", "snapshots",
                  lambda: S.checkpoint_log(spark, base))
        rec["asof_rows"] = runner.op(
            p, "snapshots.read_asof", "snapshots",
            lambda v=version: S.read_asof(spark, base, v, dv_key="DOCKET"),
            lambda df: [tuple(r) for r in df.select("DOCKET", "STATUSCD").collect()],
        )
        version += 1
        runner.op(
            p, "snapshots.compaction", "snapshots",
            lambda v=version: S.plan_compaction(spark, base, v - 1, 1 << 62),
            lambda groups, v=version: S.apply_compaction(
                spark, base, v, groups, dv_key="DOCKET"),
        )
        runner.op(p, "snapshots.expire", "snapshots",
                  lambda v=version: S.expire_versions(spark, base, v))
        rec["version"] = version

        run_id = f"run-{self.seed}-{p}"
        record = {k: f"{v:.3f}" for k, v in rec["stages"].items()}
        store = KVStore(spark, os.path.join(self.work_dir, f"kv_p{p}"))
        runner.op(p, "kv.put", "kv",
                  lambda: store.put_many("pipeline_run", {run_id: record}))
        rec["kv_get"] = runner.op(p, "kv.get", "kv",
                                  lambda: store.get("pipeline_run", run_id))
        rec["kv_expect"] = {"kind": "pipeline_run", "key": run_id, **record}
        runner.op(p, "kv.compact", "kv", store.compact)

        day = dt.date(2021, 1, 1) + dt.timedelta(days=self.seed % 365 + p)
        msgs = build_transfer_messages(
            [{"source": f"gs://landing/{prefix}{{date}}/cases.tsv",
              "destination": "gs://raw/civil_cases", "remove_file": True}],
            day.isoformat(), f"{day.isoformat()}T00:00:00+00:00",
        )
        chan = Channel(os.path.join(self.work_dir, f"chan_p{p}"), "transfer")
        runner.op(p, "channel.publish", "channel", lambda: chan.publish(msgs))
        rec["messages"] = msgs
        rec["read"] = runner.op(
            p, "channel.read", "channel", lambda: chan.read_batch(spark),
            lambda df: [r.asDict() for r in df.collect()],
        )

    def verify(self, spark) -> list[str]:
        """Checks against what the generator knows; one failure per
        mismatching check."""
        from data_engineer_development_spark.operators.snapshots import read_asof

        cc, bad = self.cc, []
        for p, rec in enumerate(self.passes):
            for zone in ("raw", "trusted"):
                try:
                    n = spark.table(f"{rec['prefix']}{zone}.civil_cases").count()
                except Exception as exc:  # noqa: BLE001 — a missing table is a failure
                    n = f"unreadable ({type(exc).__name__})"
                if n != cc.rows:
                    bad.append(f"pass {p}: {zone} rows {n} != landing {cc.rows}")
            if rec.get("dims") != cc.dims:
                bad.append(f"pass {p}: dimension tables differ from the landing codes")
            if _status_map(rec.get("asof_rows")) != cc.final_status:
                bad.append(f"pass {p}: read_asof differs from the post-CDC table "
                           "(DOCKET -> STATUSCD)")
            try:
                final = read_asof(spark, rec["base"], rec["version"], dv_key="DOCKET")
                rows = [tuple(r) for r in final.select("DOCKET", "STATUSCD").collect()]
            except Exception:  # noqa: BLE001 — an unreadable table is a failure
                rows = None
            if _status_map(rows) != cc.final_status:
                bad.append(f"pass {p}: compacted table differs from the post-CDC "
                           "table (DOCKET -> STATUSCD)")
            if rec.get("kv_get") != rec["kv_expect"]:
                bad.append(f"pass {p}: kv.get returned {rec.get('kv_get')!r}")
            if _as_sets(rec.get("read") or []) != _as_sets(rec["messages"]):
                bad.append(f"pass {p}: channel read differs from what was published")
        return bad

    def layer_metrics(self, runner: Runner) -> dict:
        """Per-pass values (median over passes) of the write-path layers."""
        per_pass = []
        for p, rec in enumerate(self.passes):
            m = {f"pipeline.{k}_s": v for k, v in rec.get("stages", {}).items()}
            raw_s = rec.get("stages", {}).get("ingestion_raw_zone")
            m["sources.input_mb"] = self.cc.landing_bytes / _MB
            m["sources.rows_per_s"] = self.cc.rows / raw_s if raw_s else 0.0
            out_bytes, files = _dir_usage(
                runner.spark, [f"{rec['prefix']}{z}" for z in
                               ("raw", "quality", "trusted", "dimensions")])
            m["catalog.output_mb"] = out_bytes / _MB
            m["catalog.files_written"] = files
            m["catalog.write_amp"] = out_bytes / self.cc.landing_bytes
            spans = [s for s in runner.spans if s.pass_no == p]
            for metric, op in (
                ("snapshots.merge_s", "snapshots.merge"),
                ("snapshots.checkpoint_s", "snapshots.checkpoint"),
                ("snapshots.read_asof_s", "snapshots.read_asof"),
                ("snapshots.compaction_s", "snapshots.compaction"),
                ("snapshots.expire_s", "snapshots.expire"),
                ("kv.put_s", "kv.put"), ("kv.get_s", "kv.get"),
                ("kv.compact_s", "kv.compact"),
                ("channel.publish_s", "channel.publish"),
                ("channel.read_s", "channel.read"),
            ):
                m[metric] = sum(s.wall_s for s in spans if s.name == op)
            merges = [r for r in rec["merges"] if r]
            scanned = sum(len(r["scanned"]) for r in merges)
            rewritten = sum(len(r["rewritten"]) for r in merges)
            m["snapshots.files_scanned"] = scanned
            m["snapshots.files_rewritten"] = rewritten
            m["snapshots.prune_ratio"] = rewritten / scanned if scanned else 0.0
            per_pass.append(m)
        return _median_dict(per_pass)


def _status_map(rows: list[tuple] | None) -> dict | None:
    """DOCKET -> STATUSCD, or None if the rows are missing or a DOCKET
    occurs twice."""
    if rows is None:
        return None
    out = dict(rows)
    return out if len(out) == len(rows) else None


def _as_sets(dicts: list[dict]) -> list:
    return sorted(tuple(sorted(d.items())) for d in dicts)


def _dir_usage(spark, zones: list[str]) -> tuple[int, int]:
    """Bytes and data files under the warehouse dirs of ``zones``."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    total = files = 0
    for zone in zones:
        for root, _, names in os.walk(os.path.join(wh, f"{zone}.db")):
            for n in names:
                if n.startswith("part-"):
                    total += os.path.getsize(os.path.join(root, n))
                    files += 1
    return total, files


def _median_dict(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in sorted(keys)}


WORKLOADS = {
    "elt_medallion": EltMedallion,
    "corpus_curation": CorpusCuration,
}
