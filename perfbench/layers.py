"""Per-layer metrics of a traced run.

``install`` wraps the package's public callables, from outside the package,
on the names their callers resolve; ``per_layer`` turns the recorded spans,
counters, the engine's ``metrics_log`` and the Spark status stores into the
benchmark's per-layer metrics.  ``PER_LAYER`` lists every metric with its
unit; every traced run reports all of them, with 0 where a workload does not
exercise a layer.
"""

from __future__ import annotations

import os
import statistics

from workloads import SWEEP_QUERIES, dir_bytes, parquet_files

LAYERS = ("client", "engine", "apply", "matcher", "lake", "operators", "sessionize")

PER_LAYER = {
    "engine.stage_s": "s",
    "engine.serial_commit_s": "s",
    "engine.batches": "count",
    "apply.dedup_build_s": "s",
    "apply.normalize_build_s": "s",
    "apply.winners_per_event": "ratio",
    "matcher.get_matches_s": "s",
    "matcher.calls": "count",
    "lake.merge_s": "s",
    "lake.buckets_rewritten": "count",
    "lake.rows_rewritten_per_event": "ratio",
    "lake.stage_delta_s": "s",
    "lake.commit_delta_s": "s",
    "lake.expire_s": "s",
    "lake.metadata_bytes_end": "bytes",
    "lake.bytes_written_per_input_byte": "ratio",
    "lake.compact_s": "s",
    "lake.compactions": "count",
    "lake.delta_files_at_read": "count",
    "lake.read_s": "s",
    "lake.live_files_end": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "jvm.gc_ms": "ms",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    **{
        f"query.{name}.{step}_s": "s"
        for name in SWEEP_QUERIES
        for step in ("build", "plan", "exec")
    },
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def _new_file_bytes(table, snapshot_id: int) -> int:
    """Bytes of the files a snapshot's manifest adds over its parent's."""
    by_id = {s["snapshot_id"]: s for s in table.snapshots()}
    snap = by_id[snapshot_id]
    parent = by_id.get(snap["parent_id"])
    old = {e["path"] for e in table.manifest(parent)}
    return sum(
        os.path.getsize(os.path.join(table.root, e["path"]))
        for e in table.manifest(snap)
        if e["path"] not in old
    )


def install(tracer, workload) -> None:
    """Wrap the package's public callables for the traced run."""
    if not tracer.enabled:
        return
    from magneto_matcher_spark.operators import dedup, embedding, profile, textops
    from magneto_matcher_spark.plans import apply as apply_mod
    from magneto_matcher_spark.plans import matcher as matcher_mod
    from magneto_matcher_spark.sources.lake import LakeTable
    from magneto_matcher_spark.streaming import engine as engine_mod
    from magneto_matcher_spark.streaming import sessionize as sessionize_mod

    # the operator library's entry points, on the modules the sweep's
    # queries import them from and on the matcher, which binds its own names
    operator_entry_points = {
        dedup: ("exact_dedup", "minhash_lsh_pairs", "simhash_pairs"),
        embedding: ("knn_topk", "knn_topk_ivf", "embed_text"),
        textops: ("widen_narrow_scan", "quality_score_expr", "lang_id"),
        profile: ("profile_table", "profile_rows_multi"),
        matcher_mod: (
            "profile_table", "profile_rows_multi", "serialize_profiles",
            "embed_text", "knn_topk", "strsim_candidates",
        ),
    }

    count = tracer.count

    def wrote(table, sid) -> None:
        count("lake.bytes_written", _new_file_bytes(table, sid))

    def after_merge(sid, args, kwargs) -> None:
        table = args[0]
        summ = table.summary(sid)
        count("lake.buckets_rewritten", int(summ.get("buckets-rewritten", 0)))
        count("lake.rows_rewritten", int(summ.get("rows-written", 0)))
        wrote(table, sid)

    def after_compact(sid, args, kwargs) -> None:
        table = args[0]
        summ = table.summary(sid)
        if summ.get("noop") != "True":
            count("lake.compactions")
            count("lake.rows_rewritten", int(summ.get("rows-written", 0)))
            wrote(table, sid)

    def after_commit_delta(sid, args, kwargs) -> None:
        wrote(args[0], sid)

    def after_read(_df, args, kwargs) -> None:
        table = args[0]
        if kwargs.get("snapshot_id") is None and len(args) < 2:
            count("lake.reads")
            count(
                "lake.delta_files_at_read",
                sum(
                    1 for e in table.manifest(table.current_snapshot())
                    if e.get("kind", "data") == "delta"
                ),
            )

    wrap = tracer.wrap
    wrap(engine_mod.CdcEngine, "replay", "engine.replay", "engine")
    wrap(engine_mod.CdcEngine, "apply_batch", "engine.apply_batch", "engine")
    wrap(engine_mod, "dedup_max_lsn", "apply.dedup_build", "apply")
    wrap(engine_mod, "normalize_payload", "apply.normalize_build", "apply")
    wrap(apply_mod, "dedup_max_lsn", "apply.dedup_build", "apply")
    wrap(matcher_mod, "get_matches", "matcher.get_matches", "matcher")
    wrap(LakeTable, "merge", "lake.merge", "lake", after_merge)
    wrap(LakeTable, "stage_delta", "lake.stage_delta", "lake")
    wrap(LakeTable, "commit_delta", "lake.commit_delta", "lake", after_commit_delta)
    wrap(LakeTable, "compact", "lake.compact", "lake", after_compact)
    wrap(LakeTable, "expire_snapshots", "lake.expire", "lake")
    wrap(LakeTable, "read", "lake.read_build", "lake", after_read)
    for owner, attrs in operator_entry_points.items():
        for attr in attrs:
            wrap(owner, attr, f"operators.{attr}", "operators")
    wrap(sessionize_mod, "sessionize_batch", "sessionize.sessionize_batch", "sessionize")


def per_layer(tracer, workload, timed_s: float) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    c = tracer.counters
    out.update(
        {
            "apply.dedup_build_s": tracer.total_s("apply.dedup_build"),
            "apply.normalize_build_s": tracer.total_s("apply.normalize_build"),
            "matcher.get_matches_s": tracer.total_s("matcher.get_matches"),
            "matcher.calls": tracer.calls("matcher.get_matches"),
            "lake.merge_s": tracer.total_s("lake.merge"),
            "lake.buckets_rewritten": c["lake.buckets_rewritten"],
            "lake.stage_delta_s": tracer.total_s("lake.stage_delta"),
            "lake.commit_delta_s": tracer.total_s("lake.commit_delta"),
            "lake.expire_s": tracer.total_s("lake.expire"),
            "lake.compact_s": tracer.total_s("lake.compact"),
            "lake.compactions": c["lake.compactions"],
            "lake.read_s": tracer.total_s("client.read"),
            **tracer.spark_totals,
            "trace.overhead_s": tracer.overhead_s,
            "trace.overhead_frac": tracer.overhead_s / timed_s,
        }
    )
    if c["lake.reads"]:
        out["lake.delta_files_at_read"] = c["lake.delta_files_at_read"] / c["lake.reads"]
    self_s = tracer.self_time_by_layer()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = self_s.get(layer, 0.0)

    steps = getattr(workload, "steps", None)
    if steps:
        for name, by_step in steps.items():
            for step, xs in by_step.items():
                if xs:
                    out[f"query.{name}.{step}_s"] = statistics.median(xs)

    engine = getattr(workload, "engine", None)
    if engine is not None:
        applied = [m for m in engine.metrics_log if not m.get("skipped")]
        events = sum(m["events_in"] for m in applied)
        out["engine.batches"] = len(applied)
        out["engine.stage_s"] = sum(m.get("stage_s", 0.0) for m in applied)
        out["engine.serial_commit_s"] = sum(m.get("commit_s", 0.0) for m in applied)
        mor = [m for m in applied if not str(m.get("dedup_used", "")).startswith("fused")]
        mor_events = sum(m["events_in"] for m in mor)
        if mor_events:
            out["apply.winners_per_event"] = (
                sum(m["rows_written"] for m in mor) / mor_events
            )
        if events:
            out["lake.rows_rewritten_per_event"] = c["lake.rows_rewritten"] / events
        timed_inputs = parquet_files(workload.applied[workload.first_timed :])
        in_bytes = sum(os.path.getsize(f) for f in timed_inputs)
        if in_bytes:
            out["lake.bytes_written_per_input_byte"] = c["lake.bytes_written"] / in_bytes
        table = workload.table
        out["lake.metadata_bytes_end"] = dir_bytes(os.path.join(table.root, "metadata"))
        out["lake.live_files_end"] = len(table.manifest(table.current_snapshot()))
    return {k: float(v) for k, v in out.items()}
