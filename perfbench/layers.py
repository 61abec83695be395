"""The traced run: which spans each workload records, and how the lazy
layers of ``log_anomaly`` are split out.

Layers are named after sparklead modules. Eager calls (sink writes, the
Drain fit, the detector's train, dedup's component labels, mixture's
cutoffs) get a span around the call. Lazy layers (the HDFS loader, the
event-log enhancers, the Drain assign, the sequence aggregate) launch no
job of their own, so each prefix of the job is forced with a checksum
aggregate over every column and the layer is the increment over the
previous prefix.
"""

from __future__ import annotations

import os

from spans import FIELDS, Tracer

ROUTE_NAMES = {
    frozenset({"token_vectors"}): "stage1",
    frozenset({"template_counts", "source_agg", "vocabulary"}): "stage2",
}
LAZY_LAYERS = ("sources.hdfs.load", "enhancers.eventlog", "mining.drain.assign", "enhancers.sequence.aggregate")


def force(df) -> None:
    """Evaluate every output column: xor of a per-row hash over the row
    struct (a bare count lets the optimizer prune the projections)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.xxhash64(F.struct(*cols)).alias("h")).agg(F.expr("bit_xor(h)")).collect()


def _patch(tr: Tracer, workload: str) -> None:
    from sparklead import llm_pipeline, routing

    def route_name(sinks, *a, **kw):
        return "routing.route." + ROUTE_NAMES.get(frozenset(sinks), "+".join(sorted(sinks)))

    tr.patch(routing, "route", route_name)
    tr.patch(routing, "write_sink", lambda df, path, *a, **kw: "routing.write_sink." + os.path.basename(path))
    if workload == "log_anomaly":
        from sparklead.detectors.ad import AnomalyDetector
        from sparklead.mining.drain import DrainMiner

        tr.patch(DrainMiner, "fit", "mining.drain.fit")
        tr.patch(AnomalyDetector, "train", "detectors.ad.train")
    elif workload == "llm_hygiene":
        tr.patch(llm_pipeline, "neardup_text_dedup", "dedup.neardup_text_dedup")
        tr.patch(llm_pipeline, "sample_to_token_budget", "mixture.sample_to_token_budget")
        tr.patch(llm_pipeline, "pack_tokenized", "packing.pack_tokenized")


def _lazy_prefixes(tr: Tracer, runner, spark) -> None:
    from sparklead.enhancers.sequence import aggregate_sequences

    events, enhanced = runner.w.frames(spark)
    assigned = runner.last["miner"].assign(enhanced, "e_words", "e_event_drain_id")
    seq = aggregate_sequences(assigned, event_col="e_event_drain_id")
    for name, df in zip(LAZY_LAYERS, (events, enhanced, assigned, seq)):
        with tr.span("prefix." + name):
            force(df)


def trace_job(runner, spark, cores: int, log) -> tuple[dict, list]:
    """One traced job; returns (flat per-layer values, raw spans)."""
    tr = Tracer(spark, cores)
    _patch(tr, runner.w.name)
    try:
        wall = runner.job(spark, tracer=tr)
    finally:
        tr.restore()
    values: dict[str, float] = {"job.wall_s": wall if wall is not None else float("nan")}
    if runner.w.name == "log_anomaly" and wall is not None:
        values["mining.drain.assign_rows_ratio"] = tr.python_udf_rows() / runner.w.records
        _lazy_prefixes(tr, runner, spark)
    per = tr.stage_metrics()
    if runner.w.name == "log_anomaly" and wall is not None:
        prev = {k: 0.0 for k in FIELDS}
        for name in LAZY_LAYERS:
            cur = per.pop("prefix." + name)
            inc = {k: cur[k] - prev[k] for k in FIELDS}
            inc["core_busy"] = inc["exec_run_s"] / (inc["wall_s"] * cores) if inc["wall_s"] > 0 else 0.0
            per[name] = inc
            prev = cur
    for name, rec in per.items():
        for k in FIELDS:
            values[f"{name}.{k}"] = rec[k]
    values["job.gc_s"] = per["job"]["gc_s"]
    values["driver.jobs_per_run"] = per["job"]["jobs"]
    values["trace.read_jobs"] = tr.read_jobs()
    log(f"traced job {wall}, read jobs {values['trace.read_jobs']}")
    t0 = min(s["start"] for s in tr.spans)
    spans = [
        {"workload": runner.w.name, "name": s["name"], "id": s["id"], "parent": s["parent"],
         "start_s": s["start"] - t0, "end_s": s["end"] - t0}
        for s in sorted(tr.spans, key=lambda s: s["start"])
    ]
    return values, spans
