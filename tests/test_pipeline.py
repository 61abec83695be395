"""North-rule pipeline: per-sink aggregate-count equality, resume, lineage
(FIXTURES.md invariants 5 and 7)."""

import json
import os

from pyspark.sql import functions as F

from sparklead import synth
from sparklead.pipeline import enrich_stage, parse_stage, run_pipeline, source_agg, template_counts


def test_invariants(spark):
    pt = synth.pretokenized(spark, 3000)
    assert pt.filter(F.size("tokens") != F.col("n_tok")).count() == 0
    enriched = enrich_stage(parse_stage(pt), synth.source_meta(spark))
    assert enriched.count() == 3000  # row conservation through enrichment


def test_empty_token_doc_routes(spark, tmp_path):
    """An empty pre-tokenized doc has NULL first and last tokens; under ANSI
    a plain element_at on it aborted the whole pipeline."""
    df = spark.createDataFrame(
        [("d0", [3, 1, 4], 3, "s"), ("d1", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    meta = synth.source_meta(spark)
    rows = {r["doc_id"]: r for r in enrich_stage(parse_stage(df), meta).collect()}
    assert (rows["d0"]["first_tok"], rows["d0"]["last_tok"]) == (3, 4)
    assert (rows["d1"]["first_tok"], rows["d1"]["last_tok"]) == (None, None)
    r = run_pipeline(df, meta, out_dir=str(tmp_path / "sinks"))
    assert r["manifests"]["seq_features"]["rows"] == 2


def test_sink_aggregate_counts_consistent(spark):
    pt = synth.pretokenized(spark, 3000)
    enriched = enrich_stage(parse_stage(pt), synth.source_meta(spark))
    src = source_agg(enriched)
    tpl = template_counts(enriched)
    n = enriched.count()
    # per-sink aggregate counts equal source group counts (north rule)
    assert src.agg(F.sum("n_seqs")).first()[0] == n
    assert tpl.agg(F.sum("n_seqs")).first()[0] == n
    assert src.agg(F.sum("sum_tok")).first()[0] == tpl.agg(F.sum("sum_tok")).first()[0]


def test_routing_resume_identical(spark, tmp_path):
    pt = synth.pretokenized(spark, 2000)
    meta = synth.source_meta(spark)
    d = str(tmp_path / "sinks")
    r1 = run_pipeline(pt, meta, out_dir=d)
    # manifests carry per-partition lineage metrics
    m = r1["manifests"]["seq_features"]
    assert m["rows"] == 2000
    assert sum(m["partition_rows"]) == 2000
    # resume skips completed sinks
    r2 = run_pipeline(pt, meta, out_dir=d)
    assert all(v.get("resumed") for v in r2["manifests"].values())
    # resumed aggregates byte-identical (invariant 7)
    agg1 = spark.read.parquet(os.path.join(d, "source_agg")).orderBy("source").collect()
    r3 = run_pipeline(pt, meta, out_dir=d, resume=False)
    agg2 = spark.read.parquet(os.path.join(d, "source_agg")).orderBy("source").collect()
    assert agg1 == agg2


def test_partial_resume_recomputes_missing(spark, tmp_path):
    import shutil

    pt = synth.pretokenized(spark, 1000)
    meta = synth.source_meta(spark)
    d = str(tmp_path / "sinks")
    run_pipeline(pt, meta, out_dir=d)
    shutil.rmtree(os.path.join(d, "template_counts"))
    r = run_pipeline(pt, meta, out_dir=d)
    assert r["manifests"]["seq_features"].get("resumed")
    assert not r["manifests"]["template_counts"].get("resumed")
    assert r["manifests"]["template_counts"]["rows"] > 0
