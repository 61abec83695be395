"""PL-IPLoM miner, AD framework, and Structured Streaming tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparklead import synth
from sparklead.detectors.ad import AnomalyDetector, SeqFeaturizer, evaluate, train_test_split
from sparklead.enhancers import eventlog as E
from sparklead.enhancers.sequence import aggregate_sequences
from sparklead.mining.drain import parse_drain
from sparklead.mining.pl_iplom import parse_pl_iplom
from sparklead.sources.hdfs import load_hdfs_events


@pytest.fixture(scope="module")
def tokenized(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 1500))
    return E.words(E.normalize(ev), "e_message_normalized").cache()


# ------------------------------------------------------------------ PL-IPLoM

def test_pl_iplom_mines_templates(tokenized):
    assigned, templates = parse_pl_iplom(tokenized, "e_words")
    tpls = {r["template"] for r in templates.collect()}
    # distinct-token-count templates split; constant positions survive as text
    assert any("Received block blk_<NUM>" in t for t in tpls)
    assert any(t.startswith("Exception in receiveBlock") for t in tpls)
    assert assigned.filter(F.col("e_event_pliplom_id").isNull()).count() == 0
    # every row's id belongs to the template table
    ids = {r["template_id"] for r in templates.collect()}
    got = {r["e_event_pliplom_id"] for r in assigned.select("e_event_pliplom_id").distinct().collect()}
    assert got <= ids


def test_pl_iplom_no_split_when_constant_position_exists(spark):
    # reference S2 rule (pl_iplom.py:245-252): if ANY position is constant,
    # min distinct == 1 -> no split
    df = spark.createDataFrame(
        [(["a", "x", "end"],), (["b", "y", "end"],)], "e_words array<string>"
    )
    _, templates = parse_pl_iplom(df, "e_words")
    assert templates.count() == 1
    assert templates.first()["template"] == "<*> <*> end"


def test_pl_iplom_splits_when_all_positions_vary(spark):
    df = spark.createDataFrame(
        [(["open", str(i)],) for i in range(5)] + [(["close", str(i)],) for i in range(5)],
        "e_words array<string>",
    )
    _, templates = parse_pl_iplom(df, "e_words")
    tpls = {r["template"] for r in templates.collect()}
    assert tpls == {"open <*>", "close <*>"}


def test_pl_iplom_partitioning_invariance(tokenized):
    _, t1 = parse_pl_iplom(tokenized.repartition(3), "e_words")
    _, t2 = parse_pl_iplom(tokenized.repartition(16), "e_words")
    assert sorted(r["template"] for r in t1.collect()) == sorted(r["template"] for r in t2.collect())


# ------------------------------------------------------------------ AD

@pytest.fixture(scope="module")
def labeled_seq(spark, tokenized):
    parsed, _ = parse_drain(tokenized, "e_words", "e_event_drain_id")
    seq = aggregate_sequences(parsed, event_col="e_event_drain_id")
    exc_id = (
        parsed.filter(F.col("m_message").contains("Exception"))
        .select("e_event_drain_id")
        .first()[0]
    )
    return seq.withColumn("anomaly", F.exists("events", lambda e: e == F.lit(exc_id))).cache()


def test_split_deterministic_and_disjoint(labeled_seq):
    tr1, te1 = train_test_split(labeled_seq, 0.4)
    tr2, te2 = train_test_split(labeled_seq, 0.4)
    assert tr1.count() == tr2.count()
    assert tr1.count() + te1.count() == labeled_seq.count()
    assert tr1.join(te1, "seq_id", "inner").count() == 0


def test_chronological_split(labeled_seq):
    tr, te = train_test_split(labeled_seq, 0.3, shuffle=False, time_col="start_time")
    assert tr.agg(F.max("start_time")).first()[0] <= te.agg(F.min("start_time")).first()[0]


def test_supervised_models_learn(labeled_seq):
    tr, te = train_test_split(labeled_seq, 0.5)
    for model in ("LR", "DT"):
        det = AnomalyDetector(SeqFeaturizer(item_col="events", numeric_cols=("seq_len",)))
        det.train(tr, model)
        m = evaluate(det.predict(te))
        # the anomaly is a template-presence signal; count-vector models must find it
        assert m["f1"] > 0.9, (model, m)


def test_kmeans_unsupervised_runs(labeled_seq):
    tr, te = train_test_split(labeled_seq, 0.5)
    det = AnomalyDetector(SeqFeaturizer(item_col="events"))
    det.train(tr, "KMEANS")
    out = det.predict(te)
    assert set(r["pred_ano"] for r in out.select("pred_ano").distinct().collect()) <= {0, 1}


def _counted_seqs(spark, n=60):
    """A labelled sequence frame whose ``seq_len`` goes through a plain
    Python UDF that counts its evaluations in an accumulator: every pass
    over the frame's lineage that reads ``seq_len`` adds ``n``."""
    evals = spark.sparkContext.accumulator(0)

    def counted(v):
        evals.add(1)
        return v

    seq = spark.range(n).select(
        F.col("id").alias("seq_id"),
        F.when(F.col("id") % 4 == 0, F.array(F.lit("E1"), F.lit("E_bad")))
        .otherwise(F.array(F.lit("E1"), F.lit("E2"), F.lit("E3")))
        .alias("events"),
        (F.col("id") % 4 == 0).alias("anomaly"),
    )
    return seq.withColumn("seq_len", F.udf(counted, "int")(F.size("events"))), evals


def _lr_detector():
    return AnomalyDetector(SeqFeaturizer(item_col="events", numeric_cols=("seq_len",)))


def test_train_reads_the_lineage_once(spark):
    """The featurizer fit, its transform and the estimator's passes (LR
    reads its input four times) all read ONE materialization of the train
    frame, so its upstream lineage is evaluated once per ``train``."""
    seq, evals = _counted_seqs(spark)
    det = _lr_detector().train(seq, "LR")
    assert evals.value == 60
    assert evaluate(det.predict(seq))["f1"] == 1.0


def test_train_leaves_no_persisted_frame(spark):
    """``train`` unpersists what it persisted, also when the fit raises;
    ``predict`` and ``evaluate`` persist nothing."""
    from pyspark.errors import IllegalArgumentException

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    seq, _ = _counted_seqs(spark)
    det = _lr_detector().train(seq, "LR")
    assert jsc.getPersistentRDDs().size() == 0
    evaluate(det.predict(seq))
    assert jsc.getPersistentRDDs().size() == 0
    with pytest.raises(IllegalArgumentException, match="maxIter"):
        _lr_detector().train(seq, "LR", maxIter=-1)
    assert jsc.getPersistentRDDs().size() == 0


def test_train_keeps_a_caller_persisted_frame(spark):
    """A train frame the caller persisted is read as-is (no second
    materialization: the UDF is not evaluated again) and stays cached."""
    from pyspark import StorageLevel

    seq, evals = _counted_seqs(spark)
    seq.persist()
    try:
        seq.count()
        before = evals.value
        _lr_detector().train(seq, "LR")
        assert evals.value == before
        assert seq.is_cached and seq.storageLevel != StorageLevel.NONE
    finally:
        seq.unpersist()


# ------------------------------------------------------------------ streaming

def test_stream_route_matches_batch(spark, tmp_path):
    from sparklead.streaming import stream_route

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    pt = synth.pretokenized(spark, 1000)
    pt.write.parquet(inp)
    q = stream_route(spark, inp, out, synth.source_meta(spark))
    q.awaitTermination(180)
    sf = spark.read.parquet(os.path.join(out, "seq_features"))
    assert sf.count() == 1000
    # per-sink aggregate counts equal batch pipeline's (north rule)
    from sparklead.pipeline import enrich_stage, parse_stage, source_agg

    batch = source_agg(enrich_stage(parse_stage(pt), synth.source_meta(spark)))
    stream_agg = (
        spark.read.parquet(os.path.join(out, "source_agg"))
        .groupBy("source")
        .agg(F.sum("n_seqs").alias("n_seqs"))
    )
    b = {r["source"]: r["n_seqs"] for r in batch.collect()}
    s = {r["source"]: r["n_seqs"] for r in stream_agg.collect()}
    assert b == s
    manifest = [json.loads(l) for l in open(os.path.join(out, "stream_manifest.jsonl"))]
    assert sum(m.get("rows", 0) for m in manifest) == 1000


def test_stream_resume_processes_only_new_files(spark, tmp_path):
    from sparklead.streaming import stream_route

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    synth.pretokenized(spark, 500).write.parquet(inp)
    stream_route(spark, inp, out, synth.source_meta(spark)).awaitTermination(180)
    n1 = spark.read.parquet(os.path.join(out, "seq_features")).count()
    # append more input; restart from the same checkpoint
    synth.pretokenized(spark, 300).limit(200).write.mode("append").parquet(inp)
    stream_route(spark, inp, out, synth.source_meta(spark)).awaitTermination(180)
    n2 = spark.read.parquet(os.path.join(out, "seq_features")).count()
    assert n1 == 500
    assert n2 == 700  # resumed, not reprocessed


def test_stream_window_counts(spark, tmp_path):
    from sparklead.streaming import stream_window_counts

    inp, out = str(tmp_path / "ev_in"), str(tmp_path / "ev_out")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(inp)
    stream_window_counts(spark, inp, out).awaitTermination(180)
    wc = spark.read.parquet(os.path.join(out, "window_counts"))
    total_batch = spark.read.parquet(inp).count()
    emitted = wc.agg(F.sum("n")).first()[0]
    # append mode emits only windows the watermark has passed; the last ~2h
    # of event time stays in state at availableNow shutdown -> strictly less
    assert 0 < emitted < total_batch
    # emitted windows are exact per-window counts
    one = wc.first()
    batch_n = (
        spark.read.parquet(inp)
        .filter(
            (F.date_trunc("hour", "ts") == one["window_start"]) & (F.col("event_type") == one["event_type"])
        )
        .count()
    )
    assert one["n"] == batch_n
