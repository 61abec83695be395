"""Loader/source semantics: split, multiline merge, backward fill, labels."""

from pyspark.sql import functions as F

from sparklead import synth
from sparklead.sources.hdfs import attach_labels, load_hdfs_events, sequence_table
from sparklead.sources.raw import (
    backward_fill_timestamps,
    merge_multiline,
    parse_timestamp,
    sample_sequences,
    split_and_unnest,
)


def test_split_last_field_keeps_remainder(spark):
    df = spark.createDataFrame([("a b c d e",)], "m_message string")
    out = split_and_unnest(df, ["f1", "f2", "rest"]).first()
    assert (out["f1"], out["f2"], out["rest"]) == ("a", "b", "c d e")


def test_hdfs_loader_end_to_end(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 300))
    assert ev.filter(F.col("m_timestamp").isNull()).count() == 0
    assert ev.filter(F.col("seq_id") == "").count() == 0
    assert set(ev.columns) >= {"date", "time", "id", "level", "component", "m_message", "seq_id", "m_timestamp"}


def test_labels_normal_anomaly_negation(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 300))
    seqs = sequence_table(ev)
    labels = seqs.limit(5).select(
        F.col("seq_id").alias("BlockId"), F.lit("Anomaly").alias("Label")
    )
    out = attach_labels(seqs, labels)
    assert out.filter(F.col("normal") == F.col("anomaly")).count() == 0  # invariant 4
    assert out.filter(~F.col("normal")).count() == 5


def test_multiline_merge(spark):
    lines = [
        ("2024-01-01 ok start", "f", 0),
        ("  at trace line 1", "f", 1),
        ("  at trace line 2", "f", 2),
        ("2024-01-01 next entry", "f", 3),
    ]
    df = spark.createDataFrame(lines, "m_message string, file_name string, line_nr long")
    out = merge_multiline(df).orderBy("line_nr").collect()
    assert len(out) == 2
    assert out[0]["m_message"] == "2024-01-01 ok start\n  at trace line 1\n  at trace line 2"
    assert out[1]["m_message"] == "2024-01-01 next entry"


def test_backward_fill(spark):
    rows = [(None, "f", 0), (None, "f", 1), ("2024-01-01 00:00:00", "f", 2), (None, "f", 3)]
    df = spark.createDataFrame(rows, "m_timestamp string, file_name string, line_nr long")
    df = parse_timestamp(df, ["yyyy-MM-dd HH:mm:ss"])
    out = backward_fill_timestamps(df).orderBy("line_nr").collect()
    assert out[0]["m_timestamp"] is not None
    assert out[1]["m_timestamp"] == out[2]["m_timestamp"]
    assert out[3]["m_timestamp"] is None  # nothing after to fill from


def test_timestamp_coalesce_chain(spark):
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("02/Jan/2024 03:04:05",)], "m_timestamp string"
    )
    out = parse_timestamp(df, ["yyyy-MM-dd HH:mm:ss", "dd/MMM/yyyy HH:mm:ss"])
    assert out.filter(F.col("m_timestamp").isNull()).count() == 0


def test_sample_semi_join(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 500))
    seqs = sequence_table(ev)
    ev2, seq2 = sample_sequences(ev, seqs, fraction=0.3, seed=7)
    kept = {r["seq_id"] for r in seq2.collect()}
    assert {r["seq_id"] for r in ev2.select("seq_id").distinct().collect()} <= kept


def test_load_gelf_renames_message_and_timestamp(spark, tmp_path):
    from sparklead.sources.syslog import load_gelf

    p = tmp_path / "gelf.jsonl"
    p.write_text(
        '{"message": "disk full", "@timestamp": "2024-01-02T03:04:05Z", "host": "n1"}\n'
        '{"message": "disk ok", "@timestamp": "2024-01-02T03:04:06Z", "host": "n2"}\n'
    )
    df = load_gelf(spark, str(p))
    assert "message" not in df.columns and "@timestamp" not in df.columns
    rows = df.select("m_message", F.col("m_timestamp").cast("long").alias("epoch"), "host").collect()
    assert sorted(map(tuple, rows)) == [("disk full", 1704164645, "n1"), ("disk ok", 1704164646, "n2")]


def test_load_hadoop_events(spark, tmp_path):
    """seq_id from the app directory, multiline merge within ONE physical
    file: app_2's leading continuation line stays its own entry instead of
    joining app_1's same-named file."""
    from sparklead.sources.syslog import load_hadoop_events

    for app in ("application_1", "application_2"):
        (tmp_path / app).mkdir()
    (tmp_path / "application_1" / "container_01.log").write_text(
        "2015-10-18 18:01:47,978 INFO [main] org.apache.App: Created MRAppMaster\n"
        "java.lang.Exception: boom\n"
        "\tat org.apache.App.run(App.java:1)\n"
        "2015-10-18 18:01:48,963 WARN [IPC Server handler 3] org.apache.Rpc: slow\n"
    )
    (tmp_path / "application_2" / "container_01.log").write_text(
        "\tat org.apache.Orphan.run(Orphan.java:9)\n"
        "2015-10-18 18:02:00,000 INFO [main] org.apache.App: Started\n"
    )
    ev = load_hadoop_events(spark, str(tmp_path / "*" / "*.log"))
    rows = [(r["seq_id"], r["seq_id_sub"], r["process"], r["m_message"]) for r in ev.collect()]
    assert {sub for _, sub, _, _ in rows} == {"container_01.log"}
    by_app: dict = {}
    for app, _, proc, msg in rows:
        by_app.setdefault(app, []).append((proc, msg))
    assert sorted(by_app) == ["application_1", "application_2"]
    assert sorted(p for p, _ in by_app["application_1"]) == ["IPC Server handler 3", "main"]
    merged = [m for p, m in by_app["application_1"] if p == "main"][0]
    assert "Created MRAppMaster" in merged and "boom" in merged and "App.java:1" in merged
    assert all("Orphan" not in m for _, m in by_app["application_1"])
    assert sorted(p for p, _ in by_app["application_2"]) == ["", "main"]
    orphan = [m for p, m in by_app["application_2"] if p == ""][0]
    assert "Orphan.java:9" in orphan and "Started" not in orphan
    assert all("[" not in m for _, _, _, m in rows)
