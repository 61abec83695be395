"""Round-2 additions: original IPLoM, tree-merged miner phase 2, relational
AUC/threshold, ADFA/AWSCTD/Pro/LO2 loaders, min-file-size filter, seeded
dedup fixtures, idempotent streaming replay, sample-fit IVF."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparklead import synth
from sparklead.enhancers import eventlog as E
from sparklead.sources.hdfs import load_hdfs_events


@pytest.fixture(scope="module")
def tokenized(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 2000))
    return E.words(E.normalize(ev), "e_message_normalized").cache()


# ------------------------------------------------------------------ IPLoM

def test_iplom_golden_templates(tokenized):
    from sparklead.mining.iplom import iplom_templates

    t = iplom_templates(tokenized, "e_words").collect()
    # synthetic corpus has exactly 8 templates (synth._LOG_TEMPLATES)
    assert len(t) == 8
    assert sum(r["part_len"] for r in t) == 2000


def test_iplom_assignment_total(tokenized):
    from sparklead.mining.iplom import parse_iplom

    assigned, templates = parse_iplom(tokenized, "e_words")
    assert assigned.filter(F.col("e_event_iplom_id").isNull()).count() == 0
    assert assigned.count() == 2000


def test_iplom_bijection_splits_shared_length(spark):
    """Two templates with the SAME token count survive S1+S2 unsplit (a
    constant column blocks S2; cluster goodness 1/5 < CT keeps S3 alive);
    the S3 M-1 bijection between the id column (p1, the lone freq-1
    cardinality) and the verb column (p2) must separate them on the verb
    side (dist2 = 4/12 > lowerBound -> split_rank 2, IPLoM.py:525-554)."""
    from sparklead.mining.iplom import iplom_templates

    rows = []
    for i in range(12):
        rows.append((["open", f"c{i % 2}", f"host{i % 4}", f"s{i % 3}", "ok"],))
        rows.append((["drop", f"c{i % 2}", f"peer{i % 4}", f"s{i % 3}", "ok"],))
    df = spark.createDataFrame(rows, "e_words array<string>")
    t = {r["template"] for r in iplom_templates(df, "e_words").collect()}
    assert t == {"open <*> <*> <*> ok", "drop <*> <*> <*> ok"}


def test_iplom_bijection_reaches_every_case(spark):
    """Every arm of the S3 case analysis (IPLoM.py:362-440, Get_Rank_Posistion
    :525-554, lowerBound 0.25), pinned as literal part keys. At
    ``step2_support=30`` the 27-row length-2 and 6-row length-3 groups keep
    their S1 keys, the 32-row length-4 group splits in S2 on its first token.

    L2 (p1, p2 = 0, 1): ``a``-``A`` is 1-1; ``b`` is 1-M at distance 2/2 and
    splits on itself, ``c`` is 1-M at 2/8 <= lower and splits on its partners;
    ``D`` is M-1 at 2/8 and splits on its partners, ``E`` is M-1 at 2/2 and
    splits on itself; ``f*``-``F*`` is M-M with 3 leftover p1 tokens against
    2 leftover p2 tokens, so it splits on p2. L3 (p1, p2 = 2, 0): M-M with 2
    leftover p1 tokens against 3, so it splits on p1. L4 (p1, p2 = 1, 2 in
    each S2 part): M-M, so each S2 part keeps one ``|b:mm`` key. L5 has one
    all-constant row (no S3 positions); the empty row is L0."""
    from sparklead.mining.iplom import iplom_keyed

    rows = [["a", "A"], ["b", "B1"], ["b", "B2"]]
    rows += [["c", "C1"]] * 4 + [["c", "C2"]] * 4 + [["d1", "D"]] * 4 + [["d2", "D"]] * 4
    rows += [["e1", "E"], ["e2", "E"]] + [[f, F_] for f in ("f1", "f2", "f3") for F_ in ("F1", "F2")]
    rows += [[f"G{j}", f"h{j}", f"g{i}"] for i in (1, 2) for j in (1, 2, 3)]
    rows += [[v, f"x{i % 2}{v}", f"y{i // 2 % 2}{v}", f"w{i % 3}"] for v in ("v1", "v2") for i in range(16)]
    rows += [["k", "k", "k", "k", "k"], []]
    df = spark.createDataFrame([(r,) for r in rows], "e_words array<string>")
    got = {" ".join(r["e_words"]): r["part_key"] for r in iplom_keyed(df, "e_words", step2_support=30).collect()}
    assert len(rows) == 27 + 6 + 32 + 2
    assert got == {
        "a A": "L2|b:a",
        "b B1": "L2|b:b", "b B2": "L2|b:b",
        "c C1": "L2|b:C1", "c C2": "L2|b:C2",
        "d1 D": "L2|b:d1", "d2 D": "L2|b:d2",
        "e1 E": "L2|b:E", "e2 E": "L2|b:E",
        **{f"f{i} F{j}": f"L2|b:F{j}" for i in (1, 2, 3) for j in (1, 2)},
        **{f"G{j} h{j} g{i}": f"L3|b:g{i}" for i in (1, 2) for j in (1, 2, 3)},
        **{" ".join(r): f"L4|s2:{r[0]}|b:mm" for r in rows if len(r) == 4},
        "k k k k k": "L5",
        "": "L0",
    }


def test_iplom_step2_support_skips_small_partitions(spark):
    """``step2_support`` (the reference's step2Support, IPLoM.py:204-262): a
    partition with at most that many rows is not split in S2. Both length
    groups here would split on position 0 (the fewest distinct tokens, 2);
    at support 4 only the 6-row group does, the 4-row group keeps its S1 key."""
    from sparklead.mining.iplom import iplom_keyed

    rows = [(["open", "h1", "s1"],), (["open", "h2", "s2"],), (["drop", "h3", "s3"],), (["drop", "h4", "s4"],)]
    rows += [([f"v{i % 2}", f"h{i}", f"p{i % 3}", f"q{i}"],) for i in range(6)]
    df = spark.createDataFrame(rows, "e_words array<string>")

    def s2_split(support):
        keyed = iplom_keyed(df, "e_words", step2_support=support).collect()
        return {len(r["e_words"]): "|s2:" in r["part_key"] for r in keyed}

    assert s2_split(0) == {3: True, 4: True}
    assert s2_split(3) == {3: True, 4: True}
    assert s2_split(4) == {3: False, 4: True}
    assert s2_split(6) == {3: False, 4: False}


def test_iplom_null_split_token_keeps_its_row(spark):
    """A NULL token at a split position gets its own branch, not a NULL key.
    L3 splits in S2 on position 1, where ``u4`` holds NULL; L4 keeps its S1
    key and splits in S3 with ``w2``'s p1 token NULL. Every row must keep a
    non-NULL key, and the templates must cover all 7 rows."""
    from sparklead.mining.iplom import iplom_keyed, iplom_templates

    rows = [["u1", "a", "v1"], ["u2", "a", "v2"], ["u3", "b", "v3"], ["u4", None, "v4"]]
    rows += [["w1", "c", "x1", "q"], ["w2", None, "x2", "q"], ["w3", "d", "x3", "q"]]
    df = spark.createDataFrame([(r,) for r in rows], "e_words array<string>")
    keys = {r["e_words"][0]: r["part_key"] for r in iplom_keyed(df, "e_words").collect()}
    assert set(keys) == {r[0] for r in rows}
    assert all(k is not None for k in keys.values()), keys
    assert keys["u4"] == "L3|s2~null"
    assert sum(r["part_len"] for r in iplom_templates(df, "e_words").collect()) == len(rows)


def test_iplom_pst_marks_outliers(spark):
    """``pst`` (partition support threshold, IPLoM.py:449-455): a partition
    holding less than ``pst`` of all rows is flagged ``is_outlier``; without
    ``pst`` the column is absent."""
    from sparklead.mining.iplom import iplom_templates

    rows = [(["disk", "full", f"n{i}"],) for i in range(30)] + [(["a", "b", "c", "d", "e"],)]
    df = spark.createDataFrame(rows, "e_words array<string>")
    t = iplom_templates(df, "e_words", pst=0.05)
    assert t.columns == ["template_id", "template", "part_len", "is_outlier"]
    got = {(r["template"], r["part_len"], r["is_outlier"]) for r in t.collect()}
    assert got == {("disk full <*>", 30, False), ("a b c d e", 1, True)}
    assert iplom_templates(df, "e_words").columns == ["template_id", "template", "part_len"]
    # 1/31 is above a 0.03 threshold: nothing is an outlier
    assert not any(r["is_outlier"] for r in iplom_templates(df, "e_words", pst=0.03).collect())


# ------------------------------------------------------------------ tree merge

def test_tree_merge_caps_driver_intake_and_is_invariant(tokenized):
    from sparklead.mining.drain import DrainMiner

    wide = tokenized.repartition(200)
    miner = DrainMiner()
    # with fanout 32, 200 partitions fold to ceil(200/32)=7 merge tasks;
    # driver intake is bounded by 7 x max_clusters, not 200 x max_clusters
    partials = miner._partials(wide, "e_words", merge_fanout=32)
    n = partials.count()
    assert n <= 7 * miner.max_clusters
    t_wide = DrainMiner().fit(wide, "e_words").templates
    t_base = DrainMiner().fit(tokenized.repartition(4), "e_words").templates
    assert sorted(" ".join(t) for t, _ in t_wide) == sorted(" ".join(t) for t, _ in t_base)
    assert sum(c for _, c in t_wide) == 2000


def test_tree_merge_two_phase_spell(tokenized):
    """Spell's LCS clustering is not partition-invariant (tiny partitions
    yield wildcard-heavy partials that cannot re-merge — inherent to the
    algorithm, unlike Drain). What the tree-merge round MUST preserve:
    deterministic results for fixed input+partitioning, full row coverage,
    and bounded driver intake."""
    from sparklead.mining.two_phase import TwoPhaseMiner, LocalSpell, parse_spell

    wide = tokenized.repartition(200)
    _, m1 = parse_spell(wide, "e_words")
    _, m2 = parse_spell(wide, "e_words")
    assert sorted(" ".join(t) for t, _ in m1.templates) == sorted(" ".join(t) for t, _ in m2.templates)
    assert sum(c for _, c in m1.templates) == 2000
    merged = TwoPhaseMiner(lambda: LocalSpell(0.5))._partials(wide, "e_words", merge_fanout=32).count()
    direct = TwoPhaseMiner(lambda: LocalSpell(0.5))._partials(wide, "e_words", merge_fanout=10**9).count()
    # the merge round must shrink driver intake vs a direct per-partition collect
    assert merged < direct


# ------------------------------------------------------------------ AUC / threshold

def test_roc_auc_pinned(spark):
    from sparklead.detectors.ad import roc_auc

    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.8), (0, 0.2)], "label int, score double"
    )
    # avg ranks: 0.2->1, 0.8 ties ->2.5, 0.9->4; U = (4+2.5) - 2*3/2 = 3.5
    assert abs(roc_auc(df).first()["auc"] - 0.875) < 1e-9


def test_roc_auc_perfect_and_random(spark):
    from sparklead.detectors.ad import roc_auc

    perfect = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.3), (0, 0.1)], "label int, score double"
    )
    assert abs(roc_auc(perfect).first()["auc"] - 1.0) < 1e-9


def test_threshold_search_pinned(spark):
    from sparklead.detectors.ad import threshold_search

    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.8), (0, 0.2)], "label int, score double"
    )
    # t=0.9: f1=2/3; t=0.8: tp=2,pp=3 -> f1=0.8; t=0.2: f1=2/3
    # exact logic pinned at quantize=None; the default (round-5
    # range-normalized) quantizer perturbs thresholds by <= |t|*1e-6
    # relative, so the default path is pinned at that tolerance
    r = threshold_search(df, quantize=None).first()
    assert abs(r["best_thr"] - 0.8) < 1e-9
    assert abs(r["best_f1"] - 0.8) < 1e-9
    rq = threshold_search(df).first()
    assert abs(rq["best_thr"] - 0.8) < 1e-5
    assert abs(rq["best_f1"] - 0.8) < 1e-5


def test_evaluate_includes_auc(spark):
    from sparklead.detectors.ad import evaluate

    df = spark.createDataFrame(
        [(1, 1, 0.9), (1, 0, 0.4), (0, 0, 0.3), (0, 1, 0.6)],
        "label int, pred_ano int, score double",
    )
    m = evaluate(df, score_col="score")
    assert m["tp"] == 1 and m["fn"] == 1 and m["fp"] == 1 and m["tn"] == 1
    assert abs(m["auc"] - 0.75) < 1e-9  # positives at .9,.4 vs negatives .3,.6


# ------------------------------------------------------------------ loaders

def test_adfa_label_and_fold(spark):
    from sparklead.sources.datasets import adfa_events, adfa_sequences

    df = spark.createDataFrame(
        [
            ("6 6 63", "ADFA-LD/Training_Data_Master/UTD-0001.txt"),
            ("240 311", "ADFA-LD/Attack_Data_Master/Hydra_FTP_3_2/UAD-1.txt"),
        ],
        "m_message string, file_path string",
    )
    ev = adfa_events(df).collect()
    assert {r["label"] for r in ev} == {"Normal", "Hydra_FTP_3"}
    seq = {r["seq_id"]: (r["anomaly"], r["n_events"]) for r in adfa_sequences(adfa_events(df)).collect()}
    assert seq == {"UTD-0001": (False, 3), "UAD-1": (True, 2)}


def test_awsctd_slicing(spark):
    from sparklead.sources.datasets import awsctd_events, awsctd_sequences

    df = spark.createDataFrame(
        [("240,311,240,Virus", "CSV/a"), ("6,Clean", "CSV/b")], "m_message string, seq_id string"
    )
    s = {r["seq_id"]: r for r in awsctd_sequences(df).collect()}
    assert s["CSV/a"]["events"] == ["240", "311", "240"]
    assert s["CSV/a"]["label"] == "Virus" and s["CSV/a"]["anomaly"]
    assert s["CSV/b"]["events"] == ["6"] and s["CSV/b"]["label"] == "Normal" and s["CSV/b"]["normal"]
    ev = awsctd_events(awsctd_sequences(df))
    assert ev.count() == 4


def test_pro_parse(spark):
    from sparklead.sources.datasets import pro_events

    df = spark.createDataFrame(
        [("7  01.02.2021 10:11:12.500 sys  1  2  INFO  hello   world", "success_x.log")],
        "m_message string, seq_id string",
    )
    r = pro_events(df).first()
    assert r["count"] == "7" and r["log_level"] == "INFO"
    assert r["m_message"] == "hello world"
    assert r["m_timestamp"].isoformat() == "2021-02-01T10:11:12.500000"
    assert r["normal"] is True


def test_lo2_multiformat_and_fold(spark):
    from sparklead.sources.datasets import lo2_events, lo2_sequences

    df = spark.createDataFrame(
        [
            ("10:00:00.001 a", "r1", "correct", "svc"),
            ("10:00:01.002 b", "r1", "correct", "svc"),
            ("garbage line", "r1", "correct", "svc"),
            ("10:00:02.003 c", "r1", "key-error", "svc"),
        ],
        "m_message string, run string, test_case string, service string",
    )
    ev = lo2_events(df)
    assert ev.count() == 3  # timestamp-less row dropped (lo2.py:240)
    seq = {r["seq_id"]: r for r in lo2_sequences(ev).collect()}
    assert seq["r1__correct__svc"]["m_message"] == "10:00:00.001 a\n10:00:01.002 b"
    assert seq["r1__correct__svc"]["normal"] and seq["r1__key-error__svc"]["anomaly"]


def test_min_file_size_filter(spark, tmp_path):
    from sparklead.sources.raw import load_text

    (tmp_path / "big.log").write_text("line a\nline b\n")
    (tmp_path / "empty.log").write_text("")
    (tmp_path / "tiny.log").write_text("x\n")
    out = load_text(spark, str(tmp_path / "*.log"), min_file_size=3)
    files = {r["file_name"].rsplit("/", 1)[-1] for r in out.select("file_name").distinct().collect()}
    assert files == {"big.log"}
    assert out.count() == 2


# ------------------------------------------------------------------ dedup fixtures

def test_exact_dedup_sees_real_duplicate_groups(spark, sf_dir):
    # round 8: exact_dedup merged into the doc-grain dedup_signatures
    # entry — the seeded-group invariants carry over (each dup group has
    # exactly 2 members: the original and its +100000 re-insert)
    import __spark_entry__ as entrymod

    out = entrymod.queries()["dedup_signatures"](spark, sf_dir)
    dups = out.filter(F.col("n_dups") > 1)
    assert dups.count() > 0
    assert dups.filter(F.col("n_dups") != 2).count() == 0  # each seeded once
    # the keep rule picks exactly one representative per dup pair
    keeps = dups.groupBy("content_hash").agg(
        F.sum(F.col("is_keep").cast("int")).alias("k")
    )
    assert keeps.filter(F.col("k") != 1).count() == 0


def test_ngram_jaccard_nonvacuous(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["ngram_jaccard_pairs"](spark, sf_dir).collect()
    assert len(rows) > 0  # round-1 vacuity regression guard
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in rows}
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id")
        .collect()
    ]
    # every seeded (original, original+1000) perturbation pair must surface
    seeded = [(a, a + 1000) for a in ids]
    assert all(p in pairs for p in seeded)
    assert all(pairs[p] > 0.5 for p in seeded)


# ------------------------------------------------------------------ streaming idempotence

def test_stream_replay_is_idempotent(spark, tmp_path):
    import shutil

    from sparklead.streaming import stream_route

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    synth.pretokenized(spark, 400).write.parquet(inp)
    stream_route(spark, inp, out, synth.source_meta(spark)).awaitTermination(180)
    n1 = spark.read.parquet(os.path.join(out, "seq_features")).count()
    agg1 = spark.read.parquet(os.path.join(out, "source_agg")).agg(F.sum("n_seqs")).first()[0]
    # simulate a lost checkpoint: the stream REPLAYS batch 0 against the same
    # sinks — the manifest's committed marker must make the replay a no-op
    shutil.rmtree(os.path.join(out, "_checkpoint"))
    stream_route(spark, inp, out, synth.source_meta(spark)).awaitTermination(180)
    assert spark.read.parquet(os.path.join(out, "seq_features")).count() == n1 == 400
    assert spark.read.parquet(os.path.join(out, "source_agg")).agg(F.sum("n_seqs")).first()[0] == agg1
    manifest = [json.loads(l) for l in open(os.path.join(out, "stream_manifest.jsonl"))]
    assert sum(1 for m in manifest if m.get("committed")) == 1  # replay skipped


def test_stream_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState running totals: state accumulates ACROSS
    micro-batches (maxFilesPerTrigger=1 forces one batch per file) and the
    final update per source equals the batch-side totals."""
    from sparklead.streaming import stream_running_source_stats

    inp = str(tmp_path / "in")
    pt = synth.pretokenized(spark, 600)
    pt.filter(F.col("doc_id") < "doc_000000300").coalesce(1).write.mode("append").parquet(inp)
    pt.filter(F.col("doc_id") >= "doc_000000300").coalesce(1).write.mode("append").parquet(inp)
    q = stream_running_source_stats(
        spark, inp, query_name="rss_test", max_files_per_trigger=1
    )
    q.awaitTermination(180)
    # memory sink holds every update; the MAX per source is the final state
    final = {
        r["source"]: (r["n_seqs"], r["sum_tok"])
        for r in spark.sql(
            "SELECT source, max(n_seqs) AS n_seqs, max(sum_tok) AS sum_tok FROM rss_test GROUP BY source"
        ).collect()
    }
    expected = {
        r["source"]: (r["n"], r["tok"])
        for r in pt.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("tok")
        ).collect()
    }
    assert final == expected
    # statefulness: at least one source must have been updated in two batches
    n_updates = spark.sql("SELECT count(*) AS c FROM rss_test").first()["c"]
    assert n_updates > len(expected)


# ------------------------------------------------------------------ path-reading loaders

def test_load_adfa_from_files(spark, tmp_path):
    from sparklead.sources.datasets import adfa_sequences, load_adfa

    root = tmp_path / "ADFA-LD"
    (root / "Training_Data_Master").mkdir(parents=True)
    (root / "Attack_Data_Master" / "Adduser_1_2").mkdir(parents=True)
    (root / "Training_Data_Master" / "UTD-0001.txt").write_text("6 6 63 6\n42 120\n")
    (root / "Attack_Data_Master" / "Adduser_1_2" / "UAD-1.txt").write_text("240 311\n")
    seq = {r["seq_id"]: r for r in adfa_sequences(load_adfa(spark, str(root))).collect()}
    assert seq["UTD-0001"]["n_events"] == 6 and seq["UTD-0001"]["normal"]
    assert seq["UAD-1"]["n_events"] == 2 and seq["UAD-1"]["anomaly"]


def test_load_awsctd_from_files(spark, tmp_path):
    from sparklead.sources.datasets import load_awsctd

    d = tmp_path / "CSV" / "DDoS"
    d.mkdir(parents=True)
    (d / "run1.csv").write_text("240,311,Virus\n6,6,Clean\n")
    s = load_awsctd(spark, str(tmp_path / "CSV")).collect()
    by_label = {r["label"]: r for r in s}
    assert by_label["Virus"]["seq_id"] == "DDoS/run1"
    assert by_label["Virus"]["events"] == ["240", "311"]
    assert by_label["Normal"]["events"] == ["6", "6"]


def test_load_lo2_from_files(spark, tmp_path):
    from sparklead.sources.datasets import load_lo2, lo2_sequences

    d = tmp_path / "run1" / "correct"
    d.mkdir(parents=True)
    (d / "oauth2-oauth2-token.log").write_text("10:00:00.001 ok\n\n10:00:01.002 fine\n")
    e = tmp_path / "run1" / "key-error"
    e.mkdir(parents=True)
    (e / "oauth2-oauth2-token.log").write_text("10:00:02.003 boom\n")
    seqs = {r["seq_id"]: r for r in lo2_sequences(load_lo2(spark, str(tmp_path))).collect()}
    assert seqs["run1__correct__oauth2-oauth2-token"]["normal"]
    assert seqs["run1__key-error__oauth2-oauth2-token"]["anomaly"]
    assert seqs["run1__correct__oauth2-oauth2-token"]["m_message"].count("\n") == 1


def test_load_pro_from_files(spark, tmp_path):
    from sparklead.sources.datasets import load_pro

    (tmp_path / "success_a.log").write_text("1 01.02.2021 10:00:00.100 s 1 2 INFO up\n")
    (tmp_path / "empty.log").write_text("")
    out = load_pro(spark, str(tmp_path / "*.log")).collect()
    assert len(out) == 1  # empty file filtered by min_file_size (pro.py:16)
    assert out[0]["normal"] and out[0]["log_level"] == "INFO"


def test_embedding_neardup_finds_seeded_pairs(spark, sf_dir):
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["embedding_neardup"](spark, sf_dir).collect()
    assert len(rows) > 0
    seeded = {(r["a_id"], r["b_id"]) for r in rows if r["b_id"] == r["a_id"] + 10000}
    n_expected = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .count()
    )
    # uniform scaling preserves the sign pattern -> LSH bucket collides ->
    # every seeded pair must be recalled at cosine ~1
    assert len(seeded) == n_expected
    assert all(r["cosine"] >= 0.95 for r in rows)


def test_distributed_cumsum_matches_global_window(spark, sf_dir):
    from pyspark.sql import Window

    from sparklead.enhancers.eventlog import distributed_cumsum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(16)
    v = (F.col("event_type") == "error").cast("int")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    dist = distributed_cumsum(ev, v, order, "c", num_partitions=16)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = ev.withColumn("c", F.sum(v).over(w))
    a = {r["event_id"]: r["c"] for r in dist.select("event_id", "c").collect()}
    b = {r["event_id"]: r["c"] for r in ref.select("event_id", "c").collect()}
    assert a == b


def test_lane_packed_simhash_matches_naive_fold(spark, sf_dir):
    """with_simhash (16 lane-packed shift-add folds) must stay value-identical
    to simhash64 (the single 64-way when-array fold) — same majority votes,
    including ties (2*cnt == n -> bit unset on both paths)."""
    from sparklead.dedup import simhash64, with_simhash

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .limit(300)
    )
    naive = docs.select("doc_id", simhash64(F.col("toks")).alias("a"))
    fast = with_simhash(docs, "toks", "b").select("doc_id", "b")
    assert naive.join(fast, "doc_id").filter(F.col("a") != F.col("b")).count() == 0


# ------------------------------------------------------------------ IVF sample fit

def test_ivf_sample_fit_keeps_recall(spark, sf_dir):
    from sparklead.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(q, emb, k=3).collect()}
    # force the sample path (fit_sample < corpus size)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, emb, k=3, n_centroids=4, n_probe=2, fit_sample=50).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.3
