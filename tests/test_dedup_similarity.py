"""Dedup + similarity + textstats + multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparklead import dedup, multimodal, similarity, textstats


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "other")], "doc_id int, text string"
    )
    groups = dedup.exact_duplicates(df).collect()
    assert {(r["n_dups"], r["keep_id"]) for r in groups} == {(2, 1), (1, 3)}
    assert sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect()) == [1, 3]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content with zero overlap whatsoever in words"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id int, text string")
    cands = dedup.minhash_candidates(df, num_hashes=16, bands=8)
    pairs = {(r["a_id"], r["b_id"]) for r in cands.collect()}
    assert (1, 2) in pairs
    verified = dedup.jaccard_verify(df, cands, threshold=0.5)
    vp = {(r["a_id"], r["b_id"]) for r in verified.collect()}
    assert (1, 2) in vp and (1, 3) not in vp


def test_simhash_near_for_similar(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d", "e"]), (2, ["a", "b", "c", "d", "e"]), (3, ["z", "q", "w", "x", "y"])],
        "doc_id int, toks array<string>",
    )
    sh = {r["keep_id"]: r["n_dups"] for r in dedup.simhash_dedup(df, "toks").collect()}
    assert sh[1] == 2  # identical token sets share the signature


def test_brute_force_topk_exact(spark):
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    out = similarity.brute_force_topk(df.filter("vec_id = 0"), df, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_lsh_recall_on_identical(spark):
    vecs = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1), 1.0]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    exact = similarity.brute_force_topk(df.filter("vec_id < 5"), df, k=3)
    approx = similarity.lsh_topk(df.filter("vec_id < 5"), df, k=3, n_planes=2)
    # identical-direction vectors always share every sign bucket -> rank-1 recall
    e1 = {(r["query_id"], r["neighbor_id"]) for r in exact.filter("rank=1").collect()}
    a_all = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e1 & a_all) >= 3


def test_embedding_neardup(spark):
    vecs = [(0, [1.0, 2.0, 3.0]), (1, [2.0, 4.0, 6.0]), (2, [-3.0, 1.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    pairs = dedup.embedding_neardup(df, threshold=0.99).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(0, 1)}


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is big for a cat to be")], "doc_id int, text string"
    )
    out = textstats.quality_score(textstats.lang_id(textstats.token_counts(df))).first()
    assert out["lang_pred"] == "en"
    assert out["n_ws_tokens"] == 15
    assert 0 <= out["quality"] <= 1
    fp1 = textstats.fingerprint(df).first()["fingerprint"]
    fp2 = textstats.fingerprint(df).first()["fingerprint"]
    assert fp1 == fp2


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, 50)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["feature"]) == 16 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert all(np.allclose(again[r["media_id"]], r["feature"]) for r in rows)
    frames = multimodal.frame_sample_plan(media)
    assert frames.filter(F.col("frame_ts_ms") < 0).count() == 0


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    exact = similarity.brute_force_topk(q, emb, k=3)
    approx = similarity.ivf_topk(q, emb, k=3, n_centroids=4, n_probe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing 3 of 4 cells must recover most exact neighbors
    assert len(e & a) / len(e) >= 0.5
    # and ranks are exact within the probed candidate set
    assert approx.filter("rank > 3").count() == 0


# ------------------------------------------------- simhash golden values

_GOLDEN_DOCS = [
    ("empty", []),
    ("null_arr", None),
    ("null_tok", ["alpha", None, "beta"]),
    ("one", ["solo"]),
    ("neg1", ["w0", "t0", "z0"]),
    ("neg2", ["w1", "t7", "z1"]),
    ("long", [f"tok{i}" for i in range(20)]),
    ("unicode", ["héllo", "日本語", "😀", "naïve"]),
    ("repeat", ["x", "x", "x", "y"]),
    ("sentence", "the quick brown fox jumps over the lazy dog".split()),
    ("numbers", [str(i) for i in range(1, 10)]),
    ("mixed", ["ERROR", "disk", "full", "on", "/dev/sda1", "ERROR"]),
]

# recorded from the Column-built lanes before the SQL-string rewrite
_GOLDEN_XX = {
    65_535: {
        "empty": 0,
        "null_arr": 0,
        "null_tok": 36031307721027115,
        "one": -8998211557177089630,
        "neg1": -4001695454113370938,
        "neg2": -4554849488825405321,
        "long": -3455664834253672423,
        "unicode": 496354735491848387,
        "repeat": -5636050478767222463,
        "sentence": -7573889167326994222,
        "numbers": 3286747357336338356,
        "mixed": 8480566621760862361,
    },
    8: {
        "empty": 0,
        "null_arr": 0,
        "null_tok": 36031307721027115,
        "one": -8998211557177089630,
        "neg1": -4001695454113370938,
        "neg2": -4554849488825405321,
        "long": -1147419942828376039,
        "unicode": 496354735491848387,
        "repeat": -5636050478767222463,
        "sentence": -7593029491517390640,
        "numbers": 3286747045144319904,
        "mixed": 8480566621760862361,
    },
}
# null_tok read 0000000000000000 before NULL tokens were filtered out of
# the md5 lane: md5(NULL) nulled every nibble fold
_GOLDEN_MD5 = {
    65_535: {
        "empty": "0000000000000000",
        "null_arr": "0000000000000000",
        "null_tok": "081342a011101eb2",
        "one": "5653c6b1f51852a6",
        "neg1": "92f5e510aa4d1b66",
        "neg2": "3b554a8edb94a2e7",
        "long": "922712aa01135258",
        "unicode": "2200884394704af3",
        "repeat": "9dd4e461268c8034",
        "sentence": "0fd43cf8cd8b66ce",
        "numbers": "ccdae85daac827bf",
        "mixed": "e908894201cdc424",
    },
    8: {
        "empty": "0000000000000000",
        "null_arr": "0000000000000000",
        "null_tok": "081342a011101eb2",
        "one": "5653c6b1f51852a6",
        "neg1": "92f5e510aa4d1b66",
        "neg2": "3b554a8edb94a2e7",
        "long": "800994a893605204",
        "unicode": "2200884394704af3",
        "repeat": "9dd4e461268c8034",
        "sentence": "0fd43868cd89264a",
        "numbers": "cc5a601d8ac82303",
        "mixed": "e908894201cdc424",
    },
}


@pytest.mark.parametrize("max_tokens", [65_535, 8])
def test_simhash_lanes_golden_values(spark, max_tokens):
    """Literal signatures of all three SimHash lanes over degenerate docs
    (empty, NULL array, NULL token, one token), sign-bit signatures
    (neg*, one, long ...), a doc cut by ``max_tokens=8`` and non-ASCII
    tokens — plus the output types and nullability every sink relies on."""
    from pyspark.sql.types import LongType, StringType

    df = spark.createDataFrame(_GOLDEN_DOCS, "doc_id string, toks array<string>")
    ws = dedup.with_simhash(df, "toks", max_tokens=max_tokens)
    ss = dedup.simhash_signatures(df, "toks", max_tokens=max_tokens)
    md = dedup.with_simhash_md5(df, "toks", max_tokens=max_tokens)
    assert ws.columns == ["doc_id", "toks", "simhash"]
    assert md.columns == ["doc_id", "toks", "simhash"]
    assert ss.columns == ["id", "simhash"]
    for frame, typ in ((ws, LongType()), (ss, LongType()), (md, StringType())):
        field = frame.schema["simhash"]
        assert field.dataType == typ and not field.nullable
    assert {r["doc_id"]: r["simhash"] for r in ws.collect()} == _GOLDEN_XX[max_tokens]
    assert {r["id"]: r["simhash"] for r in ss.collect()} == _GOLDEN_XX[max_tokens]
    assert {r["doc_id"]: r["simhash"] for r in md.collect()} == _GOLDEN_MD5[max_tokens]
    # a NULL token neither votes nor counts toward n: the md5 lane signs
    # ["alpha", NULL, "beta"] exactly like ["alpha", "beta"]
    pair = spark.createDataFrame([(["alpha", "beta"],)], "toks array<string>")
    pair_sig = dedup.with_simhash_md5(pair, "toks", max_tokens=max_tokens).first()["simhash"]
    assert pair_sig == _GOLDEN_MD5[max_tokens]["null_tok"]


# ------------------------------------------------- lang_id monster doc

def test_lang_id_monster_doc_takes_exact_path(spark):
    """A 40,000-word doc of one French stopword: 'fr' is the top 16-bit
    lane (bits 48-63), so 32,768+ hits overflow the packed signed long and
    abort the job under ANSI mode. Such docs must take the exact path."""
    df = spark.createDataFrame([(1, " ".join(["le"] * 40_000))], "doc_id int, text string")
    out = textstats.lang_id(df).first()
    assert out["lang_pred"] == "fr"
    assert out["lang_score"] == 1.0


# ------------------------------------------------- components job count

def test_neardup_components_small_graph_reads_pairs_once(spark, tmp_path):
    """The small-graph lane reads ``pairs`` in ONE bounded collect — a
    separate count() first evaluated the lineage twice (with a
    nondeterministic lineage the two reads can disagree) and cost two more
    jobs. Counted in a fresh job group over a one-file parquet pair frame:
    1 collect job + 3 jobs materializing the persisted labels, and 8 input
    records = the 3 pair rows read once + the 5 label rows."""
    path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a_id long, b_id long"
    ).coalesce(1).write.parquet(path)
    pairs = spark.read.parquet(path)
    sc = spark.sparkContext
    group = "neardup_components_small_graph_jobs"
    sc.setJobGroup(group, "small-graph lane job count")
    try:
        labels = dedup.neardup_components(pairs)
    finally:
        sc.setJobGroup(None, None)
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = {st for j in job_ids for st in tracker.getJobInfo(j).stageIds}
        records = 0
        for st in stages:
            d = store.lastStageAttempt(st)
            if str(d.status().toString()) != "SKIPPED":
                records += d.inputRecords()
        comp = {r["id"]: r["component"] for r in labels.collect()}
    finally:
        labels.unpersist()
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert (len(job_ids), records) == (4, 8)
