"""Round-7 additions: decontamination operator, neardup_text_dedup cache
discipline, deep-chain checkpoint lifecycle, plan-tree
row-multiplier detection, report-pivot gate leg, oracle float-boundary
(ulp) guards."""

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


# ---------------------------------------------------------------- decontam

def _corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "a completely different document about spark physical plans and shuffles"),
        (2, "tokenizer quality metrics depend on corpus composition and dedup rates"),
        (3, "short doc"),
        (4, "an unrelated sentence mentioning nothing from any evaluation suite"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_containment_verbatim_partial_clean(spark):
    from sparklead.decontam import ngram_containment

    corpus = _corpus(spark)
    # eval set: doc 0 verbatim; the FIRST 8 tokens of doc 2 (with n=4 that
    # leaks 5 of doc 2's 9 distinct 4-grams)
    ev = spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog near the river bank",),
            ("tokenizer quality metrics depend on corpus composition and",),
        ],
        "text string",
    )
    out = {
        r["doc_id"]: r
        for r in ngram_containment(corpus, ev, ngram_n=4).collect()
    }
    assert out[0]["containment"] == 1.0
    assert out[0]["n_hit"] == out[0]["n_ngrams"]
    # doc 2 leaks a token prefix: recompute the expected partial containment
    # from first principles instead of a magic number
    toks = corpus.collect()
    doc2 = [r["text"] for r in toks if r["doc_id"] == 2][0].split()
    ev2 = "tokenizer quality metrics depend on corpus composition and".split()
    grams = {" ".join(doc2[i : i + 4]) for i in range(len(doc2) - 3)}
    ev_grams = {" ".join(ev2[i : i + 4]) for i in range(len(ev2) - 3)}
    expect_hit = len(grams & ev_grams)
    assert out[2]["n_hit"] == expect_hit
    assert out[2]["containment"] == pytest.approx(expect_hit / len(grams))
    # clean docs: zero hits
    assert out[1]["n_hit"] == 0 and out[4]["n_hit"] == 0
    # short doc (< n tokens): its whole token sequence is ONE gram, matched
    # whole — absent from the eval set here
    assert out[3]["n_ngrams"] == 1 and out[3]["n_hit"] == 0


def test_ngram_containment_fast_lane_parity(spark):
    """xxhash64 gram lane must agree with the string lane on a
    collision-free fixture (64-bit collisions at this size: ~0)."""
    from sparklead.decontam import ngram_containment

    corpus = _corpus(spark)
    ev = corpus.filter(F.col("doc_id").isin(0, 2)).select("text")
    slow = {
        r["doc_id"]: (r["n_ngrams"], r["n_hit"])
        for r in ngram_containment(corpus, ev, ngram_n=3, fast=False).collect()
    }
    fast = {
        r["doc_id"]: (r["n_ngrams"], r["n_hit"])
        for r in ngram_containment(corpus, ev, ngram_n=3, fast=True).collect()
    }
    assert slow == fast


def test_ngram_containment_empty_eval_set(spark):
    """An empty eval set (a normal pipeline state: nothing to screen
    against) must yield zero hits for every doc, not an error."""
    from sparklead.decontam import decontaminate, ngram_containment

    corpus = _corpus(spark)
    ev = corpus.filter(F.lit(False)).select("text")
    out = ngram_containment(corpus, ev, ngram_n=4).collect()
    assert len(out) == 5
    assert all(r["n_hit"] == 0 and r["containment"] == 0.0 for r in out)
    assert decontaminate(corpus, ev, ngram_n=4).count() == 5


def test_contaminated_docs_and_decontaminate_partition(spark):
    """contaminated_docs + decontaminate partition the corpus exactly."""
    from sparklead.decontam import contaminated_docs, decontaminate

    corpus = _corpus(spark)
    ev = corpus.filter(F.col("doc_id") == 0).select("text")
    bad = contaminated_docs(corpus, ev, ngram_n=4, threshold=0.8)
    kept = decontaminate(corpus, ev, ngram_n=4, threshold=0.8)
    bad_ids = {r["doc_id"] for r in bad.collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert bad_ids == {0}
    assert kept_ids == {1, 2, 3, 4}
    # evidence columns ride the contaminated rows
    assert {"n_ngrams", "n_hit", "containment"} <= set(bad.columns)


def test_decontamination_single_corpus_scan(spark, sf_dir):
    """The containment plan must scan the corpus parquet ONCE (the round-7
    single-pass rewrite: totals carried through the explode, not a second
    scan joined back)."""
    import __spark_entry__ as entrymod

    df = entrymod._q_decontamination(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("documents.parquet")
    # eval set (2 filtered scans) + corpus (1) = 3; round 8 adds the
    # PII/C4 rider's own per-doc projection branch (+1, a deliberate
    # same-grain gate merge — the CONTAINMENT lane itself still scans
    # once). A totals re-scan in the containment lane would make it 5+.
    assert n_scans <= 4, f"corpus scanned more than once:\n{plan[:4000]}"
    # the eval-gram set must reach the corpus stream as a BROADCAST build
    # side — a sort-merge join here would shuffle every corpus gram on its
    # hash, the exact shape the operator exists to avoid at 100 TB
    assert "BroadcastHashJoin" in plan, plan[:4000]
    assert "SortMergeJoin" not in plan, f"eval join degraded to SMJ:\n{plan[:4000]}"


# ------------------------------------------------- neardup cache discipline

def test_neardup_text_dedup_cache_contract(spark):
    """During the call, cands+verified are persisted; after the returned
    frame materializes, the ONLY surviving cache is the component-labels
    frame (caller-owned), and clearCache() ends at zero."""
    from sparklead.dedup import neardup_text_dedup

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common text body shared {i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    out = neardup_text_dedup(docs, shingle_n=2, threshold=0.4)
    out.count()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 1  # comps only
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() == 0


# ------------------------------------------------- deep-chain checkpoint

def test_neardup_components_checkpoint_deep_chain(spark):
    """A 12-hop chain on the distributed LOOP lane (small_graph_edges=None;
    the small-graph fast path would resolve it driver-side) runs past
    _TRUNCATE_EVERY, so the labels come back rooted at a reliable
    checkpoint: no cache beyond the caller-owned labels, a recompute from
    the checkpoint files after unpersist, and Spark's ContextCleaner
    deleting those files once the frame is dropped."""
    import gc
    import time
    from urllib.parse import urlparse

    from sparklead.dedup import neardup_components

    def rdd_dirs():
        d = spark.sparkContext.getCheckpointDir()
        path = urlparse(d).path if d else ""
        if not os.path.isdir(path):
            return set()
        return {os.path.join(path, c) for c in os.listdir(path) if c.startswith("rdd-")}

    n = 12
    pairs = spark.range(n).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    assert "LogicalRDD" not in pairs._jdf.queryExecution().analyzed().toString()
    spark.catalog.clearCache()
    before = rdd_dirs()
    labels = neardup_components(pairs, small_graph_edges=None)
    expected = {i: 0 for i in range(n + 1)}
    assert {r["id"]: r["component"] for r in labels.collect()} == expected
    assert "LogicalRDD" in labels._jdf.queryExecution().analyzed().toString()
    created = rdd_dirs() - before
    assert created, "expected a checkpoint for a 12-hop chain"
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 1
    labels.unpersist()
    assert jsc.getPersistentRDDs().size() == 0
    # recomputed from the checkpoint files, not the propagation rounds
    assert {r["id"]: r["component"] for r in labels.collect()} == expected

    del labels
    deadline = time.time() + 30
    while created & rdd_dirs() and time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert not created & rdd_dirs(), f"checkpoint files not cleaned: {created}"


# ------------------------------------------------- plan-tree multiplier walk

def test_auto_fit_fraction_string_literal_no_false_positive(spark, tmp_path):
    """Advisor fix: detection walks node CLASS NAMES, so a filter whose
    string literal contains 'Generate ' no longer forces the static-default
    fallback (filters only shrink the draw — documented safe direction)."""
    from sparklead.similarity import _auto_fit_fraction

    path = str(tmp_path / "c")
    spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("tag"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    filtered = corpus.filter(F.col("tag") != "Generate Expand MapInPandas")
    assert _auto_fit_fraction(filtered, 10) == 0.1
    # real multipliers still fall back
    assert _auto_fit_fraction(
        corpus.select("vec_id", F.explode("embedding").alias("x")), 10
    ) is None
    assert (
        _auto_fit_fraction(
            corpus.mapInPandas(lambda it: it, corpus.schema), 10
        )
        is None
    )


# ------------------------------------------------- report pivot gate leg

def test_report_pivot_rides_auc_threshold(spark):
    """The pivot columns on the auc_threshold row must equal mean/median of
    the per-run f1 recomputed directly from the materialized store rows."""
    import pandas as pd

    import __spark_entry__ as entrymod

    row = entrymod._q_auc_threshold(spark, "/root/testdata/sf0.01").first()
    store = pd.read_parquet(entrymod.AUC_REPORT_OUTPUT)
    assert len(store) == 8  # 2 models x 2 inputs x 2 run halves
    for m in ("THRP50", "THRP90"):
        for i in ("value", "logvalue"):
            cell = store[(store["model"] == f"su-{m}") & (store["input"] == i)]
            assert len(cell) == 2
            assert row[f"f1mean_{m.lower()}_{i}"] == pytest.approx(
                cell["f1"].mean(), abs=1e-6
            )
            assert row[f"f1med_{m.lower()}_{i}"] == pytest.approx(
                cell["f1"].median(), abs=1e-6
            )


# ------------------------------------------------- oracle ulp guards (A3)

def test_ad_predictions_margins_clear_of_zero(spark):
    """Advisor fix: the ad_predictions oracle certifies sign(coef.x + b)
    across engines — a margin within ~1 ulp of 0 would make the gate flaky
    for reasons unrelated to a regression. Guard the gate fixture."""
    import pandas as pd

    import __spark_entry__ as entrymod

    entrymod._q_ad_predictions(spark, "/root/testdata/sf0.01").count()
    feats = pd.read_parquet(os.path.join(entrymod.AD_PRED_OUTPUT, "features"))
    model = pd.read_parquet(os.path.join(entrymod.AD_PRED_OUTPUT, "model")).iloc[0]
    coef, intercept = model["coef"], float(model["intercept"])
    margins = feats["x"].map(
        lambda v: abs(sum(c * x for c, x in zip(coef, v)) + intercept)
    )
    assert margins.min() > 1e-6, (
        f"LR margin {margins.min():.3e} too close to the decision boundary — "
        "a corpus change landed on a float boundary; adjust the fixture"
    )


def test_ivf_topk_cosines_clear_of_round_boundary(spark):
    """Advisor fix: the ivf_topk oracle compares round(cosine, 4) across
    engines; a cosine sitting at a .00005 boundary could round differently
    per engine. Guard the gate fixture's distance to the boundary."""
    import pandas as pd

    import __spark_entry__ as entrymod

    import math

    entrymod._q_ivf_topk(spark, "/root/testdata/sf0.01").count()
    out = pd.read_parquet(entrymod.IVF_TOPK_OUTPUT)
    emb = pd.read_parquet("/root/testdata/sf0.01/embeddings.parquet").set_index(
        "vec_id"
    )["embedding"]

    def cos(q, n):
        a, b = emb.loc[q], emb.loc[n]
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    raw = out.apply(lambda r: cos(r["query_id"], r["neighbor_id"]), axis=1)
    dist = ((raw.abs() * 1e4) % 1.0 - 0.5).abs().min()
    assert dist > 1e-6, (
        f"a fixture cosine sits {dist:.2e} from a round(.,4) half-way "
        "boundary — engines may round it apart; adjust the fixture"
    )


# ------------------------------------------- decontam property test (r7b)
# One Spark round-trip per example batch (the test_nezha_props convention).

@settings(max_examples=3, deadline=None)
@given(
    st.data(),
)
def test_ngram_containment_matches_python_oracle(spark, data):
    """ngram_containment (string lane) against a from-scratch pure-Python
    oracle: same \\s+ tokenization, same short-doc clamp (docs shorter than
    n contribute their whole token sequence as ONE gram), same distinct-set
    semantics. Random ASCII word soup, random n."""
    import re

    from sparklead.decontam import ngram_containment

    word = st.text(alphabet="abcdeX", min_size=1, max_size=4)
    text = st.lists(word, min_size=0, max_size=12).map(" ".join)
    corpus_texts = data.draw(st.lists(text, min_size=1, max_size=12))
    eval_texts = data.draw(st.lists(text, min_size=0, max_size=4))
    n = data.draw(st.integers(min_value=2, max_value=4))

    def py_grams(t: str) -> set:
        toks = re.split(r"\s+", t)
        return {
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n + 1, 1))
        }

    ev_union = set().union(*map(py_grams, eval_texts)) if eval_texts else set()

    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(t,) for t in eval_texts], "text string"
    ) if eval_texts else corpus.filter(F.lit(False)).select("text")

    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_hit"], r["containment"])
        for r in ngram_containment(corpus, ev, ngram_n=n).collect()
    }
    assert set(got) == set(range(len(corpus_texts)))
    for i, t in enumerate(corpus_texts):
        g = py_grams(t)
        hit = len(g & ev_union)
        n_g, n_h, c = got[i]
        assert n_g == len(g), (t, n)
        assert n_h == hit, (t, n, g, ev_union)
        assert abs(c - hit / max(len(g), 1)) < 1e-12


def test_ad_predictions_hash_split_oracle(spark):
    """Round-7 graduation of SURVEY §2 #77's last leg: the hash-bucket
    split's recorded sides replay from the materialized bucket values —
    DuckDB re-derives every assignment from u and the threshold rule while
    Spark recounts the recorded flags; the two must hash-match. Here:
    coherence of the certified counts, plus the materialized u matches
    the shared hash_bucket expression row-for-row."""
    import __spark_entry__ as entrymod
    import pandas as pd
    from test_round6 import _duck_parity

    pdf = _duck_parity(spark, "ad_predictions")
    n_tr = int(pdf["n_hash_train"].iloc[0])
    n_te = int(pdf["n_hash_test"].iloc[0])
    n_all = int(pdf["n_hash_distinct"].iloc[0])
    assert n_tr > 0 and n_te > 0, "both hash-split sides must be non-empty"
    assert n_tr + n_te == n_all == int(
        pdf["n_perm_train"].iloc[0] + pdf["n_perm_test"].iloc[0]
    ), "hash lane must partition the exact frame the perm lane covers"

    # the materialized u IS hash_bucket(seq_id, 42) — recompute in Spark
    from sparklead.detectors.ad import hash_bucket

    hb = pd.read_parquet(os.path.join(entrymod.AD_PRED_OUTPUT, "hash"))
    re_u = {
        r["seq_id"]: r["u"]
        for r in spark.createDataFrame(hb[["seq_id"]])
        .withColumn("u", hash_bucket("seq_id", 42))
        .collect()
    }
    assert all(re_u[s] == u for s, u in zip(hb["seq_id"], hb["u"]))
    assert all((u < 0.5) == bool(t) for u, t in zip(hb["u"], hb["hash_test"]))


# ------------------------------------------------- sequence packing (r7b)

def _py_greedy(sizes, max_tokens):
    run, pid, ids = 0, 0, []
    for n in sizes:
        if run > 0 and run + n > max_tokens:
            pid, run = pid + 1, 0
        ids.append(pid)
        run += n
    return ids


def test_chunk_oversized_reassembles(spark):
    """Chunks sliced relationally must reassemble to the original tokens,
    each chunk <= budget, empty docs kept as their own empty chunk."""
    from sparklead.packing import chunk_oversized

    rows = [
        ("a", list(range(10))),
        ("b", list(range(25))),   # 3 chunks at max 10
        ("c", []),                # empty doc: one empty chunk
        ("d", list(range(20))),   # exact multiple: 2 chunks
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = chunk_oversized(df, 10).collect()
    by_doc = {}
    for r in out:
        assert len(r["tokens"]) <= 10
        assert r["n_tok"] == len(r["tokens"])
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["tokens"]))
    reassembled = {
        d: [t for _, chunk in sorted(cs) for t in chunk] for d, cs in by_doc.items()
    }
    assert reassembled == {d: toks for d, toks in rows}
    assert len(by_doc["b"]) == 3 and len(by_doc["d"]) == 2 and len(by_doc["c"]) == 1


@settings(max_examples=3, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    st.integers(min_value=8, max_value=32),
)
def test_pack_greedy_matches_python_oracle(spark, sizes, max_tokens):
    """pack_assignments must realize EXACTLY the sequential greedy walk —
    recomputed from scratch in Python over the same order — for every
    bucket, under a shuffled input partitioning."""
    from sparklead.packing import pack_assignments

    rows = [
        (f"doc_{i:04d}", "s%d" % (i % 3), [0] * n, n) for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>, n_tok int"
    ).repartition(7)
    got = {
        (r["source"], r["doc_id"]): r["pack_id"]
        for r in pack_assignments(df, max_tokens).collect()
    }
    for src in {"s0", "s1", "s2"}:
        docs = sorted((d, n) for d, s, _, n in rows if s == src)
        expect = _py_greedy([min(n, 10**9) for _, n in docs], max_tokens)
        assert [got[(src, d)] for d, _ in docs] == expect, (src, max_tokens)


def test_pack_tokenized_invariants_and_salt(spark):
    """End-to-end: every chunk lands in exactly one pack, every pack sum
    <= budget, assignments are repartition-invariant, and the salt path
    bounds the sequential unit while preserving the invariants."""
    from sparklead.packing import pack_stats, pack_tokenized
    from sparklead.synth import pretokenized

    df = pretokenized(spark, 800, partitions=8)
    n_chunks_expected = df.selectExpr(
        "sum(greatest(cast(ceil(n_tok / 64.0) as int), 1)) as n"
    ).first()["n"]

    for salt in (None, 16):
        packed = pack_tokenized(df, 64, salt_buckets=salt)
        assert packed.count() == n_chunks_expected
        stats = pack_stats(packed, 64)
        bad = stats.filter(F.col("n_tokens") > 64).count()
        assert bad == 0, f"overfull packs with salt={salt}"
        # chunk identity: (doc_id, chunk_idx) unique across packs
        assert (
            packed.groupBy("doc_id", "chunk_idx").count().filter("count > 1").count()
            == 0
        )
    # determinism: a different input partitioning yields the same assignment
    a = {
        (r["doc_id"], r["chunk_idx"]): (r["source"], r["pack_id"])
        for r in pack_tokenized(df, 64).collect()
    }
    b = {
        (r["doc_id"], r["chunk_idx"]): (r["source"], r["pack_id"])
        for r in pack_tokenized(df.repartition(3), 64).collect()
    }
    assert a == b


def test_ngram_containment_null_text_kept(spark):
    """Round-7 review fix: a NULL-text corpus doc must stay in the output
    with (0, 0, 0.0) — a plain explode dropped it, diverging from the
    DuckDB gate oracle and the no-doc-silently-skipped contract."""
    from sparklead.decontam import decontaminate, ngram_containment

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([("alpha beta gamma delta",)], "text string")
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_hit"], r["containment"])
        for r in ngram_containment(corpus, ev, ngram_n=3).collect()
    }
    assert set(got) == {0, 1, 2}
    assert got[1] == (0, 0, 0.0)
    assert got[0][2] > 0.0
    # decontaminate keeps the null-text doc (clean by definition)
    kept = {r["doc_id"] for r in decontaminate(corpus, ev, ngram_n=3, threshold=0.5).collect()}
    assert 1 in kept and 2 in kept and 0 not in kept


def test_packing_greedy_contract_certified_by_duckdb(spark):
    """Cross-engine certification of the packing kernel (round-7 review:
    the operator has no free gate slot — exemption recorded in CLAUDE.md —
    so the DuckDB cross-check runs here instead). Given the materialized
    assignment, three window-SQL conditions pin the UNIQUE greedy
    solution, no recursion needed:
      (1) no pack's token sum exceeds the budget,
      (2) pack ids per bucket start at 0 and step by 0 or 1 in walk order,
      (3) every step to a new pack was FORCED: the previous pack's total
          plus the stepping item's size exceeds the budget.
    Any non-greedy assignment violates at least one."""
    import duckdb

    from sparklead.packing import pack_tokenized
    from sparklead.synth import pretokenized

    max_tokens = 64
    df = pretokenized(spark, 600, partitions=8)
    packed = (
        pack_tokenized(df, max_tokens, salt_buckets=4)
        .select("source", "_bucket_salt", "doc_id", "chunk_idx", "n_tok", "pack_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("packed", packed)
    overfull, bad_step, unforced = con.execute(f"""
        WITH totals AS (
          SELECT source, _bucket_salt, pack_id, sum(n_tok) AS s
          FROM packed GROUP BY 1, 2, 3
        ), walk AS (
          SELECT source, _bucket_salt, n_tok, pack_id,
                 lag(pack_id) OVER w AS prev_pack
          FROM packed
          WINDOW w AS (PARTITION BY source, _bucket_salt
                       ORDER BY doc_id, chunk_idx)
        )
        SELECT
          (SELECT count(*) FROM totals WHERE s > {max_tokens}),
          (SELECT count(*) FROM walk
           WHERE CASE WHEN prev_pack IS NULL THEN pack_id <> 0
                      ELSE pack_id - prev_pack NOT IN (0, 1) END),
          (SELECT count(*) FROM walk v
           JOIN totals t ON t.source = v.source
                        AND t._bucket_salt = v._bucket_salt
                        AND t.pack_id = v.prev_pack
           WHERE v.pack_id = v.prev_pack + 1
             AND t.s + v.n_tok <= {max_tokens})
      """).fetchone()
    assert overfull == 0, "a pack exceeds the budget"
    assert bad_step == 0, "pack ids don't walk 0,+0/+1 per bucket"
    assert unforced == 0, "a new pack was opened without being forced"


# ---------------------------------------------------------------- mixture


def _mixture_fixture(spark, n=3000):
    """Synth corpus + a budget dict exercising every contract branch:
    ~40% partial budget, 0 budget, over-total budget, and sources MISSING
    from the dict entirely (dropped by contract)."""
    from sparklead.synth import pretokenized

    docs = pretokenized(spark, n, partitions=5)
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    srcs = sorted(totals)
    budgets = {
        srcs[0]: int(totals[srcs[0]] * 0.4),
        srcs[1]: 0,
        srcs[2]: int(totals[srcs[2]] * 2),
    }
    return docs, totals, budgets


def test_mixture_sampling_matches_python_oracle(spark):
    """Full value-level oracle for the md5 lane: a from-scratch Python
    recompute (hashlib md5 over the same seeded key string, per-source
    hash-order walk, keep while the inclusive running total stays within
    budget) must agree doc-for-doc."""
    import hashlib

    from sparklead.mixture import sample_to_token_budget, token_budget_cutoffs

    docs, totals, budgets = _mixture_fixture(spark)
    rows = docs.select("doc_id", "source", "n_tok").collect()
    expected = set()
    exp_tokens = {}
    for src, budget in budgets.items():
        walk = sorted(
            (r for r in rows if r["source"] == src),
            key=lambda r: (
                hashlib.md5(f"{r['doc_id']}:0".encode()).hexdigest(),
                r["doc_id"],
            ),
        )
        cum = 0
        for r in walk:
            cum += r["n_tok"]
            if cum > budget:
                break
            expected.add(r["doc_id"])
            exp_tokens[src] = exp_tokens.get(src, 0) + r["n_tok"]
    got = sample_to_token_budget(docs, budgets, fast=False)
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == expected
    # the partial-budget source actually sampled (fixture sanity)
    assert 0 < len(expected) < len(rows)
    cuts = {
        r["source"]: r
        for r in token_budget_cutoffs(docs, budgets, fast=False).collect()
    }
    assert {s: c["kept_tokens"] for s, c in cuts.items()} == exp_tokens
    for s, c in cuts.items():
        assert c["kept_tokens"] <= budgets[s]


def test_mixture_sampling_duckdb_certified(spark):
    """Cross-engine certification of the md5 lane (packing-test pattern —
    the gate is at its 50-entry cap, exemption in CLAUDE.md): DuckDB
    recomputes the ENTIRE operator — md5 permutation order, per-source
    window running total, budget filter — from the raw narrow projection
    and must select the identical doc set."""
    import duckdb

    from sparklead.mixture import sample_to_token_budget

    docs, _, budgets = _mixture_fixture(spark)
    narrow = docs.select("doc_id", "source", "n_tok").toPandas()
    import pandas as pd

    bud = pd.DataFrame(
        {"source": list(budgets), "token_budget": list(budgets.values())}
    )
    con = duckdb.connect()
    con.register("narrow", narrow)
    con.register("budgets", bud)
    oracle = {
        r[0]
        for r in con.execute("""
            WITH c AS (
              SELECT doc_id, source, n_tok,
                     sum(n_tok) OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id || ':0'), doc_id) AS cum
              FROM narrow)
            SELECT c.doc_id FROM c
            JOIN budgets b USING (source)
            WHERE c.cum <= b.token_budget
        """).fetchall()
    }
    got = {
        r["doc_id"]
        for r in sample_to_token_budget(docs, budgets, fast=False)
        .select("doc_id")
        .collect()
    }
    assert got == oracle and len(oracle) > 0


def test_mixture_sampling_fast_lane_invariants(spark):
    """Production (xxhash64) lane: partition invariance, budget-respecting
    per-source token totals, 0-budget/missing-source drops, prefix
    monotonicity (a bigger budget keeps a superset), budgets-as-DataFrame
    parity, and no persisted state outliving the call."""
    from sparklead.mixture import sample_to_token_budget, token_budget_cutoffs

    spark.catalog.clearCache()
    docs, totals, budgets = _mixture_fixture(spark)
    srcs = sorted(totals)
    kept = sample_to_token_budget(docs.repartition(3), budgets).collect()
    kept_b = sample_to_token_budget(docs.repartition(8), budgets).collect()
    assert {r["doc_id"] for r in kept} == {r["doc_id"] for r in kept_b}
    by_src = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + r["n_tok"]
    assert by_src.get(srcs[1], 0) == 0  # 0-budget source dropped
    for s in srcs[3:]:
        assert s not in by_src  # missing from budgets -> dropped
    assert by_src[srcs[0]] <= budgets[srcs[0]]
    assert by_src[srcs[2]] == totals[srcs[2]]  # over-total budget -> whole
    # prefix monotonicity: doubling srcs[0]'s budget keeps a superset
    bigger = dict(budgets, **{srcs[0]: budgets[srcs[0]] * 2})
    kept_big = {
        r["doc_id"] for r in sample_to_token_budget(docs, bigger).collect()
    }
    assert {r["doc_id"] for r in kept}.issubset(kept_big)
    # budgets as a DataFrame instead of a dict: identical cutoffs
    bud_df = spark.createDataFrame(
        [(k, v) for k, v in budgets.items()], "source string, token_budget long"
    )
    a = {tuple(r) for r in token_budget_cutoffs(docs, budgets).collect()}
    b = {tuple(r) for r in token_budget_cutoffs(docs, bud_df).collect()}
    assert a == b
    # the eager cutoffs released the prefix-sum cache (CLAUDE.md contract)
    sc = spark.sparkContext
    assert len(sc._jsc.getPersistentRDDs()) == 0


def test_mixture_duplicate_budget_rows_rejected(spark):
    """Round-7 review fix: a budgets DataFrame with two rows for one
    source would silently duplicate every kept doc of that source through
    the inner joins — it must raise instead, BEFORE anything is persisted
    (pinned: no cache entry survives the raise)."""
    from sparklead.mixture import token_budget_cutoffs
    from sparklead.synth import pretokenized

    spark.catalog.clearCache()
    docs = pretokenized(spark, 200, partitions=2)
    bad = spark.createDataFrame(
        [("src0", 100), ("src0", 200), ("src1", 50)],
        "source string, token_budget long",
    )
    with pytest.raises(ValueError, match="duplicate.*src0"):
        token_budget_cutoffs(docs, bad)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
