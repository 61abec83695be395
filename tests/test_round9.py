"""Round-9 optimization pins: the small-graph union-find fast path must be
value-identical to the distributed label-propagation loop, and the
cosine_prenorm restructure bit-identical to cosine_expr."""

import random

import pytest
from pyspark.sql import functions as F


def _labels_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_small_graph_components_match_loop(spark):
    """neardup_components' round-9 driver fast path (union-find) and the
    distributed propagation loop compute the same min-reachable-id labels
    on a random graph with chains, stars, singleton pairs and a cycle."""
    from sparklead.dedup import neardup_components

    rng = random.Random(9)
    edges = set()
    # chains of varying length
    base = 0
    for ln in (2, 3, 5, 9):
        for i in range(ln - 1):
            edges.add((base + i, base + i + 1))
        base += 100
    # stars
    for c in (1000, 2000):
        for k in range(1, 8):
            edges.add((c, c + k))
    # a cycle
    edges |= {(3000, 3001), (3001, 3002), (3000, 3002)}
    # random extra edges
    for _ in range(60):
        a, b = rng.randrange(0, 4000), rng.randrange(0, 4000)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "a_id long, b_id long"
    )
    fast = neardup_components(pairs)  # small_graph_edges default covers this
    fast_labels = _labels_dict(fast)
    fast.unpersist()
    loop = neardup_components(pairs, small_graph_edges=None)
    loop_labels = _labels_dict(loop)
    loop.unpersist()
    assert fast_labels == loop_labels
    # schema parity: same column names and id dtype as the loop lane
    assert [f.name for f in fast.schema.fields] == ["id", "component"]
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in loop.schema.fields
    ]


def test_small_graph_components_string_ids(spark):
    """String keys order identically driver-side and in Spark (UTF-8 binary
    == code-point order), so the min-id representative matches."""
    from sparklead.dedup import neardup_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "a_id string, b_id string"
    )
    fast = neardup_components(pairs)
    labels = _labels_dict(fast)
    fast.unpersist()
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_small_graph_components_empty(spark):
    from sparklead.dedup import neardup_components

    pairs = spark.createDataFrame([], "a_id long, b_id long")
    fast = neardup_components(pairs)
    assert fast.count() == 0
    fast.unpersist()


def test_cosine_prenorm_bit_identical(spark):
    """cosine_prenorm(a, b, norm(a), norm(b)) must equal cosine_expr(a, b)
    EXACTLY (same fold, same product order) — the round-9 restructure only
    moves where the norms are evaluated, never what is computed."""
    from sparklead.similarity import cosine_expr, cosine_prenorm, norm_expr

    rng = random.Random(42)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(16)], [rng.uniform(-1, 1) for _ in range(16)])
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    out = df.select(
        cosine_expr(F.col("a"), F.col("b")).alias("c1"),
        cosine_prenorm(
            F.col("a"), F.col("b"), norm_expr(F.col("a")), norm_expr(F.col("b"))
        ).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"]  # bitwise float equality, not approx


def test_mixture_source_totals_passthrough(spark):
    """token_budget_cutoffs with caller-supplied exact source_totals must
    keep the identical doc set as the internal offsets-window path —
    including when an UNBUDGETED source's rows occupy the global cumsum
    order (its total still shifts later sources' offsets)."""
    import random

    from sparklead.mixture import sample_to_token_budget

    rng = random.Random(7)
    rows = [
        (i, f"src{rng.randrange(4)}", rng.randrange(1, 40)) for i in range(3000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    totals = {
        r["source"]: int(r["t"])
        for r in docs.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    # budget only 3 of the 4 sources: src3 is dropped but its rows still
    # sit in the global order
    budgets = {s: int(t * 0.25) for s, t in totals.items() if s != "src3"}
    for fast in (True, False):
        a = sample_to_token_budget(docs, budgets, fast=fast)
        b = sample_to_token_budget(docs, budgets, fast=fast, source_totals=totals)
        ka = {r["doc_id"] for r in a.collect()}
        kb = {r["doc_id"] for r in b.collect()}
        assert ka == kb and len(ka) > 0


@pytest.mark.parametrize("budgeted", [True, False])
def test_mixture_source_totals_missing_source_fails(spark, budgeted):
    """A non-NULL source present in ``docs`` but absent from
    ``source_totals`` must fail the call, naming the source — budgeted or
    not: its rows still sit in the global cumsum order, so dropping them
    would also shift every later source's cutoff. NULL-source rows are not
    a missing source: they are dropped, and with exact totals the sample
    equals the one computed without ``source_totals``."""
    from pyspark.errors import SparkRuntimeException

    from sparklead.mixture import sample_to_token_budget

    rows = [(i, f"src{i % 3}", 5) for i in range(30)] + [(100, None, 5)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    budgets = {"src0": 20, "src2": 20}
    if budgeted:
        budgets["src1"] = 20
    partial = {"src0": 50, "src2": 50}
    for fast in (True, False):
        with pytest.raises(SparkRuntimeException, match="no entry for source src1"):
            sample_to_token_budget(docs, budgets, fast=fast, source_totals=partial)
    full = {"src0": 50, "src1": 50, "src2": 50}
    # a None key (the NULL-source group of a groupBy) is accepted and ignored
    for fast in (True, False):
        kept = {r["doc_id"] for r in sample_to_token_budget(docs, budgets, fast=fast).collect()}
        for totals in (full, {**full, None: 5}):
            b = sample_to_token_budget(docs, budgets, fast=fast, source_totals=totals)
            assert {r["doc_id"] for r in b.collect()} == kept


def test_scrub_with_stats_matches_two_verb_join(spark):
    """The one-pass scrub_with_stats must equal substring_dup_stats JOIN
    scrub_duplicate_substrings column-for-column (both lanes)."""
    from sparklead.substrings import (
        scrub_duplicate_substrings,
        scrub_with_stats,
        substring_dup_stats,
    )

    rows = [
        (1, "a b c d e f g h i j k a b c d e f g h i j".split()),
        (2, "a b c d e f g h i j x y z".split()),  # quotes doc 1's window
        (3, "short doc".split()),
        (4, None),
        (5, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    for fast in (True, False):
        combined = scrub_with_stats(df, l=8, fast=fast)
        stats = substring_dup_stats(df, l=8, fast=fast)
        clean = scrub_duplicate_substrings(df, l=8, fast=fast).select(
            "doc_id", "clean_tokens", "n_clean_tok"
        )
        ref = stats.join(clean, "doc_id")
        cols = [
            "doc_id", "n_windows", "n_dup_windows", "n_dup_tokens",
            "dup_token_ppm", "n_clean_tok", "clean_tokens",
        ]
        a = {tuple(str(r[c]) for c in cols) for r in combined.select(cols).collect()}
        b = {tuple(str(r[c]) for c in cols) for r in ref.select(cols).collect()}
        assert a == b


def test_pack_assignments_partition_pass_matches_grouped_walk(spark):
    """The round-9 mapInPandas partition pass must assign the exact pack
    ids the per-group applyInPandas walk did — including buckets that span
    several Arrow batches (forced via a tiny maxRecordsPerBatch) and salt
    composition."""
    import random

    from pyspark.sql.types import LongType, StructField, StructType

    from sparklead.packing import PACK_ID, pack_assignments

    rng = random.Random(11)
    rows = [
        (i, f"s{rng.randrange(3)}", rng.randrange(1, 40)) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")

    # reference: the pre-round-9 grouped walk, inlined
    narrow = df.select("source", "doc_id", "n_tok")
    schema = StructType(
        list(narrow.schema.fields) + [StructField(PACK_ID, LongType(), False)]
    )

    def ref_walk(pdf):
        pdf = pdf.sort_values(["doc_id"], kind="mergesort", ignore_index=True)
        run, pid, ids = 0, 0, []
        for n in pdf["n_tok"]:
            n = int(n)
            if run > 0 and run + n > 64:
                pid += 1
                run = 0
            ids.append(pid)
            run += n
        pdf[PACK_ID] = ids
        return pdf

    ref = (
        narrow.groupBy("source").applyInPandas(ref_walk, schema=schema).drop("n_tok")
    )
    got = pack_assignments(df, 64, ("source",), ("doc_id",))
    key = lambda r: (r["source"], r["doc_id"])
    a = {key(r): r[PACK_ID] for r in ref.collect()}
    b = {key(r): r[PACK_ID] for r in got.collect()}
    assert a == b and len(a) == 5000

    # batch-boundary robustness: recompute with 500-row Arrow batches
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        c = {key(r): r[PACK_ID] for r in pack_assignments(df, 64, ("source",), ("doc_id",)).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert c == a


def test_pack_assignments_null_bucket_key_respects_cap(spark):
    """NULL bucket keys form ONE bucket walked like any other. A NULL int
    key reaches pandas as float NaN, and NaN != NaN, so an unnormalized
    walk reset to pack 0 on every NULL-key row: all three 600-token rows
    shared pack 0 (1800 tokens at a 1000 cap). A float key hands both NULL
    and a real NaN to pandas as NaN, yet Spark keeps them two buckets
    (sorted NULL first, NaN last): the NaN row starts its own pack 0
    instead of carrying on the NULL bucket's walk."""
    from sparklead.packing import PACK_ID, pack_assignments

    rows = [(None, i, 600) for i in range(3)] + [(1, 10, 600), (1, 11, 300)]
    df = spark.createDataFrame(rows, "k int, doc_id long, n_tok int")
    got = {r["doc_id"]: r[PACK_ID] for r in pack_assignments(df, 1000, ("k",)).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 10: 0, 11: 0}

    # no other key, so no bucket sorts between the NULL and the NaN rows
    rows = [(None, i, 600) for i in range(3)] + [(float("nan"), 20, 300)]
    df = spark.createDataFrame(rows, "k double, doc_id long, n_tok int")
    out = pack_assignments(df, 1000, ("k",))
    assert out.columns == ["k", "doc_id", PACK_ID]
    got = {r["doc_id"]: r[PACK_ID] for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 20: 0}
