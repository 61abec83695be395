"""Physical-plan quality gates (the 100-TB contract, SURVEY.md §4.2).

These assert the plan SHAPE, not timings: filters reach the parquet scan,
column pruning works, small dims broadcast, the narrow enhancer chain has
zero exchanges, and the fused sequence aggregation shuffles exactly once.
A regression here is a scale bug even when sf0.01 results stay correct.
"""

import re

import pytest
from pyspark.sql import functions as F

from sparklead import synth
from sparklead.enhancers import eventlog as E
from sparklead.enhancers.sequence import aggregate_sequences
from sparklead.pipeline import enrich_stage, parse_stage
from sparklead.sources.hdfs import load_hdfs_events


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    p = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # only the 3 referenced columns are read, not all 16
    assert read_cols == {"l_returnflag", "l_quantity", "l_shipdate"}


def test_small_dim_joins_broadcast(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    p = _physical(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p or p.count("BroadcastHashJoin") >= 1


def test_enhancer_chain_is_narrow(spark):
    raw = synth.raw_log_corpus(spark, 50)
    enh = E.event_id(
        E.length(E.trigrams(E.alphanumerics(E.words(E.normalize(load_hdfs_events(raw)), "e_message_normalized"))))
    )
    p = _physical(enh)
    assert "Exchange" not in p  # zero shuffles: the whole chain is map-side


def test_sequence_agg_single_shuffle(spark):
    raw = synth.raw_log_corpus(spark, 50)
    enh = E.event_id(E.length(E.words(E.normalize(load_hdfs_events(raw)), "e_message_normalized")))
    seq = aggregate_sequences(enh, event_col="e_event_mask_id")
    p = _physical(seq)
    # every SequenceEnhancer feature in ONE groupBy -> exactly one exchange
    # (the reference runs one groupBy+join PER feature, sequence.py:13-80)
    assert p.count("Exchange") == 1


def test_pipeline_enrich_broadcast_only(spark):
    enr = enrich_stage(parse_stage(synth.pretokenized(spark, 100)), synth.source_meta(spark))
    p = _physical(enr)
    assert "BroadcastHashJoin" in p
    kinds = set(re.findall(r"(\w*Exchange)", p))
    assert kinds <= {"BroadcastExchange"}  # no shuffle exchange anywhere


def test_detector_scoring_broadcasts_model_tables(spark):
    from sparklead.detectors.rarity import rarity_fit, rarity_score

    docs = spark.createDataFrame([(i, ["a", "b"]) for i in range(50)], "seq_id int, e_words array<string>")
    out = rarity_score(docs, rarity_fit(docs))
    assert "BroadcastHashJoin" in _physical(out)


def test_banded_lsh_broadcasts_queries_no_corpus_shuffle(spark, sf_dir):
    """lsh_topk_banded's candidate join must broadcast the (exploded) QUERY
    side and never shuffle the corpus before the join: the corpus lineage up
    to the BroadcastHashJoin is scan -> bucket-explode, no Exchange. The
    only corpus-volume shuffles allowed are candidate-sized (pair dedupe +
    the per-query window)."""
    from sparklead.similarity import lsh_topk_banded

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk_banded(q, emb, k=3, n_planes=8, n_tables=2)
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # corpus side reaches the join unshuffled: between the corpus scan and
    # the join there is no Exchange (the broadcast exchange belongs to the
    # query side; candidate dedupe/window exchanges sit above the join)
    join_pos = plan.index("BroadcastHashJoin")
    below_join = plan[join_pos:]
    corpus_scan = below_join.index("Scan parquet")
    # the non-broadcast exchanges in the subtree between join and the
    # corpus scan would appear in this slice
    assert "Exchange hashpartitioning" not in below_join[:corpus_scan]


def test_minhash_fast_lane_is_codegen_aggregate(spark, sf_dir):
    """The production MinHash path (round-5 rework) must be the explode +
    partial-min hash-aggregate shape — every per-element op in whole-stage
    codegen, map-side combine collapsing the shingle explode back to one
    row per doc BEFORE the shuffle — and must NOT contain an interpreted
    higher-order fold over shingles (`aggregate(` lambdas) or per-shingle
    string materialization (array_join inside the signature stage).
    Measured basis: the HOF fold ran ~1.4k docs/s on 8 cores; this shape
    ~19x that (BENCH.md round-5 dedup table)."""
    from sparklead.dedup import minhash_candidates, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig_plan = _physical(minhash_signatures(docs))
    assert "partial_min" in sig_plan  # map-side combine before the exchange
    cand_plan = _physical(minhash_candidates(docs, fast=True))
    assert "partial_min" in cand_plan
    # the only lambda work left in the fast lane is the cheap 16-element
    # band split; the signature fold itself must not be a HOF aggregate
    assert "aggregate(lambdafunction" not in cand_plan.lower().replace(" ", "")


def test_mixture_sample_application_no_payload_shuffle(spark):
    """sample_to_token_budget's RETURNED frame (mixture.py) must be a pure
    broadcast filter over the corpus: the heavy prefix sum already ran
    eagerly inside token_budget_cutoffs, so the application plan carries
    ZERO shuffle exchanges — the token payload never moves — and exactly
    one BroadcastExchange (the source-sized cutoff table). At 100 TB this
    is the difference between a metadata-priced filter and re-shuffling
    the corpus."""
    docs = synth.pretokenized(spark, 2000, partitions=4)
    from sparklead.mixture import sample_to_token_budget

    s = sample_to_token_budget(docs, {"src0": 5000, "src1": 2000})
    p = _physical(s)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # any non-broadcast Exchange — including `Exchange SinglePartition`,
    # the global-window serialization this operator exists to avoid (the
    # earlier `\S*partitioning` regex could not catch it: round-7 review)
    shuffles = re.findall(r"(?<!Broadcast)(?<!Reused)Exchange\b[^\n]*", p)
    assert shuffles == [], shuffles


def test_iplom_bijection_plan_is_bounded(spark):
    """IPLoM's S3 (mining/iplom.py:_step3) derives every statistic from ONE
    distinct-pair aggregate and joins its pair-sized decision table back to
    the rows once. Rebuilding the pair relation once per statistic and
    joining each back (the earlier shape) planned the S2-keyed lineage many
    times over: 194 Exchange and 246 aggregate nodes on this 24-row fixture
    with AQE on, against 22 and 26 for the one-aggregate shape."""
    from sparklead.mining.iplom import iplom_keyed

    rows = []
    for i in range(12):
        rows.append((["open", f"c{i % 2}", f"host{i % 4}", f"s{i % 3}", "ok"],))
        rows.append((["drop", f"c{i % 2}", f"peer{i % 4}", f"s{i % 3}", "ok"],))
    keyed = iplom_keyed(spark.createDataFrame(rows, "e_words array<string>"), "e_words")
    p = _physical(keyed)  # before any action: the unexecuted adaptive plan
    assert all("|b:" in r["part_key"] for r in keyed.collect())  # S3 split every row
    exchanges = len(re.findall(r"Exchange", p))
    aggregates = len(re.findall(r"\b(?:Hash|ObjectHash|Sort)Aggregate\(", p))
    assert exchanges <= 40, exchanges
    assert aggregates <= 50, aggregates


# Plan-construction cost: every Column/DataFrame call is one or more py4j
# round-trips (0.1-0.25 ms each), so a builder that unrolls a wide
# expression call by call pays for it on the driver before any executor
# starts. The SimHash lanes build their folds and votes as SQL strings;
# these bounds catch a return to per-literal Column construction (those
# builds took 7.9k-11.5k calls; the SQL-string builds take 166-206).
_MAX_BUILD_CALLS = 500


@pytest.mark.parametrize(
    "builder", ["with_simhash", "simhash_signatures", "with_simhash_md5"]
)
def test_simhash_plan_build_gateway_calls(spark, gateway_calls, builder):
    from sparklead import dedup

    docs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["x"])], "doc_id int, toks array<string>"
    )
    with gateway_calls() as calls:
        getattr(dedup, builder)(docs, "toks")
    assert 0 < calls.n <= _MAX_BUILD_CALLS, calls.n


def test_token_vectors_plan_build_gateway_calls(spark, gateway_calls):
    from sparklead.pipeline import token_vectors

    enr = enrich_stage(parse_stage(synth.pretokenized(spark, 20)), synth.source_meta(spark))
    with gateway_calls() as calls:
        token_vectors(enr, keep=("n_tok",))
    assert 0 < calls.n <= _MAX_BUILD_CALLS, calls.n
