"""Brain-style template miner — bidirectional frequency analysis, relational.

Reference (/root/reference/loglead/parsers/Brain/Brain.py:27-408): per
length-group, count the global frequency of every (position, token) pair;
each message's ROOT is its set of most-frequent tokens (the longest common
pattern); messages sharing (length, root) form a cluster; remaining
positions become '<*>' or constants.

The reference walks Python dicts per row. Here every phase is a DataFrame
op (SURVEY.md §2.9: 'frequency vectors = posexplode + groupBy count — fully
vectorizable'):

  1. (pos, token) frequency per length-group: posexplode + ONE hash agg.
  2. per-row root: Brain's "longest common pattern" = the MOST COMMON
     frequency value among the row's token frequencies (Brain.py:126-139
     Counter.most_common + find_root with threshold_per=0 — NOT the max
     frequency: the max picks cross-template boilerplate words and merges
     templates that share them, measured against the reference). Cluster
     key = (length, root_freq, root_count), ties by first position, the
     reference's stable-sort order.
  3. template per cluster: position-wise countDistinct==1 ? first : '<*>'
     — mining/keyed.py:key_templates, shared with IPLoM and PL-IPLoM.

Refinement parity (round 3): the reference's down_split child refinement
(Brain.py:331-374) is the ``threshold`` parameter — positions with fewer
than ``threshold`` distinct tokens stay constant and child-split the
cluster (one extra agg + broadcast join, no driver loop; default 2 ==
reference default == the plain constant/wildcard rule). The partial-
constant digit-exclusion and post-mask template merge (_output_result,
Brain.py:376-408) are implemented, giving EXACT template + cluster-size
parity with the runnable reference on the golden corpus
(tests/test_iplom_parity.py::test_brain_granularity_vs_reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklead.mining.keyed import assign_by_key, key_templates, pos_cardinalities


def parse_brain(
    df: DataFrame,
    tokens_col: str = "e_words",
    out_col: str = "e_event_brain_id",
    threshold: int = 2,
    exclude_digits: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Assign Brain template ids; returns (df + out_col, template table).

    ``threshold`` is the reference's down_split threshold (Brain.py:331-374,
    default 2): a non-root position with fewer than ``threshold`` distinct
    tokens inside a cluster KEEPS its tokens as constants — rows that differ
    there form DIFFERENT final templates, i.e. the cluster child-splits.
    With the default 2 this degenerates to the plain constant/wildcard rule
    (>=2 distinct -> variable), matching the reference's default behavior.

    ``exclude_digits`` is the reference's partial-constant rule
    (Brain.py:376-408 _output_result/_exclude_digits): constant template
    tokens containing a digit are masked to '<*>' in the FINAL template, and
    clusters whose masked templates coincide merge — the reference keys its
    template_set on the post-mask template tuple."""
    base = df.withColumn("_len", F.size(tokens_col))
    pos = base.select("_len", F.posexplode(tokens_col).alias("pos", "tok"))
    freqs = pos.groupBy("_len", "pos", "tok").agg(F.count(F.lit(1)).alias("freq"))

    # per-line frequency vector via a join of the freq table. NO broadcast
    # hint (round-2 fix): |freqs| = distinct (length, position, token)
    # triples, which on an unmasked high-cardinality corpus can exceed
    # executor memory — a forced hint overrides Catalyst's size check and
    # OOMs, whereas the unhinted plan degrades to a shuffle join (and AQE
    # still promotes it to broadcast at runtime when the aggregate turns
    # out small, the common case on masked machine logs).
    # Line identity is a CONTENT hash (round-4 cache-hygiene fix): a row's
    # root/cluster depends only on its token array + the global freq table,
    # so identical lines share one id — the root computation runs over
    # DISTINCT lines (the same distinct-line win Drain exploits; machine
    # logs are duplicate-heavy) and, unlike the old monotonically_increasing
    # _id, the id is deterministic under ANY partitioning, so no .cache() is
    # needed to pin one numbering across join branches (the cache never got
    # unpersisted and accreted storage in long-lived sessions).
    lid = F.md5(F.to_json(F.struct(F.col(tokens_col))))
    base = base.withColumn("_lid", lid)
    lines = base.select("_lid", "_len", tokens_col).dropDuplicates(["_lid"])
    with_freq = (
        lines.select("_lid", "_len", F.posexplode(tokens_col).alias("pos", "tok"))
        .join(freqs, ["_len", "pos", "tok"], "left")
    )
    per_freq = with_freq.groupBy("_lid", "_len", "freq").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("pos").alias("_first_pos")
    )
    roots = per_freq.groupBy("_lid", "_len").agg(
        F.max_by(
            F.concat_ws("#", F.col("freq").cast("string"), F.col("_cnt").cast("string")),
            F.struct(F.col("_cnt"), (-F.col("_first_pos")).alias("_np")),
        ).alias("_root")
    )
    keyed = base.join(roots.select("_lid", "_root"), "_lid").withColumn(
        "_cluster", F.concat_ws("#", F.col("_len").cast("string"), F.col("_root"))
    )
    if threshold > 2:
        # down_split child refinement: positions with 1 < n_distinct <
        # threshold stay constant, so the cluster key gains those tokens —
        # one extra agg + broadcast join, no driver loop
        split_pos = (
            pos_cardinalities(keyed, "_cluster", tokens_col)
            .filter((F.col("d") > 1) & (F.col("d") < threshold))
            .groupBy("_cluster")
            .agg(F.array_sort(F.collect_list("pos")).alias("_sp"))
        )
        keyed = keyed.join(split_pos, "_cluster", "left").withColumn(
            "_cluster",
            F.when(
                F.col("_sp").isNotNull(),
                F.concat(
                    F.col("_cluster"),
                    F.lit("|c:"),
                    F.concat_ws(
                        "#", F.transform(F.col("_sp"), lambda p: F.element_at(F.col(tokens_col), p + 1))
                    ),
                ),
            ).otherwise(F.col("_cluster")),
        ).drop("_sp")
    # template per cluster: position-wise constant-or-wildcard; constants
    # containing digits mask to '<*>' (partial-constant rule) when enabled.
    # The cluster -> template mapping is CLUSTER-COUNT-sized: assign_by_key
    # collects it while ``keyed`` is persisted and joins the ids back as
    # literals, so no cached data-sized frame outlives the call.
    assigned, mp = assign_by_key(
        keyed,
        "_cluster",
        lambda k: key_templates(k, "_cluster", tokens_col, mask_digits=exclude_digits),
        out_col,
    )
    # clusters whose (post-mask) templates coincide MERGE — the reference
    # keys template_set by the final template tuple (Brain.py:395-397)
    template_table = mp.groupBy("template_id", "template").agg(
        F.sum("part_len").alias("cluster_size")
    )
    return assigned.drop("_root", "_lid", "_len"), template_table
