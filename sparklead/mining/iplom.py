"""Original IPLoM (Makanju et al.) — relational Spark re-expression.

Reference: /root/reference/loglead/parsers/iplom/IPLoM.py (driver-looped,
one Python list per partition). Steps and their Spark shapes:

  S1 (:156-201)  partition by token count            -> part_key column
  S2 (:204-262)  ONE split on the position with the  -> keyed.split_round:
                 fewest (>1) distinct tokens            posexplode + groupBy
                 (partitions <= step2Support skip)      argmin + join
  S3 (:264-459)  bijection split: pick positions      -> the (p1,p2) choice runs
                 (p1,p2) by cardinality-frequency       on the collected per-part
                 (DetermineP1P2 :556-673), classify     column-cardinality table
                 each (t1,t2) token pair as 1-1 /       (partition-count-sized,
                 1-M / M-1 / M-M, split on the side     like a template table);
                 chosen by Get_Rank_Posistion           ONE distinct-pair groupBy
                 (:525-554)                             + windows decide each
                                                        pair's key, joined back
                                                        to the rows once
  S4 (:461-502)  template: per position,              -> keyed.key_templates,
                 countDistinct==1 ? token : '<*>'       shared with PL-IPLoM
                                                        and Brain

Differences from the reference, by design:
  * tokenization is the caller's token-array column (the reference re-splits
    on [\\s=:,] at :173; our enhancer chain owns tokenization);
  * the trailing line-id token the reference appends (:178) is an artifact of
    its output bookkeeping, not of the algorithm — ids here are row-intrinsic;
  * PST (partition-support outlier fold, default 0 = off in the reference
    too) folds small partitions into an 'outlier' key relationally.

The only driver-side work is DetermineP1P2 over the (part_key, pos,
n_distinct) table — O(#partitions x token_len) rows, the same order as the
template table itself, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparklead.mining.keyed import (
    assign_by_key,
    flag_outliers,
    key_templates,
    pos_cardinalities,
    split_round,
)

# the reference IPLoMParser's defaults (IPLoM.py): the cluster goodness
# threshold ``CT`` of DetermineP1P2 and the ``lowerBound`` of
# Get_Rank_Posistion (its ``upperBound`` takes no part in the split)
CT = 0.35
LOWER_BOUND = 0.25


def _determine_p1p2(card_rows: list) -> dict[str, tuple[int, int]]:
    """Faithful port of DetermineP1P2 + Get_Mapping_Position
    (IPLoM.py:556-673) over the collected cardinality table. All rows of a
    partition share one token count, so its length is its position count;
    a partition was split in S2 when its key carries the ``|s`` tag (an S1
    key, ``L<n>`` or PL-IPLoM's ``S1:<n>``, never does)."""
    by_part: dict[str, dict[int, int]] = {}
    for r in card_rows:
        by_part.setdefault(r["part_key"], {})[r["pos"]] = r["d"]
    out: dict[str, tuple[int, int]] = {}
    for part, cards in by_part.items():
        n_len = len(cards)
        if n_len == 2:
            out[part] = (0, 1)
            continue
        if n_len < 2:
            continue
        count_1 = sum(1 for d in cards.values() if d == 1)
        if count_1 / n_len >= CT:  # cluster goodness: already mostly constant
            continue
        # frequency of each cardinality across columns — iterate positions in
        # SORTED order: card_rows arrive in collect() order (nondeterministic),
        # and the max/second-max selection below breaks count ties by first
        # encounter, so unsorted iteration could flip p1/p2 run-to-run
        freq: dict[int, int] = {}
        for pos in sorted(cards):
            d = cards[pos]
            freq[d] = freq.get(d, 0) + 1
        p1 = p2 = -1
        if "|s" in (part or ""):
            # from step 2: the two cardinalities (>1) with the HIGHEST column
            # frequency (IPLoM.py:596-640)
            max_card = second_card = -1
            max_cnt = second_cnt = 0
            for card, cnt in freq.items():
                if card == 1:
                    continue
                if cnt > max_cnt:
                    second_card, second_cnt = max_card, max_cnt
                    max_card, max_cnt = card, cnt
                elif cnt > second_cnt and cnt != max_cnt:
                    second_card, second_cnt = card, cnt
            if max_cnt > 1:
                for pos in range(n_len):
                    if cards[pos] == max_card:
                        if p1 == -1:
                            p1 = pos
                        else:
                            p2 = pos
                            break
            else:
                for pos in range(n_len):
                    if cards[pos] == max_card:
                        p1 = pos
                        break
                for pos in range(n_len):
                    if cards[pos] == second_card:
                        p2 = pos
                        break
        else:
            # from step 1: the cardinalities with the LOWEST column frequency
            # (IPLoM.py:642-673)
            import sys

            min_cnt = second_min_cnt = sys.maxsize
            for card, cnt in freq.items():
                if cnt < min_cnt:
                    second_min_cnt = min_cnt
                    min_cnt = cnt
                elif cnt < second_min_cnt and cnt != min_cnt:
                    second_min_cnt = cnt
            for pos in range(n_len):
                if freq[cards[pos]] == min_cnt:
                    p1 = pos
                    break
            for pos in range(n_len):
                if freq[cards[pos]] == second_min_cnt:
                    p2 = pos
                    break
        if p1 != -1 and p2 != -1:
            out[part] = (p1, p2)
    return out


def _step3(base: DataFrame, tokens_col: str) -> DataFrame:
    """Bijection split. A row's new key depends only on its part and its
    (p1, p2) token pair, so every S3 statistic comes from ONE distinct-pair
    aggregate: windows over it give the pair-relation cardinalities (m1 =
    |p2 partners of a p1 token|, n1 = its lines, and sym.) and the 1-1 / 1-M
    / M-1 / M-M case analysis (IPLoM.py:362-440); one part-sized groupBy
    gives the M-M leftover set sizes. The resulting pair-sized decision
    table joins back to the rows once."""
    spark = base.sparkSession
    p1p2 = _determine_p1p2(pos_cardinalities(base, "part_key", tokens_col).collect())
    if not p1p2:
        return base
    pp_df = spark.createDataFrame(
        [(k, p1, p2) for k, (p1, p2) in p1p2.items()], "part_key string, p1 int, p2 int"
    )
    rows = base.join(pp_df, "part_key", "left").select(
        "*",
        F.element_at(F.col(tokens_col), F.col("p1") + 1).alias("_t1"),
        F.element_at(F.col(tokens_col), F.col("p2") + 1).alias("_t2"),
    )
    by_t1 = Window.partitionBy("part_key", "_t1")
    by_t2 = Window.partitionBy("part_key", "_t2")
    t1, t2, m1, m2 = F.col("_t1"), F.col("_t2"), F.col("m1"), F.col("m2")
    # a pair with a NULL token counts toward its other token's lines and
    # partners, but is not an edge of the relation: the uniqueness and
    # consumed-partner maxima range over pairs of two tokens only
    edge = t1.isNotNull() & t2.isNotNull()
    pairs = (
        rows.filter(F.col("p1").isNotNull())
        .groupBy("part_key", "_t1", "_t2")
        .agg(F.count(F.lit(1)).alias("n"))
        # m1/n1: partner cardinality + matching-line count per p1 token (and
        # sym.); per token: do ALL partners map back uniquely? (IPLoM.py:
        # 308-321). The windows alternate sides: each reads the last one's
        # output
        .withColumns({"m1": F.count(t2).over(by_t1), "n1": F.sum("n").over(by_t1)})
        .withColumns({
            "m2": F.count(t1).over(by_t2),
            "n2": F.sum("n").over(by_t2),
            "maxm1": F.max(F.when(edge, m1)).over(by_t2),
        })
        .withColumn("m_to_one", (m2 > 1) & (F.col("maxm1") == 1))
        .withColumns({
            "maxm2": F.max(F.when(edge, m2)).over(by_t1),
            "t1_partner_m1": F.max(F.when(edge, F.col("m_to_one"))).over(by_t1),
        })
        .withColumns({
            "one_to_one": (m1 == 1) & (F.col("maxm2") == 1),
            "one_to_m": (m1 > 1) & (F.col("maxm2") == 1),
        })
        .withColumn("t2_partner_1m", F.max(F.when(edge, F.col("one_to_one") | F.col("one_to_m"))).over(by_t2))
    )
    # M-M leftover set sizes per part (IPLoM.py:427: |p1Set| < |p2Set|):
    # tokens neither removed by 1-1 / 1-M / M-1 nor partnered with one that was
    t1_left = ~F.col("one_to_one") & ~F.col("one_to_m") & ~F.col("t1_partner_m1")
    t2_left = ~F.col("m_to_one") & ~F.col("t2_partner_1m")
    sets = pairs.groupBy("part_key").agg(
        F.countDistinct(F.when(t1_left, t1)).alias("p1_left"),
        F.countDistinct(F.when(t2_left, t2)).alias("p2_left"),
    )
    # Get_Rank_Posistion (IPLoM.py:525-554): 1-M -> p1 side unless
    # distance<=lower; M-1 -> p1 side only when distance<=lower. M-M:
    # step-2 parts dump together (IPLoM.py:420-425); step-1 parts split on
    # the smaller leftover side (:427-440)
    split_on = (
        F.when(F.col("one_to_one"), t1)
        .when(F.col("one_to_m"), F.when(m1.cast("double") / F.col("n1") > LOWER_BOUND, t1).otherwise(t2))
        .when(F.col("m_to_one"), F.when(m2.cast("double") / F.col("n2") <= LOWER_BOUND, t1).otherwise(t2))
        .when(F.col("part_key").contains("|s"), F.lit("mm"))
        .otherwise(F.when(F.col("p1_left") < F.col("p2_left"), t1).otherwise(t2))
    )
    decided = pairs.join(sets, "part_key").select(
        F.col("part_key").alias("_k"),
        t1.alias("_d1"),
        t2.alias("_d2"),
        F.concat(F.col("part_key"), F.lit("|b:"), split_on).alias("_key"),
    )
    # NULL-safe on the tokens: a row with a NULL token takes its pair's key
    on = [F.col("part_key") == F.col("_k"), t1.eqNullSafe(F.col("_d1")), t2.eqNullSafe(F.col("_d2"))]
    return (
        rows.join(decided, on, "left")
        .withColumn("part_key", F.when(F.col("p1").isNull(), F.col("part_key")).otherwise(F.col("_key")))
        .drop("p1", "p2", "_t1", "_t2", "_k", "_d1", "_d2", "_key")
    )


def iplom_keyed(df: DataFrame, tokens_col: str = "e_words", step2_support: int = 0) -> DataFrame:
    """S1 + S2 + S3: every row tagged with its final partition key."""
    base = df.withColumn("part_key", F.concat(F.lit("L"), F.size(tokens_col).cast("string")))
    base = split_round(base, tokens_col, "s2", step2_support)
    return _step3(base, tokens_col)


def iplom_templates(
    df: DataFrame,
    tokens_col: str = "e_words",
    pst: float = 0.0,
    **kw,
) -> DataFrame:
    """S4 over the keyed rows: (template_id, template, part_len[, is_outlier]).

    Template = per position countDistinct==1 ? first : '<*>' (IPLoM.py:
    488-494); PST folds under-supported partitions to outliers (:449-455)."""
    base = iplom_keyed(df.select(tokens_col), tokens_col, **kw)
    out = key_templates(base, "part_key", tokens_col)
    if pst > 0:
        out = flag_outliers(out, pst)
    return out.select("template_id", "template", "part_len", *(["is_outlier"] if pst > 0 else []))


def parse_iplom(
    df: DataFrame,
    tokens_col: str = "e_words",
    out_col: str = "e_event_iplom_id",
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Assign template ids: a row's key is a function of its own tokens and
    the partition statistics (embedded as plan literals by iplom_keyed), so
    the template-sized table is joined back by key (keyed.assign_by_key)."""
    assigned, tpl = assign_by_key(
        iplom_keyed(df, tokens_col, **kw),
        "part_key",
        lambda keyed: key_templates(keyed, "part_key", tokens_col),
        out_col,
    )
    return assigned, tpl.select("template_id", "template", "part_len")
