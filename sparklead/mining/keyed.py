"""Shared relational skeleton of the keyed miners: IPLoM, PL-IPLoM and Brain.

Each of these miners tags every row with a partition key that is a
deterministic function of the row's own tokens and of per-partition
statistics (SURVEY.md §2.9: "recursion over partitions = iterative groupBy
on derived keys"). A partition is a VALUE of the key column, never a
separate DataFrame, so every partition advances through a round in one
aggregation and one join. The four blocks the miners share live here:

  * ``pos_cardinalities`` — distinct tokens and rows per (key, position);
  * ``split_round``       — one S2 round: refine each key with its token at
                            the lowest-cardinality position;
  * ``key_templates``     — per key, position-wise "constant or ``<*>``"
                            template, its id and its size, plus the
                            ``flag_outliers`` support fold;
  * ``assign_by_key``     — the miners' single assignment path: persist the
                            keyed rows, collect the template-sized table,
                            unpersist, broadcast-join the ids back. No
                            persisted frame outlives the call.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from sparklead.mining.two_phase import template_id_col


def pos_cardinalities(base: DataFrame, key: str, tokens_col: str) -> DataFrame:
    """(key, pos, d, n): distinct tokens ``d`` and rows ``n`` per token
    position of each key. Every key here starts from the token count, so all
    rows of a key have the same length and ``n`` is the key's size."""
    return (
        base.select(key, F.posexplode(tokens_col).alias("pos", "tok"))
        .groupBy(key, "pos")
        .agg(F.countDistinct("tok").alias("d"), F.count(F.lit(1)).alias("n"))
    )


def branch(tag: str, token: Column) -> Column:
    """The key suffix of a split on ``token``: ``|<tag>:<token>``, or
    ``|<tag>~null`` for a NULL token, which no real token can produce (a
    bare ``concat`` would turn the whole key NULL and drop the row from
    every partition)."""
    return F.coalesce(F.concat(F.lit(f"|{tag}:"), token), F.lit(f"|{tag}~null"))


def split_round(base: DataFrame, tokens_col: str, tag: str, min_size: int = 0) -> DataFrame:
    """One S2 round over ``part_key``: split each partition on the position
    with the fewest distinct tokens (ties: lowest position; IPLoM.py:226-237,
    pl_iplom.py:245-252) when that count is > 1 and the partition holds more
    than ``min_size`` rows (IPLoM's step2Support). A split partition's key
    gains ``branch(tag, token)``."""
    split_pos = (
        pos_cardinalities(base, "part_key", tokens_col)
        .groupBy("part_key")
        .agg(F.min_by(F.struct("pos", "d", "n"), F.struct("d", "pos")).alias("m"))
        .select(
            "part_key",
            F.when((F.col("m.d") > 1) & (F.col("m.n") > min_size), F.col("m.pos")).alias("split_pos"),
        )
    )
    # unhinted: split_pos is part_key-count-sized, which a degenerate
    # (unmasked) corpus can blow up — AQE still broadcasts it when small
    return (
        base.join(split_pos, "part_key", "left")
        .withColumn(
            "part_key",
            F.when(
                F.col("split_pos").isNotNull(),
                F.concat(F.col("part_key"), branch(tag, F.element_at(F.col(tokens_col), F.col("split_pos") + 1))),
            ).otherwise(F.col("part_key")),
        )
        .drop("split_pos")
    )


def key_templates(base: DataFrame, key: str, tokens_col: str, mask_digits: bool = False) -> DataFrame:
    """(key, template, part_len, template_id) per key. Template = per
    position ``countDistinct == 1 ? first : '<*>'`` (IPLoM.py:488-494,
    pl_iplom.py:21-38); ``mask_digits`` also turns constants that contain a
    digit into ``<*>`` (Brain's partial-constant rule, Brain.py:376-408). A
    key whose rows have no tokens has no template row."""
    per_pos = (
        base.select(key, F.posexplode(tokens_col).alias("pos", "tok"))
        .groupBy(key, "pos")
        .agg(F.when(F.countDistinct("tok") == 1, F.first("tok")).otherwise(F.lit("<*>")).alias("t"))
    )
    if mask_digits:
        per_pos = per_pos.withColumn(
            "t", F.when(F.col("t").rlike(r"\d"), F.lit("<*>")).otherwise(F.col("t"))
        )
    templates = per_pos.groupBy(key).agg(
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("pos", "t"))), lambda s: s["t"])
        ).alias("template")
    )
    sizes = base.groupBy(key).agg(F.count(F.lit(1)).alias("part_len"))
    return templates.join(sizes, key).withColumn("template_id", template_id_col("template"))


def flag_outliers(tpl: DataFrame, threshold: float) -> DataFrame:
    """Append ``is_outlier``: the key holds less than ``threshold`` of all
    templated rows (IPLoM's PST, IPLoM.py:449-455; PL-IPLoM's FST,
    pl_iplom.py:232-242). The total is a 1-row aggregate of the template
    table broadcast-cross-joined back: no count() job over the data, and no
    unbounded window (tests/test_entry.py gates that invariant)."""
    total = tpl.agg(F.sum("part_len").cast("double").alias("_total"))
    return (
        tpl.crossJoin(broadcast(total))
        .withColumn("is_outlier", F.col("part_len") / F.col("_total") < threshold)
        .drop("_total")
    )


def assign_by_key(
    keyed: DataFrame, key: str, build_table: Callable[[DataFrame], DataFrame], out_col: str
) -> tuple[DataFrame, DataFrame]:
    """Assign every keyed row its ``template_id`` as ``out_col``; returns
    (keyed rows + ``out_col`` without ``key``, literal template table).

    The template table ``build_table(keyed)`` is TEMPLATE-sized, so it is
    collected while ``keyed`` is persisted and re-emitted as literal rows;
    ``keyed`` is unpersisted before returning, so no cached data-sized frame
    outlives the call (a cache left behind accretes storage across corpora
    in long-lived sessions). The key is a deterministic function of row
    content and statistics, so the returned frame recomputes the keyed
    lineage once when the caller materializes it, and its join is a
    guaranteed broadcast of literals."""
    spark = keyed.sparkSession
    keyed = keyed.persist()
    try:
        sized = build_table(keyed)
        tpl = spark.createDataFrame(sized.collect(), sized.schema)
    finally:
        keyed.unpersist()
    assigned = keyed.join(
        broadcast(tpl.select(key, F.col("template_id").alias(out_col))), key, "left"
    ).drop(key)
    return assigned, tpl
