"""PL-IPLoM-style iterative-partitioning template miner — fully relational.

The reference's PL-IPLoM (/root/reference/loglead/parsers/pl_iplom/pl_iplom.py)
is IPLoM re-expressed in DataFrame ops, but still driver-looped: S1 groups by
token count (:203-230), S2 splits each partition on the token position with
the fewest distinct values when even that minimum is >1 (:245-263), templates
come from per-column "n_unique==1 ? first : '<*>'" (:21-38), and partitions
below support thresholds become outliers (:232-242).

This rebuild removes the driver loop entirely (SURVEY.md §2.9: "recursion
over partitions = iterative groupBy on derived keys"):

  * a partition is a VALUE of the ``part_key`` column, never a separate
    DataFrame — so all partitions advance through a split round
    (mining/keyed.py:split_round, shared with IPLoM's S2) together in ONE
    aggregation + ONE join;
  * S2 rounds iterate a fixed number of times (the reference's recursion
    depth is bounded by token count anyway);
  * S3 (bijection, pl_iplom.py:318-440 in the reference) is available via
    ``bijection=True``: it chains the SAME relational bijection round the
    original-IPLoM port uses (mining/iplom.py:_step3 — no per-pair driver
    loop; every pair-relation stat comes from one distinct-pair aggregate).
    Default off because S1 + iterated S2 already yields the reference's
    cluster granularity on machine logs and is what the golden tests pin.

Everything is groupBy/join — the whole miner is ~4 shuffles per round,
independent of partition count, and scales with data size not cluster count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklead.mining.keyed import assign_by_key, flag_outliers, key_templates, split_round

# plan doubles per S2 round (see _keyed) -> truncate lineage twice as often
# as the linear-growth components loop (dedup._TRUNCATE_EVERY = 8)
_TRUNCATE_EVERY = 4


def _keyed(
    df: DataFrame,
    tokens_col: str,
    rounds: int,
    bijection: bool = False,
) -> DataFrame:
    """Attach the final part_key to every row (S1 + ``rounds`` S2 rounds,
    optionally followed by the S3 bijection split).

    ``bijection=True`` chains the SAME relational bijection round the
    original-IPLoM implementation uses (mining/iplom.py:_step3 — pair-relation
    stats from one distinct-pair aggregate and its windows, 1-1/1-M/M-1/M-M
    case analysis as a pair-sized decision table joined back once;
    the reference PL-IPLoM runs S3 unconditionally, pl_iplom.py:318-440).
    Default off: the iterated-S2 granularity is this miner's documented
    contract and what the golden tests pin; turn it on for reference-exact
    S1+S2+S3 staging."""
    from sparklead.plan_utils import truncate_lineage

    base = df.withColumn("part_key", F.concat(F.lit("S1:"), F.size(tokens_col).cast("string")))
    for r in range(rounds):
        base = split_round(base, tokens_col, f"s{r + 2}")
        # LINEAGE TRUNCATION for deep rounds (round-6, the
        # neardup_components lesson — see plan_utils): split_round
        # references ``base`` twice (stats agg + refine join), so the
        # logical plan DOUBLES per round — 2^rounds nodes, driver OOM at
        # ~14 (CLAUDE.md). Every _TRUNCATE_EVERY rounds a corpus-sized
        # checkpoint resets the plan; the default rounds=2 (and
        # every golden/gate configuration) never reaches it, keeping the
        # miner fully lazy there. Skipped on the last round — the caller's
        # own materialization boundary (persist in parse_pl_iplom) follows.
        if (r + 1) % _TRUNCATE_EVERY == 0 and r + 1 < rounds:
            base = truncate_lineage(base)
    if bijection:
        from sparklead.mining.iplom import _step3

        base = _step3(base, tokens_col)
    return base


def pl_iplom_templates(
    df: DataFrame,
    tokens_col: str = "e_words",
    rounds: int = 2,
    support_threshold: float = 0.0001,
    _keyed_df: DataFrame | None = None,
    bijection: bool = False,
) -> DataFrame:
    """Mine templates: returns (part_key, template, part_len, template_id, is_outlier).

    Template = per position: countDistinct==1 ? first : '<*>' (pl_iplom.py:21-38).
    ``is_outlier`` marks partitions under the file-support threshold (FST,
    pl_iplom.py:232-242). template_id = md5(template)[:8] prefixed 'e'.
    Only ``rounds`` > _TRUNCATE_EVERY checkpoints (plan_utils.truncate_lineage);
    ON A CLUSTER set ``spark.checkpoint.dir`` for those.
    """
    base = (
        _keyed_df
        if _keyed_df is not None
        else _keyed(df.select(tokens_col), tokens_col, rounds, bijection)
    )
    # FST over the template table's own sizes (keyed.flag_outliers): no
    # count() job over the data-sized input
    return flag_outliers(key_templates(base, "part_key", tokens_col), support_threshold)


def parse_pl_iplom(
    df: DataFrame,
    tokens_col: str = "e_words",
    out_col: str = "e_event_pliplom_id",
    rounds: int = 2,
    support_threshold: float = 0.0001,
    bijection: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Assign each event its PL-IPLoM template id; returns (df+id, template table).

    Assignment needs no similarity matching (unlike Drain): a row's partition
    key is a deterministic function of its own tokens, so we recompute the
    key per row (narrow) and join the (small, broadcast) template table.

    The assignment (persist, collect the template table, unpersist,
    broadcast join) is keyed.assign_by_key, shared with parse_iplom and
    parse_brain: no cached data-sized frame outlives the call.
    """
    keyed = _keyed(df, tokens_col, rounds, bijection)
    assigned, tpl = assign_by_key(
        keyed,
        "part_key",
        lambda k: pl_iplom_templates(df, tokens_col, rounds, support_threshold, _keyed_df=k),
        out_col,
    )
    return assigned, tpl
