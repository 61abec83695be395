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
    DataFrame — so all partitions advance through a split round together in
    ONE aggregation + ONE broadcast join;
  * S2 rounds iterate a fixed number of times (the reference's recursion
    depth is bounded by token count anyway);
  * S3 (bijection, pl_iplom.py:318-440 in the reference) is available via
    ``bijection=True``: it chains the SAME relational bijection round the
    original-IPLoM port uses (mining/iplom.py:_step3 — no per-pair driver
    loop; pair-relation stats are two hash aggs). Default off because
    S1 + iterated S2 already yields the reference's cluster granularity on
    machine logs and is what the golden tests pin.

Everything is groupBy/join — the whole miner is ~4 shuffles per round,
independent of partition count, and scales with data size not cluster count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklead.mining.two_phase import template_id_col

# plan doubles per S2 round (see _keyed) -> truncate lineage twice as often
# as the linear-growth components loop (dedup._TRUNCATE_EVERY = 8)
_TRUNCATE_EVERY = 4


def _split_round(base: DataFrame, tokens_col: str, round_id: int) -> DataFrame:
    """One S2 round: per part_key, find the position with the fewest distinct
    tokens; if that minimum is > 1, refine part_key with the token there."""
    pos_counts = (
        base.select("part_key", F.posexplode(tokens_col).alias("pos", "tok"))
        .groupBy("part_key", "pos")
        .agg(F.countDistinct("tok").alias("d"))
    )
    # argmin by (d, pos); split only when min(d) > 1 (pl_iplom.py:245-252)
    split_pos = (
        pos_counts.groupBy("part_key")
        .agg(F.min_by(F.struct("pos", "d"), F.struct("d", "pos")).alias("m"))
        .select(
            "part_key",
            F.when(F.col("m.d") > 1, F.col("m.pos")).alias("split_pos"),
        )
    )
    # unhinted: split_pos is part_key-count-sized, which a degenerate
    # (unmasked) corpus can blow up — AQE still broadcasts it when small
    out = base.join(split_pos, "part_key", "left").withColumn(
        "part_key",
        F.when(
            F.col("split_pos").isNotNull(),
            F.concat(
                F.col("part_key"),
                F.lit(f"|s{round_id}:"),
                F.element_at(F.col(tokens_col), F.col("split_pos") + 1),
            ),
        ).otherwise(F.col("part_key")),
    )
    return out.drop("split_pos")


def _keyed(
    df: DataFrame,
    tokens_col: str,
    rounds: int,
    bijection: bool = False,
    ct: float = 0.35,
    lower: float = 0.25,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Attach the final part_key to every row (S1 + ``rounds`` S2 rounds,
    optionally followed by the S3 bijection split).

    ``bijection=True`` chains the SAME relational bijection round the
    original-IPLoM implementation uses (mining/iplom.py:_step3 — pair-relation
    stats from two hash aggs, 1-1/1-M/M-1/M-M case analysis as a when-chain;
    the reference PL-IPLoM runs S3 unconditionally, pl_iplom.py:318-440).
    Default off: the iterated-S2 granularity is this miner's documented
    contract and what the golden tests pin; turn it on for reference-exact
    S1+S2+S3 staging."""
    from sparklead.plan_utils import LineageTruncator

    base = df.withColumn("part_key", F.concat(F.lit("S1:"), F.size(tokens_col).cast("string")))
    truncator = LineageTruncator(scratch_dir, prefix="sparklead_pliplom")
    for r in range(rounds):
        base = _split_round(base, tokens_col, r + 2)
        # LINEAGE TRUNCATION for deep rounds (round-6, the
        # neardup_components lesson — see plan_utils): _split_round
        # references ``base`` twice (stats agg + refine join), so the
        # logical plan DOUBLES per round — 2^rounds nodes, driver OOM at
        # ~14 (CLAUDE.md). Every _TRUNCATE_EVERY rounds a corpus-sized
        # parquet roundtrip resets the plan; the default rounds=2 (and
        # every golden/gate configuration) never reaches it, keeping the
        # miner fully lazy there. Skipped on the last round — the caller's
        # own materialization boundary (persist in parse_pl_iplom) follows.
        if (r + 1) % _TRUNCATE_EVERY == 0 and r + 1 < rounds:
            base = truncator.roundtrip(base)
    if bijection:
        from sparklead.mining.iplom import _step3

        base = base.withColumn("_split2", F.col("part_key").contains("|s"))
        base = _step3(base, tokens_col, ct, lower, 0.9).drop("_split2")
    # scratch reclamation hook (round-7, advisor fix — see plan_utils):
    # the caller invokes it once nothing can recompute from the roundtrip
    # files; no-op when rounds <= _TRUNCATE_EVERY (no roundtrip fired)
    base.sparklead_release_scratch = truncator.release
    return base


def pl_iplom_templates(
    df: DataFrame,
    tokens_col: str = "e_words",
    rounds: int = 2,
    support_threshold: float = 0.0001,
    _keyed_df: DataFrame | None = None,
    bijection: bool = False,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Mine templates: returns (part_key, template, template_id, part_len, is_outlier).

    Template = per position: countDistinct==1 ? first : '<*>' (pl_iplom.py:21-38).
    ``is_outlier`` marks partitions under the file-support threshold (FST,
    pl_iplom.py:232-242). template_id = md5(template)[:8] prefixed 'e'.
    ``scratch_dir``: deep-round lineage roundtrips land here (the first
    fires after round _TRUNCATE_EVERY when MORE rounds follow, i.e. only
    for ``rounds`` > _TRUNCATE_EVERY) — ON A CLUSTER pass a job-scratch
    URI reachable by every executor (the local tempdir default is
    single-process only; cluster callers own eventual scratch
    reclamation, see plan_utils.LineageTruncator).
    """
    base = (
        _keyed_df
        if _keyed_df is not None
        else _keyed(df.select(tokens_col), tokens_col, rounds, bijection, scratch_dir=scratch_dir)
    )
    per_pos = (
        base.select("part_key", F.posexplode(tokens_col).alias("pos", "tok"))
        .groupBy("part_key", "pos")
        .agg(
            F.when(F.countDistinct("tok") == 1, F.first("tok")).otherwise(F.lit("<*>")).alias("t")
        )
    )
    templates = (
        per_pos.groupBy("part_key")
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list(F.struct("pos", "t"))), lambda s: s["t"])
            ).alias("template")
        )
    )
    sizes = base.groupBy("part_key").agg(F.count(F.lit(1)).alias("part_len"))
    # the FST denominator comes from the sizes aggregate itself, not a
    # separate count() job over the data-sized input (round-2 plan-audit
    # fix: one fewer full scan). Round-6: a 1-row agg broadcast-cross-joined
    # back instead of an unbounded window — the frame is template-sized so
    # the old single-task window was bounded, but the uniform no-literal-
    # partition-window invariant is now plan-gated across every gated entry
    # (tests/test_entry.py).
    from pyspark.sql.functions import broadcast

    total = sizes.agg(F.sum("part_len").cast("double").alias("_fst_total"))
    return (
        templates.join(sizes, "part_key")
        .crossJoin(broadcast(total))
        .withColumn("template_id", template_id_col("template"))
        .withColumn("is_outlier", F.col("part_len") / F.col("_fst_total") < support_threshold)
        .drop("_fst_total")
    )


def parse_pl_iplom(
    df: DataFrame,
    tokens_col: str = "e_words",
    out_col: str = "e_event_pliplom_id",
    rounds: int = 2,
    support_threshold: float = 0.0001,
    bijection: bool = False,
    scratch_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign each event its PL-IPLoM template id; returns (df+id, template table).

    Assignment needs no similarity matching (unlike Drain): a row's partition
    key is a deterministic function of its own tokens, so we recompute the
    key per row (narrow) and join the (small, broadcast) template table.

    Cache hygiene (round-4, same fix as parse_iplom/parse_brain): the
    template table is collected while the keyed frame is persisted, then the
    keyed frame is unpersisted before returning — no cached data-sized frame
    outlives the call; ``assigned`` recomputes the deterministic key lineage
    once on materialization and joins the broadcast literal table.
    """
    from pyspark.sql.functions import broadcast

    spark = df.sparkSession
    keyed = _keyed(df, tokens_col, rounds, bijection, scratch_dir=scratch_dir).persist()
    try:
        templates = pl_iplom_templates(df, tokens_col, rounds, support_threshold, _keyed_df=keyed)
        tpl = spark.createDataFrame(templates.collect(), templates.schema)
    finally:
        keyed.unpersist()
    assigned = keyed.join(
        broadcast(tpl.select("part_key", F.col("template_id").alias(out_col))), "part_key", "left"
    ).drop("part_key")
    # propagate the scratch-reclamation hook (round-7, advisor fix):
    # ``assigned`` recomputes through the keyed lineage, whose deep-round
    # variant roots at the truncator's last roundtrip file — the caller
    # calls this once ``assigned`` is materialized or dropped (no-op for
    # rounds <= _TRUNCATE_EVERY; tempdir default also atexit-reclaimed)
    assigned.sparklead_release_scratch = getattr(
        keyed, "sparklead_release_scratch", lambda: None
    )
    return assigned, tpl
