"""Distributed BPE-style tokenizer training over the north-rule token
table — learn merge rules from corpus-wide adjacent-pair statistics and
apply them as greedy left-to-right rewrites of the token arrays.

Reference scope: the LogLead reference has no tokenizer-training operator
— this completes the repo's token-axis pipeline next to packing/mixture
(the consumer side) with the producer side: the merge table a real BPE
trainer (Sennrich et al. 2016) learns, here over an already-integer token
stream (each merge mints a new token id), which is exactly the
"train a coarser vocabulary on top of a base tokenizer" shape.

Semantics (deterministic, from-scratch-oracled in tests):
* pair statistics: every ADJACENT (tokens[i], tokens[i+1]) position in
  the corpus counts once; NULL/short arrays contribute nothing.
* merge selection: the (count, pair) maximum with a total tie order —
  highest count first, then smallest (a, b) lexicographically — so the
  learned table is independent of partitioning and engine.
* application: greedy LEFT-TO-RIGHT, standard BPE — scanning the array
  once, a position merges iff the PREVIOUS output element equals ``a``
  and the current token equals ``b`` ("a a a" under (a,a)->m yields
  [m, a], never [a, m]). Multiple rules apply in learned priority order.

Design for 100 TB:
* ``bpe_pair_counts`` is zip-shift -> explode -> ONE hash aggregate with
  map-side partials: the exchange carries (a, b, partial_count) — pair-
  vocabulary-sized per partition, NOT corpus-sized. No windows, no UDFs.
* selection takes the TOP-1 row (or top-k for inspection) — driver
  traffic is one row per merge.
* application is a codegen-free but JVM-side ``aggregate`` HOF fold per
  rule; ``apply_merges`` chains the whole learned table into ONE job
  (plan depth = number of rules, corpus scanned once). Training is
  inherently iterative — ``bpe_train`` re-counts pairs on the rewritten
  corpus each round (n_merges corpus scans, the honest cost of exact
  BPE; incremental pair-delta maintenance is the known optimization and
  is documented out of scope), checkpointing the corpus every
  ``_TRUNCATE_EVERY`` rounds (plan_utils.truncate_lineage) so the plan
  never compounds (the deep-loop rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparklead.plan_utils import truncate_lineage

# checkpoint the rewritten corpus every N training rounds (deep-loop rule):
# each round stacks one merge fold onto the corpus plan
_TRUNCATE_EVERY = 4


def _adjacent_pairs(tokens_col: str | Column) -> Column:
    """Array of struct(a, b) for each adjacent position (empty for NULL
    or length<2 arrays)."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    n = F.size(toks)
    return F.when(
        toks.isNotNull() & (n >= 2),
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("a"), F.slice(toks, 2, n - 1).alias("b")
        ),
    ).otherwise(F.expr("cast(array() as array<struct<a:int,b:int>>)"))


def bpe_pair_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Corpus-wide adjacent-pair frequencies: (a, b, cnt)."""
    return (
        df.select(F.explode(_adjacent_pairs(tokens_col)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_top_pairs(df: DataFrame, k: int = 20, tokens_col: str = "tokens") -> DataFrame:
    """Top-k pairs under the total (cnt desc, a asc, b asc) order, with
    their rank — the deterministic selection rule ``bpe_train`` applies.
    The rank window is GLOBAL but runs after limit(k), so the single-task
    sort touches exactly k rows (bounded by contract, not corpus size)."""
    order = [F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()]
    return (
        bpe_pair_counts(df, tokens_col)
        .orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def merge_pair(tokens: Column, a: int, b: int, new_id: int) -> Column:
    """Greedy left-to-right single-rule application as an aggregate fold:
    append t, except when the last OUTPUT element is ``a`` and t is ``b``
    — then replace it with ``new_id``. The fold owns the "no overlapping
    re-use" rule ("a a a" -> [m, a]) because a merged position writes
    ``new_id``, which never equals ``a`` again."""
    empty = F.expr("cast(array() as array<int>)")

    def step(acc: Column, t: Column) -> Column:
        last = F.element_at(acc, -1)
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(new_id).cast("int"))
        )
        return F.when(
            (F.size(acc) > 0) & (last == F.lit(a)) & (t == F.lit(b)), merged
        ).otherwise(F.concat(acc, F.array(t.cast("int"))))

    return F.aggregate(tokens, empty, step)


def apply_merges(
    df: DataFrame,
    merges: list[tuple[int, int, int]],
    tokens_col: str = "tokens",
    out_col: str | None = None,
) -> DataFrame:
    """Apply a learned merge table [(a, b, new_id), ...] in priority order
    in ONE job: the rules chain into a single nested expression over each
    array, so the corpus is scanned once regardless of table size. NULL
    arrays stay NULL."""
    out_col = out_col or tokens_col
    col: Column = F.col(tokens_col)
    expr = col
    for a, b, new_id in merges:
        expr = merge_pair(expr, a, b, new_id)
    return df.withColumn(out_col, F.when(col.isNotNull(), expr))


def bpe_train(
    df: DataFrame,
    n_merges: int,
    tokens_col: str = "tokens",
    new_id_start: int | None = None,
    min_count: int = 2,
) -> tuple[list[tuple[int, int, int]], DataFrame]:
    """Learn ``n_merges`` rules; returns (merge_table, rewritten_corpus).

    Each round: count pairs on the CURRENT corpus, pick the (cnt desc,
    a asc, b asc) maximum, mint the next id, rewrite. Stops early when
    no pair reaches ``min_count`` (merging singletons is meaningless).
    ``new_id_start`` defaults to max(token)+1 over the input corpus.
    The rewritten corpus' lineage is truncated every ``_TRUNCATE_EVERY``
    rounds (deep-loop rule)."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if new_id_start is None:
        mx = df.agg(
            F.max(F.array_max(F.coalesce(F.col(tokens_col), F.expr("array(0)"))))
        ).first()[0]
        new_id_start = int(mx or 0) + 1
    merges: list[tuple[int, int, int]] = []
    cur = df
    for i in range(n_merges):
        top = (
            bpe_pair_counts(cur, tokens_col)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_count:
            break
        a, b = int(top[0]["a"]), int(top[0]["b"])
        new_id = new_id_start + i
        merges.append((a, b, new_id))
        cur = apply_merges(cur, [(a, b, new_id)], tokens_col)
        if (i + 1) % _TRUNCATE_EVERY == 0:
            cur = truncate_lineage(cur)
    return merges, cur
