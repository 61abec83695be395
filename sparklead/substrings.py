"""Exact substring-level deduplication over pre-tokenized documents —
the ExactSubstr family (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better"): find token windows of length ``l`` that
occur more than once ANYWHERE in the corpus, keep each window's canonical
(first) occurrence, and scrub every other occurrence's token span.

Reference scope: the LogLead reference has no substring-dedup operator —
this module is part of the repo's first-class LLM-pipeline surface next to
sparklead/dedup.py (doc-level dedup) and sparklead/decontam.py (eval-set
containment), completing the standard hygiene ladder doc -> span -> eval.

Semantics (deterministic, engine-portable — the DuckDB gate oracle
recomputes all of it from scratch):
* a WINDOW is the token slice [pos, pos+l) (0-based start) of one doc;
  docs shorter than ``l`` have no windows and are never scrubbed.
* a window is a DUPLICATE iff its gram (the l-token sequence) occurs >= 2
  times in the corpus AND it is not the gram's canonical occurrence — the
  lexicographic minimum (key, pos). Verbatim re-posts therefore scrub to
  (nearly) nothing while the earliest copy survives whole; within-doc
  repeats keep their first occurrence. ``key_col`` must be unique.
* per doc, duplicate window starts merge into maximal covered intervals
  (gap-and-islands: starts sorted, [s, s+l) unioned); ``n_dup_tokens`` is
  the covered length and ``scrub_duplicate_substrings`` drops exactly the
  covered positions from the token array.

Design for 100 TB:
* ONE corpus scan for detection: per-row window-gram hashes (a codegen
  ``transform`` over ``sequence``), ``posexplode``, then a SINGLE window
  exchange partitioned by gram computing the canonical rank in one sort
  — no self-join, no second hash pass, nothing quadratic. The shuffle
  carries (gram, key, pos): ~20 bytes per corpus token on the fast
  lane. MEASURED against the groupBy+join alternative at 2M docs
  (BENCH.md round-8b "Detection-lane A/B"): the window lane wins 1.65x on wall and
  2.24x on shuffle with identical values — near-unique gram keys make
  the agg's hash table data-sized (it spills through sorted runs
  anyway) while paying a second corpus scan and a gram-keyed join
  shuffle on top (BENCH.md round-8b).
* the span merge aggregates only DUPLICATE occurrences (dup-volume-sized,
  not corpus-sized) with map-side partials on the doc key.
* ``scrub_duplicate_substrings`` joins the doc-sized span frame back to
  the corpus by key — the corpus-side payload co-shuffle is the
  unavoidable cost of materializing scrubbed rows (the packing join-back
  trade); callers who only need per-doc stats use
  ``substring_dup_stats``'s narrow output and never shuffle the payload.
  Like jaccard_verify, the corpus is deliberately evaluated once per
  side of that join (detection lane + payload lane) instead of holding a
  corpus-sized cache; at gate/bench scale both evaluations are one
  parquet scan each with column pruning.
* lanes: ``fast=True`` hashes the token-slice directly with ``xxhash64``
  (8-byte grams, no string materialization; 64-bit collisions perturb a
  >=2-count decision at ~2^-64 — harmless); ``fast=False`` is the
  engine-portable md5-of-joined-slice lane the DuckDB oracle replays
  value-for-value.
* skew: a gram occurring k times lands k rows in one window partition —
  output-linear, no quadratic blowup; md5/xxhash64 gram keys are uniform
  so the exchange itself cannot skew beyond true duplicate mass.

Works on any element type: slices are hashed as arrays (fast lane) or
cast to array<string> before joining (md5 lane), so ``tokens`` may be
the north-rule ``array<int>`` or split words.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def window_hashes(tokens_col: str | Column, l: int, fast: bool = True) -> Column:
    """Array of per-start window-gram hashes: element i (0-based) hashes
    the token slice [i, i+l). Docs with fewer than ``l`` tokens (or NULL
    tokens) get an EMPTY array — short docs have no windows, mirroring
    the suffix-array formulation's minimum match length."""
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    n = F.size(toks)
    # Round-9: both lanes index the window's elements directly
    # (element_at x l unrolled into ONE hash/concat expression) instead of
    # materializing a per-position slice array. Values are IDENTICAL:
    # Spark's xxhash64 folds multiple arguments exactly like the elements
    # of one array argument (verified: 0 mismatches over the 200k corpus),
    # and the concat_ws build produces the same netstring-joined string the
    # array_join form did. The slice form allocated (and hashed through) a
    # fresh l-element array per position — measured 4.6x slower on the
    # fast lane at 200k docs (4.0 -> 0.9 s for the gram build + explode).
    if fast:
        gram = lambda i: F.xxhash64(  # noqa: E731
            *[F.element_at(toks, i + j) for j in range(l)]
        )
        elem = "bigint"
    else:
        # length-prefixed join (netstring-style): INJECTIVE for arbitrary
        # string tokens — a plain ' '-join would make ['a b','c'] collide
        # with ['a','b c'] and wrongly scrub non-duplicate spans (round-8
        # review finding). NULL elements inside a token array are out of
        # contract (whitespace splits never produce them).
        def gram(i):
            parts = []
            for j in range(l):
                e = F.element_at(toks, i + j).cast("string")
                parts.append(F.concat(F.length(e).cast("string"), F.lit(":"), e))
            return F.md5(F.concat_ws("|", *parts))

        elem = "string"
    return F.when(
        toks.isNotNull() & (n >= l),
        F.transform(F.sequence(F.lit(1), n - (l - 1)), gram),
    ).otherwise(F.expr(f"cast(array() as array<{elem}>)"))


def duplicate_window_positions(
    df: DataFrame,
    l: int = 50,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    fast: bool = True,
) -> DataFrame:
    """(key, pos) of every NON-CANONICAL occurrence of a duplicated gram.

    One corpus scan: gram hashes -> posexplode -> one gram-partitioned
    window computing the occurrence count and the canonical rank in the
    same sort (explicit order keys (key, pos) — deterministic canonical
    choice). ``pos`` is the 0-based window start."""
    pos = df.select(
        F.col(key_col).alias("_k"),
        F.posexplode(window_hashes(tokens_col, l, fast)).alias("_pos", "_g"),
    )
    w = Window.partitionBy("_g").orderBy("_k", "_pos")
    # row_number > 1 alone IS the duplicate condition (a rank-2 row only
    # exists in a partition of size >= 2) — an explicit count-over-
    # unbounded-frame window would buffer every gram partition for a
    # condition it cannot change (round-8 review finding)
    return (
        pos.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("_k").alias(key_col), F.col("_pos").alias("pos"))
    )


def _merged_intervals(starts: Column, l: int) -> Column:
    """Fold SORTED duplicate window starts into maximal merged intervals
    array<struct<start,end>> ([s, s+l) unioned; adjacent intervals merge).
    Starts ascend, windows have equal length, so an overlapping/adjacent
    start always extends the last interval's end to s+l."""
    empty = F.expr("cast(array() as array<struct<start:int,end:int>>)")

    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        ext = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["start"].alias("start"), (s + l).cast("int").alias("end")
                )
            ),
        )
        app = F.concat(
            acc,
            F.array(
                F.struct(s.cast("int").alias("start"), (s + l).cast("int").alias("end"))
            ),
        )
        return F.when((F.size(acc) > 0) & (s <= last["end"]), ext).otherwise(app)

    return F.aggregate(starts, empty, step)


def duplicate_spans(
    df: DataFrame,
    l: int = 50,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    fast: bool = True,
) -> DataFrame:
    """Per doc WITH duplicates: (key, spans, n_dup_windows, n_dup_tokens).
    ``spans`` is the merged covered-interval array; dup-volume-sized, so
    the groupBy exchange is far below corpus size."""
    dup = duplicate_window_positions(df, l, key_col, tokens_col, fast)
    spans = F.col("_spans")
    return (
        dup.groupBy(key_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
        .select(
            key_col,
            F.size("_starts").alias("n_dup_windows"),
            _merged_intervals(F.col("_starts"), l).alias("_spans"),
        )
        .select(
            key_col,
            "n_dup_windows",
            spans.alias("spans"),
            F.aggregate(
                spans,
                F.lit(0),
                lambda a, iv: a + iv["end"] - iv["start"],
            ).alias("n_dup_tokens"),
        )
    )


def substring_dup_stats(
    df: DataFrame,
    l: int = 50,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    fast: bool = True,
    n_tok_col: str | None = None,
) -> DataFrame:
    """Every corpus doc with its duplicate-span profile (zeros for clean
    docs): (key, n_windows, n_dup_windows, n_dup_tokens, dup_token_ppm).
    Narrow output — the payload never shuffles (the corpus side of the
    left join carries only (key, n_tok-sized scalars)).

    Pass ``n_tok_col`` when the table already carries the token count
    (the north-rule shape): the base branch then projects only
    (key, n_tok) and parquet PRUNES the token payload from that scan —
    the round-8 packing decision-lane lesson; only the hashing branch
    reads the payload. HARD PRECONDITION (round-8 advisor note): the
    column must satisfy ``n_tok == size(tokens)`` exactly — the detection
    lane hashes the actual array while n_windows/_n1 trust the scalar, so
    a drifted count silently yields an internally inconsistent profile
    (n_dup_windows can exceed n_windows, dup_token_ppm skews) with no
    error."""
    spans = duplicate_spans(df, l, key_col, tokens_col, fast).drop("spans")
    n = (
        F.coalesce(F.col(n_tok_col).cast("int"), F.lit(0))
        if n_tok_col
        else F.coalesce(F.size(tokens_col), F.lit(0))
    )
    base = df.select(
        key_col,
        F.when(n >= l, n - (l - 1)).otherwise(F.lit(0)).alias("n_windows"),
        F.greatest(n, F.lit(1)).alias("_n1"),
    )
    return (
        base.join(spans, key_col, "left")
        .select(
            key_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.expr(
                "coalesce(n_dup_tokens, 0) * cast(1000000 as bigint) DIV _n1"
            ).alias("dup_token_ppm"),
        )
    )


def scrub_with_stats(
    df: DataFrame,
    l: int = 50,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    fast: bool = True,
) -> DataFrame:
    """One-pass composition of ``substring_dup_stats`` +
    ``scrub_duplicate_substrings`` (round-9): callers that need BOTH the
    per-doc dup profile and the scrubbed array used to call each verb and
    join — which ran the detection window subplan TWICE, since DataFrame
    reuse never dedups evaluation across join branches. Here ONE
    ``duplicate_spans`` pass feeds both: the stats columns replicate
    ``substring_dup_stats``'s exact expressions (integer arithmetic — bit
    equal), the scrub columns ``scrub_duplicate_substrings``'s. Output
    columns: key, n_windows, n_dup_windows, n_dup_tokens, dup_token_ppm,
    clean_tokens, n_clean_tok."""
    spans = duplicate_spans(df, l, key_col, tokens_col, fast)
    iv = F.col("spans")
    # spans NULL (the left-join miss) == no duplicate coverage: return the
    # array untouched instead of running the indexed filter with an empty
    # interval list — most corpus docs are clean, and the per-token lambda
    # was the scrub projection's whole cost for them (round-9; values
    # identical — filtering against zero intervals keeps every token)
    clean = F.when(iv.isNull(), F.col(tokens_col)).otherwise(
        F.filter(
            F.col(tokens_col),
            lambda x, i: ~F.exists(iv, lambda v: (i >= v["start"]) & (i < v["end"])),
        )
    )
    n = F.coalesce(F.size(tokens_col), F.lit(0))
    return (
        df.join(spans, key_col, "left")
        .withColumn("n_windows", F.when(n >= l, n - (l - 1)).otherwise(F.lit(0)))
        .withColumn("_n1", F.greatest(n, F.lit(1)))
        .withColumn("n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)))
        .withColumn(
            "dup_token_ppm",
            F.expr("coalesce(n_dup_tokens, 0) * cast(1000000 as bigint) DIV _n1"),
        )
        .withColumn("clean_tokens", clean)
        .withColumn("n_clean_tok", F.coalesce(F.size("clean_tokens"), F.lit(0)))
        .withColumn("n_dup_tokens", F.coalesce("n_dup_tokens", F.lit(0)))
        .drop("spans", "_n1")
    )


def scrub_duplicate_substrings(
    df: DataFrame,
    l: int = 50,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    fast: bool = True,
) -> DataFrame:
    """The pipeline verb: the corpus with covered positions REMOVED.

    Adds ``clean_tokens`` (the token array minus every duplicate-covered
    position; NULL tokens stay NULL), ``n_clean_tok``, ``n_dup_tokens``.
    The per-token coverage test is an indexed ``filter`` over the doc's
    MERGED intervals, so its cost is n_tok x n_intervals with intervals
    maximal (a fully-duplicated doc has ONE interval). Corpus payload
    co-shuffles once through the key join — see the module docstring for
    the stats-only escape hatch."""
    spans = duplicate_spans(df, l, key_col, tokens_col, fast).select(key_col, "spans")
    iv = F.col("spans")
    # NULL spans == clean doc: skip the indexed filter (see scrub_with_stats)
    clean = F.when(iv.isNull(), F.col(tokens_col)).otherwise(
        F.filter(
            F.col(tokens_col),
            lambda x, i: ~F.exists(iv, lambda v: (i >= v["start"]) & (i < v["end"])),
        )
    )
    return (
        df.join(spans, key_col, "left")
        .withColumn("clean_tokens", clean)
        .withColumn("n_clean_tok", F.coalesce(F.size("clean_tokens"), F.lit(0)))
        .withColumn(
            "n_dup_tokens",
            F.coalesce(F.size(tokens_col), F.lit(0)) - F.col("n_clean_tok"),
        )
        .drop("spans")
    )
