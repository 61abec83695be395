"""End-to-end LLM training-data pipeline: near-dedup -> decontaminate ->
tokenize -> mixture-sample -> pack, composed as ONE routed job over
footer-manifest parquet sinks (sparklead.routing) — the north rule's
parse→enrich→route→aggregate instantiated on the token axis (round-7
verdict #4: every stage existed and was benched separately; the
composition's single-job staging is what the per-op benches can't see).
Reference scope: the LogLead reference has no LLM corpus pipeline; the
stage/manifest mechanics re-express its loader -> enhancer -> detector
composition model (reference loaders/base.py:27-34) as resumable parquet
stages.

Stage boundaries are MATERIALIZED on purpose:

* each stage's output is the next stage's parquet scan, so the expensive
  dedup subgraph evaluates exactly once no matter how many downstream
  stages (or re-runs) consume it — the lineage-truncation argument at
  pipeline scale, and the packing stage's token-free decision lane gets a
  real scan to prune the payload from (chunk sizes derive from the
  materialized ``n_tok`` scalar);
* resume: a crash after stage k restarts at stage k+1 (footer-manifest
  completeness, the routing.py contract);
* the EAGER stages (dedup's component-label materialization, mixture's
  cutoff collect) make ``route()``'s resume-time schema revalidation as
  expensive as the stage itself, so completeness is checked FIRST and a
  complete sink is trusted as-is — the documented route() foreign-writer
  escape, chosen deliberately here and named in ``_stage``'s docstring.

Cache discipline: the dedup stage's component labels (the one persisted
frame its contract leaves behind) are unpersisted immediately after the
sink write via the ``sparklead_component_labels`` re-export. No persisted
state outlives ``run_llm_pipeline``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparklead import routing
from sparklead.decontam import decontaminate
from sparklead.dedup import neardup_text_dedup
from sparklead.mixture import sample_to_token_budget
from sparklead.packing import pack_stats, pack_tokenized

VOCAB_SIZE = 50_000


def tokenize_stage(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    source_col: str = "source",
    vocab_size: int = VOCAB_SIZE,
) -> DataFrame:
    """Whitespace tokenize -> hash-bucketed int token ids: the north-rule
    input table (doc_id, tokens array<int>, n_tok int, source). Narrow,
    whole-stage-codegen; NULL text tokenizes to an empty doc (kept)."""
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    return df.select(
        F.col(key_col),
        F.transform(
            words, lambda w: F.pmod(F.xxhash64(w), F.lit(vocab_size)).cast("int")
        ).alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        F.col(source_col),
    )


def run_llm_pipeline(
    docs: DataFrame,
    eval_set: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    source_col: str = "source",
    dedup_threshold: float = 0.7,
    ngram_n: int = 8,
    contain_threshold: float = 0.8,
    budget_frac: float = 0.5,
    max_tokens: int = 512,
    salt_buckets: int | None = 64,
    vocab_size: int = VOCAB_SIZE,
    seed: int = 0,
    fast: bool = True,
    resume: bool = True,
    scrub: bool = False,
    scrub_min_words: int = 3,
    scrub_min_lines: int = 1,
    substring_l: int | None = None,
) -> dict:
    """The composed hygiene-to-batches job. Stages (each a routed sink
    under ``out_dir``, resumable):

      scrubbed — OPTIONAL (``scrub=True``): C4 page/line filter + PII
                 redaction (sparklead.scrub.scrub_corpus); the surviving
                 redacted text feeds everything downstream.
                 ``scrub_min_lines`` defaults to 1 here (single-line
                 corpora are the norm in tests) — raise it for real
                 multi-line pages
      dedup    — ``neardup_text_dedup`` (exact -> LSH -> verify ->
                 components -> keep) over the text corpus
      clean    — ``decontaminate`` against ``eval_set`` (n-gram
                 containment >= ``contain_threshold`` drops the doc)
      pretok   — ``tokenize_stage``: the north-rule token table
      spandedup— OPTIONAL (``substring_l``): exact substring-level dedup
                 (sparklead.substrings) over the token arrays — duplicate
                 l-token spans beyond each span's canonical occurrence
                 are scrubbed; tokens/n_tok are replaced by the cleaned
                 array (the ExactSubstr placement: post-tokenization)
      sampled  — ``sample_to_token_budget``: per-source budgets =
                 ``budget_frac`` of each surviving source's token total
                 (the fraction defaults to a binary power so budget
                 arithmetic is exact across engines/tests)
      packed   — ``pack_tokenized`` at ``max_tokens`` with salt-bounded
                 sequential units

    Both optional stages default OFF so the 5-stage manifest set (and the
    llm_pipeline_e2e bench line) stays round-over-round comparable.

    Returns {"manifests": {stage: manifest}, "stats": lazy per-pack
    fill-stats frame over the packed sink, "wall_sec": float}. Budgets are
    computed from the last pre-mixture token sink (post-hygiene totals),
    so the mixture is defined over what survived cleaning — the standard
    recipe ordering.
    """
    spark = docs.sparkSession
    t0 = time.time()
    manifests: dict[str, dict] = {}

    def _stage(name: str, builder):
        """Write one routed sink; returns the built frame when the stage
        RAN (callers release stage-owned caches), None when resumed. The
        eager stages make route()'s thunk-based schema revalidation cost a
        full recompute, so a complete sink is trusted from its manifest
        alone (route's foreign-writer escape, deliberate)."""
        path = os.path.join(out_dir, name)
        if resume and routing.sink_complete(path):
            with open(os.path.join(path, routing.MANIFEST)) as f:
                manifests[name] = json.load(f) | {"resumed": True}
            return None
        frame = builder()
        manifests[name] = routing.route(
            {name: lambda: frame}, out_dir, resume=False
        )[name]
        return frame

    def _read(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(out_dir, name))

    if scrub:
        from sparklead.scrub import scrub_corpus

        _stage(
            "scrubbed",
            lambda: scrub_corpus(
                docs, text_col, min_words=scrub_min_words, min_lines=scrub_min_lines
            ).select(key_col, F.col("clean_text").alias(text_col), source_col),
        )
        docs = _read("scrubbed")

    deduped_frame = _stage(
        "dedup",
        lambda: neardup_text_dedup(docs, text_col, key_col, threshold=dedup_threshold),
    )
    if deduped_frame is not None:
        # release the stage-owned cache NOW; the sink is materialized, so
        # downstream stages scan parquet, never this lineage
        labels = getattr(deduped_frame, "sparklead_component_labels", None)
        if labels is not None:
            labels.unpersist()
    deduped = _read("dedup")

    _stage(
        "clean",
        lambda: decontaminate(
            deduped, eval_set, text_col, key_col,
            ngram_n=ngram_n, threshold=contain_threshold, fast=fast,
        ),
    )
    clean = _read("clean")

    _stage(
        "pretok", lambda: tokenize_stage(clean, text_col, key_col, source_col, vocab_size)
    )
    pretok = _read("pretok")

    if substring_l is not None:
        from sparklead.substrings import scrub_duplicate_substrings

        _stage(
            "spandedup",
            lambda: scrub_duplicate_substrings(pretok, l=substring_l, key_col=key_col)
            .select(
                key_col,
                F.col("clean_tokens").alias("tokens"),
                F.col("n_clean_tok").cast("int").alias("n_tok"),
                source_col,
            ),
        )
        pretok = _read("spandedup")

    def _mixture():
        totals = pretok.groupBy(source_col).agg(F.sum("n_tok").alias("t")).collect()
        budgets = {r[source_col]: int(r["t"] * budget_frac) for r in totals}
        # round-9: the exact totals feed the cutoff offsets too — skips
        # the offsets-window job inside token_budget_cutoffs
        return sample_to_token_budget(
            pretok, budgets, source_col=source_col, key_col=key_col,
            seed=seed, fast=fast,
            source_totals={r[source_col]: int(r["t"]) for r in totals},
        )

    _stage("sampled", _mixture)
    sampled = _read("sampled")

    _stage(
        "packed",
        lambda: pack_tokenized(
            sampled, max_tokens, bucket_cols=(source_col,),
            order_cols=(key_col,), salt_buckets=salt_buckets,
        ),
    )
    packed = _read("packed")

    return {
        "manifests": manifests,
        "stats": pack_stats(packed, max_tokens, bucket_cols=(source_col,)),
        "wall_sec": round(time.time() - t0, 3),
    }
