"""Scale-up of one sparklead workload over input sizes and core counts.

    python tools/scaleup.py <workload> --docs N1,N2,... --cores C1,C2,...

Each size's input is written once to parquet in 4 x max(cores) partitions.
Each (size, cores) pair runs in a fresh spawned process (its own JVM) at
``local[c]`` with ``shuffle_partitions=c``; the workload's library calls run
inside ``perfbench/spans.py`` Tracer spans, so stage metrics come from
Spark's status store and cover the timed calls only. Prints one JSON line:
per run the span fields, ``read_jobs`` (jobs the status-store read
launched, expected 0) and the workload's check fields, then the summary
(``summarize``) and the md5-process hardware speedup at the core counts.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from perfbench.spans import FIELDS, Tracer  # noqa: E402
from sparklead import dedup as D, get_spark, routing, synth  # noqa: E402
from sparklead.bpe import apply_merges, bpe_train  # noqa: E402
from sparklead.decontam import contaminated_docs, decontaminate  # noqa: E402
from sparklead.llm_pipeline import run_llm_pipeline  # noqa: E402
from sparklead.mixture import sample_to_token_budget  # noqa: E402
from sparklead.packing import pack_stats, pack_tokenized  # noqa: E402
from sparklead.pipeline import run_pipeline  # noqa: E402
from sparklead.substrings import scrub_duplicate_substrings, substring_dup_stats  # noqa: E402

BUDGET_FRACTION = 0.25  # mixture: each source budgeted to 25 % of its tokens
MAX_TOKENS, SALT = 256, 64  # packing
SUBSTRING_L = 8
SUBSTRING_CHECK_MAX = 500_000  # substring: the cross-lane check re-runs detection
N_MERGES = 8  # bpe
N_EVAL, VERBATIM_EVERY, PREFIX_EVERY = 2_000, 500, 700  # decontam


def _docs(gen):
    return lambda spark, n, parts: {"docs": gen(spark, n, parts)}


def _sourced_dup_docs(spark, n, parts):
    source = F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(8)))
    return {"docs": synth.seeded_dup_docs(spark, n, parts).withColumn("source", source)}


def _leaky_corpus(spark, n, parts):
    """A fixed eval set, and a corpus where every 500th doc is a verbatim eval
    doc (containment 1.0) and every 700th starts with one's first 16 words
    (containment ~0.33, above the 0.25 threshold)."""
    def eval_text(i):
        return F.concat(
            F.lit("eval question "), i.cast("string"), F.lit(" asks about topic "), (i % 37).cast("string"),
            F.lit(" with answer tokens alpha beta gamma delta epsilon zeta eta theta"),
        )

    i = F.col("id")
    body = F.concat(
        F.lit("corpus document "), i.cast("string"), F.lit(" body token "), (i % 9973).cast("string"),
        F.lit(" filler one two three four five six seven eight nine ten "), (i % 613).cast("string"),
    )
    leaked = eval_text((i / VERBATIM_EVERY).cast("long") % N_EVAL)
    quoted = F.concat(F.concat_ws(" ", F.slice(F.split(leaked, " "), 1, 16)), F.lit(" "), body)
    text = F.when(i % VERBATIM_EVERY == 0, leaked).when(i % PREFIX_EVERY == 0, quoted).otherwise(body)
    return {
        "corpus": spark.range(n).repartition(parts).select(i.alias("doc_id"), text.alias("text")),
        "eval": spark.range(N_EVAL).select(eval_text(i).alias("text")),
    }


# --------------------------------------------------------------- workloads
# Each takes (spark, span, frames, n_docs, out_dir) and returns its check
# fields. Only the calls inside ``span(...)`` blocks are timed and counted.
def pipeline(spark, span, f, n, out):
    with span("pipeline.run_pipeline"):
        res = run_pipeline(f["docs"], synth.source_meta(spark), out_dir=out, resume=False)
    return {"sink_rows": {k: m["rows"] for k, m in res["manifests"].items()}}


def _force(df) -> None:
    h = F.xxhash64(F.struct(*[F.col(c).cast("string") for c in df.columns]))
    df.select(h.alias("h")).agg(F.expr("bit_xor(h)")).collect()


def dedup(spark, span, f, n, out):
    docs = f["docs"]
    with span("dedup.exact_dedup"):
        _force(D.exact_dedup(docs))
    with span("dedup.minhash_candidates+jaccard_verify"):
        _force(D.jaccard_verify(docs, D.minhash_candidates(docs, fast=True)))
    with span("dedup.simhash_signatures+group"):
        toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
        _force(D.simhash_signatures(toks, "toks").groupBy("simhash").agg(F.count(F.lit(1)).alias("n")))
    with span("dedup.neardup_text_dedup"):
        kept = D.neardup_text_dedup(docs).count()
    spark.catalog.clearCache()  # the documented caller-owned release
    return {"kept_docs": kept}


def decontam(spark, span, f, n, out):
    kw = dict(ngram_n=8, threshold=0.25, fast=True)
    with span("decontam.decontaminate"):
        kept = decontaminate(f["corpus"], f["eval"], **kw).count()
    with span("decontam.contaminated_docs"):
        contaminated = contaminated_docs(f["corpus"], f["eval"], **kw).count()
    return {"kept_docs": kept, "dropped_docs": n - kept, "contaminated_docs": contaminated}


def mixture(spark, span, f, n, out):
    docs = f["docs"]
    # budgets are the caller's contract input: derived untimed
    totals = docs.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    budgets = {r["source"]: int(r["t"] * BUDGET_FRACTION) for r in totals}
    with span("mixture.sample_to_token_budget"):
        kept = sample_to_token_budget(docs, budgets).agg(F.count("*").alias("d"), F.sum("n_tok").alias("t")).first()
    budget = sum(budgets.values())
    return {"kept_docs": kept["d"], "kept_tokens": kept["t"], "budget_tokens": budget,
            "budget_utilization": round(kept["t"] / budget, 4)}


def packing(spark, span, f, n, out):
    with span("packing.pack_tokenized+pack_stats"):
        row = pack_stats(pack_tokenized(f["docs"], MAX_TOKENS, salt_buckets=SALT), MAX_TOKENS).agg(
            F.count(F.lit(1)).alias("n_packs"), F.round(F.avg("fill_ratio"), 4).alias("mean_fill"),
            F.max("n_tokens").alias("max_pack_tokens"), F.sum("n_tokens").alias("total_tokens"),
        ).first()
    return {**row.asDict(), "mean_fill": float(row["mean_fill"]),
            "overfull_packs": int(row["max_pack_tokens"] > MAX_TOKENS)}


def substring(spark, span, f, n, out):
    docs = f["docs"]
    with span("substrings.scrub_duplicate_substrings"):
        row = scrub_duplicate_substrings(docs, l=SUBSTRING_L, fast=True).agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("n_dup_tokens").alias("dup_tokens"),
            F.sum("n_clean_tok").alias("clean_tokens"), F.sum(F.size("tokens")).alias("total_tokens"),
        ).first()
    checks = {**row.asDict(), "dup_frac": round(row["dup_tokens"] / max(row["total_tokens"], 1), 4)}
    if n <= SUBSTRING_CHECK_MAX:  # untimed: the stats lane's merged intervals sum to the scrub's count
        stats = substring_dup_stats(docs, l=SUBSTRING_L, fast=True, n_tok_col="n_tok")
        checks["interval_vs_filter_ok"] = int(stats.agg(F.sum("n_dup_tokens")).first()[0]) == row["dup_tokens"]
    return checks


def llm_pipeline(spark, span, f, n, out):
    docs = f["docs"]
    with span("llm_pipeline.run_llm_pipeline"):
        res = run_llm_pipeline(docs, docs.filter(F.col("doc_id") % 97 == 0).select("text"), out,
                               budget_frac=0.5, max_tokens=512, resume=False)
        row = res["stats"].agg(
            F.count(F.lit(1)).alias("n_packs"), F.sum("n_tokens").alias("packed_tokens"),
            F.sum(F.when(F.col("n_tokens") > 512, 1).otherwise(0)).alias("overfull_packs"),
        ).first()
    return {"sink_rows": {k: m["rows"] for k, m in res["manifests"].items()}, **row.asDict()}


def bpe(spark, span, f, n, out):
    docs = f["docs"].select("doc_id", "tokens")
    with span("bpe.bpe_train"):
        merges, _ = bpe_train(docs, N_MERGES)
    with span("bpe.apply_merges"):
        out_tokens = apply_merges(docs, merges).agg(F.sum(F.size("tokens"))).first()[0]
    in_tokens = docs.agg(F.sum(F.size("tokens"))).first()[0]
    return {"n_merges_learned": len(merges), "in_tokens": in_tokens, "out_tokens": out_tokens,
            "compression": round(1 - out_tokens / max(in_tokens, 1), 4)}


WORKLOADS = {  # name: (input generator, workload)
    "pipeline": (_docs(synth.pretokenized), pipeline),
    "dedup": (_docs(synth.seeded_dup_docs), dedup),
    "decontam": (_leaky_corpus, decontam),
    "mixture": (_docs(synth.pretokenized), mixture),
    "packing": (_docs(synth.pretokenized), packing),
    "substring": (_docs(synth.pretokenized), substring),
    "llm_pipeline": (_sourced_dup_docs, llm_pipeline),
    "bpe": (_docs(synth.pretokenized), bpe),
}


def write_input(workload: str, n: int, parts: int, cores: int, path: str) -> None:
    spark = get_spark(f"scaleup-input-{workload}-{n}", master=f"local[{cores}]", shuffle_partitions=cores)
    try:
        for name, df in WORKLOADS[workload][0](spark, n, parts).items():
            df.write.mode("overwrite").parquet(os.path.join(path, name))
    finally:
        spark.stop()


def run_one(workload: str, n: int, cores: int, path: str) -> dict:
    spark = get_spark(f"scaleup-{workload}-{n}-{cores}", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="sparklead_scaleup_out_")
    try:
        frames = {name: spark.read.parquet(os.path.join(path, name)) for name in sorted(os.listdir(path))}
        tracer = Tracer(spark, cores)
        # route writes sinks from pool threads that inherit the caller's
        # job group; a span per sink write, opened in its own thread,
        # splits those jobs out per sink (nested under the open span)
        tracer.patch(routing, "write_sink", lambda df, dest, *a, **kw: "routing.write_sink." + os.path.basename(dest))
        try:
            checks = WORKLOADS[workload][1](spark, tracer.span, frames, n, out)
        finally:
            tracer.restore()
        spans = tracer.stage_metrics()
        return {"docs": n, "cores": cores, **span_totals(tracer, spans), "read_jobs": tracer.read_jobs(),
                "checks": checks, "spans": spans}
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


def span_totals(tracer: Tracer, spans: dict) -> dict:
    """FIELDS summed over the top-level spans (each includes its children)."""
    top = {s["name"] for s in tracer.spans if s["parent"] is None}
    tot = {k: sum(spans[name][k] for name in top) for k in FIELDS}
    tot["core_busy"] = tot["exec_run_s"] / (tot["wall_s"] * tracer.cores) if tot["wall_s"] else 0.0
    return tot


def summarize(runs: list[dict]) -> dict:
    """Efficiency per size; per core count, growth from the smallest to the
    largest size and the fixed + per-row wall fit over all sizes."""
    wall = {(r["docs"], r["cores"]): r["wall_s"] for r in runs}
    shuffle = {(r["docs"], r["cores"]): r["shuffle_write_mb"] for r in runs}
    sizes, cores = sorted({r["docs"] for r in runs}), sorted({r["cores"] for r in runs})
    lo, hi, small, large = cores[0], cores[-1], sizes[0], sizes[-1]
    out: dict = {}
    if hi > lo:
        out["efficiency"] = {n: (wall[n, lo] / wall[n, hi]) / (hi / lo) for n in sizes}
    if large > small:
        out["throughput_ratio"] = {c: (large / wall[large, c]) / (small / wall[small, c]) for c in cores}
        out["shuffle_growth_vs_input_growth"] = {
            c: (shuffle[large, c] / shuffle[small, c]) / (large / small) if shuffle[small, c] else None for c in cores
        }
        out["wall_fit"] = {c: fit_fixed_per_row(sizes, [wall[n, c] for n in sizes]) for c in cores}
    return out


def fit_fixed_per_row(sizes: list[int], walls: list[float]) -> dict:
    """Least squares of wall = fixed_s + per_row_us * 1e-6 * rows."""
    mx, my = sum(sizes) / len(sizes), sum(walls) / len(walls)
    slope = sum((x - mx) * (y - my) for x, y in zip(sizes, walls)) / sum((x - mx) ** 2 for x in sizes)
    return {"fixed_s": my - slope * mx, "per_row_us": slope * 1e6}


_BUSY = "import hashlib\nx = b'x'\nfor i in range(1_500_000): x = hashlib.md5(x).digest()"


def _settle() -> None:
    subprocess.run(["sync"], check=False)
    time.sleep(3)


def hardware_speedup(procs: int, repeats: int = 2) -> float:
    """Work units/s of ``procs`` identical CPU-bound md5 processes: the host's
    own parallel capacity. Best of ``repeats``: one contended draw skews it."""
    best = 0.0
    for _ in range(repeats):
        _settle()
        t0 = time.time()
        ps = [subprocess.Popen([sys.executable, "-c", _BUSY], stdout=subprocess.DEVNULL) for _ in range(procs)]
        for p in ps:
            p.wait()
        best = max(best, procs / (time.time() - t0))
    return best


def _fresh(fn, *args):
    """``fn(*args)`` in a fresh spawned process, so every run gets its own JVM."""
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as ex:
        return ex.submit(fn, *args).result()


def main() -> None:
    ints = lambda s: sorted({int(x) for x in s.split(",")})  # noqa: E731
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=list(WORKLOADS))
    ap.add_argument("--docs", type=ints, required=True, help="input sizes, comma-separated")
    ap.add_argument("--cores", type=ints, required=True, help="local[c] core counts, comma-separated")
    a = ap.parse_args()
    lo, hi = a.cores[0], a.cores[-1]
    runs = []
    root = tempfile.mkdtemp(prefix="sparklead_scaleup_in_")
    try:
        for n in a.docs:
            path = os.path.join(root, str(n))
            _fresh(write_input, a.workload, n, 4 * hi, hi, path)
            for c in a.cores:
                _settle()
                runs.append(_fresh(run_one, a.workload, n, c, path))
            shutil.rmtree(path, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    hw = {c: hardware_speedup(c) for c in a.cores}
    print(json.dumps({
        "workload": a.workload, "input_partitions": 4 * hi, "runs": runs, **summarize(runs),
        "hw_speedup": {c: hw[c] / hw[lo] for c in a.cores}, "hw_efficiency": (hw[hi] / hw[lo]) / (hi / lo),
    }))


if __name__ == "__main__":
    main()
