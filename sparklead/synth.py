"""Deterministic, fully JVM-side synthetic data generators.

The north-rule input table (BASELINE.json input_hint) is
``(doc_id string, tokens array<int>, n_tok int, source string)`` —
pre-tokenized training sequences at 10^12-sequence design scale. In-sandbox
we synthesise it deterministically at small scale with ``spark.range`` +
hash-derived columns: no Python RNG, no driver-side loops, so the same call
produces the same table at any parallelism and any scale factor, and
generation itself is distributed (each partition generates its own rows).

A second generator produces an HDFS-like raw log corpus with a known number
of templates, mirroring the reference's loader inputs
(/root/reference/loaders/hdfs.py:15-39) so template mining has golden
cluster counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 10_000
N_SOURCES = 20
HOT_TEMPLATES = 5  # hot-template skew knob (SURVEY.md §4.2: salted repartition target)


def _u(col: Column, salt: int) -> Column:
    """Deterministic uniform(0,1) from a column + integer salt (xxhash64-based)."""
    return (F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(1_000_000)) / 1_000_000.0).cast("double")


def pretokenized(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """The graft-cell input table: (doc_id, tokens:array<int>, n_tok:int, source).

    * token ids are log-uniform over the vocab (Zipf-ish: low ids frequent),
    * ~18% of docs are exact copies of one of HOT_TEMPLATES hot documents
      (hot-template skew, exercises AQE/salting),
    * sources are exponentially skewed over N_SOURCES values,
    * n_tok == size(tokens) by construction (FIXTURES.md invariant 2).
    """
    df = spark.range(0, n_docs, numPartitions=partitions)
    length = (F.lit(5) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(196))).cast("int")
    # log-uniform token draw: floor(exp(u * ln(V))) - 1 in [0, V)
    tok = lambda i: (F.exp(_u(F.col("id") * 1_000_003 + i, 2) * float(__import__("math").log(VOCAB_SIZE))) - 1).cast("int")
    tokens = F.transform(F.sequence(F.lit(1), length), tok)
    # hot templates: ~18% of rows collapse onto HOT_TEMPLATES fixed token arrays
    hot_pick = F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100))
    hot_id = F.pmod(F.xxhash64("id", F.lit(4)), F.lit(HOT_TEMPLATES))
    hot_tokens = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.pmod(hot_id * 37 + i * 13, F.lit(VOCAB_SIZE)).cast("int"),
    )
    tokens = F.when(hot_pick < 18, hot_tokens).otherwise(tokens)
    # exponentially skewed source
    src_idx = F.least(F.floor(-F.log(_u(F.col("id"), 5) + 1e-9) * 4.0), F.lit(N_SOURCES - 1)).cast("int")
    return df.select(
        F.format_string("doc_%09d", "id").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.concat(F.lit("src"), src_idx).alias("source"),
    )


def seeded_dup_docs(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Deterministic ~40-token docs over a 5k-word vocab with seeded
    duplicate structure: every 50th doc repeats doc id-1 verbatim (exact
    dup), every 70th repeats doc id-2 with its last token replaced (near
    dup, shingle-Jaccard ~0.92). Shared by bench.py and the ``dedup`` and
    ``llm_pipeline`` workloads of tools/scaleup.py, so they time the
    dedup stack on the SAME corpus. Fully JVM-side, partition-invariant."""
    df = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    base = (
        F.when(F.pmod("id", F.lit(50)) == 0, F.col("id") - 1)
        .when(F.pmod("id", F.lit(70)) == 0, F.col("id") - 2)
        .otherwise(F.col("id"))
    )
    df = df.select(F.col("id").alias("doc_id"), base.alias("b"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64("b", i), F.lit(5000))),
    )
    near = (F.pmod("doc_id", F.lit(70)) == 0) & (F.pmod("doc_id", F.lit(50)) != 0)
    words = F.when(near, F.concat(F.slice(words, 1, 39), F.array(F.lit("znear")))).otherwise(words)
    return df.select("doc_id", F.array_join(words, " ").alias("text"))


def source_meta(spark: SparkSession) -> DataFrame:
    """Tiny broadcast-side lookup table (source -> label, region).

    Mirrors the reference's labels-CSV side input (/root/reference/loaders/hdfs.py:24-29).
    """
    rows = [(f"src{i}", "anomaly" if i % 7 == 0 else "normal", f"region{i % 4}") for i in range(N_SOURCES)]
    return spark.createDataFrame(rows, "source string, label string, region string")


# ---------------------------------------------------------------- raw log corpus

_LOG_TEMPLATES = [
    "Receiving block blk_{b} src: /10.0.{o}.{h}:{p} dest: /10.0.{o}.{h}:50010",
    "BLOCK* NameSystem.allocateBlock: /user/job_{j}/part-{t} blk_{b}",
    "PacketResponder {t} for block blk_{b} terminating",
    "Verification succeeded for blk_{b}",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.0.{o}.{h}:50010 is added to blk_{b} size {s}",
    "Deleting block blk_{b} file /data/current/blk_{b}",
    "Exception in receiveBlock for block blk_{b} java.io.IOException: Connection reset",
    "Received block blk_{b} of size {s} from /10.0.{o}.{h}",
]


def raw_log_corpus(spark: SparkSession, n_lines: int, n_seqs: int | None = None) -> DataFrame:
    """HDFS-like raw log lines: one string column ``m_message``, known template count.

    Line layout mirrors the reference HDFS dataset (6 space-separated fields:
    date time pid level component: body — /root/reference/loaders/hdfs.py:19,
    FIXTURES.md §1). Deterministic: template choice, parameters, sequence id
    and timestamp all derive from xxhash64(id).
    """
    if n_seqs is None:
        n_seqs = max(10, n_lines // 20)
    df = spark.range(0, n_lines)
    tpl_idx = F.pmod(F.xxhash64("id", F.lit(10)), F.lit(len(_LOG_TEMPLATES)))
    blk = F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n_seqs))  # seq id
    # template instantiation via one chained when() — stays in whole-stage codegen
    body = _chained_templates(tpl_idx, blk)
    ts = F.timestamp_seconds(F.lit(1_200_000_000) + F.col("id"))  # 1 line/sec, monotone
    date = F.date_format(ts, "yyMMdd")
    time = F.date_format(ts, "HHmmss")
    pid = F.pmod(F.xxhash64("id", F.lit(18)), F.lit(4000)).cast("string")
    level = F.when(tpl_idx == 6, F.lit("WARN")).otherwise(F.lit("INFO"))
    component = F.element_at(
        F.array(*[F.lit(c) for c in ("dfs.DataNode$PacketResponder", "dfs.FSNamesystem", "dfs.DataNode$DataXceiver")]),
        (F.pmod(F.xxhash64("id", F.lit(19)), F.lit(3)) + 1).cast("int"),
    )
    line = F.concat_ws(" ", date, time, pid, level, F.concat(component, F.lit(":")), body)
    return df.select(line.alias("m_message"))


def _split_placeholders(s: str) -> list[str]:
    out: list[str] = []
    buf = ""
    i = 0
    while i < len(s):
        if s[i] == "%" and i + 2 < len(s) and s[i + 2] == "%":
            if buf:
                out.append(buf)
                buf = ""
            out.append(s[i : i + 3])
            i += 3
        else:
            buf += s[i]
            i += 1
    if buf:
        out.append(buf)
    return out


def _chained_templates(tpl_idx: Column, blk: Column) -> Column:
    """Build the template body as one chained when() expression."""
    def fill(tpl: str) -> Column:
        parts: list[Column] = []
        for piece in _split_placeholders(tpl.format(b="%B%", o="%O%", h="%H%", p="%P%", j="%J%", t="%T%", s="%S%")):
            mapping = {
                "%B%": F.concat(F.lit("-"), (blk * 104729 + 7).cast("string")),
                "%O%": F.pmod(F.xxhash64("id", F.lit(12)), F.lit(255)).cast("string"),
                "%H%": F.pmod(F.xxhash64("id", F.lit(13)), F.lit(255)).cast("string"),
                "%P%": (F.pmod(F.xxhash64("id", F.lit(14)), F.lit(30000)) + 1024).cast("string"),
                "%J%": F.pmod(F.xxhash64("id", F.lit(15)), F.lit(50)).cast("string"),
                "%T%": F.pmod(F.xxhash64("id", F.lit(16)), F.lit(8)).cast("string"),
                "%S%": (F.pmod(F.xxhash64("id", F.lit(17)), F.lit(67108864)) + 1024).cast("string"),
            }
            parts.append(mapping.get(piece, F.lit(piece)))
        return F.concat(*parts)

    expr = fill(_LOG_TEMPLATES[0])
    for i in range(1, len(_LOG_TEMPLATES)):
        expr = F.when(tpl_idx == i, fill(_LOG_TEMPLATES[i])).otherwise(expr)
    return expr
