"""The three benchmark workloads: one whole job each through sparklead's
public entry points, plus a correctness check against an independent
computation (DuckDB over the same parquet files, or the generator's own
bookkeeping) — never against an earlier run of the program.

A workload is a small object: ``generate`` writes the seeded inputs,
``job`` runs one complete job into a fresh output directory and returns
what the check needs, ``check`` returns the list of mismatches (empty when
correct). ``records`` is the input record count that ``throughput_rps``
divides by; ``warm_jobs`` is how many checked, untimed jobs run between
the cold job and the timed window.
"""

from __future__ import annotations

import contextlib
import os

import duckdb

import gen


def _pq(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def _mismatch(con, name: str, expected_sql: str, actual_sql: str) -> list[str]:
    """Both directions of an EXCEPT ALL: equal multisets or a message."""
    missing = con.execute(f"SELECT count(*) FROM ({expected_sql} EXCEPT ALL {actual_sql})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({actual_sql} EXCEPT ALL {expected_sql})").fetchone()[0]
    if missing or extra:
        return [f"{name}: {missing} expected rows missing, {extra} unexpected rows"]
    return []


class SeqPipeline:
    """North-rule job: pipeline.run_pipeline over pre-tokenized docs."""

    name = "seq_pipeline"
    lanes = {
        "pipeline": "staged layout: one raw scan into token_vectors, every other sink reads routed sinks",
        "routing": "stage 1 sequential (one sink each), stage 2 three concurrent sink threads",
        "enrich": "broadcast hash join of the 20-row source lookup",
        "python_lane": "none",
    }

    # a warm job is mostly per-job overhead (about 20 stages and five sink
    # commits): 2k, 8k and 30k docs took 3-5, 3.5-6 and 5-8 s on 4 cores
    N_DOCS = 10_000
    records = N_DOCS
    # an untimed warm job after the cold one: while the JIT compiles the
    # planner, the first warm job varies from run to run by up to 50 %
    # (5.3-8.2 s), the later ones much less
    warm_jobs = 1

    def generate(self, in_dir: str, seed: int) -> dict:
        self.in_dir = in_dir
        self.facts = gen.pretokenized(in_dir, self.N_DOCS, seed)
        docs = _pq(os.path.join(in_dir, "docs"))
        meta = _pq(os.path.join(in_dir, "meta"))
        self.con = duckdb.connect()
        self.con.execute(f"""CREATE TABLE exp_source_agg AS
            SELECT d.source, m.label, m.region, count(*)::BIGINT AS n_seqs,
                   sum(n_tok)::BIGINT AS sum_tok, round(avg(n_tok), 9) AS avg_tok,
                   max(n_tok)::INT AS max_tok, min(n_tok)::INT AS min_tok,
                   sum(CASE WHEN len(tokens) = n_tok THEN 0 ELSE 1 END)::BIGINT AS n_invalid
            FROM {docs} d LEFT JOIN {meta} m USING (source)
            GROUP BY ALL""")
        self.con.execute(f"""CREATE TABLE exp_vocab AS
            SELECT token::INT AS token, count(*)::BIGINT AS freq,
                   count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM (SELECT doc_id, unnest(tokens) AS token FROM {docs}) GROUP BY token""")
        self.n_templates = self.con.execute(f"SELECT count(DISTINCT tokens) FROM {docs}").fetchone()[0]
        self.n_vocab = self.con.execute("SELECT count(*) FROM exp_vocab").fetchone()[0]
        return self.facts

    def job(self, spark, out_dir: str, tracer=None):
        from sparklead.pipeline import run_pipeline

        df = spark.read.parquet(os.path.join(self.in_dir, "docs"))
        meta = spark.read.parquet(os.path.join(self.in_dir, "meta"))
        return run_pipeline(df, meta, out_dir=out_dir, resume=False)

    def check(self, res: dict, out_dir: str) -> list[str]:
        rows = {k: m["rows"] for k, m in res["manifests"].items()}
        want = {
            "token_vectors": self.N_DOCS,
            "seq_features": self.N_DOCS,
            "source_agg": self.facts["n_sources"],
            "template_counts": self.n_templates,
            "vocabulary": self.n_vocab,
        }
        errs = [f"{k} manifest rows {rows.get(k)} != {v}" for k, v in want.items() if rows.get(k) != v]
        sa = _pq(os.path.join(out_dir, "source_agg"))
        errs += _mismatch(
            self.con, "source_agg", "SELECT * FROM exp_source_agg",
            f"""SELECT source, label, region, n_seqs::BIGINT, sum_tok::BIGINT, round(avg_tok, 9),
                       max_tok::INT, min_tok::INT, n_invalid::BIGINT FROM {sa}""",
        )
        vo = _pq(os.path.join(out_dir, "vocabulary"))
        errs += _mismatch(
            self.con, "vocabulary", "SELECT * FROM exp_vocab",
            f"SELECT token::INT, freq::BIGINT, n_docs::BIGINT FROM {vo}",
        )
        return errs


def xxh64(data: bytes, seed: int) -> int:
    """Reference XXH64 (the algorithm behind Spark's ``xxhash64``), used to
    derive the expected hash split sizes without asking Spark."""
    p1, p2, p3, p4, p5 = (
        0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
        0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
    )
    m = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def rnd(acc, lane):
        return (rotl((acc + lane * p2) & m, 31) * p1) & m

    n, i = len(data), 0
    if n >= 32:
        v = [(seed + p1 + p2) & m, (seed + p2) & m, seed & m, (seed - p1) & m]
        while i + 32 <= n:
            for k in range(4):
                v[k] = rnd(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)) & m
        for k in range(4):
            h = ((h ^ rnd(0, v[k])) * p1 + p4) & m
    else:
        h = (seed + p5) & m
    h = (h + n) & m
    while i + 8 <= n:
        h = (rotl(h ^ rnd(0, int.from_bytes(data[i : i + 8], "little")), 27) * p1 + p4) & m
        i += 8
    if i + 4 <= n:
        h = (rotl(h ^ (int.from_bytes(data[i : i + 4], "little") * p1) & m, 23) * p2 + p3) & m
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * p5) & m, 11) * p1) & m
        i += 1
    h ^= h >> 33
    h = (h * p2) & m
    h ^= h >> 29
    h = (h * p3) & m
    return h ^ (h >> 32)


class LogAnomaly:
    """LogLead's flagship path: raw HDFS lines -> events -> Drain templates
    -> sequences -> LR anomaly detector -> evaluation."""

    name = "log_anomaly"
    lanes = {
        "sources/enhancers": "JVM regex lane (split, blk regex, 7 masking regexes applied twice)",
        "mining.drain": "mapInPandas phase 1 + driver fold (fewer than 33 partitions: no merge rounds), "
                        "Arrow pandas_udf assign",
        "enhancers.sequence": "one shuffle groupBy(seq_id) with ordered collect_list",
        "detectors.ad": "hash split, Spark ML CountVectorizer + LogisticRegression",
        "routing": "none (no sinks)",
    }
    TEST_FRAC = 0.5
    N_SEQS = 400
    LINES_PER_SEQ = 20
    records = N_SEQS * LINES_PER_SEQ
    warm_jobs = 0  # the first warm job is within 10 % of the later ones

    def generate(self, in_dir: str, seed: int) -> dict:
        self.in_dir = in_dir
        self.facts = gen.hdfs_lines(in_dir, self.N_SEQS, self.LINES_PER_SEQ, seed)
        # ad.hash_bucket: pmod(xxhash64(seq_id, lit(42)), 1e6) / 1e6 < frac, where
        # Spark folds the string (seed 42) and then the int literal 42 (seed = that hash)
        self.n_test = 0
        for s in self.facts.pop("seq_ids"):
            h = xxh64((42).to_bytes(4, "little"), xxh64(s.encode(), 42))
            h = h - (1 << 64) if h >= 1 << 63 else h
            self.n_test += h % 1_000_000 < self.TEST_FRAC * 1_000_000
        return self.facts

    def frames(self, spark):
        """The lazy prefixes of the job, in order (the traced run forces each)."""
        from sparklead.enhancers import eventlog as E
        from sparklead.sources.hdfs import load_hdfs_events

        lines = spark.read.parquet(os.path.join(self.in_dir, "lines"))
        events = load_hdfs_events(lines)
        enhanced = E.event_id(E.length(E.words(E.normalize(events), "e_message_normalized")))
        return events, enhanced

    def job(self, spark, out_dir: str, tracer=None):
        from sparklead.detectors.ad import AnomalyDetector, SeqFeaturizer, evaluate, train_test_split
        from sparklead.enhancers.sequence import aggregate_sequences
        from sparklead.mining.drain import parse_drain
        from sparklead.sources.hdfs import attach_labels

        _, enhanced = self.frames(spark)
        parsed, miner = parse_drain(enhanced, "e_words", "e_event_drain_id")
        labels = spark.read.parquet(os.path.join(self.in_dir, "labels"))
        seq = attach_labels(aggregate_sequences(parsed, event_col="e_event_drain_id"), labels)
        train, test = train_test_split(seq, self.TEST_FRAC)
        det = AnomalyDetector(SeqFeaturizer(item_col="events", numeric_cols=("seq_len",)))
        det.train(train, "LR")
        with tracer.span("detectors.ad.predict_evaluate") if tracer else contextlib.nullcontext():
            metrics = evaluate(det.predict(test))
        return {"miner": miner, "metrics": metrics, "train": train}

    def check(self, res: dict, out_dir: str) -> list[str]:
        errs = []
        tpls = res["miner"].templates
        if len(tpls) != self.facts["n_templates"]:
            errs.append(f"drain templates {len(tpls)} != {self.facts['n_templates']}")
        if sum(c for _, c in tpls) != self.records:
            errs.append(f"drain template counts sum {sum(c for _, c in tpls)} != {self.records}")
        m = res["metrics"]
        n_pred = m["tp"] + m["fp"] + m["fn"] + m["tn"]
        if n_pred != self.n_test:
            errs.append(f"prediction rows {n_pred} != test split size {self.n_test}")
        n_train = res["train"].count()
        if n_train + n_pred != self.N_SEQS:
            errs.append(f"distinct seqs {n_train} train + {n_pred} test != {self.N_SEQS}")
        if m["f1"] < 0.9:
            errs.append(f"LR f1 {m['f1']:.3f} < 0.9 on a template-presence anomaly")
        return errs


class LlmHygiene:
    """Composed LLM-data job: dedup -> decontaminate -> tokenize -> mixture
    sample -> pack, five staged routed sinks."""

    name = "llm_hygiene"
    lanes = {
        "dedup": "exact md5 collapse + MinHash LSH + verify; components by driver union-find "
                 "(pair graph far below SMALL_GRAPH_EDGES), never the label-propagation loop",
        "decontam": "fast lane (xxhash64 8-gram keys, broadcast eval side)",
        "mixture": "fast lane with caller-supplied source totals (no offsets job)",
        "packing": "salted (64) single sorted mapInPandas walk",
        "routing": "five dependent single-sink stages",
        "textstats.lang_id": "not used",
    }

    N_DOCS = 15_000
    records = N_DOCS
    warm_jobs = 0

    def generate(self, in_dir: str, seed: int) -> dict:
        self.in_dir = in_dir
        self.facts = gen.dup_docs(in_dir, self.N_DOCS, seed)
        self.con = duckdb.connect()
        return self.facts

    def job(self, spark, out_dir: str, tracer=None):
        from sparklead.llm_pipeline import run_llm_pipeline

        docs = spark.read.parquet(os.path.join(self.in_dir, "docs"))
        eval_set = spark.read.parquet(os.path.join(self.in_dir, "eval"))
        return run_llm_pipeline(docs, eval_set, out_dir, resume=False)

    def check(self, res: dict, out_dir: str) -> list[str]:
        errs = []
        rows = {k: m["rows"] for k, m in res["manifests"].items()}
        f = self.facts
        if rows.get("dedup") != f["n_dedup"]:
            errs.append(
                f"dedup rows {rows.get('dedup')} != {f['n_docs']} - {f['n_exact']} exact - {f['n_near']} near"
            )
        if rows.get("clean") != f["n_clean"]:
            errs.append(f"clean rows {rows.get('clean')} != {f['n_clean']}")
        sampled = self.con.execute(
            f"SELECT sum(n_tok) FROM {_pq(os.path.join(out_dir, 'sampled'))}"
        ).fetchone()[0]
        packed, packed_len = self.con.execute(
            f"SELECT sum(n_tok), sum(len(tokens)) FROM {_pq(os.path.join(out_dir, 'packed'))}"
        ).fetchone()
        if not sampled or packed != sampled or packed_len != sampled:
            errs.append(f"packed tokens {packed}/{packed_len} != sampled tokens {sampled}")
        return errs


WORKLOADS = {w.name: w for w in (SeqPipeline, LogAnomaly, LlmHygiene)}

