"""Round-8 additions, part 2: exact substring-level dedup (ExactSubstr,
Lee et al. 2022) — fixture semantics, a from-scratch Python oracle under
hypothesis, lane agreement, partition invariance, and the plan pins
(single gram window / payload pruning with n_tok_col) — plus the PII
redaction + C4 boilerplate line filter family (sparklead/scrub.py):
fixture semantics, Python-re parity on the engine-agreement regex
subset, and the zero-exchange/zero-UDF plan pin."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


# ------------------------------------------------------ pure-Python oracle

def _py_substring_dedup(docs, l):
    """From-scratch oracle for the module's declared semantics: windows of
    length l, duplicates = non-canonical occurrences of grams with global
    count >= 2 (canonical = lexicographic min (key, pos)), covered
    positions = union of duplicate window spans, clean = tokens minus
    covered. ``docs`` is {key: list-of-tokens-or-None}."""
    occ = {}
    for k in sorted(docs):
        toks = docs[k] or []
        for pos in range(len(toks) - l + 1):
            occ.setdefault(tuple(toks[pos : pos + l]), []).append((k, pos))
    covered = {k: set() for k in docs}
    n_dup_windows = {k: 0 for k in docs}
    for lst in occ.values():
        if len(lst) < 2:
            continue
        for k, pos in sorted(lst)[1:]:
            n_dup_windows[k] += 1
            covered[k].update(range(pos, pos + l))
    out = {}
    for k in sorted(docs):
        toks = docs[k]
        n = len(toks or [])
        out[k] = {
            "n_windows": max(n - l + 1, 0) if toks is not None else 0,
            "n_dup_windows": n_dup_windows[k],
            "n_dup_tokens": len(covered[k]),
            "clean": None
            if toks is None
            else [t for i, t in enumerate(toks) if i not in covered[k]],
        }
    return out


FIXTURE = [
    (1, "a b c d e f g h i j".split()),    # canonical source
    (2, "x y a b c d e f g h z".split()),  # quotes 1's 8-gram at pos 2
    (3, "p q r s t u v w".split()),        # clean, exactly l tokens
    (4, "a b c d e f g".split()),          # short (< l): no windows
    (5, None),                             # NULL tokens
    (6, "a b c d e f g h i j".split()),    # verbatim dup of 1
]


@pytest.mark.parametrize("fast", [False, True])
def test_substring_dedup_fixture(spark, fast):
    from sparklead.substrings import scrub_duplicate_substrings, substring_dup_stats

    df = spark.createDataFrame(FIXTURE, "doc_id: bigint, tokens: array<string>")
    exp = _py_substring_dedup(dict(FIXTURE), 8)
    stats = {r["doc_id"]: r.asDict() for r in substring_dup_stats(df, l=8, fast=fast).collect()}
    assert set(stats) == set(exp)
    for k, e in exp.items():
        for c in ("n_windows", "n_dup_windows", "n_dup_tokens"):
            assert stats[k][c] == e[c], (k, c, stats[k], e)
    # the quoted span scrubs, the canonical survives whole, the verbatim
    # dup scrubs to nothing, short/NULL docs pass through
    clean = {
        r["doc_id"]: r["clean_tokens"]
        for r in scrub_duplicate_substrings(df, l=8, fast=fast).collect()
    }
    assert clean[1] == FIXTURE[0][1]
    assert clean[2] == ["x", "y", "z"]
    assert clean[4] == FIXTURE[3][1]
    assert clean[5] is None
    assert clean[6] == []
    for k, e in exp.items():
        assert clean[k] == e["clean"], (k, clean[k], e["clean"])
    # ppm is exact integer arithmetic: doc 6 fully covered -> 1_000_000
    assert stats[6]["dup_token_ppm"] == 1_000_000
    assert stats[2]["dup_token_ppm"] == 8 * 1_000_000 // 11


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_substring_dedup_matches_python_oracle(spark, data):
    """Tiny alphabet + short windows force a collision-rich duplicate
    structure (within-doc repeats, overlapping spans, cross-doc quotes)."""
    from sparklead.substrings import scrub_duplicate_substrings, substring_dup_stats

    l = data.draw(st.integers(min_value=2, max_value=4))
    doc = st.lists(st.integers(min_value=0, max_value=2), min_size=0, max_size=12)
    toks = data.draw(st.lists(st.one_of(st.none(), doc), min_size=1, max_size=8))
    docs = {i: t for i, t in enumerate(toks)}
    exp = _py_substring_dedup(docs, l)
    df = spark.createDataFrame(
        list(docs.items()), "doc_id: bigint, tokens: array<int>"
    )
    stats = {r["doc_id"]: r.asDict() for r in substring_dup_stats(df, l=l, fast=False).collect()}
    clean = {
        r["doc_id"]: r["clean_tokens"]
        for r in scrub_duplicate_substrings(df, l=l, fast=False).collect()
    }
    assert set(stats) == set(exp) and set(clean) == set(exp)
    for k, e in exp.items():
        for c in ("n_windows", "n_dup_windows", "n_dup_tokens"):
            assert stats[k][c] == e[c], (docs, l, k, c, stats[k], e)
        assert clean[k] == e["clean"], (docs, l, k, clean[k], e["clean"])


def test_substring_dedup_lanes_and_partition_invariance(spark):
    """fast (xxhash64-slice) and portable (md5-joined) lanes agree on the
    synth corpus (hot templates seed real cross-doc window dups), and the
    result is invariant under repartitioning."""
    from sparklead.substrings import substring_dup_stats
    from sparklead.synth import pretokenized

    docs = pretokenized(spark, 300, partitions=3)

    def snap(df, **kw):
        return {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["n_dup_tokens"])
            for r in substring_dup_stats(df, l=8, **kw).collect()
        }

    a = snap(docs, fast=False)
    b = snap(docs, fast=True)
    c = snap(docs.repartition(11), fast=True)
    assert a == b == c
    assert any(v[1] > 0 for v in a.values()), "fixture seeded no duplicates"


def test_substring_stats_plan_pins(spark, tmp_path):
    """Design-for-scale pins: (1) with n_tok_col the base branch's parquet
    scan prunes the token payload (the packing decision-lane lesson) and
    the payload is read exactly once; (2) detection runs ONE gram window
    over one exchange (count + row_number share the sort); (3) no
    cartesian/broadcast-nested-loop anywhere."""
    from sparklead.substrings import substring_dup_stats
    from sparklead.synth import pretokenized

    path = str(tmp_path / "corpus")
    pretokenized(spark, 300, partitions=4).write.parquet(path)
    t = spark.read.parquet(path)
    plan = (
        substring_dup_stats(t, l=8, n_tok_col="n_tok")
        ._jdf.queryExecution().executedPlan().toString()
    )
    schemas = [
        ln.split("ReadSchema:", 1)[1] for ln in plan.splitlines() if "ReadSchema:" in ln
    ]
    assert sum("tokens" in s for s in schemas) == 1, schemas
    assert any("tokens" not in s and "n_tok" in s for s in schemas), schemas
    assert plan.count("Window") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


# ------------------------------------------------ PII + C4 scrub (round 8)

def test_scrub_pii_and_c4_fixture(spark):
    from sparklead.scrub import c4_filter, redact_pii, scrub_corpus

    rows = [
        (0, "mail me at bob.smith+x@sub.example.com or 10.0.3.200 now."),
        (1, "call +49 1234 567890 today!\nshort line\nthis has javascript in it.\nthree words here."),
        (2, "lorem ipsum dolor sit amet."),
        (3, "object { brace } here."),
        (4, None),
        (5, "999.999.999.999 is not an ip but 255.255.255.255 is."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    red = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert (red[0]["n_emails"], red[0]["n_ipv4"], red[0]["n_phones"]) == (1, 1, 0)
    assert red[0]["redacted"] == "mail me at <EMAIL> or <IP> now."
    assert red[1]["n_phones"] == 1 and "<PHONE>" in red[1]["redacted"]
    # word-boundary: 999 octets do NOT match, valid octets do
    assert red[5]["n_ipv4"] == 1 and "999.999.999.999" in red[5]["redacted"]
    assert red[4]["redacted"] is None and red[4]["n_emails"] == 0
    c4 = {r["doc_id"]: r.asDict() for r in c4_filter(df, min_lines=2).collect()}
    # line rules: short + javascript lines dropped, terminal-punct kept
    assert c4[1]["c4_n_lines"] == 4 and c4[1]["c4_kept_lines"] == 2
    assert c4[1]["c4_keep"] is True
    assert "javascript" not in c4[1]["c4_text"] and "short line" not in c4[1]["c4_text"]
    # page rules: lorem ipsum and curly-brace pages dropped outright
    assert c4[2]["c4_keep"] is False and c4[3]["c4_keep"] is False
    assert c4[4]["c4_kept_lines"] == 0 and c4[4]["c4_keep"] is False
    # the composed verb: filter then redact the surviving text
    out = {r["doc_id"]: r["clean_text"] for r in scrub_corpus(df, min_lines=1).collect()}
    assert set(out) == {0, 1, 5}
    assert out[1] == "call <PHONE> today!\nthree words here."


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_scrub_counts_match_python_re(spark, data):
    """Compose texts from word/email/ip/phone fragments and compare match
    counts + redaction with Python's re module applying the SAME patterns
    in the same order (the documented Java/RE2-agreement subset)."""
    import re

    from sparklead.scrub import EMAIL_RE, IPV4_RE, PHONE_RE, redact_pii

    frag = st.one_of(
        st.sampled_from(["plain words here", "x.y", "a@b", "w" * 3, "10.0.0", ""]),
        st.from_regex(r"[a-z]{1,8}@[a-z]{1,8}\.[a-z]{2,4}", fullmatch=True),
        st.builds(
            lambda a, b: f"{a % 256}.{b % 256}.{(a * 3) % 256}.{(b * 7) % 256}",
            st.integers(0, 300),
            st.integers(0, 300),
        ),
        st.builds(lambda n: f"+{n}", st.integers(10_000_000, 10**12)),
    )
    texts = data.draw(
        st.lists(st.lists(frag, min_size=0, max_size=5).map(" ".join), min_size=1, max_size=8)
    )
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    for i, t in enumerate(texts):
        exp_red = re.sub(PHONE_RE, "<PHONE>",
                         re.sub(IPV4_RE, "<IP>", re.sub(EMAIL_RE, "<EMAIL>", t)))
        assert got[i]["n_emails"] == len(re.findall(EMAIL_RE, t)), repr(t)
        assert got[i]["n_ipv4"] == len(re.findall(IPV4_RE, t)), repr(t)
        assert got[i]["n_phones"] == len(re.findall(PHONE_RE, t)), repr(t)
        assert got[i]["redacted"] == exp_red, repr(t)


def test_scrub_plan_is_pure_projection(spark, tmp_path):
    """Design-for-scale pin: the whole scrub surface is per-row work inside
    the scan stage — zero exchanges, zero UDFs, column-pruned read."""
    from sparklead.scrub import c4_filter, redact_pii

    path = str(tmp_path / "docs")
    rows = [(i, f"word{i} user{i}@example.com ok one.\nshort\nline three here.") for i in range(50)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    t = spark.read.parquet(path)
    plan = (
        redact_pii(c4_filter(t).withColumnRenamed("c4_text", "_t"), "_t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------ BPE trainer (round 8)

def _py_bpe(docs, n_merges, new_id_start, min_count=2):
    """From-scratch oracle: pair counts over adjacent positions, (cnt
    desc, a asc, b asc) selection, greedy left-to-right application."""
    from collections import Counter

    corpus = {k: (list(v) if v is not None else None) for k, v in docs.items()}
    merges = []
    for i in range(n_merges):
        c = Counter()
        for v in corpus.values():
            if v:
                for x, y in zip(v, v[1:]):
                    c[(x, y)] += 1
        if not c:
            break
        (a, b), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        m = new_id_start + i
        merges.append((a, b, m))
        for k, v in corpus.items():
            if not v:
                continue
            out = []
            for t in v:
                if out and out[-1] == a and t == b:
                    out[-1] = m
                else:
                    out.append(t)
            corpus[k] = out
    return merges, corpus


def test_bpe_fixture_and_greedy_semantics(spark, monkeypatch):
    from sparklead import bpe
    from sparklead.bpe import apply_merges, bpe_top_pairs, bpe_train

    rows = [
        (0, [1, 2, 1, 2, 1, 2, 3]),
        (1, [1, 2, 3, 1, 2]),
        (2, [5, 5, 5, 5]),   # greedy left-to-right: (5,5)->m gives [m,m]
        (3, None),
        (4, [7]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    top = [(r["a"], r["b"], r["cnt"], r["rank"]) for r in bpe_top_pairs(df, 3).collect()]
    assert top == [(1, 2, 5, 1), (5, 5, 3, 2), (2, 1, 2, 3)]
    monkeypatch.setattr(bpe, "_TRUNCATE_EVERY", 2)
    merges, out = bpe_train(df, 3)
    exp_merges, exp_corpus = _py_bpe(dict(rows), 3, 8)
    assert merges == exp_merges == [(1, 2, 8), (5, 5, 9), (8, 3, 10)]
    got = {r["doc_id"]: r["tokens"] for r in out.orderBy("doc_id").collect()}
    assert got == exp_corpus
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    # single-pass table application == the train-time rewrites
    reapplied = {
        r["doc_id"]: r["tokens"]
        for r in apply_merges(df, merges).orderBy("doc_id").collect()
    }
    assert reapplied == exp_corpus


@settings(max_examples=4, deadline=None)
@given(st.data())
def test_bpe_matches_python_oracle(spark, data):
    from unittest import mock

    from sparklead import bpe
    from sparklead.bpe import bpe_train

    doc = st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=10)
    toks = data.draw(st.lists(st.one_of(st.none(), doc), min_size=1, max_size=6))
    docs = {i: t for i, t in enumerate(toks)}
    n_merges = data.draw(st.integers(min_value=0, max_value=4))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, tokens array<int>")
    with mock.patch.object(bpe, "_TRUNCATE_EVERY", 2):
        merges, out = bpe_train(df, n_merges, new_id_start=100)
    exp_merges, exp_corpus = _py_bpe(docs, n_merges, 100)
    assert merges == exp_merges, (docs, n_merges)
    got = {r["doc_id"]: r["tokens"] for r in out.collect()}
    assert got == exp_corpus, (docs, merges)


def test_bpe_pair_counts_duckdb_certification(spark):
    """Cross-engine certification of the distributed leg (pair explode +
    hash agg) — DuckDB recomputes every adjacent-pair count from scratch
    on the synth corpus (no gate slot free; the exemption pattern from
    round-7 packing, documented in COVERAGE.md)."""
    import duckdb

    from sparklead.bpe import bpe_pair_counts
    from sparklead.synth import pretokenized

    docs = pretokenized(spark, 200, partitions=3)
    got = {
        (r["a"], r["b"]): r["cnt"] for r in bpe_pair_counts(docs).collect()
    }
    pdf = docs.select("doc_id", "tokens").toPandas()
    con = duckdb.connect()
    con.register("corpus", pdf)
    exp = con.execute(
        """
        SELECT tokens[i] AS a, tokens[i + 1] AS b, count(*) AS cnt
        FROM corpus, unnest(CASE WHEN len(tokens) >= 2
                                 THEN range(1, len(tokens)) ELSE [] END) AS t(i)
        GROUP BY 1, 2
        """
    ).fetchall()
    assert got == {(a, b): c for a, b, c in exp}
    assert sum(got.values()) > 0


def test_bpe_pair_counts_plan_pin(spark, tmp_path):
    """Design-for-scale pin: pair stats are ONE hash aggregate with a
    map-side partial — the exchange carries (a, b, partial_count), never
    corpus rows; no window, no UDF."""
    from sparklead.bpe import bpe_pair_counts
    from sparklead.synth import pretokenized

    path = str(tmp_path / "corpus")
    pretokenized(spark, 200, partitions=3).write.parquet(path)
    plan = (
        bpe_pair_counts(spark.read.parquet(path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan
    assert "Window" not in plan and "EvalPython" not in plan


# ---------------------------------------- full-hygiene composed pipeline

def test_llm_pipeline_full_hygiene_stages(spark, tmp_path):
    """The two round-8 optional stages wired into the composed job:
    scrubbed (C4 + PII) ahead of dedup, spandedup (ExactSubstr) after
    tokenize. Defaults-off keeps the 5-stage manifest set; here both are
    ON: 7 sinks, lorem pages dropped, PII redacted before tokenize,
    duplicated boilerplate spans scrubbed from the token table, and the
    whole thing resumes."""
    from sparklead.llm_pipeline import run_llm_pipeline

    spark.catalog.clearCache()
    boiler = "common boiler plate words shared by every single doc here."
    rows = []
    for i in range(60):
        uniq = " ".join(f"u{i}x{j}" for j in range(8))
        text = f"{uniq} line one.\n{boiler}"
        if i == 5:
            text += "\nlorem ipsum dolor tail."
        if i == 7:
            text = text.replace(" line one.", " mail user7@example.com line one.")
        rows.append((i, text, f"src{i % 2}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ev = docs.filter(F.col("doc_id") == 3).select("text")
    out_dir = str(tmp_path / "pipe8")
    res = run_llm_pipeline(
        docs, ev, out_dir, budget_frac=0.5, max_tokens=32,
        salt_buckets=4, dedup_threshold=0.9, ngram_n=5,
        scrub=True, substring_l=8,
    )
    assert set(res["manifests"]) == {
        "scrubbed", "dedup", "clean", "pretok", "spandedup", "sampled", "packed"
    }
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    scrubbed = {r["doc_id"]: r["text"] for r in spark.read.parquet(out_dir + "/scrubbed").collect()}
    assert 5 not in scrubbed                      # lorem page dropped
    assert "<EMAIL>" in scrubbed[7] and "@" not in scrubbed[7]
    # spandedup: the shared boilerplate spans scrub down to ONE canonical
    # copy corpus-wide, so the token mass drops by ~(n_docs-1) sentences
    pre = spark.read.parquet(out_dir + "/pretok")
    span = spark.read.parquet(out_dir + "/spandedup")
    pre_tok = pre.agg(F.sum("n_tok")).first()[0]
    span_tok = span.agg(F.sum("n_tok")).first()[0]
    assert span_tok < pre_tok - 40 * 8            # real mass removed
    assert span.filter(F.size("tokens") != F.col("n_tok")).count() == 0
    # every pack respects the budget; resume touches nothing
    assert all(r["n_tokens"] <= 32 for r in res["stats"].collect())
    res2 = run_llm_pipeline(
        docs, ev, out_dir, budget_frac=0.5, max_tokens=32,
        salt_buckets=4, dedup_threshold=0.9, ngram_n=5,
        scrub=True, substring_l=8,
    )
    assert all(m.get("resumed") for m in res2["manifests"].values())


def test_bpe_merge_application_duckdb_recursive_replay(spark, monkeypatch):
    """Cross-engine certification of the GREEDY FOLD itself (the
    packing-oracle pattern): DuckDB replays merge application item by
    item via a RECURSIVE CTE — same left-to-right recurrence, same
    overlapping-pair rule — over the synth corpus with the trainer's own
    top-3 learned rules chained in priority order."""
    import duckdb

    from sparklead import bpe
    from sparklead.bpe import apply_merges, bpe_train
    from sparklead.synth import pretokenized

    docs = pretokenized(spark, 150, partitions=2).select("doc_id", "tokens")
    monkeypatch.setattr(bpe, "_TRUNCATE_EVERY", 10)
    merges, _ = bpe_train(docs, 3)
    assert len(merges) == 3
    got = {r["doc_id"]: r["tokens"] for r in apply_merges(docs, merges).collect()}

    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    prev = "corpus"
    ctes = []
    for j, (a, b, m) in enumerate(merges):
        ctes.append(f"""
        s{j} AS (
          SELECT doc_id, 1 AS i, []::INT[] AS out, tokens FROM {prev}
          UNION ALL
          SELECT doc_id, i + 1,
                 CASE WHEN len(out) > 0 AND out[-1] = {a} AND tokens[i] = {b}
                      THEN list_concat(out[:len(out) - 1], [{m}])
                      ELSE list_append(out, tokens[i]) END,
                 tokens
          FROM s{j} WHERE i <= len(tokens)
        ),
        r{j} AS (
          SELECT doc_id, out AS tokens FROM s{j} WHERE i = len(tokens) + 1
        )""")
        prev = f"r{j}"
    sql = "WITH RECURSIVE " + ",".join(ctes) + f" SELECT doc_id, tokens FROM {prev}"
    exp = {d: list(t) for d, t in con.execute(sql).fetchall()}
    assert got == exp
    # non-vacuous: the rules actually merged something somewhere
    base = {r["doc_id"]: r["tokens"] for r in docs.collect()}
    assert any(got[k] != base[k] for k in got)


def test_scrub_composes_with_structured_streaming(spark, tmp_path):
    """The scrub surface is stateless per-row projection, so it composes
    with readStream UNCHANGED (the streaming/pipeline.py contract for
    enhancer expressions): a file stream through c4_filter + redact_pii
    produces exactly the batch result."""
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sparklead.scrub import c4_filter, redact_pii

    in_dir = str(tmp_path / "stream_in")
    rows = [
        (0, "mail bob@example.com three words here.\nshort"),
        (1, "lorem ipsum dolor sit amet."),
        (2, "plain page with enough words here.\ncall +4912345678 now ok!"),
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(in_dir)

    def xform(df):
        return redact_pii(
            c4_filter(df, min_lines=1).withColumnRenamed("c4_text", "_t"), "_t"
        ).select("doc_id", "c4_kept_lines", "c4_keep", "n_emails", "n_phones",
                 F.col("redacted").alias("clean_text"))

    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        xform(stream)
        .writeStream.format("memory")
        .queryName("scrub_stream_r8")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("scrub_stream_r8").count() == len(rows):
                break
            time.sleep(0.5)
        got = {r["doc_id"]: r.asDict() for r in spark.table("scrub_stream_r8").collect()}
    finally:
        q.stop()
    exp = {r["doc_id"]: r.asDict() for r in xform(batch_df).collect()}
    assert got == exp
    assert got[0]["n_emails"] == 1 and "<EMAIL>" in got[0]["clean_text"]
    assert got[1]["c4_keep"] is False
    assert got[2]["n_phones"] == 1
