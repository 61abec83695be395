"""Driver-contract smoke: entry() runs, queries()/oracle_sql() keys align."""

import __spark_entry__ as entrymod


def _win_first_args(plan: str) -> list[str]:
    """The FULL first argument of every windowspecdefinition(...) in a plan
    string, extracted with a parenthesis counter: the earlier ``[^,)]+``
    regex stopped at the first ')' INSIDE nested sort expressions like
    ``cast(x#12 as bigint) ASC NULLS FIRST``, so their ' ASC' marker never
    reached the order-only check (round-6 review fix)."""
    out, start, needle = [], 0, "windowspecdefinition("
    while True:
        i = plan.find(needle, start)
        if i < 0:
            return out
        k = i + len(needle)
        depth = 0
        while k < len(plan):
            c = plan[k]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            k += 1
        out.append(plan[i + len(needle) : k])
        start = k


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.schema.fields) > 0


def test_oracle_keys_subset_of_queries():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q
    # round-6 third wave: parser_templates — the last rows-only entry —
    # gained a materialized-assignment oracle (DuckDB recomputes every
    # template per-position, the md5 id-derivation rule, and the per-miner
    # fingerprints from the assignment table alone). EVERY gate entry now
    # carries a DuckDB value oracle; keep it that way.
    assert q - o == set()
    # the driver gate records the first 50 entries — never exceed it
    assert len(q) <= 50


def test_queries_run_at_sf0001(spark, sf_dir):
    # smoke every query at the smallest sf (full value checks happen in
    # tools/crosscheck.py at sf0.01, mirroring the driver), and gate the
    # plan of every entry against literal-partitioned windows (round-6,
    # judge item #1): Window.partitionBy(lit(1)) funnels a data-sized frame
    # through ONE task at the design scale; self-cert totals must be 1-row
    # aggs broadcast-cross-joined back. A literal partition key prints in
    # the optimized plan as a bare value (no #exprId); real partition
    # columns always carry one, as do order-only specs over bounded frames.
    # Order-only windows (no partition keys — the first windowspecdefinition
    # arg is a SORT spec, so it prints with a direction) are ALSO single-task:
    # a global sort funnel. Allowed only where the window input is a provably
    # BOUNDED aggregate frame, independent of data size (round-6 review fix —
    # the literal-key check alone missed Window.orderBy(...) specs):
    #   item_cumsum    — two-phase prefix sum: window over ONE ROW PER INPUT
    #                    PARTITION (the per-partition subtotal agg)
    #   auc_threshold  — ROC/threshold sweep over the quantized score
    #                    histogram, <= 2e6+1 bins for ANY score distribution
    #   bpe_pair_topk  — rank window AFTER limit(k): touches exactly k=50
    #                    rows by construction (bpe_top_pairs' documented
    #                    bound), never the pair-count frame itself
    order_only_bounded = {"item_cumsum", "auc_threshold", "bpe_pair_topk"}
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for arg in _win_first_args(plan):
            assert "#" in arg, (
                f"{name}: literal-partitioned (single-task) window in gated plan: "
                f"windowspecdefinition({arg}"
            )
            if " ASC" in arg or " DESC" in arg:
                assert name in order_only_bounded, (
                    f"{name}: order-only (single-task global-sort) window in "
                    f"gated plan over a frame not in the documented bounded "
                    f"set: windowspecdefinition({arg}"
                )
        assert df.limit(1).count() >= 0, name


def test_oracle_sql_identical_across_processes():
    """The rendered oracle SQL embeds the evidence dir, so the default dir
    must not depend on the process: two fresh interpreters must render
    byte-identical oracle_sql()."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SPARKLEAD_EVIDENCE_DIR"}
    code = "import json, __spark_entry__ as m; print(json.dumps(m.oracle_sql(), sort_keys=True))"
    dumps = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, env=env,
            capture_output=True, text=True, check=True,
        ).stdout
        for _ in range(2)
    ]
    assert json.loads(dumps[0])
    assert dumps[0] == dumps[1]
