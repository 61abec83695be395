"""The scripts in tools/: every one imports, and tools/scaleup.py's summary
arithmetic and one of its workloads hold on small inputs."""

import glob
import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load(name):
    """Import tools/<name>.py as a module without running its main, with
    tools/ on sys.path as when the script runs."""
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    sys.path.insert(0, TOOLS)
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        del sys.modules[name]
        raise
    finally:
        sys.path.remove(TOOLS)
    return mod


@pytest.mark.parametrize(
    "name", sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS, "*.py")))
)
def test_tool_imports(name):
    """A script importing a deleted one fails here, not when someone runs it."""
    assert callable(_load(name).main)


def test_scaleup_summary_arithmetic():
    scaleup = _load("scaleup")
    # wall = 10 s + 2 ms/row at 1 core, 5 s + 0.5 ms/row at 4 cores;
    # shuffle grows 4x at 1 core and 2x at 4 cores over a 4x input
    walls = {1: {1000: 12.0, 2000: 14.0, 4000: 18.0}, 4: {1000: 5.5, 2000: 6.0, 4000: 7.0}}
    shuffle = {1: {1000: 10.0, 2000: 20.0, 4000: 40.0}, 4: {1000: 10.0, 2000: 15.0, 4000: 20.0}}
    runs = [
        {"docs": n, "cores": c, "wall_s": w, "shuffle_write_mb": shuffle[c][n]}
        for c, by_n in walls.items() for n, w in by_n.items()
    ]
    s = scaleup.summarize(runs)
    assert s["efficiency"] == pytest.approx({1000: (12 / 5.5) / 4, 2000: (14 / 6) / 4, 4000: (18 / 7) / 4})
    assert s["throughput_ratio"] == pytest.approx({1: (4000 / 18) / (1000 / 12), 4: (4000 / 7) / (1000 / 5.5)})
    assert s["shuffle_growth_vs_input_growth"] == pytest.approx({1: 1.0, 4: 0.5})
    assert s["wall_fit"][1] == pytest.approx({"fixed_s": 10.0, "per_row_us": 2000.0})
    assert s["wall_fit"][4] == pytest.approx({"fixed_s": 5.0, "per_row_us": 500.0})
    # off the line: x = 1, 2, 3 and y = 1, 3, 2 give y = 1 + 0.5 x
    assert scaleup.fit_fixed_per_row([1, 2, 3], [1.0, 3.0, 2.0]) == pytest.approx(
        {"fixed_s": 1.0, "per_row_us": 0.5e6}
    )
    # one core count: no efficiency; one size: no growth and no fit
    assert set(scaleup.summarize([r for r in runs if r["cores"] == 4])) == {
        "throughput_ratio", "shuffle_growth_vs_input_growth", "wall_fit",
    }
    assert set(scaleup.summarize([r for r in runs if r["docs"] == 2000])) == {"efficiency"}


def test_scaleup_mixture_workload_matches_direct_call(spark, tmp_path):
    """The ``mixture`` workload's checks equal a direct
    ``sample_to_token_budget`` call, its span counts the timed call's jobs,
    and reading the status store launches none."""
    from perfbench.spans import Tracer
    from sparklead.mixture import sample_to_token_budget
    from sparklead.synth import pretokenized

    scaleup = _load("scaleup")
    docs = pretokenized(spark, 2000, 4)
    tracer = Tracer(spark, 8)
    checks = scaleup.mixture(spark, tracer.span, {"docs": docs}, 2000, str(tmp_path))

    totals = docs.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    budgets = {r["source"]: int(r["t"] * scaleup.BUDGET_FRACTION) for r in totals}
    kept = sample_to_token_budget(docs, budgets).agg(F.count("*").alias("d"), F.sum("n_tok").alias("t")).first()
    assert checks == {
        "kept_docs": kept["d"],
        "kept_tokens": kept["t"],
        "budget_tokens": sum(budgets.values()),
        "budget_utilization": round(kept["t"] / sum(budgets.values()), 4),
    }
    assert 0.9 < checks["budget_utilization"] <= 1.0
    span = scaleup.span_totals(tracer, tracer.stage_metrics())
    assert span["jobs"] >= 1 and span["stages"] >= span["jobs"] and span["wall_s"] > 0
    assert [s["name"] for s in tracer.spans] == ["mixture.sample_to_token_budget"]
    assert tracer.read_jobs() == 0
