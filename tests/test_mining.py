"""Template-mining parity: cluster count/size distribution on a corpus with a
known template count (SURVEY.md §7 stage 3 correctness contract)."""

import pytest
from pyspark.sql import functions as F

from sparklead import synth
from sparklead.enhancers import eventlog as E
from sparklead.mining.drain import DrainMiner, _LocalDrain, template_id
from sparklead.sources.hdfs import load_hdfs_events


@pytest.fixture(scope="module")
def tokenized(spark):
    ev = load_hdfs_events(synth.raw_log_corpus(spark, 2000))
    return E.words(E.normalize(ev), "e_message_normalized").cache()


def test_mines_known_template_count(tokenized):
    miner = DrainMiner().fit(tokenized, "e_words")
    # synthetic corpus has exactly 8 templates (synth._LOG_TEMPLATES)
    assert len(miner.templates) == 8
    assert sum(c for _, c in miner.templates) == 2000


def test_assignment_covers_all_rows(tokenized):
    miner = DrainMiner().fit(tokenized, "e_words")
    out = miner.assign(tokenized, "e_words")
    assert out.filter(F.col("e_event_drain_id").isNull()).count() == 0
    dist = out.groupBy("e_event_drain_id").count()
    assert dist.count() == 8


def test_partitioning_invariance(tokenized):
    t1 = DrainMiner().fit(tokenized.repartition(2), "e_words").templates
    t2 = DrainMiner().fit(tokenized.repartition(16), "e_words").templates
    assert sorted(" ".join(t) for t, _ in t1) == sorted(" ".join(t) for t, _ in t2)
    assert sorted(c for _, c in t1) == sorted(c for _, c in t2)


@pytest.mark.parametrize("parser", ["parse_drain", "parse_spell", "parse_lenma"])
def test_empty_partitions(tokenized, parser):
    """2 rows over 8 partitions: the empty partitions must yield an empty
    template set, not abort the phase-1 mapInPandas stage."""
    import sparklead.mining as M

    tiny = tokenized.limit(2).repartition(8)
    out, miner = getattr(M, parser)(tiny, "e_words")
    assert sum(c for _, c in miner.templates) == 2
    assert out.count() == 2


def test_persistence_roundtrip(tokenized, tmp_path):
    spark = tokenized.sparkSession
    miner = DrainMiner().fit(tokenized, "e_words")
    path = str(tmp_path / "templates")
    miner.save_templates(spark, path)
    loaded = DrainMiner.load_templates(spark, path)
    assert sorted(" ".join(t) for t, _ in loaded.templates) == sorted(" ".join(t) for t, _ in miner.templates)
    # resumed miner assigns identically (north rule: resume from snapshot)
    a = miner.assign(tokenized, "e_words").groupBy("e_event_drain_id").count().collect()
    b = loaded.assign(tokenized, "e_words").groupBy("e_event_drain_id").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_local_drain_wildcards():
    d = _LocalDrain(sim_th=0.5)
    d.add("send block 5 to node".split())
    d.add("send block 7 to node".split())
    tpls = d.templates()
    assert len(tpls) == 1
    assert tpls[0][0] == ["send", "block", "<*>", "to", "node"]
    assert tpls[0][1] == 2


def test_template_id_stable():
    assert template_id(["a", "<*>", "b"]) == template_id(["a", "<*>", "b"])
    assert template_id(["a"]) != template_id(["b"])
