"""Distributed Drain-style template mining on the two-phase skeleton.

The reference wraps drain3 and feeds it ONE ROW AT A TIME through a shared
mutable miner object (loglead/enhancers/eventlog.py:116-199,
parsers/drain3/drain.py:10-27) — sequential, stateful, arrival-order ids.
Here Drain is the ``_LocalDrain`` plugin of ``two_phase.TwoPhaseMiner``
(phase-1 mapInPandas, recursive tree merge, driver fold, broadcast assign):
it implements the plugin contract ``add`` / ``templates`` / ``match`` with
the core Drain idea — bucket by token count, greedy similarity clustering
(token-position agreement >= sim_th, disagreeing positions wildcarded to
'<*>'); ``match`` reads only the row's own length bucket.

Template ids are ``'e' + md5(template)[:8]`` (``two_phase.template_id``) —
deterministic under any partitioning, unlike drain3's first-appearance
counters (eventlog.py:191); parity with the reference is therefore
distributional (cluster count / size distribution), per SURVEY.md §7
stage 3.

State: ``DrainMiner.update`` folds new data into the existing templates
(drain3's periodic-update shape), and ``templates_df`` round-trips through
parquet (save_templates / load_templates), the Spark analogue of drain3's
FilePersistence snapshots (parsers/drain3/drain3.ini:1-3) and the north
rule's resumable checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .two_phase import TwoPhaseMiner, template_id  # noqa: F401  (re-exported)

WILDCARD = "<*>"


def _similarity(a: list[str], b: list[str]) -> float:
    """Fraction of positions where tokens agree; wildcard matches anything."""
    if not a:
        return 1.0
    same = sum(1 for x, y in zip(a, b) if x == y or x == WILDCARD or y == WILDCARD)
    return same / len(a)


def _merge_into(template: list[str], tokens: list[str]) -> list[str]:
    return [x if x == y else WILDCARD for x, y in zip(template, tokens)]


class _LocalDrain:
    """In-memory greedy Drain core used identically in phase 1 and phase 2."""

    def __init__(self, sim_th: float = 0.4, max_clusters: int = 1024):
        self.sim_th = sim_th
        self.max_clusters = max_clusters
        # (token_count, first_token_or_wildcard) -> list of [template, count]
        self.buckets: dict[tuple[int, str], list[list]] = {}
        self.n_clusters = 0

    def _keys(self, tokens: list[str]) -> list[tuple[int, str]]:
        n = len(tokens)
        first = tokens[0] if tokens else ""
        return [(n, first), (n, WILDCARD)]

    def add(self, tokens: list[str], count: int = 1) -> None:
        best, best_sim = None, -1.0
        for key in self._keys(tokens):
            for entry in self.buckets.get(key, ()):
                sim = _similarity(entry[0], tokens)
                if sim > best_sim:
                    best, best_sim = entry, sim
        if best is not None and best_sim >= self.sim_th:
            merged = _merge_into(best[0], tokens)
            if merged != best[0]:
                # bucket key may change when the first token wildcards
                self._remove(best)
                best[0] = merged
                self._insert(best)
            best[1] += count
        elif self.n_clusters < self.max_clusters:
            entry = [list(tokens), count]
            self._insert(entry)
            self.n_clusters += 1
        else:  # overflow: merge into closest regardless of threshold (drain3 caps at 1024 too)
            if best is not None:
                best[1] += count
            else:
                # no candidate at all (first line of a new token-length while
                # at cap): the insert must still COUNT against max_clusters,
                # or high-cardinality corpora grow unboundedly past the cap
                entry = [list(tokens), count]
                self._insert(entry)
                self.n_clusters += 1

    def _insert(self, entry: list) -> None:
        tokens = entry[0]
        key = (len(tokens), tokens[0] if tokens and tokens[0] != WILDCARD else WILDCARD)
        self.buckets.setdefault(key, []).append(entry)

    def _remove(self, entry: list) -> None:
        tokens = entry[0]
        key = (len(tokens), tokens[0] if tokens and tokens[0] != WILDCARD else WILDCARD)
        lst = self.buckets.get(key, [])
        if entry in lst:
            lst.remove(entry)

    def templates(self) -> list[tuple[list[str], int]]:
        out = [(e[0], e[1]) for lst in self.buckets.values() for e in lst]
        out.sort(key=lambda t: (len(t[0]), " ".join(t[0])))
        return out

    def match(self, tokens: list[str], by_len: dict) -> str | None:
        best_id, best_sim = None, -1.0
        for tpl, tid in by_len.get(len(tokens), ()):
            sim = _similarity(tpl, tokens)
            if sim > best_sim:
                best_id, best_sim = tid, sim
        return best_id if best_sim >= self.sim_th else None


class DrainMiner(TwoPhaseMiner):
    """Distributed two-phase miner over a token-array column, clustering
    with ``_LocalDrain``."""

    default_out_col = "e_event_drain_id"

    def __init__(self, sim_th: float = 0.4, max_clusters: int = 1024):
        super().__init__(lambda: _LocalDrain(sim_th, max_clusters))
        self.sim_th = sim_th
        self.max_clusters = max_clusters

    def update(self, df: DataFrame, tokens_col: str = "e_words", merge_fanout: int = 32) -> "DrainMiner":
        """INCREMENTAL fit: mine the new data's partial template sets
        distributed (same tree-merged phase 1+2), then fold them into the
        EXISTING template state on the driver — drain3's periodic-update
        shape (the reference's streaming analogue, eventlog.py:168-199
        drain3 state files). Counts accumulate; cluster count stays bounded
        by max_clusters. Like any online drain, the final template set
        depends on batch arrival order (inherent to incremental mining);
        within one update the merge is deterministic (sorted fold)."""
        self.templates = self._merged(self.templates, df, tokens_col, merge_fanout)
        return self

    # ------------------------------------------------------------- state
    def save_templates(self, spark: SparkSession, path: str) -> None:
        self.templates_df(spark).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load_templates(cls, spark: SparkSession, path: str, sim_th: float = 0.4, max_clusters: int = 1024) -> "DrainMiner":
        m = cls(sim_th, max_clusters)
        rows = spark.read.parquet(path).collect()
        m.templates = [(list(r["template_tokens"]), int(r["count"])) for r in rows]
        return m


def parse_drain(
    df: DataFrame,
    tokens_col: str = "e_words",
    out_col: str = "e_event_drain_id",
    sim_th: float = 0.4,
    max_clusters: int = 1024,
    template_path: str | None = None,
) -> tuple[DataFrame, DrainMiner]:
    """fit + assign in one call (the reference's parse_drain enhancer shape)."""
    if template_path is not None:
        # catch ONLY the missing-snapshot case: a bare except here treated
        # every load error (permissions, partial write, schema drift) as
        # "no snapshot yet" and then OVERWROTE the existing snapshot with a
        # fresh fit — destroying the persisted checkpoint lineage the
        # snapshot exists for and shifting template state (round-4 review
        # fix); real corruption should surface, not be clobbered
        from pyspark.errors import AnalysisException

        from ..routing import is_missing_input_error

        try:
            miner = DrainMiner.load_templates(df.sparkSession, template_path, sim_th, max_clusters)
        except AnalysisException as e:
            # round-6 advisor fix: shared class-based predicate, not
            # message-substring matching (see routing.is_missing_input_error)
            if not is_missing_input_error(e):
                raise
            miner = DrainMiner(sim_th, max_clusters).fit(df, tokens_col)
            miner.save_templates(df.sparkSession, template_path)
    else:
        miner = DrainMiner(sim_th, max_clusters).fit(df, tokens_col)
    return miner.assign(df, tokens_col, out_col), miner
