"""Supervised / unsupervised anomaly detection over sequence features.

Spark-native re-expression of the reference's AnomalyDetector
(/root/reference/loglead/anomaly_detection.py):

  * train/test split (:194-209) — shuffled (hash-based, deterministic under
    any partitioning, unlike sample-based shuffles) or chronological head/tail;
  * featurization (:243-291) — CountVectorizer over a pre-tokenized list
    column with an identity analyzer ≡ pyspark.ml CountVectorizer; numeric
    columns appended via VectorAssembler (reference hstacks scipy CSR);
  * model zoo (:293-397) — Spark ML twins for LR / DT / RF / LinearSVC and
    GBT standing in for XGBoost; KMeans for the unsupervised slot; sklearn
    IsolationForest/LOF/OCSVM gated behind an import-try on the collected
    (sequence-level, small) matrix — the reference runs these single-node too;
  * metrics (:426-530) — confusion counts / accuracy / F1 computed
    relationally, AUC via BinaryClassificationEvaluator.

The feature matrix is per-SEQUENCE (thousands of rows, not billions), so
model fitting is never the scale bottleneck; featurization is.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_bucket(key_col: str, seed: int = 42):
    """The deterministic [0,1) split bucket: pmod(xxhash64(key, seed), 1e6)
    / 1e6. Factored out (round 7) so the gate's materialized-evidence lane
    provably evaluates the SAME expression the split applies — DuckDB then
    re-derives every side assignment from the recorded bucket and the
    threshold rule alone (the xxhash64 values themselves stay
    engine-specific, like the KMeans centroids in ivf_topk)."""
    return (
        F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed)), F.lit(1_000_000))
        / 1_000_000.0
    )


def train_test_split(
    df_seq: DataFrame,
    test_frac: float = 0.5,
    shuffle: bool = True,
    seed: int = 42,
    key_col: str = "seq_id",
    time_col: str = "start_time",
    method: str = "hash",
    accuracy: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic split. Shuffled = hash-bucket on the key (reproducible
    under any partitioning); chronological = percent_rank head/tail
    (anomaly_detection.py:197-208).

    ``method='permutation'`` gives the reference's EXACT-fraction global
    random permutation semantics (polars sample(fraction=1.0, shuffle=True),
    anomaly_detection.py:197): percent_rank over orderBy(rand(seed), key).
    Exact split sizes, but a global sort; and Spark's rand(seed) draws from
    per-partition streams, so the permutation is reproducible only for a
    FIXED input partitioning (pinned in pytest). The hash-bucket default is
    the scale path: approximate fraction, no sort, partitioning-invariant."""
    if shuffle and method == "permutation":
        from pyspark.sql import Window

        ranked = df_seq.withColumn(
            "_pr", F.percent_rank().over(Window.orderBy(F.rand(seed), key_col))
        )
        train = ranked.filter(F.col("_pr") < 1 - test_frac).drop("_pr")
        test = ranked.filter(F.col("_pr") >= 1 - test_frac).drop("_pr")
    elif shuffle:
        u = hash_bucket(key_col, seed)
        train = df_seq.filter(u >= test_frac)
        test = df_seq.filter(u < test_frac)
    else:
        # chronological head/tail WITHOUT a global sort (round-3 scale fix:
        # percent_rank over an unpartitioned window funnels the whole table
        # through one task): the time cutoff comes from a distributed
        # percentile_approx aggregate, then two filters split around it.
        # Boundary rows (time == cutoff) go to the test side, preserving
        # max(train time) <= min(test time) exactly; the split fraction is
        # approximate to the sketch's accuracy (1e-4 here) instead of exact.
        # DEGENERATE-TIE GUARD (round-4; round-5 advisor fix): coarse/tied
        # timestamps can put the cutoff at min(time) — then train is EMPTY
        # and downstream .train() dies, where the reference's head/tail
        # split never produces an empty side. Round 4 fell back to a GLOBAL
        # percent_rank window — one task for the whole input, and the
        # trigger (a near-constant time column) is independent of data size,
        # so a 100 TB input with coarse timestamps funnelled through a
        # single-task sort. Round 5: rows strictly after the cutoff still go
        # to test (chronology preserved exactly where time CAN order rows);
        # the tied mass AT the cutoff — where "chronological" carries no
        # information — is split by a deterministic hash of key_col to fill
        # the remaining test fraction. Fully partitioned, no global window;
        # fractions are approximate exactly like the shuffle=True hash path
        # (the scale-path trade already documented above).
        # ``accuracy`` is the percentile sketch's compression bound: for
        # n <= accuracy the cutoff is EXACT — the element at rank
        # ceil((1-test_frac)*n) (gate-pinned vs DuckDB in q:auc_threshold);
        # beyond that, approximate to ~n/accuracy ranks (pytest-pinned).
        stats = df_seq.agg(
            F.percentile_approx(time_col, 1 - test_frac, accuracy).alias("c"),
            F.min(time_col).alias("lo"),
        ).first()
        cutoff = stats["c"]
        if cutoff is None or cutoff == stats["lo"]:
            # ALL-NULL time guard (round-6, advisor fix): with lo=None the
            # comparison `time > lit(None)` is null, so `is_test = null | ...`
            # dropped every u>=frac row from BOTH sides (null negated is
            # still null) — the exact empty-train failure this branch exists
            # to prevent. Null-aware gt: a row counts as "after the cutoff"
            # only when its time is non-null AND strictly greater.
            # NULL PLACEMENT (round-6 review fix): the normal branch sends
            # null times to TRAIN (nulls sort first in the reference's
            # chronological order — polars/pandas head-tail), but this branch
            # hash-split them alongside the tied mass, so a partially-null
            # coarse-timestamp input leaked null rows into test. Now the
            # test side fills in chronological priority: gt rows first, then
            # non-null tied rows, and nulls spill in ONLY when even every
            # non-null row cannot reach the test fraction (n_null >
            # (1-test_frac)*n) — exactly the reference's positional split of
            # a nulls-first ordering. All-null inputs therefore still
            # hash-split at ~test_frac (both sides non-empty).
            if stats["lo"] is None:
                gt = F.lit(False)
            else:
                gt = F.col(time_col).isNotNull() & (F.col(time_col) > F.lit(stats["lo"]))
            counts = df_seq.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(gt.cast("long")), F.lit(0)).alias("n_gt"),
                F.coalesce(
                    F.sum(F.col(time_col).isNull().cast("long")), F.lit(0)
                ).alias("n_null"),
            ).first()
            n_tied = counts["n"] - counts["n_gt"] - counts["n_null"]
            want = test_frac * counts["n"] - counts["n_gt"]
            frac_tied = min(max(want / max(n_tied, 1), 0.0), 1.0)
            frac_null = min(max((want - n_tied) / max(counts["n_null"], 1), 0.0), 1.0)
            u = hash_bucket(key_col, seed)
            tied_nonnull = F.col(time_col).isNotNull() & ~gt
            is_test = (
                gt
                | (tied_nonnull & (u < F.lit(frac_tied)))
                | (F.col(time_col).isNull() & (u < F.lit(frac_null)))
            )
            train = df_seq.filter(~is_test)
            test = df_seq.filter(is_test)
        else:
            # null times sort first (polars/pandas head-tail puts nulls in
            # the head) -> train side; without the coalesce a partially-null
            # time column silently dropped null rows from BOTH filters.
            train = df_seq.filter(F.col(time_col).isNull() | (F.col(time_col) < F.lit(cutoff)))
            test = df_seq.filter(F.col(time_col) >= F.lit(cutoff))
    return train, test


@dataclass
class SeqFeaturizer:
    """Train-fit / test-transform featurization (anomaly_detection.py:243-291)."""

    item_col: str | None = "events"
    numeric_cols: tuple[str, ...] = ()
    label_col: str = "anomaly"
    vocab_size: int = 1 << 18
    _cv_model: object = None

    def fit(self, train: DataFrame) -> "SeqFeaturizer":
        # fit-once: an already-fitted featurizer is reused as-is, so
        # evaluate_all's N models share ONE vocabulary fit instead of
        # re-fitting identical CountVectorizers per model (round-4 review
        # fix); construct a fresh SeqFeaturizer to fit on different data
        if self.item_col and self._cv_model is None:
            from pyspark.ml.feature import CountVectorizer

            cv = CountVectorizer(
                inputCol=self.item_col, outputCol="_cv", vocabSize=self.vocab_size, minDF=1.0
            )
            self._cv_model = cv.fit(train.select(self.item_col))
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.feature import VectorAssembler

        cols = []
        if self._cv_model is not None:
            df = self._cv_model.transform(df)
            cols.append("_cv")
        cols += list(self.numeric_cols)
        out = VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="keep").transform(df)
        return out.withColumn("label", F.col(self.label_col).cast("double"))


_SPARK_MODELS = {
    "LR": ("pyspark.ml.classification", "LogisticRegression", True),
    "DT": ("pyspark.ml.classification", "DecisionTreeClassifier", True),
    "RF": ("pyspark.ml.classification", "RandomForestClassifier", True),
    "GBT": ("pyspark.ml.classification", "GBTClassifier", True),  # XGB stand-in
    "SVM": ("pyspark.ml.classification", "LinearSVC", True),
    "KMEANS": ("pyspark.ml.clustering", "KMeans", False),
}

_SKLEARN_MODELS = {"IF", "LOF", "OCSVM"}


class AnomalyDetector:
    """train_* / predict / evaluate, mirroring the reference's surface."""

    def __init__(self, featurizer: SeqFeaturizer):
        self.featurizer = featurizer
        self.model = None
        self.kind: str | None = None

    def train(self, train_df: DataFrame, model: str = "LR", **params) -> "AnomalyDetector":
        if model not in _SPARK_MODELS and model not in _SKLEARN_MODELS:
            raise ValueError(
                f"unknown model {model!r}; choose from {sorted(set(_SPARK_MODELS) | _SKLEARN_MODELS)}"
            )
        self.kind = model
        # The featurizer fit, its transform and the estimator each read the
        # train frame, and an ML estimator reads it several times (LR: two
        # passes before the L-BFGS loop, two for the training summary). On
        # a lazy df_seq every read re-runs the whole event lineage (scan,
        # masking regexes, the Drain UDF, the groupBy(seq_id) shuffle), so
        # the columns the featurizer reads are materialized ONCE for this
        # call and released before it returns. Over a frame the caller
        # cached, the projection reads the caller's cache, and unpersisting
        # the projection leaves the caller's entry cached.
        f = self.featurizer
        cols = [f.item_col] if f.item_col else []
        train_df = train_df.select(*dict.fromkeys([*cols, *f.numeric_cols, f.label_col])).persist()
        try:
            feats = f.fit(train_df).transform(train_df)
            if model in _SPARK_MODELS:
                import importlib

                mod, cls, supervised = _SPARK_MODELS[model]
                est = getattr(importlib.import_module(mod), cls)(
                    featuresCol="features", **({"labelCol": "label"} if supervised else {"k": 2, "seed": 42}), **params
                )
                self.model = est.fit(feats)
            else:
                self.model = self._fit_sklearn(model, feats, **params)
        finally:
            train_df.unpersist()
        return self

    def _fit_sklearn(self, model: str, feats: DataFrame, **params):
        try:
            from sklearn.ensemble import IsolationForest
            from sklearn.neighbors import LocalOutlierFactor
            from sklearn.svm import OneClassSVM
        except ImportError as e:  # container may not ship sklearn
            raise NotImplementedError(
                "sklearn not available in this environment; IF/LOF/OCSVM are "
                "driver-side models over the (small) sequence matrix by design "
                "(anomaly_detection.py:293-397) — install scikit-learn to enable"
            ) from e
        import numpy as np

        X = np.array([r["features"].toArray() for r in feats.select("features").collect()])
        est = {
            "IF": lambda: IsolationForest(random_state=42, **params),
            "LOF": lambda: LocalOutlierFactor(novelty=True, **params),
            "OCSVM": lambda: OneClassSVM(**params),
        }[model]()
        return est.fit(X)

    def predict(self, test_df: DataFrame) -> DataFrame:
        feats = self.featurizer.transform(test_df)
        if self.kind in _SPARK_MODELS:
            out = self.model.transform(feats)
            if self.kind == "KMEANS":
                # unsupervised: -1/1 -> 1/0 normalization analog (:308-309);
                # map the minority cluster to 'anomaly'
                counts = out.groupBy("prediction").count().collect()
                minority = min(counts, key=lambda r: r["count"])["prediction"]
                out = out.withColumn("pred_ano", (F.col("prediction") == minority).cast("int"))
            else:
                out = out.withColumn("pred_ano", F.col("prediction").cast("int"))
            return out
        # sklearn path: collect, predict, rejoin (sequence-level = small)
        import numpy as np
        import pandas as pd

        pdf = feats.select("seq_id", "features", "label").toPandas()
        X = np.array([v.toArray() for v in pdf["features"]])
        pred = self.model.predict(X)
        pdf["pred_ano"] = (pred == -1).astype(int)  # sklearn outlier convention (:308-309)
        spark = test_df.sparkSession
        return feats.join(
            spark.createDataFrame(pdf[["seq_id", "pred_ano"]]), "seq_id", "left"
        )


def _score_hist(
    scores: DataFrame, label_col: str, score_col: str, quantize: int | None = 6
) -> DataFrame:
    """(score, pos, n) per distinct score — the sufficient statistic for both
    ROC-AUC and the threshold sweep. One hash agg.

    ``quantize`` (round-4 scale fix, round-5 made RANGE-INDEPENDENT): the
    unpartitioned windows downstream run over score-CARDINALITY rows — fine
    for discrete scores, but CONTINUOUS scores (rarity sums, probabilities)
    have cardinality ~= row count, funnelling the whole test set through one
    task. Scores are first NORMALIZED by a one-row ``max(abs(score))``
    aggregate (finite scores only), then quantized to ``quantize`` decimals
    and scaled back — so the histogram holds at most 2*10^quantize + 1
    finite bins (plus NaN/±inf rows) for ANY score distribution. Round 4's
    absolute 1e-6 bins were bounded only for bounded ranges: rarity's
    ``(-ln f)^3`` scores span ~2e4 at the 10^12-sequence design point, i.e.
    up to 2e10 bins — data-sized again. The normalize-quantize-rescale
    round trip is order-preserving and perturbs each score by < |score| *
    10^-quantize relative, so AUC/F1 move < 1e-4 (pytest-pinned). Set
    ``quantize=None`` only when exact tie handling of raw doubles matters
    more than scale. Costs one extra (cheap, map-side-combined) pass over
    the scores for the max — both passes stay fully distributed.

    NON-FINITE scores bypass quantization (round-5, advisor fix): NaN and
    ±inf pass through raw — the old absolute quantizer sent NaN to 0.0
    (silently flipping NaN-scored rows from most-anomalous to mid-ranked,
    Spark sorts NaN greatest) and collapsed +inf (deliberately emitted by
    the NEP unseen-n-gram path) through Long.MaxValue/1e6. They are also
    excluded from the normalizing max so one +inf cannot flatten every
    finite score into a single bin.

    The quantizer core is ``floor(x * 10^q + 0.5) / 10^q`` rather than
    ``round(x, q)``: both Spark and DuckDB evaluate that expression
    with the SAME IEEE double operations (division and multiplication are
    exact-rounded, so the normalize/rescale legs are bit-identical too),
    so the oracle bins boundary scores identically, whereas the engines'
    native round() differ in half-way handling (Spark: decimal HALF_UP on
    the shortest repr; DuckDB: binary-scaled). After normalization
    |x|*10^q <= 10^q always fits in int64 (Spark's floor(double) yields
    bigint) — for any score distribution, which the round-4 absolute form
    could not claim."""
    s = F.col(score_col).cast("double")
    if quantize is not None:
        assert "_score_max" not in scores.columns, (
            "scores frame already carries a _score_max column — rename it "
            "before calling roc_auc/threshold_search (temp-column collision)"
        )
        finite = ~F.isnan(s) & (F.abs(s) != F.lit(float("inf")))
        norm = scores.agg(F.max(F.when(finite, F.abs(s))).alias("_score_max"))
        scores = scores.crossJoin(F.broadcast(norm))
        scale = F.lit(float(10 ** quantize))
        denom = F.when(F.col("_score_max") > 0, F.col("_score_max")).otherwise(F.lit(1.0))
        q = F.floor(s / denom * scale + F.lit(0.5)) / scale * denom
        s = F.when(finite, q).otherwise(s)
    return scores.groupBy(s.alias("score")).agg(
        F.sum(F.col(label_col).cast("long")).alias("pos"), F.count(F.lit(1)).alias("n")
    )


def roc_auc(
    scores: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    quantize: int | None = 6,
) -> DataFrame:
    """ROC-AUC, fully relational (no collect): Mann-Whitney U with average
    ranks over the per-score histogram. The reference reports AUC via
    sklearn roc_auc_score (anomaly_detection.py:426-530); rank-sum over
    grouped scores is the same statistic without materializing per-row ranks.

    Returns a 1-row frame (auc double)."""
    from pyspark.sql import Window

    hist = _score_hist(scores, label_col, score_col, quantize)
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.withColumn(
        "rank_avg", F.coalesce(F.sum("n").over(w), F.lit(0)) + (F.col("n") + 1) / 2.0
    )
    return ranked.agg(
        (
            (F.sum(F.col("pos") * F.col("rank_avg")) - F.sum("pos") * (F.sum("pos") + 1) / 2.0)
            / (F.sum("pos") * (F.sum("n") - F.sum("pos")))
        ).alias("auc")
    )


def threshold_search(
    scores: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    quantize: int | None = 6,
) -> DataFrame:
    """Best decision threshold by F1 over every distinct score — the
    relational analogue of the reference's optional threshold optimization
    (anomaly_detection.py:426-530). Predict positive when score >= t;
    f1(t) = 2*tp / (predicted_pos + total_pos). Deterministic tie-break:
    highest f1, then lowest threshold.

    Returns a 1-row frame (best_thr, best_f1)."""
    from pyspark.sql import Window

    hist = _score_hist(scores, label_col, score_col, quantize)
    w = Window.orderBy(F.col("score").desc()).rowsBetween(Window.unboundedPreceding, 0)
    # total positives via an unbounded window over the SAME (small,
    # score-cardinality-sized) frame — no separate driver action/job
    w_all = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    swept = hist.select(
        F.col("score").alias("best_thr"),
        (
            2.0 * F.sum("pos").over(w) / (F.sum("n").over(w) + F.sum("pos").over(w_all))
        ).alias("best_f1"),
    )
    return swept.orderBy(F.col("best_f1").desc(), F.col("best_thr").asc()).limit(1)


def confusion_metrics(tp: int, fp: int, fn: int, tn: int) -> dict:
    """accuracy / precision / recall / F1 from raw confusion counts — the
    ONE place the metric formulas live (evaluate() and the report-store
    feed both use it, so the gate's DuckDB recompute certifies the same
    formulas everywhere)."""
    total = tp + fp + fn + tn
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "accuracy": (tp + tn) / total if total else 0.0,
        "precision": prec,
        "recall": rec,
        "f1": 2 * prec * rec / (prec + rec) if prec + rec else 0.0,
    }


def evaluate(
    pred_df: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred_ano",
    score_col: str | None = None,
) -> dict:
    """Relational confusion matrix + accuracy / precision / recall / F1;
    with ``score_col`` set, also ROC-AUC (anomaly_detection.py:426-530)."""
    c = {
        (int(r[label_col]), int(r[pred_col])): r["n"]
        for r in pred_df.groupBy(label_col, pred_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tp, fp, fn, tn = c.get((1, 1), 0), c.get((0, 1), 0), c.get((1, 0), 0), c.get((0, 0), 0)
    out = confusion_metrics(tp, fp, fn, tn)
    if score_col is not None:
        out["auc"] = roc_auc(pred_df, label_col, score_col).first()["auc"]
    return out


def evaluate_all(
    train_df: DataFrame,
    test_df: DataFrame,
    featurizer_kw: dict | None = None,
    models: tuple[str, ...] = ("LR", "DT", "RF", "SVM"),
) -> dict[str, dict]:
    """Reference evaluate_all_ads (:399-412): every model over the same split.
    One SHARED featurizer: the vocabulary fit (the expensive part) runs once
    and every model reuses it — the reference likewise featurizes once per
    input-column combination."""
    out = {}
    feat = SeqFeaturizer(**(featurizer_kw or {}))
    for m in models:
        det = AnomalyDetector(feat)
        try:
            det.train(train_df, m)
            out[m] = evaluate(det.predict(test_df))
        except NotImplementedError as e:
            out[m] = {"skipped": str(e)}
    return out
