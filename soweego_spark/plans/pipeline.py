"""The end-to-end entity-resolution pipeline (SURVEY.md §3.1 Spark shape).

pages -> extract -> block -> featurize -> train/score -> rules ->
threshold+dedup -> connected components -> clusters.

Each stage is optionally checkpointed via :class:`StageCheckpointer` —
kill the job after any stage and a re-run with the same config resumes from
parquet instead of recomputing (the reference's pickle-memo semantics,
blocking.py:86-94, done with manifests).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from soweego_spark import pins
from soweego_spark.operators import blocking as blk
from soweego_spark.operators import classify as clf
from soweego_spark.operators import pairfeatures as pf
from soweego_spark.operators.cluster import assign_clusters
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.plans.checkpoint import StageCheckpointer


@dataclass
class PipelineConfig:
    top_k: int = 5
    token_df_cap: int = 1000
    use_lsh: bool = True
    use_url_key: bool = True
    # 3 rows/band (4 bands of the 12 minhashes) — the measured sweet spot:
    # vs 2 rows/band the LSH family emits 3.1x fewer candidate pairs
    # (S-curve threshold 0.41 -> 0.63 shingle-Jaccard) while the token+url
    # families already cover 99.3% of labeled positives, so e2e F1 moves
    # only 0.9997 -> 0.9991 and the pipeline wall drops ~17% (fresh-JVM
    # interleaved medians at 2000 entities: 19.3s -> 16.0s; PERF.md §16).
    # At lake scale the 3x candidate-set reduction is the dominant win:
    # blocking junk is shuffled, assembled, and featurized downstream.
    lsh_rows_per_band: int = 3
    threshold: float = clf.CONFIDENCE_THRESHOLD
    classifier: str = "logistic"  # logistic | naive_bayes | svm
    name_rule: bool = True
    url_rule: bool = True
    occupation_closure: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        d = self.__dict__.copy()
        d["occupation_closure"] = sorted(self.occupation_closure)
        return d


_TRAINERS = {
    "logistic": clf.train_logistic,
    "naive_bayes": clf.train_naive_bayes,
    "svm": clf.train_linear_svm,
    "slp": clf.train_slp,  # M6 — still a LinearModel: JVM-side scoring
}


@dataclass
class PipelineResult:
    signatures: DataFrame
    pairs: DataFrame
    features: DataFrame
    scored: DataFrame
    matches: DataFrame
    clusters: DataFrame
    model: clf.LinearModel
    metrics: dict
    lineage: dict = field(default_factory=dict)  # stage -> manifest (counts
    # per partition + config hash), populated when a checkpointer is used


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    labeled_pairs: DataFrame,
    config: PipelineConfig | None = None,
    checkpointer: StageCheckpointer | None = None,
) -> PipelineResult:
    cfg = config or PipelineConfig()
    base_cfg = cfg.as_dict()

    # Default the signatures stage to BUCKETED persistence (by url): the
    # signatures table is the repeatedly re-joined side of pair assembly
    # (both assemble_pairs sides join on url), so a resumed run should
    # start those joins Exchange-free instead of re-shuffling the table —
    # at 10^12 rows that re-shuffle is the dominant avoidable resume cost.
    # Callers opt out by passing an explicit falsy spec
    # (bucket_specs={"signatures": None}); an existing entry is never
    # overridden. The default is scoped to each stage() call below
    # (restored in a finally) so the caller's checkpointer and dict are
    # never permanently mutated; resume needs no lasting spec either —
    # load() registers bucketed tables from the manifest, not from
    # bucket_specs.
    default_specs = {
        "signatures": {
            "bucket_cols": ["url"], "sort_cols": ["url"], "n_buckets": 32,
        },
    }

    def stage(name: str, thunk, extra: dict | None = None) -> DataFrame:
        if checkpointer is None:
            return thunk()
        orig = checkpointer.bucket_specs
        checkpointer.bucket_specs = {**default_specs, **orig}
        try:
            return checkpointer.stage(name, {**base_cfg, **(extra or {})}, thunk)
        finally:
            checkpointer.bucket_specs = orig

    sig = stage("signatures", lambda: extract_signatures(pages))
    # Lazy cache, deliberately: five consumers (three blocking key
    # families + both pair-assembly sides) race through the uncached
    # extract inside the first action, duplicating some Python extraction —
    # but the duplicated scans overlap on otherwise-idle cores, and an
    # eager `.count()` barrier measured consistently SLOWER in fresh-JVM
    # interleaved A/Bs (eager 32s stable vs lazy ~28s mean at 2000
    # entities). On a real cluster with a persisted signatures stage
    # (checkpointer) the question disappears. This and the two pins below
    # stay in the caller's scope: PipelineResult's frames depend on them.
    pins.persist(sig)

    pairs = stage(
        "pairs",
        lambda: blk.block_candidates(
            sig,
            top_k=cfg.top_k,
            token_df_cap=cfg.token_df_cap,
            use_lsh=cfg.use_lsh,
            use_url_key=cfg.use_url_key,
            lsh_rows_per_band=cfg.lsh_rows_per_band,
        ),
    )
    # ONE cached table serves training, scoring and the post rules: the
    # feature table carries the M12 rule inputs (carry_rule_cols) so
    # apply_rules needs no re-join against the wide pair rows. Caching the
    # wide rows instead was measured strictly worse (28s to serialize the
    # map/array columns vs 10s to featurize from lineage at 500k pairs).
    pair_rows = pf.assemble_pairs(
        pairs, sig, occupation_closure=cfg.occupation_closure
    )
    features = stage(
        "features",
        lambda: pf.compute_features(
            pair_rows,
            occupation_closure=cfg.occupation_closure,
            carry_rule_cols=True,
        ),
    )
    pins.persist(features)

    # Train on the driver over the labeled pairs' feature rows.
    X, y = clf.collect_training_matrix(features, labeled_pairs)
    model = _TRAINERS[cfg.classifier](X, y)

    scored = clf.apply_rules(
        clf.score(features, model),
        pair_rows=None,  # rule inputs already carried in the feature table
        name_rule=cfg.name_rule,
        url_rule=cfg.url_rule,
    )
    matches = stage(
        "matches",
        lambda: clf.threshold_and_dedup(scored, threshold=cfg.threshold),
        extra={"model_w": [float(w) for w in model.weights], "model_b": model.bias},
    )
    # matches is consumed by clustering AND the metrics joins.
    pins.persist(matches)

    clusters = stage(
        "clusters",
        lambda: assign_clusters(sig.select("url"), matches),
        extra={"model_w": [float(w) for w in model.weights], "model_b": model.bias},
    )

    metrics = clf.confusion_and_f1(matches, labeled_pairs)
    lineage = {}
    if checkpointer is not None:
        for name in ("signatures", "pairs", "features", "matches", "clusters"):
            mf = checkpointer.manifest(name)
            if mf:
                lineage[name] = mf
    return PipelineResult(
        sig, pairs, features, scored, matches, clusters, model, metrics,
        lineage,
    )
