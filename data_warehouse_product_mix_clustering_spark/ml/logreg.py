"""Distributed full-batch logistic regression over hashed features.

fastText-shaped (Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification"): a linear classifier over a FIXED hashed feature space,
so the weight vector is broadcast-sized BY CONSTRUCTION — the same hash
trick that makes DSIR (plans/pipeline) a 100 TB operator. The engine
uses it to DISTILL the rule-based document-quality gate into a learned
scorer (plans/pipeline/classifiers.py::doc_quality_classifier); the reference's
analogue is its driver-side sklearn fit-predict loops
(reference src/pipelines, SURVEY §2.8-2.9), re-expressed as set
operations plus a bounded driver scan per iteration.

Determinism contract (the repo's snapped-arithmetic discipline,
functions/numeric.py): every distributed reduction is 6-dp ratio-rounded
before it feeds the next step — per-doc margins, per-doc probabilities,
per-bucket gradient sums, the loss — and the weight update itself runs
driver-side in plain python on those snapped values. Floating-point sums
of snapped inputs differ across engines/partitionings only in the last
ulps (~1e-12 relative), far below the 5e-7 snap threshold, and the
RATIO_EPS nudge keeps exact half-boundary rationals from splitting. The
result: ``train_logreg`` (distributed) and ``train_logreg_py`` (the
in-memory twin) produce BIT-IDENTICAL weight vectors, loss traces, and
predictions — pinned exactly by ``quality_classifier_audit``, no
tolerance anywhere.

Scale: the joined (id, bucket, x, y) relation is cached once,
hash-partitioned by id; each iteration is (1) one broadcast join with
the ≤(buckets+1)-row weight relation + an exchange-free per-id
aggregation, (2) one id-aligned join attaching residuals (both sides
already partitioned by id — no exchange on the big side), and (3) one
(bucket,) aggregation whose output — the gradient — is the ONLY thing
collected: ≤ buckets+1 rows. Full-batch GD scans the corpus once per
iteration; at 100 TB you train on a deterministic hash-sample (the
caller's job — see doc_quality_classifier's % 2 split) and score
everywhere with one broadcast join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round

# The intercept rides the feature relation as a synthetic always-on
# feature so margins, gradients, and updates treat it uniformly (it is
# excluded from L2 — standard practice). The key cannot collide with
# md5-prefix buckets (hex alphabet) or the plan-side "__len" feature.
BIAS_KEY = "__bias"
# Tag for the loss scalar riding the per-iteration gradient collect — a
# reserved name no feature bucket can take (buckets are md5-hex prefixes
# or the engineered "__len"/"__sw"; the bias row is BIAS_KEY).
_LOSS_TAG = "__loss"


# Disable AQE inside the iterative-trainer scope: the per-iteration
# weight-update queries are MODEL-sized (an EXPLICIT broadcast of
# ≤ |classes|·buckets weight rows into one or two aggregates over the
# cached training slice) — see session.no_adaptive_execution for the
# measured rationale and the join caveat.
from data_warehouse_product_mix_clustering_spark.session import (
    no_adaptive_execution as _no_aqe,
)


def _weights_df(spark, rows, schema):
    """Tiny driver-side weight relation via the Arrow (pandas) path —
    the tuple-list path pickles row by row and measured ~2× slower per
    iteration (0.20 vs 0.107 s for the 12k-row multinomial frame);
    dtypes are pinned by the explicit schema, so values round-trip
    bit-identically (float64 end to end)."""
    import pandas as pd

    cols = [c.strip().split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

# Probability clip for the log-loss only (snapped probabilities can be
# exactly 0.0 or 1.0; the decision path never clips).
_P_CLIP = 1e-6

# Margins are clamped here before the sigmoid on BOTH paths: sigmoid(±30)
# snaps to exactly 0/1 at 6 dp anyway, and the clamp keeps python's
# math.exp from raising OverflowError where the JVM would return inf.
_M_CLAMP = 30.0


def _snap(x: float) -> float:
    """Driver-side twin of functions/numeric.py::ratio_round."""
    return round(x + 1e-9, 6)


def _sigmoid(m):
    """Clamped sigmoid, JVM expression form."""
    mc = F.least(F.greatest(m, F.lit(-_M_CLAMP)), F.lit(_M_CLAMP))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-mc))


def _sigmoid_py(m: float) -> float:
    """Clamped sigmoid, driver/twin form — same clamp, same formula."""
    mc = min(max(m, -_M_CLAMP), _M_CLAMP)
    return 1.0 / (1.0 + math.exp(-mc))


def _update(
    w: dict[str, float],
    acc: dict[str, float],
    grad: dict[str, float],
    n: int,
    lr: float,
    l2: float,
) -> dict[str, float]:
    """One Adagrad step on snapped gradient SUMS (shared by both
    trainers); mutates and reuses ``acc``, the per-feature squared-
    gradient accumulator.

    Adagrad (Duchi et al. 2011) rather than plain GD because the
    feature scales here span orders of magnitude — hashed n-gram rates
    ~1e-2 vs the engineered scalars and the always-1 bias — and a
    single shared step size either stalls the small features or
    oscillates the large ones (both observed). The per-feature
    1/sqrt(acc) rate is computed driver-side in exact IEEE arithmetic
    on 6-dp-snapped gradient sums, so it is identical on the
    distributed and twin paths by construction.

    Gradients arrive as per-bucket SUMS, not means: sums are O(n) and
    survive 6-dp snapping, where a mean over a large corpus would snap
    to zero and silently stop training. The /n happens here."""
    out = {}
    for b, wb in w.items():
        g = grad.get(b, 0.0) / n + (0.0 if b == BIAS_KEY else l2 * wb)
        acc[b] = acc.get(b, 0.0) + g * g
        out[b] = _snap(wb - lr * g / math.sqrt(acc[b] + 1e-10))
    return out


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    *,
    n_iter: int = 16,
    lr: float = 4.0,
    l2: float = 1e-6,
    track_loss: bool = False,
) -> tuple[dict[str, float], list[float]]:
    """Full-batch logistic regression; returns (weights, loss_trace).

    ``feats``: (__id, bucket string, x double) with x already 6-dp
    snapped by the caller; ``labels``: (__id, y double) with y ∈ {0,1}.
    Every labeled id trains (a bias row is injected per id, so
    featureless ids still contribute); feature rows without a label are
    dropped. ``weights[BIAS_KEY]`` is the intercept. ``loss_trace`` has
    one snapped mean log-loss per iteration when ``track_loss`` (one
    extra scalar action per iteration — audits only).
    """
    spark = feats.sparkSession
    ids = labels.select("__id", "y")
    # one labels-sized job (not a distinct over base) for the doc count and
    # the labeled count: the gradient sum skips a NULL label's residual
    # while n_docs would count its row, so a NULL label is refused here,
    # before anything is persisted.
    idrow = ids.agg(
        F.count(F.lit(1)).alias("n"), F.count("y").alias("n_labeled")
    ).first()
    n_docs = int(idrow["n"])
    if idrow["n_labeled"] < n_docs:
        raise ValueError(
            f"train_logreg: {n_docs - idrow['n_labeled']} of {n_docs} label "
            "rows have a NULL label"
        )
    # persist, not localCheckpoint: the cached InMemoryTableScan KEEPS
    # the repartition's outputPartitioning, so every iteration's per-id
    # agg and residual join reuse it exchange-free; a checkpoint drops
    # the partitioning metadata and re-shuffles twice per iteration
    # (caught by an .explain pass). Unpersisted in the finally.
    base = (
        feats.select("__id", "bucket", "x")
        .unionAll(
            ids.select(
                "__id", F.lit(BIAS_KEY).alias("bucket"), F.lit(1.0).alias("x")
            )
        )
        .join(ids, "__id")
        .repartition("__id")  # one shuffle, reused by every iteration
        .persist()
    )
    # the bucket collect doubles as the cache materializer (a distinct
    # over base computes every partition) — no separate count() job (r19)
    buckets = [r["bucket"] for r in base.select("bucket").distinct().collect()]
    w = {b: 0.0 for b in buckets}
    acc: dict[str, float] = {}

    losses: list[float] = []
    try:
        with _no_aqe(spark):
            for _ in range(n_iter):
                wdf = _weights_df(spark, list(w.items()), "bucket string, w double")
                # Per-id margin/probability/residual: the broadcast join
                # preserves the cached id-partitioning and the groupBy key
                # matches it, so this agg is exchange-free (y rides as min
                # — constant per id; grouping on (__id, y) would defeat the
                # partitioning match).
                per_id = (
                    base.join(F.broadcast(wdf), "bucket")
                    .groupBy("__id")
                    .agg(
                        F.min("y").alias("y"),
                        ratio_round(F.sum(F.col("x") * F.col("w"))).alias("m"),
                    )
                    .select(
                        "__id",
                        "y",
                        ratio_round(_sigmoid(F.col("m"))).alias("p"),
                    )
                    .withColumn("resid", F.col("p") - F.col("y"))
                )
                # Gradient SUM per bucket — ≤ buckets+1 rows; with track_loss
                # the per-iteration loss scalar rides the SAME collect as a
                # tagged extra row (r19, guide §5: one driver action per
                # iteration instead of two — the aggregates themselves are
                # unchanged, so the snapped values are bit-identical).
                grad_rows = (
                    base.join(
                        per_id.select("__id", "resid"), "__id"
                    )  # both sides partitioned by __id — no exchange on base
                    .groupBy("bucket")
                    .agg(ratio_round(F.sum(F.col("x") * F.col("resid"))).alias("g"))
                )
                if track_loss:
                    pc = F.least(
                        F.greatest(F.col("p"), F.lit(_P_CLIP)),
                        F.lit(1.0 - _P_CLIP),
                    )
                    ll = -(
                        F.col("y") * F.log(pc)
                        + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pc)
                    )
                    grad_rows = grad_rows.unionByName(
                        per_id.agg(ratio_round(F.avg(ll)).alias("g")).select(
                            F.lit(_LOSS_TAG).alias("bucket"), "g"
                        )
                    )
                collected = grad_rows.collect()
                grad = {r["bucket"]: r["g"] for r in collected}
                if track_loss:
                    losses.append(grad.pop(_LOSS_TAG))
                w = _update(w, acc, grad, n_docs, lr, l2)
    finally:
        base.unpersist()
    return w, losses


def train_logreg_py(
    feats: dict[object, dict[str, float]],
    labels: dict[object, float],
    *,
    n_iter: int = 16,
    lr: float = 4.0,
    l2: float = 1e-6,
    track_loss: bool = False,
) -> tuple[dict[str, float], list[float]]:
    """In-memory twin of ``train_logreg`` — same snaps, same update.

    ``feats`` maps id → {bucket: x}; ids present only in ``labels``
    train on the bias alone, ids absent from ``labels`` are ignored —
    exactly the distributed trainer's join semantics."""
    rows = {
        i: {**feats.get(i, {}), BIAS_KEY: 1.0} for i in labels
    }
    n_docs = len(rows)
    w: dict[str, float] = {
        b: 0.0 for d in rows.values() for b in d
    }
    acc: dict[str, float] = {}
    losses: list[float] = []
    for _ in range(n_iter):
        grad: dict[str, float] = {b: 0.0 for b in w}
        loss = 0.0
        for i in sorted(rows, key=repr):
            m = _snap(sum(x * w[b] for b, x in sorted(rows[i].items())))
            p = _snap(_sigmoid_py(m))
            y = labels[i]
            if track_loss:
                pc = min(max(p, _P_CLIP), 1.0 - _P_CLIP)
                loss += -(y * math.log(pc) + (1.0 - y) * math.log(1.0 - pc))
            resid = p - y
            for b, x in rows[i].items():
                grad[b] += x * resid
        if track_loss:
            losses.append(_snap(loss / n_docs))
        w = _update(w, acc, {b: _snap(g) for b, g in grad.items()}, n_docs, lr, l2)
    return w, losses


def score_logreg(
    spark: SparkSession, feats: DataFrame, ids: DataFrame, w: dict[str, float]
) -> DataFrame:
    """(__id, p): snapped keep-probability for every id in ``ids``.

    One broadcast join with the ≤(buckets+1)-row weight relation + one
    per-id aggregation — the 100 TB scoring shape. Ids with no feature
    rows score on the bias alone (the injected bias row guarantees a
    group per id)."""
    wdf = spark.createDataFrame(list(w.items()), "bucket string, w double")
    base = feats.select("__id", "bucket", "x").unionAll(
        ids.select("__id", F.lit(BIAS_KEY).alias("bucket"), F.lit(1.0).alias("x"))
    )
    return (
        base.join(F.broadcast(wdf), "bucket")
        .groupBy("__id")
        .agg(ratio_round(F.sum(F.col("x") * F.col("w"))).alias("m"))
        .select("__id", ratio_round(_sigmoid(F.col("m"))).alias("p"))
    )


# ---------------------------------------------------------------------------
# Model persistence: train once, serve anywhere. The artifact is the
# index families' shape (operators/dedup.py::build_minhash_index): a
# parquet weight relation + a meta sidecar pinning everything that must
# match at serve time + the torn-write commit marker. Weights are
# ≤(buckets+1) rows — the artifact is KB-sized regardless of corpus.
# ---------------------------------------------------------------------------

_MODEL_META = "logreg_meta.json"
_WEIGHTS = "weights"


def save_logreg(
    spark: SparkSession, w: dict[str, float], model_dir: str, meta: dict
) -> None:
    """Persist a trained model: weight relation + meta (the caller's
    feature-spec/hyperparameter pins, stored verbatim and REQUIRED to
    match at load — operators/ivm.py's refuse-don't-guess contract) +
    commit marker against torn writes."""
    import json
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import mark_committed, mark_dirty
    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_small_file_atomic

    os.makedirs(model_dir, exist_ok=True)
    mark_dirty(model_dir)
    spark.createDataFrame(
        list(w.items()), "bucket string, w double"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(model_dir, _WEIGHTS)
    )
    write_small_file_atomic(
        os.path.join(model_dir, _MODEL_META), json.dumps(meta, sort_keys=True)
    )
    mark_committed(model_dir)


def load_logreg(
    spark: SparkSession, model_dir: str, expect_meta: dict | None = None
) -> tuple[dict[str, float], dict]:
    """Load (weights, meta); refuses a torn artifact (no commit marker)
    and, when ``expect_meta`` is given, any stored meta that differs —
    scoring with a model trained under a different feature spec or
    hyperparameters is silent garbage, so mismatch is an error, never a
    guess (the minhash-index column-pin discipline)."""
    import json
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import require_committed

    require_committed(model_dir, "logreg model")
    with open(os.path.join(model_dir, _MODEL_META)) as f:
        meta = json.load(f)
    if expect_meta is not None and meta != expect_meta:
        raise ValueError(
            f"logreg model at {model_dir} was trained under {meta}; caller "
            f"expects {expect_meta} — refusing to serve a mismatched model"
        )
    w = {
        r["bucket"]: float(r["w"])
        for r in spark.read.schema("bucket string, w double")
        .parquet(os.path.join(model_dir, _WEIGHTS))
        .collect()  # ≤ buckets+1 rows — broadcast-sized by construction
    }
    return w, meta


# ---------------------------------------------------------------------------
# Multinomial (softmax) variant — the fastText lang-id shape. Same
# snapped-arithmetic contract: margins, per-class probabilities, and
# per-(class, bucket) gradient sums are 6-dp snapped distributed
# reductions; the Adagrad update runs driver-side on both paths. The
# gradient collect is ≤ |classes|·(buckets+1) rows — still
# broadcast-sized for any classifier worth hashing.
# ---------------------------------------------------------------------------


def train_softmax(
    feats: DataFrame,
    labels: DataFrame,
    *,
    n_iter: int = 16,
    lr: float = 4.0,
    l2: float = 1e-6,
    track_loss: bool = False,
) -> tuple[dict[str, dict[str, float]], list[float]]:
    """Full-batch softmax regression; returns ({class: weights}, loss).

    ``labels``: (__id, y string — the class). Per iteration: one
    broadcast join with the (bucket, class) weight relation, one
    per-(id, class) margin agg, a per-id max/sum pair for the stable
    softmax, and one (class, bucket) gradient agg — every reduction
    snapped, every division replayed identically by the twin."""
    spark = feats.sparkSession
    ids = labels.select("__id", "y")
    # one labels-sized job for the doc count, the labeled count and the
    # class set (r19). collect_set skips NULL labels while n counts their
    # rows, so a NULL label is refused here, before anything is persisted.
    idrow = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("y").alias("n_labeled"),
        F.sort_array(F.collect_set("y")).alias("cs"),
    ).first()
    n_docs, classes = int(idrow["n"]), list(idrow["cs"])
    if idrow["n_labeled"] < n_docs:
        raise ValueError(
            f"train_softmax: {n_docs - idrow['n_labeled']} of {n_docs} label "
            "rows have a NULL class"
        )
    # persist, not localCheckpoint — train_logreg's reason: the cache
    # keeps the id-partitioning, and hash partitioning on a SUBSET of
    # the grouping keys satisfies the (id, …) clusterings below, so the
    # margin agg and the residual join stay exchange-free per iteration.
    base = (
        feats.select("__id", "bucket", "x")
        .unionAll(
            ids.select(
                "__id", F.lit(BIAS_KEY).alias("bucket"), F.lit(1.0).alias("x")
            )
        )
        .join(ids, "__id")
        .repartition("__id")
        .persist()
    )
    # the bucket collect doubles as the cache materializer (a distinct
    # over base computes every partition) — no count() job
    buckets = [r["bucket"] for r in base.select("bucket").distinct().collect()]
    w = {c: {b: 0.0 for b in buckets} for c in classes}
    acc: dict[tuple[str, str], float] = {}

    losses: list[float] = []
    probs = None
    try:
        with _no_aqe(spark):
            for _ in range(n_iter):
                wdf = _weights_df(
                    spark,
                    [(c, b, wb) for c, ws in w.items() for b, wb in ws.items()],
                    "cls string, bucket string, w double",
                )
                margins = (
                    base.join(F.broadcast(wdf), "bucket")
                    .groupBy("__id", "y", "cls")
                    .agg(ratio_round(F.sum(F.col("x") * F.col("w"))).alias("m"))
                )
                stats = margins.groupBy("__id").agg(F.max("m").alias("__mx"))
                e = margins.join(stats, "__id").select(
                    "__id",
                    "y",
                    "cls",
                    ratio_round(F.exp(F.col("m") - F.col("__mx"))).alias("e"),
                )
                z = e.groupBy("__id").agg(ratio_round(F.sum("e")).alias("__z"))
                probs = (
                    e.join(z, "__id")
                    .select(
                        "__id",
                        "y",
                        "cls",
                        ratio_round(F.col("e") / F.col("__z")).alias("p"),
                    )
                    .withColumn(
                        "resid",
                        F.col("p") - (F.col("y") == F.col("cls")).cast("double"),
                    )
                )
                if track_loss:
                    # persist, not localCheckpoint: read twice (grad + loss)
                    # so it must be materialized once either way, but a cache
                    # can be UNPERSISTED — checkpointed RDDs would accumulate
                    # for the life of the session, one per iteration (ADVICE
                    # r14). Partitioning is NOT the reason here: the grad
                    # join broadcasts this model-output-sized relation, so
                    # its outputPartitioning never matters (verified in the
                    # PERF_NOTES r15 exchange-profile read). The fused
                    # collect below is the first consumer and materializes
                    # the cache inside its own job — no count() job (r19);
                    # without track_loss there is ONE consumer and the
                    # persist itself is skipped.
                    probs = probs.persist()
                # Gradient SUMS per (class, bucket) — ≤ |classes|·(buckets+1)
                # rows; with track_loss the per-iteration loss scalar rides
                # the SAME collect as a tagged extra row (r19, guide §5: one
                # driver action per iteration instead of three — the
                # aggregates are unchanged, so the snapped values are
                # bit-identical).
                grad_rows = (
                    base.join(
                        probs.select("__id", "cls", "resid"), "__id"
                    )  # id-partitioned join; the (cls, bucket) agg shuffles
                    .groupBy("cls", "bucket")
                    .agg(ratio_round(F.sum(F.col("x") * F.col("resid"))).alias("g"))
                )
                if track_loss:
                    own = probs.filter(F.col("y") == F.col("cls"))
                    pc = F.least(
                        F.greatest(F.col("p"), F.lit(_P_CLIP)),
                        F.lit(1.0 - _P_CLIP),
                    )
                    grad_rows = grad_rows.unionByName(
                        own.agg(ratio_round(F.avg(-F.log(pc))).alias("g")).select(
                            F.lit(_LOSS_TAG).alias("cls"),
                            F.lit(_LOSS_TAG).alias("bucket"),
                            "g",
                        )
                    )
                collected = grad_rows.collect()
                grad = {(r["cls"], r["bucket"]): r["g"] for r in collected}
                if track_loss:
                    losses.append(grad.pop((_LOSS_TAG, _LOSS_TAG)))
                for c in classes:
                    gc = {b: grad.get((c, b), 0.0) for b in w[c]}
                    ac = {b: acc.get((c, b), 0.0) for b in w[c]}
                    w[c] = _update(w[c], ac, gc, n_docs, lr, l2)
                    for b, v in ac.items():
                        acc[(c, b)] = v
                if track_loss:
                    probs.unpersist()
    finally:
        base.unpersist()
        if probs is not None:
            probs.unpersist()  # no-op when the loop already released it
    return w, losses


def train_softmax_py(
    feats: dict[object, dict[str, float]],
    labels: dict[object, str],
    *,
    n_iter: int = 16,
    lr: float = 4.0,
    l2: float = 1e-6,
    track_loss: bool = False,
) -> tuple[dict[str, dict[str, float]], list[float]]:
    """In-memory twin of ``train_softmax`` — same snaps, same update."""
    rows = {i: {**feats.get(i, {}), BIAS_KEY: 1.0} for i in labels}
    n_docs = len(rows)
    classes = sorted(set(labels.values()))
    bucket_set = {b for d in rows.values() for b in d}
    w = {c: {b: 0.0 for b in bucket_set} for c in classes}
    acc: dict[tuple[str, str], float] = {}
    losses: list[float] = []
    for _ in range(n_iter):
        grad: dict[tuple[str, str], float] = {}
        loss = 0.0
        for i in sorted(rows, key=repr):
            ms = {
                c: _snap(
                    sum(x * w[c][b] for b, x in sorted(rows[i].items()))
                )
                for c in classes
            }
            mx = max(ms.values())
            es = {c: _snap(math.exp(ms[c] - mx)) for c in classes}
            zz = _snap(sum(es[c] for c in classes))
            ps = {c: _snap(es[c] / zz) for c in classes}
            if track_loss:
                pc = min(max(ps[labels[i]], _P_CLIP), 1.0 - _P_CLIP)
                loss += -math.log(pc)
            for c in classes:
                resid = ps[c] - (1.0 if labels[i] == c else 0.0)
                for b, x in rows[i].items():
                    grad[(c, b)] = grad.get((c, b), 0.0) + x * resid
        if track_loss:
            losses.append(_snap(loss / n_docs))
        for c in classes:
            gc = {b: _snap(grad.get((c, b), 0.0)) for b in w[c]}
            ac = {b: acc.get((c, b), 0.0) for b in w[c]}
            w[c] = _update(w[c], ac, gc, n_docs, lr, l2)
            for b, v in ac.items():
                acc[(c, b)] = v
    return w, losses


def predict_softmax(
    spark: SparkSession,
    feats: DataFrame,
    ids: DataFrame,
    w: dict[str, dict[str, float]],
) -> DataFrame:
    """(__id, pred, p): argmax class and its snapped probability for
    every id — one broadcast join + two per-id aggs; ties break on the
    alphabetically first class (deterministic argmax)."""
    wdf = spark.createDataFrame(
        [(c, b, wb) for c, ws in w.items() for b, wb in ws.items()],
        "cls string, bucket string, w double",
    )
    base = feats.select("__id", "bucket", "x").unionAll(
        ids.select("__id", F.lit(BIAS_KEY).alias("bucket"), F.lit(1.0).alias("x"))
    )
    margins = (
        base.join(F.broadcast(wdf), "bucket")
        .groupBy("__id", "cls")
        .agg(ratio_round(F.sum(F.col("x") * F.col("w"))).alias("m"))
    )
    stats = margins.groupBy("__id").agg(F.max("m").alias("__mx"))
    e = margins.join(stats, "__id").select(
        "__id", "cls", ratio_round(F.exp(F.col("m") - F.col("__mx"))).alias("e")
    )
    z = e.groupBy("__id").agg(ratio_round(F.sum("e")).alias("__z"))
    p = e.join(z, "__id").select(
        "__id", "cls", ratio_round(F.col("e") / F.col("__z")).alias("p")
    )
    # argmax via min over (-p, cls): a p tie resolves to the
    # alphabetically FIRST class on both engines
    best = p.groupBy("__id").agg(
        F.min(F.struct((-F.col("p")).alias("np"), F.col("cls"))).alias("__b")
    )
    return best.select(
        "__id",
        F.col("__b.cls").alias("pred"),
        (-F.col("__b.np")).alias("p"),
    )
