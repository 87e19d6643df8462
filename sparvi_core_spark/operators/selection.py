"""Targeted data selection via hashed n-gram importance resampling —
the DSIR tier of a training-data pipeline: estimate a target-domain
feature distribution p and a raw-pool distribution q over hashed word
n-grams, weight every raw document by its log importance ratio
``log w(x) = Σ_f c_f(x)·(ln p̂(f) − ln q̂(f))``, and draw the training
set without replacement ∝ w via Gumbel top-k. This is the "make the
web crawl look like Wikipedia/books" selection step (Xie et al.,
*Data Selection for Language Models via Importance Resampling*,
NeurIPS 2023) — the trained-distribution sibling of the heuristic
quality tier (``functions.text``), the NB classifier tier
(``operators.classify``), and the perplexity tiers (``functions.lm``
/ ``functions.knlm``).

No analog in the reference engine (its surface stops at profiling /
validation — ``/root/reference/sparvi/profiler/profile_engine.py:17``;
SURVEY.md §2.8): part of the extension surface the 100 TB brief asks
for.

Model: bag-of-hashed-n-grams with add-α smoothing,

``p̂(f) = (n_target(f) + α) / (N_target + α·d)``

where d is the feature-space size — ``num_buckets`` under the hashing
trick (the paper's setting, default 10k buckets over unigrams +
bigrams), or the observed joint vocabulary in exact mode
(``num_buckets=None``, the DuckDB-oracle-friendly mode). Unseen
features ride the same expression with count 0, so scoring a corpus
disjoint from both estimation corpora is well-defined.

Scale design (the part that matters at 100 TB):

- **Training** is one explode + one map-side-combined groupBy over
  target ∪ raw, output bounded by ``num_buckets`` rows (never corpus
  size). The raw side may be a SAMPLE of the pool — the estimator
  only needs q̂'s shape, and the paper itself estimates on a subset.
- **The model is sufficient statistics** (per-feature target/raw
  counts): two models over disjoint shards MERGE into exactly the
  joint-retrain model with one bucket-bounded outer-join sum
  (:func:`merge_dsir_models`) — the incremental daily-ingest path.
  Totals and d derive from the counts frame at score time, so merges
  can never leave a stale denominator.
- **Scoring** is one corpus pass with ZERO corpus-corpus joins:
  feature occurrences broadcast-join the (bucket-bounded) weight
  table, and the single shuffle is the map-side-combined per-document
  sum. The smoothing denominators are three scalars, collected
  driver-side (a bounded collect) and folded into the expression as
  literals.
- **Resampling never global-sorts**: Gumbel top-k is
  ``orderBy(key).limit(n)`` — Spark's TakeOrderedAndProject, a
  per-partition heap + driver merge of n rows, not a sort shuffle.
- Everything is built-in expressions; no Python on the executors.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from sparvi_core_spark.operators.ranking import search_tokens


def _kgrams(toks: F.Column, k: int) -> F.Column:
    """Space-joined word k-grams of an ``array<string>`` token column.

    Built by zipping k length-aligned slices — pure array expressions,
    no explode until the caller wants one. Empty when the document has
    fewer than k tokens.
    """
    if k == 1:
        return toks
    n = F.size(toks)
    length = n - (k - 1)
    out = F.slice(toks, 1, length)
    for j in range(2, k + 1):
        out = F.zip_with(
            out,
            F.slice(toks, j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(n >= k, out).otherwise(F.array().cast("array<string>"))


def doc_features(
    text_col: str, ngram_n: int = 2, num_buckets: int | None = 10_000
) -> F.Column:
    """``array<string>`` of per-occurrence features for one document:
    word 1..n-grams over the lowercase-alnum tokenizer shared with
    ``operators.ranking`` / ``operators.classify``, optionally hashed
    to ``pmod(xxhash64(f), num_buckets)`` buckets (non-negative,
    stable across sessions, cast to string so both modes share one
    model schema — the convention set by ``classify._features``).
    """
    toks = search_tokens(text_col)
    feats = toks if ngram_n == 1 else F.concat(
        *[_kgrams(toks, k) for k in range(1, ngram_n + 1)]
    )
    if num_buckets is None:
        return feats
    return F.transform(
        feats,
        lambda t: F.pmod(F.xxhash64(t), F.lit(num_buckets)).cast("string"),
    )


# hashed models score through the Arrow kernel only while the
# bucket→weight table stays task-memory-trivial (one float64/bucket)
_HASHED_KERNEL_MAX_D = 1 << 22


def _score_dsir_per_doc_arrow(
    docs: DataFrame,
    counts_ck: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float,
    const: float,
    num_buckets: int,
    ngram_n: int,
) -> DataFrame:
    """The DSIR per-doc reduction as a ``mapInPandas`` kernel →
    ``(id_col, __raw_li, n_features)``, bit-identical to the explode ×
    broadcast-join × groupBy shape: features are byte spans over a
    canonical space-joined token buffer (functions.spanfeats — the
    verified lowercase-alnum twin), hashed with the NumPy xxhash64
    twin (functions.xxh64np, parity-pinned against F.xxhash64), every
    per-bucket weight is precomputed ON the JVM (py4j ``Math.log`` —
    the same libm as the expression path — combined in the expression's
    exact operation order), and the per-doc sum accumulates via cumsum
    in (gram size, position) order — the same order the hash
    aggregate's single per-doc partial added the exploded rows.
    Documents with no features emit no row (explode semantics). Only
    (id, text) crosses into Python; only docs-grain rows come back."""
    import numpy as np

    spark = docs.sparkSession
    jlog = spark._jvm.java.lang.Math.log
    # one py4j round trip per distinct input: bucket counts repeat (most
    # are small integers), so the cache turns ~2 calls per bucket into
    # ~1 per distinct count
    log_cache: dict[float, float] = {}

    def jvm_log(x: float) -> float:
        v = log_cache.get(x)
        if v is None:
            v = float(jlog(x))
            log_cache[x] = v
        return v

    a = float(alpha)
    # unseen bucket: (ln(0+α) − ln(0+α)) + const — exactly const, the
    # same cancellation the JVM expression performs
    log_a = jvm_log(0.0 + a)
    W = np.full(num_buckets, (log_a - log_a) + const, dtype=np.float64)
    for r in counts_ck.collect():  # bucket-bounded
        W[int(r["feature"])] = (
            jvm_log(float(r["n_target"] or 0) + a)
            - jvm_log(float(r["n_raw"] or 0) + a)
        ) + const
    D = np.int64(num_buckets)
    ks = tuple(range(1, ngram_n + 1))
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, __raw_li double, n_features bigint"

    from sparvi_core_spark.functions.spanfeats import (
        canonical_token_buffer,
        kgram_spans,
        word_token_spans,
    )
    from sparvi_core_spark.functions.xxh64np import xxh64_spans

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            buf, t_starts, t_lens, t_doc = word_token_spans(pdf["__text"])
            canon, c_starts = canonical_token_buffer(buf, t_starts, t_lens)
            parts_s, parts_l, parts_d = [], [], []
            for k in ks:
                s, l, d = kgram_spans(c_starts, t_lens, t_doc, k)
                parts_s.append(s)
                parts_l.append(l)
                parts_d.append(d)
            starts = np.concatenate(parts_s)
            lens = np.concatenate(parts_l)
            doc = np.concatenate(parts_d)
            # (gram size, doc, pos) → (doc, gram size, pos): the JVM
            # feature array's explode order, per doc
            order = np.argsort(doc, kind="stable")
            doc = doc[order]
            w = W[xxh64_spans(canon, starts[order], lens[order]) % D]
            ptr = np.searchsorted(doc, np.arange(n + 1))
            ids, li, nf = [], [], []
            id_vals = pdf["__id"]
            for j in range(n):
                lo, hi = int(ptr[j]), int(ptr[j + 1])
                if lo == hi:
                    continue  # no features → no row (explode)
                ids.append(id_vals.iloc[j])
                # cumsum: strictly sequential, the order the JVM
                # partial aggregate added these
                li.append(np.cumsum(w[lo:hi])[-1])
                nf.append(hi - lo)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=id_vals.dtype),
                    "__raw_li": pd.Series(li, dtype="float64"),
                    "n_features": pd.Series(nf, dtype="int64"),
                }
            )

    from sparvi_core_spark.plans.fanout import fan_out_compact

    narrow = fan_out_compact(
        docs.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
        )
    )
    return narrow.mapInPandas(kernel, schema)


@dataclass
class DSIRModel:
    """A trained importance model: per-feature target/raw counts plus
    the featurization knobs. ``counts`` is a lazy DataFrame
    ``(feature, n_target, n_raw)`` bounded by ``num_buckets`` rows
    (or the observed joint vocabulary in exact mode) — a plan until
    scored; persist it when scoring many batches. Totals and the
    smoothing dimension are DERIVED from ``counts`` at score time, so
    merged models can never carry stale denominators.
    """

    counts: DataFrame
    num_buckets: int | None
    ngram_n: int


def train_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    num_buckets: int | None = 10_000,
    ngram_n: int = 2,
) -> DSIRModel:
    """Estimate the target / raw feature distributions →
    :class:`DSIRModel`.

    One union + explode + map-side-combined groupBy; the output is
    feature-space-bounded. ``raw`` may (and at 100 TB should) be a
    sample of the pool — the estimator needs q̂'s shape, not every
    row. NULL texts contribute nothing on either side.
    """
    sides = []
    for df, flag in ((target, 1), (raw, 0)):
        sides.append(
            df.select(
                F.explode(
                    doc_features(text_col, ngram_n, num_buckets)
                ).alias("feature"),
                F.lit(flag).alias("__is_target"),
            )
        )
    counts = (
        sides[0]
        .unionByName(sides[1])
        .groupBy("feature")
        .agg(
            F.count_if(F.col("__is_target") == 1).alias("n_target"),
            F.count_if(F.col("__is_target") == 0).alias("n_raw"),
        )
    )
    return DSIRModel(counts=counts, num_buckets=num_buckets, ngram_n=ngram_n)


def merge_dsir_models(a: DSIRModel, b: DSIRModel) -> DSIRModel:
    """Merge two models trained on disjoint shards into exactly the
    joint-retrain model — per-feature counts are sufficient
    statistics, so this is one feature-space-bounded outer-join sum.
    """
    if (a.num_buckets, a.ngram_n) != (b.num_buckets, b.ngram_n):
        raise ValueError(
            "cannot merge DSIR models with different featurization: "
            f"{(a.num_buckets, a.ngram_n)} vs {(b.num_buckets, b.ngram_n)}"
        )
    ca = a.counts.select(
        "feature",
        F.col("n_target").alias("ta"),
        F.col("n_raw").alias("ra"),
    )
    cb = b.counts.select(
        "feature",
        F.col("n_target").alias("tb"),
        F.col("n_raw").alias("rb"),
    )
    merged = ca.join(cb, "feature", "full_outer").select(
        "feature",
        (
            F.coalesce(F.col("ta"), F.lit(0)) + F.coalesce(F.col("tb"), F.lit(0))
        ).alias("n_target"),
        (
            F.coalesce(F.col("ra"), F.lit(0)) + F.coalesce(F.col("rb"), F.lit(0))
        ).alias("n_raw"),
    )
    return DSIRModel(
        counts=merged, num_buckets=a.num_buckets, ngram_n=a.ngram_n
    )


def score_dsir(
    docs: DataFrame,
    model: DSIRModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document log importance weight under ``model`` →
    ``(id_col, log_importance, n_features)``.

    ``log_importance = Σ_f c_f(doc) · (ln p̂(f) − ln q̂(f))`` with
    add-``alpha`` smoothing; features absent from the model contribute
    through the same expression with count 0 (a per-occurrence
    constant). Rounded to 6 so summation order can't leak ULPs into
    comparisons.

    One corpus pass: explode → broadcast join against the
    feature-space-bounded weight table (set ``broadcast_model=False``
    only for exact-mode models whose observed vocabulary outgrows a
    broadcast) → one map-side-combined per-document sum. Documents
    with no features (NULL or token-free text) are absent from the
    result — they carry no evidence either way; resample from the
    scored frame.
    """
    # materialize the weight table on first use: the totals collect
    # below materializes it as part of work it does anyway, and the
    # scoring join then reads the pinned rows instead of re-running
    # the target+raw corpus feature aggregations (policy + measured
    # comparison in plans.modelframe). Feature-space-bounded (hashed
    # buckets or observed vocab) — nothing corpus-sized is pinned.
    from sparvi_core_spark.plans.modelframe import materialize_model_frame

    counts_ck = materialize_model_frame(model.counts)
    totals = counts_ck.agg(
        F.sum("n_target").alias("t"),
        F.sum("n_raw").alias("r"),
        (
            F.count(F.lit(1))
            if model.num_buckets is None
            else F.lit(model.num_buckets).cast("long")
        ).alias("d"),
    ).collect()[0]
    n_t, n_r, d = (int(totals[c] or 0) for c in ("t", "r", "d"))
    if n_t == 0 or n_r == 0:
        raise ValueError(
            "DSIR model has an empty side "
            f"(target={n_t}, raw={n_r} feature occurrences)"
        )
    # per-occurrence constant: the smoothing denominators
    const = math.log(n_r + alpha * d) - math.log(n_t + alpha * d)
    # Arrow scoring kernel (round 12): with a broadcastable hashed
    # model the explode × broadcast-join × groupBy pipeline
    # materializes one row per word 1..n-gram occurrence just to look
    # each bucket up and add a weight — the same guide-§4.2 shape the
    # NB scorer moved off in round 11. Bit-identical by construction
    # (see the kernel docstring); exact-mode models (string features)
    # and non-broadcast models keep the join shape.
    if (
        broadcast_model
        and model.num_buckets is not None
        and model.num_buckets <= _HASHED_KERNEL_MAX_D
    ):
        raw = _score_dsir_per_doc_arrow(
            docs, counts_ck, id_col, text_col, alpha, const,
            int(model.num_buckets), int(model.ngram_n),
        )
        return raw.select(
            id_col,
            F.round(F.col("__raw_li"), 6).alias("log_importance"),
            "n_features",
        )
    feats = docs.select(
        F.col(id_col),
        F.explode(
            doc_features(text_col, model.ngram_n, model.num_buckets)
        ).alias("feature"),
    )
    counts = (
        F.broadcast(counts_ck) if broadcast_model else counts_ck
    )
    per_occ = (
        F.log(F.coalesce(F.col("n_target"), F.lit(0)) + F.lit(float(alpha)))
        - F.log(F.coalesce(F.col("n_raw"), F.lit(0)) + F.lit(float(alpha)))
        + F.lit(const)
    )
    return (
        feats.join(counts, "feature", "left")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(per_occ), 6).alias("log_importance"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )


def importance_resample(
    scores: DataFrame,
    n: int,
    weight_col: str = "log_importance",
    seed: int = 42,
    greedy: bool = False,
) -> DataFrame:
    """Draw ``n`` rows without replacement with probability ∝
    ``exp(weight_col)`` — the Gumbel top-k trick: each row keys on
    ``weight + Gumbel(0,1)`` and the global top n by key is exactly a
    weighted sample without replacement. ``greedy=True`` skips the
    noise and takes the top n by weight (deterministic hard
    selection). NULL weights never win (NULLS LAST under descending
    order in Spark).

    ``orderBy().limit(n)`` compiles to TakeOrderedAndProject — a
    per-partition heap of n + a driver merge, never a full sort
    shuffle; ``n`` must fit on the driver, which is the same contract
    as any ``limit``. As with every ``F.rand`` sampler in this
    package, the draw is deterministic for a fixed seed AND a fixed
    input partitioning.
    """
    if greedy:
        key = F.col(weight_col)
    else:
        u = F.greatest(F.rand(seed), F.lit(1e-300))
        key = F.col(weight_col) + -F.log(-F.log(u))
    return (
        scores.withColumn("__key", key)
        .orderBy(F.desc("__key"))
        .limit(n)
        .drop("__key")
    )


def select_corpus(
    docs: DataFrame,
    model: DSIRModel,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    seed: int = 42,
    greedy: bool = False,
) -> DataFrame:
    """Score + resample + keep: the one-call DSIR selection. Returns
    the selected ``docs`` rows (all original columns) with
    ``log_importance`` attached. The semi-join side is the n selected
    ids — n is caller-bounded, so AQE broadcasts it whenever it fits.
    """
    scores = score_dsir(
        docs, model, id_col=id_col, text_col=text_col, alpha=alpha
    )
    picked = importance_resample(scores, n, seed=seed, greedy=greedy)
    return docs.join(
        picked.select(id_col, "log_importance"), id_col, "inner"
    )


def filter_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    weight_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Attrition curve for a score-based filter: for every candidate
    threshold, how many documents (and how much ``weight_col`` mass —
    tokens, bytes) would survive ``score ≥ t`` (or ``≤ t`` with
    ``descending=False``). The threshold-calibration step run before
    committing a quality/perplexity/classifier cutoff — pick the knee
    instead of guessing (every published pipeline reports exactly this
    table: C4's ~⅔ drop, Gopher's per-rule attrition).

    Returns one row per threshold: ``(threshold, docs_kept, doc_frac,
    weight_kept, weight_frac)`` — ``weight_*`` NULL when no
    ``weight_col``. NULL scores survive no threshold (a filter can't
    pass what it can't score) but DO count in the denominators, so the
    fractions reflect true corpus attrition. Fractions rounded to 4.

    Scale shape — ONE corpus pass regardless of len(thresholds): each
    row maps to the count of thresholds it passes (a bucket index, via
    a size(filter(literal_array)) expression), one map-side-combined
    groupBy over ≤ len(thresholds)+1 bucket rows, then the cumulative
    "≥ bucket" sums run in a window over that tiny frame. No explode
    (a row×T blowup would scan T× the corpus mass), no per-threshold
    jobs, no Python.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted(set(float(t) for t in thresholds))
    t_arr = F.array(*[F.lit(t) for t in ts])
    score = F.col(score_col)
    # bucket = number of thresholds this row passes; NULL score → 0
    if descending:
        passed = F.size(F.filter(t_arr, lambda t: score >= t))
    else:
        passed = F.size(F.filter(t_arr, lambda t: score <= t))
    bucket = F.when(score.isNull(), F.lit(0)).otherwise(passed)

    w = F.col(weight_col) if weight_col else F.lit(None).cast("double")
    per_bucket = (
        df.select(bucket.alias("bucket"), w.alias("w"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("wsum"),
        )
    )
    # survivors of threshold rank r (1-based into ts ascending) are the
    # rows whose bucket ≥ (len(ts) - r + 1) for descending (passing the
    # r-th smallest implies passing all smaller); mirror for ascending.
    from pyspark.sql import Window

    win = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_bucket.withColumns(
        {
            "cum_n": F.sum("n").over(win),
            "cum_w": F.sum("wsum").over(win),
        }
    )
    totals = df.select(
        F.count(F.lit(1)).alias("t_n"),
        (F.sum(w) if weight_col else F.max(w)).alias("t_w"),
    )
    # threshold → required pass-count. Descending: surviving the i-th
    # smallest threshold implies surviving every smaller one, so a row
    # passes t_i iff its pass-count ≥ i+1. Ascending (score ≤ t):
    # surviving t_i implies surviving every LARGER one → need = len-i.
    need = df.sparkSession.createDataFrame(
        [
            (t, i + 1 if descending else len(ts) - i)
            for i, t in enumerate(ts)
        ],
        "threshold double, need int",
    )
    # cum_n at bucket b counts rows with pass-count ≥ b, but only
    # observed bucket values exist — take cum at the SMALLEST observed
    # bucket ≥ need (left join: no such bucket → nothing survives)
    picked = need.join(
        cum, cum["bucket"] >= need["need"], "left"
    ).groupBy("threshold").agg(
        F.min_by(F.struct("cum_n", "cum_w"), F.col("bucket")).alias("best"),
    )
    out = (
        picked.crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            F.coalesce(F.col("best.cum_n"), F.lit(0)).alias("docs_kept"),
            F.round(
                F.coalesce(F.col("best.cum_n"), F.lit(0))
                / F.greatest(F.col("t_n"), F.lit(1)),
                4,
            ).alias("doc_frac"),
            (
                F.coalesce(F.col("best.cum_w"), F.lit(0.0))
                if weight_col
                else F.col("best.cum_w")
            ).alias("weight_kept"),
            F.round(
                (
                    F.coalesce(F.col("best.cum_w"), F.lit(0.0))
                    if weight_col
                    else F.col("best.cum_w")
                )
                / F.col("t_w"),
                4,
            ).alias("weight_frac"),
        )
        .orderBy("threshold")
    )
    return out
