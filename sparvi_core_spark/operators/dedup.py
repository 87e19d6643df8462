"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (its only dedup is the full-row
duplicate-group count, ``profile_engine.py:100-123``): exact dedup,
MinHash+LSH near-dedup, SimHash, and n-gram Jaccard — the operators an
LLM-training-data pipeline needs at 100 TB.

Design notes (Spark-first):
- Everything is DataFrame expressions (split/transform/explode/groupBy/
  join) — JVM-side, whole-stage codegen, no Python UDFs.
- Hashes are ``md5`` over strings so results are engine-portable and
  deterministic (lexicographic min over hex digests ≡ min over a 128-bit
  hash family member; seeds are prefixed to get independent family
  members). This is what makes the DuckDB oracle parity checkable.
- The LSH band join is the scale path: candidate generation is
  ``O(docs × bands)`` shuffle keyed by band hash, never all-pairs.
  Skewed buckets (degenerate band keys, e.g. empty docs) are capped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(F.col(text_col), " ")


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) pairs: word n-gram shingles, docs with < n words drop out.

    Built by ``zip_with`` over shifted ``slice``s of the token array —
    NOT by indexed ``transform(sequence, i -> tokens[i+j])``, which
    re-inlines the ``split`` into every element access and goes
    quadratic in document length (measured: ~8 s for 500 long docs vs
    ~1 s with slices).
    """
    toks = tokens_col(text_col)
    m = F.size(toks) - (n - 1)  # number of shingles
    acc = F.slice(toks, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return (
        df.filter(F.size(toks) >= n)
        .select(F.col(id_col).alias("id"), F.explode(acc).alias("shingle"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: columns ``id, h0..h{K-1}``.

    One explode + one groupBy (single shuffle); the K family members are
    K min-aggregates over the same exploded shingles — map-side partial
    mins keep the shuffle tiny regardless of corpus size.
    """
    sh = shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def solve_lsh_bands(
    threshold: float,
    num_hashes: int,
    false_negative_weight: float = 1.0,
) -> tuple[int, int]:
    """Pick (bands, rows_per_band) for a target Jaccard threshold.

    The probability a pair with Jaccard s becomes an LSH candidate is
    ``1 - (1 - s^rows)^bands``; the S-curve's midpoint sits near
    ``(1/bands)^(1/rows)``. Enumerate the divisors of ``num_hashes``
    and pick the banding whose midpoint lands closest to ``threshold``
    (weighting ``false_negative_weight`` > 1 biases toward catching
    more true pairs at the cost of more candidates to verify).

    Driver-side arithmetic only — call once before building the plan.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best: tuple[float, int, int] | None = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        midpoint = (1.0 / bands) ** (1.0 / rows)
        err = midpoint - threshold
        # midpoint ABOVE threshold → pairs at the threshold collide with
        # <50% probability → false negatives; weight that side
        cost = abs(err) * (false_negative_weight if err > 0 else 1.0)
        if best is None or cost < best[0]:
            best = (cost, bands, rows)
    assert best is not None
    return best[1], best[2]


def _band_hashes(signatures: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bkey) rows: md5 over each band's signature slice."""
    rows = num_hashes // bands
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)]))
        for b in range(bands)
    ]
    return signatures.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_cols[b].alias("bkey"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:  # noqa: D401
    """Banded LSH over a signature frame → candidate (id_a, id_b) pairs.

    Docs agreeing on ALL rows of any band collide. The join is keyed by
    (band index, band hash); ``max_bucket`` drops degenerate buckets
    (banding a skewed corpus can produce a bucket holding a large
    fraction of all docs — a quadratic blow-up at scale).
    """
    banded = _band_hashes(signatures, num_hashes, bands)
    counts = banded.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
    banded = banded.join(
        F.broadcast(counts.filter(F.col("n") > max_bucket)),
        ["band", "bkey"],
        "left_anti",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates filtered by estimated Jaccard
    (fraction of agreeing minhashes) ≥ threshold.

    Returns (id_a, id_b, est_jaccard). The signature frame is computed
    once and reused for both candidate generation and verification.
    ``bands=None`` solves the banding from the threshold
    (``solve_lsh_bands``) so the LSH S-curve midpoint tracks the
    requested threshold instead of a fixed 4-band default.
    """
    if bands is None:
        bands, _rows = solve_lsh_bands(threshold, num_hashes)
    # the signature frame is consumed three times (banding + both sides
    # of the verification join) — materialize it once; it's tiny
    # (docs x K hashes) relative to the corpus
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n).localCheckpoint()
    pairs = lsh_candidate_pairs(sig, num_hashes, bands)
    a = sig.alias("sa")
    b = sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.h{k}") == F.col(f"sb.h{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )
    return (
        pairs.join(a, pairs.id_a == F.col("sa.id"))
        .join(b, pairs.id_b == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    candidates: DataFrame | None = None,
    metric: str = "jaccard",
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard over candidate pairs.

    ``shingle_frame``: a precomputed distinct ``(id, shingle)`` frame
    for ``df`` (internal sharing hook — ``allpairs_jaccard_pairs``
    passes one frame to candidate generation and verification so the
    corpus is shingled once).

    ``metric="containment"`` swaps the score for max-containment
    ``|A∩B| / min(|A|, |B|)`` (the output column is named after the
    metric): a short document wholly quoted inside a long one scores
    1.0 here but near-zero Jaccard — the asymmetric-duplicate case
    (quotes, aggregator pages, doc-in-doc boilerplate) a symmetric
    threshold structurally misses. Candidate generation is unchanged —
    shared-shingle (or LSH) candidates, the same Σ df² guards — so the
    one blind spot vs Jaccard mode is unchanged too, and the score
    stays exact over the full shingle sets.

    The shared-shingle self-join fans out as Σ df(shingle)² — one
    ubiquitous shingle is quadratic at corpus scale. Two guards, on by
    default:

    - ``max_doc_freq``: shingles appearing in more than this many
      documents are excluded from *candidate generation* (stop-shingle
      cap — they dominate the fan-out). Jaccard itself is still
      computed over the FULL shingle sets, so reported values are
      exact. Mass-duplicated boilerplate (>``max_doc_freq`` copies of
      one template) turns EVERY shingle of those docs into a
      stop-shingle — exactly the docs most worth deduping — so docs
      left with zero sub-cap shingles get a rescue pass: grouped by a
      signature of their full shingle set, each doc is paired to its
      group's min-id representative with jaccard = 1.0 (a star, not a
      clique: linear output, and connected components reconstructs the
      full cluster). Remaining blind spot, by construction: pairs that
      share only stop-shingles WITHOUT identical shingle sets (e.g. an
      all-stop doc vs a near-copy with one extra rare shingle) are not
      candidates here — use the ``candidates`` path (LSH is frequency-
      blind) when that recall matters.
    - ``candidates``: an (id_a, id_b) frame (e.g. from
      ``lsh_candidate_pairs``) to verify instead of self-joining at
      all — the 100 TB path.

    Note: two paths are mildly eager. The capped path materializes the
    (small) stop-shingle list and checks its emptiness so benign
    corpora pay zero rescue overhead. The ``candidates`` path runs an
    eager ``localCheckpoint()`` of the candidate frame (it has two
    consumers), so the candidate generation runs at call time. Only the
    uncapped self-join path stays fully lazy.
    """
    # materialize the distinct-shingle frame on first use (lazy local
    # checkpoint): sizes, doc frequencies, both self-join sides and
    # the stop-shingle add-backs all consume it, and leaving it lazy
    # re-ran the explode + distinct SHUFFLE per consumer (measured: 16
    # scans of the corpus in one ngram_jaccard plan, zero exchange
    # reuse). The pinned frame is token-grain and disk-spillable — the
    # price of one shuffle instead of up to six.
    if shingle_frame is not None:
        sh = shingle_frame
    else:
        sh = shingles(df, id_col, text_col, n).distinct().localCheckpoint(
            eager=False
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        # LSH-then-verify path: exact shared count over ALL shingles,
        # cost bounded by |candidates| × shingles-per-doc.
        #
        # Verification scope (round 12): the candidate frame is
        # PAIR-bounded (true near-dups + the filter's false positives)
        # while the shingle frame carries the corpus's token mass.
        # Semi-filter the shingle frame to candidate documents before
        # the intersection joins and the size aggregate, so everything
        # downstream — join probes, shuffles, the n_sh agg state —
        # processes candidate-doc mass instead of the corpus (value-
        # preserving: per-id shingle sets are untouched). The
        # candidates are materialized once because the semi-filter
        # adds a second consumer (the id list) — leaving them lazy
        # would re-run the whole LSH/prefix candidate generation.
        # Join strategies are deliberately NOT hinted: forcing
        # broadcasts here measured SLOWER than letting AQE pick from
        # the runtime sizes (hinted 3.83 s vs unhinted 2.54 s at
        # sf0.1 in an interleaved A/B — a forced broadcast build of
        # the verification aggregate serializes what AQE overlaps).
        cand = candidates.localCheckpoint()
        cand_ids = (
            cand.select(F.col("id_a").alias("id"))
            .unionByName(cand.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh_v = sh.join(cand_ids, "id", "left_semi")
        sizes = sh_v.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        ca = sh_v.alias("ca")
        cb = sh_v.alias("cb")
        inter = (
            cand.join(ca, F.col("id_a") == F.col("ca.id"))
            .join(
                cb,
                (F.col("id_b") == F.col("cb.id"))
                & (F.col("ca.shingle") == F.col("cb.shingle")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    elif max_doc_freq is None:
        # uncapped: one self-join + count — single aggregation pass
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        # capped: self-join only over sub-cap shingles (bounds the
        # Σ df(shingle)² fan-out), counting shared rare shingles in the
        # same pass; then add back each surviving pair's shared
        # STOP-shingle count — stop-shingles per doc are few, and the
        # add-back join fans out by that small factor only — so
        # reported jaccard stays exact over the full shingle sets.
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        # stop is small by construction (df > cap) and consumed by up to
        # three broadcasts below — materialize it once; the emptiness
        # check (one driver action over the checkpointed frame) lets a
        # benign corpus skip the whole rescue sub-plan.
        # Cost, accepted deliberately: the capped path is EAGER — the
        # localCheckpoint + isEmpty below run a full shingle scan and
        # doc-frequency groupBy at DataFrame-CONSTRUCTION time, and the
        # checkpointed blocks are retained for the session (release via
        # SparkContext cleaner / session stop). The alternative — gating
        # the rescue purely in the plan — keeps construction lazy but
        # pays the rescue sub-plan's joins on every benign corpus;
        # measured, the eager probe is the cheaper trade (SCALE.md).
        stop = (
            dfreq.filter(F.col("df") > max_doc_freq)
            .select("shingle")
            .localCheckpoint()
        )
        has_stop = not stop.isEmpty()
        rare = sh.join(F.broadcast(stop), "shingle", "left_anti")
        a = rare.alias("a")
        b = rare.alias("b")
        inter_rare = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared_rare"))
        )
        stop_sh = sh.join(F.broadcast(stop), "shingle", "left_semi")
        sa_ = stop_sh.alias("ssa")
        sb_ = stop_sh.alias("ssb")
        stop_shared = (
            inter_rare.select("id_a", "id_b")
            .join(sa_, F.col("id_a") == F.col("ssa.id"))
            .join(
                sb_,
                (F.col("id_b") == F.col("ssb.id"))
                & (F.col("ssa.shingle") == F.col("ssb.shingle")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_stop"))
        )
        inter = (
            inter_rare.join(stop_shared, ["id_a", "id_b"], "left")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("shared_rare")
                    + F.coalesce(F.col("shared_stop"), F.lit(0))
                ).alias("shared"),
            )
        )
        # mass-duplicate rescue: docs whose every shingle is a
        # stop-shingle (boilerplate with >max_doc_freq copies) produce
        # no rare rows and would get no candidates at all. Group them
        # by an order-insensitive signature of the full shingle set and
        # star-pair each to the group's min-id representative: identical
        # sets → shared = |set| → jaccard exactly 1.0. collect_list is
        # bounded per doc (its own shingles), never per corpus. The
        # whole sub-plan only exists when stop-shingles do.
        if has_stop:
            all_stop = sizes.join(rare.select("id"), "id", "left_anti")
            setsigs = (
                sh.join(all_stop.select("id"), "id", "left_semi")
                .groupBy("id")
                .agg(
                    F.md5(
                        F.concat_ws("\x1f", F.array_sort(F.collect_list("shingle")))
                    ).alias("setsig"),
                    F.count(F.lit(1)).alias("set_n"),
                )
            )
            reps = setsigs.groupBy("setsig").agg(F.min("id").alias("rep"))
            rescue = (
                setsigs.join(reps, "setsig")
                .filter(F.col("id") != F.col("rep"))
                .select(
                    F.col("rep").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.col("set_n").alias("shared"),
                )
            )
            inter = inter.unionByName(rescue)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    if metric == "jaccard":
        score = F.col("shared") / (
            F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("shared")
        )
    elif metric == "containment":
        score = F.col("shared") / F.least(
            F.col("sa.n_sh"), F.col("sb.n_sh")
        )
    else:
        raise ValueError(
            f"metric must be 'jaccard' or 'containment', got {metric!r}"
        )
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", score.alias(metric))
        .filter(F.col(metric) >= threshold)
    )


def allpairs_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """LOSSLESS prefix-filter candidate pairs for Jaccard ≥ threshold
    (the AllPairs / SSJoin primitive — Bayardo et al. WWW'07,
    Chaudhuri et al. ICDE'06): every true pair is a candidate, by
    construction, with no tuning knob to get wrong. The probabilistic
    alternative (``lsh_candidate_pairs``) trades recall for cost; this
    is the exact-recall tier for high thresholds, where prefixes are
    short and the join stays small.

    How: order each doc's shingle set by GLOBAL rarity (document
    frequency asc, shingle asc — one total order for the corpus);
    Jaccard ≥ t forces |A∩B| ≥ t·max(|A|,|B|), so a pair must share at
    least one shingle among the first ``|x| - ⌈t·|x|⌉ + 1`` of each
    side (sharing none leaves at most ⌈t·|x|⌉ - 1 < t·|x| shared). The
    join is keyed on those prefix shingles only, plus the length
    filter ``min ≥ ⌈t·max⌉`` riding the join condition.

    Scale: one shingle-keyed equi-join (df lookup), one per-doc
    aggregate (sort is per-doc, bounded by doc length), then an
    equi-join whose fan-out is Σ over PREFIX tokens of df_prefix² —
    prefixes prefer the corpus's rarest tokens, which is the whole
    point of the global order. The adversarial case (a token rare
    overall but ubiquitous in prefixes ⇒ a mass-duplicated doc) blows
    up only when the TRUE result is itself quadratic (those docs all
    pair with each other), so the fan-out tracks output size, not
    wasted work. Positional/suffix refinements (PPJoin/PPJoin+) are
    deliberately omitted: verification is exact and cheap over these
    candidates.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # materialized on first use for the same reason as in
    # ngram_jaccard_pairs: doc frequencies, the rarity join and both
    # prefix sides would otherwise each re-run the explode + distinct
    if shingle_frame is not None:
        sh = shingle_frame
    else:
        sh = shingles(df, id_col, text_col, n).distinct().localCheckpoint(
            eager=False
        )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("ordered")
        )
    )
    size = F.size("ordered")
    plen = (size - F.ceil(F.lit(threshold) * size) + 1).cast("int")
    prefix = ordered.select(
        "id",
        size.alias("n_sh"),
        F.explode(F.slice("ordered", F.lit(1), plen)).alias("p"),
    ).select("id", "n_sh", F.col("p.shingle").alias("shingle"))
    a = prefix.alias("pa")
    b = prefix.alias("pb")
    t = F.lit(threshold)
    return (
        a.join(
            b,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.id") < F.col("pb.id"))
            & (F.col("pb.n_sh") >= F.ceil(t * F.col("pa.n_sh")))
            & (F.col("pa.n_sh") >= F.ceil(t * F.col("pb.n_sh"))),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )


def allpairs_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold with LOSSLESS candidate
    generation — identical output to the brute-force shingle self-join
    (pinned in tests and the DuckDB pair) at prefix-join cost. Use
    this when missed duplicates are unacceptable (decontamination,
    licensing screens); use the LSH route when approximate recall is
    an acceptable trade for the lower candidate volume at mid
    thresholds."""
    # shingle the corpus ONCE: candidate generation and exact
    # verification share the same materialized frame
    sh = shingles(df, id_col, text_col, n).distinct().localCheckpoint(
        eager=False
    )
    cands = allpairs_candidates(
        df, id_col, text_col, n, threshold, shingle_frame=sh
    )
    return ngram_jaccard_pairs(
        df, id_col, text_col, n, threshold, candidates=cands,
        shingle_frame=sh,
    )


def _simhash_kernel(id_col: str, text_col: str, bits: int):
    """mapInPandas kernel for :func:`simhash` — exact replication of
    the former expression pipeline, verified by whole-corpus A/B:

    * tokens: ``split(text, " ")`` on the literal space, empties
      dropped; NULL text or zero surviving tokens → the doc emits no
      row (explode semantics);
    * token hash: md5 of the UTF-8 bytes, first ``bits/4`` hex chars
      (> 32 bits: the first 16 hex chars as one 64-bit value — the
      two ``conv`` halves of the old plan);
    * bit b of the simhash is set iff more than half the tokens have
      token-hash bit b set (the sign of Σ±1), and bit 63 is the
      two's-complement sign bit.

    All integer arithmetic — no float anywhere, so there is no
    rounding boundary to drift across.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    nbytes = 8 if bits > 32 else (bits // 8 if bits % 8 == 0 else None)
    nbits = nbytes * 8 if nbytes is not None else bits

    def fn(batches):
        for pdf in batches:
            ids: list = []
            sims: list = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in text.split(" ") if t]
                T = len(toks)
                if T == 0:
                    continue
                if nbytes is not None:
                    buf = b"".join(
                        hashlib.md5(t.encode("utf-8")).digest()[:nbytes]
                        for t in toks
                    )
                    bm = np.unpackbits(
                        np.frombuffer(buf, dtype=np.uint8).reshape(T, nbytes),
                        axis=1,
                    )
                    # unpackbits is MSB-first: column j holds bit
                    # (nbits-1-j) — reverse so counts[b] = tokens with
                    # token-hash bit b set
                    counts = bm.sum(axis=0)[::-1]
                else:  # bits not byte-aligned: per-token hex prefix
                    nhex = bits // 4
                    counts = [0] * bits
                    for t in toks:
                        v = int(
                            hashlib.md5(t.encode("utf-8")).hexdigest()[:nhex],
                            16,
                        )
                        for b in range(bits):
                            counts[b] += (v >> b) & 1
                u = 0
                for b in range(bits):
                    if 2 * int(counts[b]) > T:
                        u |= 1 << b
                if bits > 63 and (u >> 63) & 1:
                    u -= 1 << 64  # two's-complement sign bit
                ids.append(doc_id)
                sims.append(u)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype=pdf[id_col].dtype),
                    "simhash": pd.Series(sims, dtype="int64"),
                }
            )

    return fn


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """Per-doc SimHash over tokens → (id, simhash BIGINT).

    Token hash = first ``bits/4`` hex chars of md5 (64-bit default —
    32-bit birthday-collides on a 100 TB corpus). Bit b of the simhash
    is the sign of Σ_tokens (±1 by token-hash bit b).

    Implementation (round 11): an Arrow-batched ``mapInPandas`` kernel
    (:func:`_simhash_kernel`) — one pass, zero shuffles, and only
    (id, simhash) rows cross the Python boundary. The previous
    expression pipeline (explode + one conditional-sum aggregate per
    bit) produced a 64-aggregate plan whose ANALYSIS alone cost ~2 s
    per invocation at any data size; the kernel's plan is three nodes.
    Output is bit-identical (same md5/threshold/sign semantics,
    integer-only arithmetic — see the kernel docstring). One row per
    input row carrying text/tokens: callers own id uniqueness, as with
    the other per-doc operators.
    """
    idt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        _simhash_kernel(id_col, text_col, bits),
        schema=f"id {idt}, simhash bigint",
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking: split the simhash into ``max_hamming+1`` chunks — any pair
    within distance k agrees on ≥1 chunk (pigeonhole). Join per chunk,
    then verify exact popcount. Avoids all-pairs at scale.
    """
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sh = simhash(df, id_col, text_col, bits)
    mask = (1 << chunk_bits) - 1
    blocked = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND(mask)
                    .alias("ckey"),
                )
                for c in range(chunks)
            ])
        ).alias("cc"),
    ).select("id", "simhash", "cc.chunk", "cc.ckey")
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    raise_on_nonconverged: bool = True,
    strategy: str = "label",
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster), where
    cluster = min doc id reachable through the pair graph (the survivor
    every other member dedups onto).

    ``strategy="label"`` (default): iterative min-label propagation —
    each round every node takes the min of its own and its neighbors'
    labels, converging in graph-diameter rounds. Near-dup clusters are
    almost always tiny cliques (diameter 1-2), so this is the cheapest
    route for the common case: one join + one agg per round;
    ``localCheckpoint`` truncates lineage so plans don't grow across
    iterations. This is the standard Spark CC shape without a graph
    library dependency.

    ``strategy="star"``: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — converges in O(log² n) rounds REGARDLESS of component
    diameter, because each round rewires edges toward the component
    minimum multiplicatively rather than one hop at a time. Use it when
    the pair graph's shape is unknown or adversarial (transitive
    near-dup CHAINS — template drift, shingled crawls — where diameter
    ≈ component size and label propagation would need one round per
    link). Identical output to ``"label"``; each round costs ~2 extra
    shuffles, which is why it isn't the default for clique-shaped input.

    Labels propagate one hop per round under ``"label"``, so a component
    whose diameter exceeds ``max_iter`` (a pathological near-dup CHAIN,
    not a clique) would exit the loop with wrong, unconverged labels.
    That is never returned silently: by default a ``RuntimeError`` tells
    the caller to raise ``max_iter`` (or switch to ``strategy="star"``);
    ``raise_on_nonconverged=False`` downgrades to a ``RuntimeWarning``
    for callers that prefer best-effort labels.
    """
    if strategy == "star":
        return _dedup_clusters_star(pairs, max_iter, raise_on_nonconverged)
    if strategy != "label":
        raise ValueError(f"unknown strategy {strategy!r}: 'label' or 'star'")
    from pyspark.sql import Observation

    # Round-cost shape (measured sf0.1, guide §2.6/§1.2): the previous
    # loop paid 3 exchanges + 2 driver jobs per round (nbr join +
    # groupBy, a left-join update, the checkpoint job, then a separate
    # changed-count job). Three equivalent-output restructures:
    # * round 1 fuses into initialization — label₁(u) = min({u} ∪ Γ(u))
    #   is ONE aggregate over the edge list, replacing the identity-
    #   label init plus the first full round;
    # * the per-round update is union + min-aggregate instead of
    #   join-back (min over own ∪ neighbor labels — same fixpoint
    #   recurrence, one fewer exchange);
    # * convergence rides an observe() metric on the checkpoint job:
    #   labels only ever DECREASE (least of old and candidates), so an
    #   unchanged per-round label digest is pointwise convergence — no
    #   second job. For INTEGRAL ids the digest is the exact
    #   decimal(38,0) label sum (strictly decreasing while labels
    #   change — deterministic; bigint ids cannot overflow it at any
    #   corpus size). For every other id type (strings, floats,
    #   fractional decimals) the sum is not usable — casting a string
    #   to decimal throws under ANSI mode (NULLs into false convergence
    #   otherwise), and a float or fractional-decimal cast rounds two
    #   distinct labels onto one value (8.6 and 9.4 both read 9) — so
    #   the digest is the exact-decimal sum of xxhash64(id, label):
    #   an unchanged digest with ≥1 changed label needs hash deltas
    #   that cancel exactly (~2⁻⁶⁴/round — the collision class the
    #   star strategy's edge digest and the md5 banding already
    #   accept). The row count rides the same observe so emptiness
    #   never reads through a NULL sum.
    # Duplicate edges are harmless to a min-aggregate, so the old
    # edge-set .distinct() shuffle is dropped too.
    from pyspark.sql import types as T

    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    id_type = edges.schema["a"].dataType
    integral_ids = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (isinstance(id_type, T.DecimalType) and id_type.scale == 0)
    _digest = (
        F.col("label") if integral_ids else F.xxhash64(F.col("id"), F.col("label"))
    )
    _metrics = (
        F.count(F.lit(1)).alias("n"),
        F.sum(_digest.cast("decimal(38,0)")).alias("s"),
    )
    obs = Observation()
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("id"), "label")
        .observe(obs, *_metrics)
        .localCheckpoint()
    )
    prev_sum = obs.get["s"]
    # empty pair set: the fused round 1 already "ran" on nothing — the
    # old loop's first round converged immediately on the same input
    converged = int(obs.get["n"]) == 0
    for _ in range(max_iter - 1):
        if converged:
            break
        cand = edges.join(labels, edges["b"] == labels["id"]).select(
            F.col("a").alias("id"), "label"
        )
        obs = Observation()
        labels = (
            labels.unionByName(cand)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .observe(obs, *_metrics)
            .localCheckpoint()
        )
        cur_sum = obs.get["s"]
        if cur_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        msg = (
            f"dedup_clusters did not converge within max_iter={max_iter} "
            "rounds: a component's diameter exceeds the round budget and "
            "the returned labels would be wrong. Raise max_iter (rounds "
            "needed = longest chain in the pair graph)."
        )
        if raise_on_nonconverged:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("cluster"))


def _dedup_clusters_star(
    pairs: DataFrame, max_iter: int, raise_on_nonconverged: bool
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., SoCC 2014).

    Edge state is the canonical set ``(a, b)`` with ``a > b`` — every
    edge points from a node to a smaller one. One round:

    - **large-star** (on the symmetrized neighborhoods): for each node
      ``u`` let ``m = min({u} ∪ Γ(u))``; connect every strictly LARGER
      neighbor ``v > u`` to ``m``. Larger neighbors skip over ``u``
      straight to its current minimum — the multiplicative hop that
      gives the O(log² n) bound.
    - **small-star** (on the directed ``a → smaller b`` lists): for each
      ``u`` let ``m = min`` of its smaller neighbors; rewire ``u`` and
      every other smaller neighbor onto ``m`` — flattens local chains
      into stars.

    Convergence = the edge set reaches the round operator's fixed point,
    detected by (count, Σ xxhash64(a, b)) equality — two scalars from
    one aggregate, never a set-compare join. At the fixed point the
    graph is a union of stars rooted at component minima, so the edges
    ARE the labeling: ``(child, root)`` rows read off directly, roots
    (and self-loop-only nodes) label themselves via the node-list
    left join.
    """
    e = (
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("a"),
            F.least(F.col("id_a"), F.col("id_b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
    ).distinct()

    def _sig(df: DataFrame) -> tuple:
        # xor-fold, not sum: ANSI mode would overflow a long sum, and
        # the edge set is distinct so xor is an order-free set digest
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("chk"),
        ).first()
        return (row["n"], row["chk"])

    sig = _sig(e)
    converged = sig[0] == 0
    for _ in range(max_iter):
        if converged:
            break
        # large-star over symmetrized neighborhoods
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(
            F.least(F.first("a"), F.min("b")).alias("m")
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))  # strictly larger neighbors
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the (a → smaller b) lists: u and all its
        # smaller neighbors rewire onto the smallest of them
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            mins2.select("a", F.col("m").alias("b"))
            .unionByName(
                large.join(mins2, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
            )
            .distinct()
            .localCheckpoint()
        )
        new_sig = _sig(small)
        converged = new_sig == sig
        sig, e = new_sig, small
    if not converged:
        msg = (
            f"dedup_clusters(strategy='star') did not converge within "
            f"max_iter={max_iter} rounds — at O(log² n) convergence this "
            "means an extraordinarily large component or a malformed "
            "pair graph. Raise max_iter."
        )
        if raise_on_nonconverged:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    children = e.select(F.col("a").alias("id"), F.col("b").alias("cluster"))
    return nodes.join(children, "id", "left").select(
        "id", F.coalesce(F.col("cluster"), F.col("id")).alias("cluster")
    )


def novelty_filter(
    new_docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.8,
    reference_signatures: DataFrame | None = None,
    max_bucket: int = 1000,
    exact_prescreen: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental dedup: screen a NEW batch against an EXISTING corpus
    and keep only the novel documents.

    The operation a 100 TB pipeline actually runs day-to-day — a fresh
    crawl is deduped against everything already ingested, not against
    itself (use ``minhash_dedup_pairs`` for within-batch dedup; the two
    compose). Returns ``(novel, matches)``:

    - ``novel``: rows of ``new_docs`` with no reference match at
      ``est_jaccard >= threshold`` (exact copies match at 1.0).
    - ``matches``: ``(new_id, ref_id, est_jaccard)`` — the evidence
      trail, one row per flagged (new, reference) candidate pair.

    Plan: MinHash signatures on both sides, banded LSH keyed by
    (band, band-hash), but the join is strictly NEW × REFERENCE — the
    reference side never self-joins, so cost is driven by the (small)
    new batch, not the (huge) corpus. Degenerate buckets on EITHER side
    are capped at ``max_bucket`` ids (boilerplate that floods a band
    bucket would otherwise make the bucket product quadratic).

    At scale, pass ``reference_signatures=`` (the ``id, h0..h{K-1}``
    frame from :func:`minhash_signatures`, stored when the corpus was
    ingested) so the reference text is never re-read — the incremental
    contract. The same ``num_hashes``/``shingle_n`` must have produced
    them. Documents too short to shingle (< ``shingle_n`` words) have
    no signature and are kept as novel — screen them with an exact
    fingerprint anti-join if that matters.

    ``exact_prescreen=True`` adds an exact tier BEFORE the LSH tier:
    new docs whose normalized-text md5 equals a reference doc's are
    matched outright (``est_jaccard`` 1.0) and skip MinHash entirely.
    This closes the two LSH blind spots — docs too short to shingle,
    and exact copies of mass-duplicated boilerplate whose band bucket
    ``max_bucket`` dropped — and cheapens re-crawl-heavy batches (the
    join is one shuffle on 32-byte keys). Requires ``reference`` docs
    (the tier needs reference ids + text).
    """
    if reference is None and reference_signatures is None:
        raise ValueError("pass reference docs or reference_signatures")
    if exact_prescreen and reference is None:
        raise ValueError("exact_prescreen requires reference docs")
    if bands is None:
        bands, _rows = solve_lsh_bands(threshold, num_hashes)

    exact_matches = None
    screened = new_docs
    if exact_prescreen:
        from sparvi_core_spark.functions.text import normalize_text

        nfp = new_docs.select(
            F.col(id_col).alias("new_id"),
            F.md5(normalize_text(text_col)).alias("__fp"),
        )
        rfp = reference.select(
            F.col(id_col).alias("ref_id"),
            F.md5(normalize_text(text_col)).alias("__rfp"),
        )
        exact_matches = nfp.join(rfp, nfp["__fp"] == rfp["__rfp"]).select(
            "new_id", "ref_id", F.lit(1.0).alias("est_jaccard")
        )
        exact_ids = exact_matches.select(
            F.col("new_id").alias("__eid")
        ).distinct()
        screened = new_docs.join(
            exact_ids, new_docs[id_col] == F.col("__eid"), "left_anti"
        )

    sig_new = minhash_signatures(
        screened, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint()
    sig_ref = (
        reference_signatures
        if reference_signatures is not None
        else minhash_signatures(reference, id_col, text_col, num_hashes, shingle_n)
    )
    bn = _band_hashes(sig_new, num_hashes, bands)
    br = _band_hashes(sig_ref, num_hashes, bands)
    for side in ("n", "r"):
        frame = bn if side == "n" else br
        counts = frame.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
        hot = F.broadcast(counts.filter(F.col("n") > max_bucket))
        if side == "n":
            bn = bn.join(hot, ["band", "bkey"], "left_anti")
        else:
            br = br.join(hot, ["band", "bkey"], "left_anti")
    cands = (
        bn.alias("a")
        .join(
            br.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("ref_id"))
        .distinct()
    )
    agree = sum(
        F.when(F.col(f"sa.h{k}") == F.col(f"sb.h{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )
    matches = (
        cands.join(sig_new.alias("sa"), cands.new_id == F.col("sa.id"))
        .join(sig_ref.alias("sb"), cands.ref_id == F.col("sb.id"))
        .select(
            "new_id",
            "ref_id",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    if exact_matches is not None:
        matches = exact_matches.unionByName(matches)
    flagged = matches.select(F.col("new_id").alias("__flagged")).distinct()
    novel = new_docs.join(
        flagged, new_docs[id_col] == F.col("__flagged"), "left_anti"
    )
    return novel, matches


def select_cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: keep the HIGHEST-``score_col``
    document of each near-dup cluster (ties → smallest id), instead of
    the min-id member that :func:`dedup_clusters`' label implies.

    ``clusters`` is a ``dedup_clusters`` result ``(id, cluster)``;
    documents absent from it are singletons and survive unconditionally
    (left join, label = own id). One hash shuffle on the cluster label;
    the argmax is ``min_by`` over ``(-score, id)`` with map-side
    partials — no window, no per-cluster sort. NULL scores rank below
    every real score. Output columns = ``docs``'s columns (one row per
    cluster).

    The reference's dedup surface stops at duplicate-group counts
    (profile_engine.py:100-123); survivor choice by quality is the
    training-pipeline extension (dedup docs, keep the best-written
    copy).
    """
    label = F.coalesce(F.col("__c.cluster"), F.col("__d." + id_col))
    rank = F.struct(
        (-F.coalesce(F.col("__d." + score_col).cast("double"), F.lit(float("-inf")))).alias("neg_score"),
        F.col("__d." + id_col).alias("id"),
    )
    joined = docs.alias("__d").join(
        clusters.alias("__c"),
        F.col("__d." + id_col) == F.col("__c.id"),
        "left",
    )
    best = joined.groupBy(label.alias("__cluster")).agg(
        F.min_by(F.struct(*[F.col("__d." + c) for c in docs.columns]), rank).alias(
            "__row"
        )
    )
    return best.select(*[F.col("__row." + c).alias(c) for c in docs.columns])


def exact_dedup_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact duplicate summary over ``cols``: total rows, distinct keys,
    surplus rows, duplicated groups (A4's group semantics preserved)."""
    key = [F.col(c) for c in cols]
    groups = df.groupBy(*key).agg(F.count(F.lit(1)).alias("cnt"))
    return groups.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_keys"),
        F.sum(F.col("cnt") - 1).cast("bigint").alias("surplus_rows"),
        F.sum((F.col("cnt") > 1).cast("bigint")).alias("duplicated_groups"),
    )


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per key — ``row_number`` over a deterministic order
    would be needed for stable survivor choice; for pure dedup semantics
    ``dropDuplicates`` (hash-based, single shuffle) is the scale path."""
    return df.dropDuplicates(cols)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Diff two corpus versions by document identity AND content: one
    row per doc in either version, labeled

    - ``added``     — id only in ``new``
    - ``removed``   — id only in ``old``
    - ``changed``   — id in both, normalized-content md5 differs
    - ``unchanged`` — id in both, content identical

    The day-to-day ingest question ("what did this recrawl actually
    change?") answered with ONE full-outer hash join on the id — the
    content comparison rides the join as an md5 equality, so text never
    shuffles twice and no side is collected. ``normalize=True`` applies
    the same text normalization the exact-dedup path uses
    (``functions.text.normalize_text``), so cosmetic
    whitespace/case-only recrawl churn reads as ``unchanged``.

    Output: (id, status, old_md5, new_md5) — join either side back on
    the id for full rows. At 100 TB: one shuffle per side on the id;
    md5 is computed in the scan projection (codegen), 32 bytes per row
    through the shuffle instead of the document text.
    """
    from sparvi_core_spark.functions.text import normalize_text

    content = (
        normalize_text(text_col) if normalize else F.col(text_col)
    )
    o = old.select(
        F.col(id_col).alias("id"), F.md5(content).alias("old_md5")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(content).alias("new_md5")
    )
    return o.join(n, "id", "full_outer").select(
        "id",
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_md5",
        "new_md5",
    )
