"""Corpus-quality operators a large-scale training-data pipeline needs:
benchmark decontamination and repetition (duplication-within-document)
signals in the spirit of the Gopher/MassiveText quality filters.

No reference-repo counterpart — these extend the engine's LLM-pipeline
surface (like operators.dedup / operators.similarity).

Scale design
------------
Both operators avoid per-row higher-order array scans (interpreted, and
O(tokens²) for distinct-counting) in favor of explode → partial-agg
pipelines: every shuffle is keyed by the high-cardinality ``(doc_id)``
or ``(doc_id, gram)`` pair, so there is no skew pivot, and the
benchmark side of the contamination join — thousands of eval docs vs a
100 TB train corpus — is broadcast, never shuffled.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from farmrpg_etl_spark.functions.hashing import let_, word_ngrams, words


def ngram_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 style): per train document, the
    number of distinct word ``n``-grams it shares with ANY eval
    document, so contaminated documents can be dropped or flagged.

    Per-row ``array_distinct`` dedups grams BEFORE the explode, so the
    train side never shuffles raw gram multiplicity; the distinct eval
    gram set is collected once and broadcast (eval benchmarks are
    dimension-sized — thousands of docs — next to a 100 TB corpus).
    The only full-width shuffle is the final per-document count, keyed
    by the unique ``id_col``.
    """
    tgrams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    egrams = (
        eval_docs.select(
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("gram")
        )
        .distinct()
    )
    return (
        tgrams.join(F.broadcast(egrams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def _floor6(col: Column) -> Column:
    """Engine-agnostic 6-decimal truncation of a deterministic double."""
    return F.floor(col * F.lit(1000000.0)) / F.lit(1000000.0)


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality
    filters): duplicate-word fraction, duplicate-2-gram fraction, and
    the character share of the single most frequent 2-gram
    (ties broken toward the lexicographically greatest gram).

    Execution (r5 rework, single-pipeline): token-level counts come
    from per-row ``array_distinct``/``size`` (native codegen, zero
    shuffle); ALL 2-gram statistics — modal gram, total and distinct
    counts — ride ONE explode → (id, gram) count → per-id aggregation
    (``sum(cnt)`` = total grams, ``count(*)`` = distinct grams,
    ``max(struct)`` = modal gram). The r2-r4 form computed the gram
    array a second time on the scalar branch (size + array_distinct
    over an UN-persisted shared relation → the corpus was tokenized
    and 2-grammed twice, once per join branch); folding the counts
    into the aggregation removes that whole second pass. Per-row
    run-length folds over sorted gram arrays were measured 2.7×
    slower than this explode pipeline and stay rejected; both groupBys
    partial-aggregate on uniform high-cardinality keys."""
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    grams = word_ngrams(F.col(text_col), 2)
    staged = df.select(
        F.col(id_col),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        grams.alias("__grams"),
    )
    modal = (
        staged.select(F.col(id_col), F.explode("__grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("top"),
            F.sum("cnt").cast("long").alias("n_2grams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_2grams"),
        )
    )
    joined = (
        staged.drop("__grams")
        .join(modal, id_col, "left")
        .withColumn("n_2grams", F.coalesce(F.col("n_2grams"), F.lit(0)))
        .withColumn(
            "n_distinct_2grams", F.coalesce(F.col("n_distinct_2grams"), F.lit(0))
        )
    )

    dup_word = (
        (F.col("n_tokens") - F.col("n_distinct_tokens")).cast("double")
        / F.col("n_tokens").cast("double")
    )
    dup_2gram = (
        (F.col("n_2grams") - F.col("n_distinct_2grams")).cast("double")
        / F.col("n_2grams").cast("double")
    )
    top_chars = (
        (F.col("top.cnt") * F.length(F.col("top.gram"))).cast("double")
        / F.col("n_chars").cast("double")
    )
    return joined.select(
        id_col,
        "n_tokens",
        F.when(F.col("n_tokens") > 0, _floor6(dup_word)).alias("dup_word_frac"),
        F.when(F.col("n_2grams") > 0, _floor6(dup_2gram)).alias("dup_2gram_frac"),
        F.col("top.gram").alias("top_2gram"),
        F.when(F.col("n_chars") > 0, _floor6(top_chars)).alias("top_2gram_char_frac"),
    )


def temperature_mixture_weights(
    df: DataFrame,
    text_col: str,
    source_col: str,
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source mixture (the UniMax / multilingual-
    sampling recipe): per-source sampling weight ∝ n_tokens^α with
    α = 3/4 — big sources are damped, small sources up-weighted, the
    standard fix for a corpus where one domain holds 80% of tokens.
    Returns (source, n_tokens, weight, token_quota); the quotas feed
    :func:`token_budget_mixture` as its budgets.

    Cross-engine exactness: α is fixed at 3/4 BECAUSE
    ``x^(3/4) = sqrt(x · sqrt(x))`` — two IEEE-correctly-rounded
    sqrts and one multiply, bit-identical in Spark and DuckDB, where
    ``pow(x, 0.7)`` would be at the mercy of each engine's libm. The
    scaled scores are floor-quantized to integer micros and summed as
    BIGINT, so weights and quotas are ratios of exact integers —
    order-independent under any partitioning (the same discipline as
    the decimal money sums).

    Scale: one partial-aggregated groupBy on the bounded source
    dimension; the total is a 1-row broadcast. The corpus is scanned
    once for token counts and never again."""
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    per_src = df.groupBy(source_col).agg(
        F.sum(F.size(toks).cast("long")).alias("n_tokens")
    )
    return mixture_weights_from_counts(per_src, source_col, token_budget)


def mixture_weights_from_counts(
    per_src: DataFrame, source_col: str, token_budget: int
) -> DataFrame:
    """The weights/quota half of :func:`temperature_mixture_weights`,
    over a pre-aggregated ``(source, n_tokens)`` relation — split out
    so the quota arithmetic is pinnable at CLAIMED corpus scale
    (n_tokens ~1e12) without materializing the tokens."""
    n = F.col("n_tokens").cast("double")
    s = F.sqrt(n * F.sqrt(n))  # n^(3/4), exact IEEE ops
    scored = per_src.withColumn(
        "__m", F.floor(s * F.lit(1000000.0)).cast("long")
    )
    total = scored.agg(F.sum("__m").cast("long").alias("__t"))
    # quota = floor(budget · __m / __t) in DECIMAL(38,0): BIGINT would
    # overflow at corpus scale — __m ≈ n_tokens^0.75 · 1e6 is ~1e15 at
    # 1e12 tokens, × a 1e12 budget = 1e27 ≫ 2^63 (a loud ANSI
    # ARITHMETIC_OVERFLOW, r12 advice #2). The decimal product stays
    # ≤ ~34 digits, DIV floors exactly, and the quota itself is
    # ≤ budget so the BIGINT output cannot overflow.
    # the __t > 0 guards mirror unimax_mixture_weights' (r16 property
    # find: ANSI throws DIVIDE_BY_ZERO for the all-empty corpus, and
    # decimal DIV by zero throws unconditionally)
    quota = F.expr(
        f"CASE WHEN __t > 0 THEN CAST(CAST({int(token_budget)}"
        " AS DECIMAL(38,0))"
        " * CAST(__m AS DECIMAL(38,0))"
        " DIV CAST(__t AS DECIMAL(38,0)) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_tokens",
            F.when(
                F.col("__t") > 0,
                F.round(
                    F.col("__m").cast("double")
                    / F.col("__t").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("weight"),
            quota.alias("token_quota"),
        )
    )


def _dsir_features(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int, salt: str
) -> DataFrame:
    """One row per hashed n-gram occurrence: ``(id, bucket)``.
    Features are word unigrams + bigrams (the DSIR paper's feature
    space) hashed to ``n_buckets`` via md5 — deterministic across
    engines, partitionings, and retries."""
    from farmrpg_etl_spark.functions.hashing import let_, ngrams_from_tokens

    # one tokenize pass: toks + bigrams share a let-bound token array
    # (the inline form evaluated words() twice per row — see
    # hashing.let_; r17)
    grams = let_(
        F.coalesce(words(F.col(text_col)), F.array().cast("array<string>")),
        lambda toks: F.concat(toks, ngrams_from_tokens(toks, 2)),
    )
    ex = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}|"), F.col("gram"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % F.lit(int(n_buckets))
    )
    return ex.select(id_col, bucket.alias("bucket"))


def _dsir_ratio(
    rcnt: DataFrame, tcnt: DataFrame, B: int, full_space: bool = False
) -> DataFrame:
    """The add-one-smoothed log importance ratio ``ln p − ln q`` per
    bucket, from the two bucket histograms — ONE definition shared by
    the inline construction in :func:`dsir_scored` and the standalone
    :func:`dsir_log_ratio` (the frozen-calibration path), so the
    batch and streaming regimes cannot fork on the smoothing.

    ``full_space=True`` emits a row for EVERY bucket id in [0, B),
    not only buckets the raw corpus hit: a FROZEN ratio scores later
    batches whose grams may hash to buckets the calibration corpus
    never produced — those buckets must carry their smoothed
    ``lr = ln((ct+1)/(T+B)) − ln((cr+1)/(R+B))`` with cr = 0, or an
    inner scoring join silently drops the terms (review r15). The
    inline same-corpus path keeps ``False``: its per-doc buckets are
    a subset of its own histogram by construction."""
    ttot = tcnt.agg(F.sum("ct").alias("T"))
    rtot = rcnt.agg(F.sum("cr").alias("R"))
    if full_space:
        base = (
            rcnt.sparkSession.range(int(B))
            .select(F.col("id").alias("bucket"))
            .join(rcnt, "bucket", "left")
        )
    else:
        base = rcnt
    # add-one smoothing over the full bucket space: buckets the target
    # never hit still get finite mass, so ln(p) is total
    return (
        base.join(tcnt, "bucket", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("T") + F.lit(B)).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                    / (F.col("R") + F.lit(B)).cast("double")
                )
            ).alias("lr"),
        )
    )


def dsir_log_ratio(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    salt: str = "dsir",
) -> DataFrame:
    """The DSIR calibration artifact on its own: the ``(bucket, lr)``
    log-ratio relation fit on (raw, target) — what a deployment
    FREEZES per snapshot so later batches can be scored against it
    (:func:`dsir_scored` with ``ratio=``). Dimension-sized
    (``n_buckets`` rows), broadcastable."""
    B = int(n_buckets)
    rcnt = (
        _dsir_features(raw, text_col, id_col, B, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    tcnt = (
        _dsir_features(target, text_col, id_col, B, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    # full bucket space: a frozen ratio must carry smoothed mass for
    # buckets the calibration corpus never hit, or scoring a later
    # batch silently drops those terms (review r15)
    return _dsir_ratio(rcnt, tcnt, B, full_space=True)


def dsir_scored(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    salt: str = "dsir",
    ratio: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR scores ``(id, logw, gkey)`` for every raw
    document (stages 1-2 of :func:`dsir_select` plus the Gumbel key,
    without the top-k cut).

    With ``ratio=None`` the log-ratio relation is fit on (raw,
    target) in one scan per corpus. Passing a frozen ``ratio``
    relation (built batch-side via :func:`dsir_log_ratio`) is the
    DEPLOYMENT regime: calibrate once per snapshot, score any later
    batch against the frozen constants — per-document decisions, so
    a streamed corpus scores identically to the batch run."""
    from farmrpg_etl_spark.functions.exact import dec_sum as _dec_sum

    if target is None and ratio is None:
        raise ValueError("pass target (to fit the ratio) or a frozen ratio")
    B = int(n_buckets)
    rf = _dsir_features(raw, text_col, id_col, B, salt)
    # ONE scan per corpus (r14 review — the first cut re-exploded the
    # raw corpus three times): the per-(doc, bucket) count is the
    # materialized feature matrix (eager localCheckpoint — it is the
    # relation DSIR stores anyway), and every other count DERIVES
    # from it / from the dimension-sized target histogram
    per_doc_bucket = (
        rf.groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    if ratio is None:
        tf = _dsir_features(target, text_col, id_col, B, salt)
        tcnt = (
            tf.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("ct"))
            .localCheckpoint()
        )
        rcnt = per_doc_bucket.groupBy("bucket").agg(F.sum("c").alias("cr"))
        ratio = _dsir_ratio(rcnt, tcnt, B)
    term = (
        F.floor(F.col("c").cast("double") * F.col("lr") * F.lit(1000000.0))
        / F.lit(1000000.0)
    )
    logw = per_doc_bucket.join(F.broadcast(ratio), "bucket").groupBy(
        id_col
    ).agg(F.round(_dec_sum(term).cast("double"), 6).alias("logw"))
    # Gumbel key from the id hash: u in (0,1) exactly, both engines
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"g|{salt}|"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32 + 1))
    scored = raw.select(id_col).join(logw, id_col, "left").select(
        id_col,
        F.coalesce("logw", F.lit(0.0)).alias("logw"),
        F.round(
            F.coalesce("logw", F.lit(0.0)) - F.log(-F.log(u)), 6
        ).alias("gkey"),
    )
    return scored


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    k: int = 100,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023), the hashed-n-gram importance sampler production pipelines
    use to pick raw-web documents that LOOK LIKE a high-quality
    target set. Three relational stages:

    1. hash word uni+bigrams of both corpora into ``n_buckets`` md5
       buckets; fit add-one-smoothed bucket distributions p (target)
       and q (raw) — exact integer counts, two dimension-sized
       relations;
    2. per raw document, the importance logit
       ``log w = Σ_b c_b · (ln p_b − ln q_b)`` — per-(doc, bucket)
       counts join the broadcast log-ratio relation once, each term
       is floor-quantized to micros, and the per-doc sum uses the
       exact decimal discipline (order-independent);
    3. Gumbel-top-k: ``key = logw + g`` with ``g = −ln(−ln(u))`` and
       ``u`` md5-derived from the document id — a DETERMINISTIC
       sample without replacement ∝ w (Gumbel-max), reproducible
       across engines/retries, unlike any RNG-state sampler.

    Returns the ``k`` selected rows ``(id, logw, gkey)``.

    Scale: each corpus is scanned ONCE — the per-(doc, bucket) count
    is materialized as the feature matrix and every other count
    derives from it (raw histogram, totals) or from the
    dimension-sized target histogram; both bucket distributions are
    ``n_buckets``-sized and broadcast; the only corpus-keyed shuffles
    are the feature count and the per-doc sum; top-k is
    orderBy+limit (per-partition top-k, then a k-sized merge — no
    global sort materializes). Stages 1-2 live in
    :func:`dsir_scored`, which also takes a FROZEN ratio relation —
    the streaming deployment path."""
    scored = dsir_scored(raw, target, text_col, id_col, n_buckets, salt)
    return scored.orderBy(F.col("gkey").desc(), id_col).limit(int(k))


def unimax_mixture_weights(
    per_src: DataFrame,
    source_col: str,
    token_budget: int | None = None,
    max_epochs: int = 2,
    budget_ratio: int | None = None,
) -> DataFrame:
    """UniMax epoch-capped mixture (Chung et al. 2023, the fix for
    :func:`mixture_weights_from_counts` over-sampling small sources):
    a source's temperature quota may not exceed ``max_epochs`` passes
    over its own tokens — capped sources keep exactly
    ``max_epochs · n_tokens``, and the freed budget is redistributed
    proportionally (by the same ``n^(3/4)`` micro-scores) among the
    uncapped rest, recursively, until no source exceeds its cap.

    The recursion is solved in CLOSED FORM as water-filling: order
    sources by saturation ratio cap/m. For α = 3/4 that ratio is
    monotone in ``n_tokens`` (cap/m ≈ max_epochs · n^(1/4)/1e6; the
    micro-floor on m cannot flip the order — the margin is
    ~δ·1e6·n^(3/4)/4 against a correction ≤ n), so the sort key is
    the exact integer pair ``(n_tokens, source)`` — no float division
    anywhere. The capped set is then a PREFIX of that order: a source
    is capped iff the proportional share of the budget REMAINING
    after capping all its predecessors still exceeds its own cap —
    one window pass of exclusive prefix sums, with a running AND so a
    first failure closes the prefix. All products run in
    DECIMAL(38,0) (BIGINT overflows at trillion-token counts — the
    r12 quota lesson); quotas floor exactly via DIV.

    Pass ``budget_ratio=k`` instead of an absolute ``token_budget``
    to budget ``k · Σ n_tokens`` — exact integers, and the row's
    capped/uncapped split stays non-degenerate at every snapshot
    size. Returns ``(source, n_tokens, weight, capped, token_quota,
    epochs)``; uncapped quotas are ``floor(B_rem · m / M_rem)``, so
    Σ quota ≤ budget always.

    Scale: the window is over the SOURCE DIMENSION (bounded — tens to
    thousands of rows), where a single-partition sort is free; the
    corpus itself is never touched here."""
    from pyspark.sql import Window

    if (token_budget is None) == (budget_ratio is None):
        raise ValueError("pass exactly one of token_budget/budget_ratio")
    if budget_ratio is not None and not isinstance(budget_ratio, int):
        # the whole operator runs on exact integers; silently flooring
        # a float ratio (2.5 -> 2) would change the budget by up to a
        # full corpus pass without any signal
        raise TypeError(
            f"budget_ratio must be an int, got {type(budget_ratio).__name__}"
        )
    full0 = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if token_budget is not None:
        B = F.lit(int(token_budget)).cast("long")
    else:
        B = F.sum(F.col("n_tokens").cast("long")).over(full0) * F.lit(
            int(budget_ratio)
        )
    n = F.col("n_tokens").cast("double")
    s = F.sqrt(n * F.sqrt(n))  # n^(3/4), exact IEEE ops
    scored = per_src.select(
        F.col(source_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(s * F.lit(1000000.0)).cast("long").alias("__m"),
        (F.col("n_tokens").cast("long") * F.lit(int(max_epochs))).alias(
            "__cap"
        ),
        B.alias("__b"),
    )
    w = Window.orderBy("n_tokens", source_col)
    pre = Window.orderBy("n_tokens", source_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = lambda c: f"CAST({c} AS DECIMAL(38,0))"  # noqa: E731
    # the SUMS run in DECIMAL(38,0), not just the products: Σ __m over
    # ~1,700 ten-trillion-token sources is ~1.1e19 > 2^63, so a BIGINT
    # window sum would hit ANSI overflow in exactly the domain the
    # docstring claims (review r14 finding — the r12 lesson applied to
    # the aggregates, not only the products)
    mdec = F.expr(dec("__m"))
    capdec = F.expr(dec("__cap"))
    g = (
        scored.withColumn("__mtot", F.sum(mdec).over(full))
        .withColumn(
            "__cum_m",
            F.coalesce(F.sum(mdec).over(pre), F.lit(0).cast("decimal(38,0)")),
        )
        .withColumn(
            "__cum_cap",
            F.coalesce(
                F.sum(capdec).over(pre), F.lit(0).cast("decimal(38,0)")
            ),
        )
        .withColumn(
            "__flag",
            F.expr(
                f"({dec('__b')} - __cum_cap) * {dec('__m')}"
                f" >= {dec('__cap')} * (__mtot - __cum_m)"
            ),
        )
        # the capped set is a prefix: a first failed saturation test
        # closes it for every later (larger) source
        .withColumn("__capped", F.min(F.col("__flag").cast("int")).over(w) == 1)
    )
    b_rem = F.sum(F.when(F.col("__capped"), capdec)).over(full)
    m_rem = F.sum(F.when(F.col("__capped"), mdec)).over(full)
    g = g.withColumn(
        "__b_rem",
        F.expr(dec("__b"))
        - F.coalesce(b_rem, F.lit(0).cast("decimal(38,0)")),
    ).withColumn(
        "__m_rem",
        F.col("__mtot")
        - F.coalesce(m_rem, F.lit(0).cast("decimal(38,0)")),
    )
    quota = F.when(F.col("__capped"), F.col("__cap")).otherwise(
        F.expr(
            "CAST(CAST(__b_rem AS DECIMAL(38,0))"
            f" * {dec('__m')}"
            " DIV CAST(__m_rem AS DECIMAL(38,0)) AS BIGINT)"
        )
    )
    # degenerate-corpus guards (found by the r16 hypothesis property:
    # Spark 4 ANSI throws DIVIDE_BY_ZERO even for DOUBLE division) —
    # an all-empty corpus has __mtot = 0, and any single all-empty
    # source has n_tokens = 0 per row; both get weight/epochs 0.0
    # instead of crashing the whole query. The uncapped-quota DIV is
    # safe by construction: uncapped ⇒ mm ≥ 1 ⇒ __m_rem ≥ 1.
    return g.select(
        source_col,
        "n_tokens",
        F.when(
            F.col("__mtot") > 0,
            F.round(
                F.col("__m").cast("double")
                / F.col("__mtot").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("weight"),
        F.col("__capped").alias("capped"),
        quota.alias("token_quota"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                quota.cast("double") / F.col("n_tokens").cast("double"), 4
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("epochs"),
    )


def unimax_assemble(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    token_budget: int | None = None,
    max_epochs: int = 2,
    budget_ratio: int | None = None,
) -> DataFrame:
    """The UniMax SCHEDULE, materialized: turn
    :func:`unimax_mixture_weights`' per-source token quotas into the
    per-document replication plan a training build actually executes
    — ``(id, source, n_tok, n_copies)`` where ``n_copies`` is how
    many times the document appears in the assembled corpus.

    Semantics are epoch fills: documents of a source are ordered by
    the deterministic md5(source|id) key (unbiased w.r.t. id order,
    bit-reproducible), and a document is included in epoch ``e`` iff
    ``e · N_s + cum ≤ quota_s AND e · N_s < quota_s`` where ``cum``
    is its inclusive running token total and ``N_s`` the source's
    total tokens (the second clause only bites for zero-token
    documents, whose boundary cases both ways are pinned by pytest;
    for any doc with tokens it is implied by the first) — i.e.
    full passes over the source until the remaining quota is a
    partial pass, which takes the deterministic PREFIX of the order.
    Consequences pinned by pytest: a capped source (quota =
    max_epochs · N_s) gives every document exactly ``max_epochs``
    copies; an uncapped source fills ``floor(quota/N_s)`` full epochs
    plus a prefix, and Σ n_copies · n_tok never exceeds its quota.
    All arithmetic is exact integers; copies use integer DIV.

    Scale shape: the per-source running total is
    :func:`~farmrpg_etl_spark.operators.chunking.grouped_prefix_sum`
    (order-aligned hash-prefix buckets — a source holding 80% of a
    100 TB corpus cumsums across all executors, not one task); the
    quota relation is source-dimension-sized and broadcast; the
    per-doc relation is projected once and checkpointed (it feeds
    both the per-source totals and the cumsum)."""
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(
            F.coalesce(
                words(F.col(text_col)), F.array().cast("array<string>")
            )
        )
        .cast("long")
        .alias("n_tok"),
        F.md5(
            F.concat_ws("|", F.col(source_col), F.col(id_col).cast("string"))
        ).alias("__h"),
    ).localCheckpoint()
    per_src = base.groupBy(source_col).agg(
        F.sum("n_tok").alias("n_tokens")
    )
    quotas = unimax_mixture_weights(
        per_src,
        source_col,
        token_budget=token_budget,
        max_epochs=max_epochs,
        budget_ratio=budget_ratio,
    )
    from farmrpg_etl_spark.operators.chunking import grouped_prefix_sum

    cum = grouped_prefix_sum(base, [source_col], "__h", "n_tok", "cum")
    j = cum.join(
        F.broadcast(
            quotas.select(
                source_col,
                F.col("n_tokens").alias("__ns"),
                "token_quota",
            )
        ),
        source_col,
    )
    # a zero-token document consumes nothing, so its epoch membership
    # must be position-robust at BOTH boundaries: the plain inclusive
    # rule grants max_epochs+1 copies when it sorts FIRST at exact
    # saturation (cum=0, quota=e_max·N — review r15), and the r15
    # strict form (e·N + cum < quota) under-grants when it sorts LAST
    # (cum=N, quota=2N → 1 copy, breaking the "capped source gives
    # every doc exactly max_epochs copies" invariant — ADVICE r16).
    # The position-robust rule: included in epoch e iff
    # e·N + cum ≤ quota AND e·N < quota, i.e.
    # copies = least(floor((quota-cum)/N)+1, ceil(quota/N)).
    # For n_tok ≥ 1 the second term is implied (cum ≥ 1), so the
    # plain inclusive rule stands for non-empty docs.
    copies = (
        F.when(F.col("__ns") == 0, F.lit(0).cast("long"))
        .when(
            F.col("n_tok") == 0,
            F.when(
                F.col("token_quota") >= F.col("cum"),
                F.least(
                    F.expr("(token_quota - cum) DIV __ns") + F.lit(1),
                    F.expr("(token_quota + __ns - 1) DIV __ns"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .when(
            F.col("token_quota") >= F.col("cum"),
            F.expr("(token_quota - cum) DIV __ns") + F.lit(1),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    return j.select(
        id_col,
        source_col,
        "n_tok",
        copies.cast("long").alias("n_copies"),
    )


def doremi_excess_weights(
    nll_by_source: DataFrame,
    source_col: str,
    nll_col: str = "nll",
    eta: float = 1.0,
) -> DataFrame:
    """One DoReMi domain-reweighting step (Xie et al. 2023b) against
    a FROZEN reference model: domains whose documents the reference
    LM finds HARD (high mean NLL — excess loss over the easiest
    domain) get up-weighted multiplicatively, ``w_d ∝ exp(η ·
    excess_d)``, normalized over domains. DoReMi proper alternates
    proxy retraining with this update; with the reference frozen the
    update has a closed form per step, and one step over the
    production LM's scores is the deployable artifact (the mixture a
    train run actually consumes). Completes the mixture family:
    size-based temperature (`mixture_weights_from_counts`) → epoch
    caps (`unimax_mixture_weights`) → schedule (`unimax_assemble`) →
    model-informed reweighting (this).

    Exactness discipline: per-domain mean NLL via the
    order-independent decimal sum (the `ccnet_thresholds` pattern);
    excess rounded to 4 decimals; the exp is floor-quantized to
    integer micros BEFORE normalizing, so the softmax runs on exact
    integers and only the final ratio is a (identically-ordered)
    double. Returns ``(source, n_docs, mean_nll, excess, weight)``.

    Scale: the input is per-document scores; everything after the
    one groupBy is over the DOMAIN dimension (bounded — the same
    single-partition-window justification as
    :func:`unimax_mixture_weights`)."""
    from pyspark.sql import Window

    from farmrpg_etl_spark.functions.exact import dec_sum as _dec_sum

    m = F.round(
        _dec_sum(F.col(nll_col)).cast("double") / F.count(F.lit(1)), 4
    )
    per = nll_by_source.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"), m.alias("mean_nll")
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = per.withColumn(
        "excess",
        F.round(F.col("mean_nll") - F.min("mean_nll").over(full), 4),
    ).withColumn(
        "__ew",
        F.floor(
            F.exp(F.lit(float(eta)) * F.col("excess")) * F.lit(1000000.0)
        ).cast("long"),
    )
    return per.select(
        source_col,
        "n_docs",
        "mean_nll",
        "excess",
        F.round(
            F.col("__ew").cast("double")
            / F.sum("__ew").over(full).cast("double"),
            6,
        ).alias("weight"),
    )


def doremi_iterated_weights(
    nll_by_source: DataFrame,
    source_col: str,
    nll_col: str = "nll",
    eta: float = 1.0,
    rounds: int = 4,
) -> DataFrame:
    """DoReMi's iterated multiplicative-weights loop (Xie et al.
    2023b) against the frozen reference LM: ``rounds`` Hedge-style
    updates ``w_{t+1} ∝ w_t · exp(η · excess_d)`` with per-round
    micro-quantization, starting from the uniform mixture.
    :func:`doremi_excess_weights` is the single closed-form step;
    this is the fixed-iteration variant (the PageRank pattern: the
    oracle recomputes EVERY round, so the per-round floor-quantized
    integers pin the whole trajectory cross-engine, not just the
    fixed point). Because the reference is frozen the excess vector
    is constant and the iterate provably drifts toward one-hot on
    the hardest domain as t→∞ — exactly why DoReMi publishes the
    AVERAGE of the iterates, returned here as ``weight_avg``
    (``weight`` is the final round's mixture).

    Per round, in exact integers: ``ew = floor(w · exp(η·excess))``
    (w ≤ 1e6 micros and excess ≤ ~20, so ew ≤ ~5e14 — no overflow),
    then ``w' = ew·10⁶ DIV Σew`` (integer division, identical to
    DuckDB ``//`` for non-negatives). Returns ``(source, n_docs,
    mean_nll, excess, weight, weight_avg)``.

    Scale: one corpus-sized groupBy; every round is a window over the
    DOMAIN dimension (bounded — the same single-partition-window
    justification as :func:`unimax_mixture_weights`)."""
    from pyspark.sql import Window

    from farmrpg_etl_spark.functions.exact import dec_sum as _dec_sum

    if not (isinstance(rounds, int) and rounds >= 1):
        raise ValueError(f"rounds must be a positive int, got {rounds!r}")
    m = F.round(
        _dec_sum(F.col(nll_col)).cast("double") / F.count(F.lit(1)), 4
    )
    per = nll_by_source.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"), m.alias("mean_nll")
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cur = (
        per.withColumn(
            "excess",
            F.round(F.col("mean_nll") - F.min("mean_nll").over(full), 4),
        )
        .withColumn("w", F.lit(1000000).cast("long"))
        .withColumn("wa", F.lit(0).cast("long"))
    )
    for _ in range(rounds):
        cur = (
            cur.withColumn(
                "__ew",
                F.floor(
                    F.col("w").cast("double")
                    * F.exp(F.lit(float(eta)) * F.col("excess"))
                ).cast("long"),
            )
            .withColumn("__tot", F.sum("__ew").over(full))
            .withColumn(
                "w", F.expr("(__ew * CAST(1000000 AS BIGINT)) DIV __tot")
            )
            .withColumn("wa", F.col("wa") + F.col("w"))
            .drop("__ew", "__tot")
        )
    return cur.select(
        source_col,
        "n_docs",
        "mean_nll",
        "excess",
        F.round(F.col("w").cast("double") / F.lit(1000000.0), 6).alias(
            "weight"
        ),
        F.round(
            F.col("wa").cast("double") / F.lit(float(rounds) * 1000000.0), 6
        ).alias("weight_avg"),
    )


def token_budget_mixture(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
) -> DataFrame:
    """Token-budgeted corpus mixing (the "data mixture" step of a
    training build): each source contributes documents in a
    deterministic pseudo-random order — md5(source|id), so the sample
    is unbiased w.r.t. id order yet bit-reproducible — until its token
    budget is exhausted. Greedy whole-document packing: a document is
    kept iff the source's running token total through it stays within
    budget.

    The running total comes from
    :func:`~farmrpg_etl_spark.operators.chunking.grouped_prefix_sum`,
    so a source holding 80% of a 100 TB corpus still cumsums across
    all executors (256 order-aligned hash-prefix buckets per source)
    instead of one task. Budgets ride in a literal map (dimension
    data → broadcast by construction)."""
    from farmrpg_etl_spark.operators.chunking import grouped_prefix_sum

    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(toks).cast("long").alias("n_tok"),
        F.md5(
            F.concat_ws("|", F.col(source_col), F.col(id_col).cast("string"))
        ).alias("__h"),
    )
    cum = grouped_prefix_sum(base, [source_col], "__h", "n_tok", "cum")
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    budget = F.coalesce(
        F.element_at(budget_map, F.col(source_col)),
        F.lit(default_budget),
    )
    return cum.filter(F.col("cum") <= budget).drop("__h")


# Fixed weights for the linear quality classifier below. In production
# these come from a trained fastText/logistic model (the GPT-3 /
# LLaMA-recipe "quality classifier" stage); pinned literals here keep
# the operator deterministic and oracle-checkable. All weights are
# DYADIC (exact in binary floating point) so the SQL oracle's
# decimal-literal → double conversion is bit-identical to Spark's.
# Order: (bias, n_tok, punct_ratio, stopword_ratio, distinct_ratio).
QUALITY_LOGIT_WEIGHTS = (-0.75, 0.00390625, -3.0, 2.0, 0.75)

# Trained-classifier family shared constants (ADVICE r16: the feature
# scale and teacher-rule thresholds were duplicated as literals on the
# Spark side (queries._logit_labeled) and inside the oracle SQL
# template, so a one-sided edit forked train/oracle silently). Both
# sides now interpolate THESE. The rule gate is "≥ LOGIT_RULE_MIN_TOK
# tokens and ≥ LOGIT_RULE_MIN_STOP English-stopword ratio"; the token
# count is clamped at 1000 and divided by LOGIT_NTOK_SCALE so x_ntok
# lives on the ratio features' order of magnitude.
LOGIT_NTOK_SCALE = 100
LOGIT_RULE_MIN_TOK = 50
LOGIT_RULE_MIN_STOP = 0.03


def _quality_raw_features(df, text_col: str, id_col: str):
    """The ONE definition of the quality-classifier raw feature math
    (token count, punctuation ratio, English-stopword ratio,
    distinct-token ratio), shared by :func:`quality_logit` (pinned
    weights, unrounded logit) and :func:`logit_features` (the
    quantized trainable relation) so the two halves of the classifier
    cannot fork. Returns ``(d, stop_r, dist_r)``: ``d`` carries
    ``(id, n_tok, __praw, __ndist, __toks)`` and the two ratio
    expressions reference its columns. Expression text and
    association order are pinned by both rows' oracles — edit only in
    lockstep with them."""
    from farmrpg_etl_spark.functions.text import LANG_MARKERS, punct_ratio

    t = F.col(text_col)
    toks = F.coalesce(words(t), F.array().cast("array<string>"))
    d = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tok"),
        punct_ratio(t).alias("__praw"),
        F.size(F.array_distinct(toks)).cast("long").alias("__ndist"),
        toks.alias("__toks"),
    )
    stop_hits = F.size(
        F.filter(F.col("__toks"), lambda x: x.isin(*LANG_MARKERS["en"]))
    )
    stop_r = F.when(F.col("n_tok") == 0, F.lit(0.0)).otherwise(
        stop_hits.cast("double") / F.col("n_tok").cast("double")
    )
    dist_r = F.when(F.col("n_tok") == 0, F.lit(0.0)).otherwise(
        F.col("__ndist").cast("double") / F.col("n_tok").cast("double")
    )
    return d, stop_r, dist_r


def quality_logit(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """Linear (logistic-regression-style) document quality classifier —
    the model-based filtering stage of the GPT-3/LLaMA data recipes,
    with the learned weights pinned as literals. Features are cheap
    one-pass column expressions (:func:`_quality_raw_features`); the
    score is the raw linear logit (monotone in the sigmoid, which is
    skipped so the value stays oracle-exact), floor-quantized to
    micros; ``label`` is ``keep`` iff the logit is non-negative.

    Scale shape: pure projection — no shuffle, no UDF, whole-stage
    codegen; the weights are literals, not a join. Feature math is
    written in the exact association order the oracle uses so the
    doubles agree bit-for-bit.
    """
    w0, w_ntok, w_punct, w_stop, w_dist = QUALITY_LOGIT_WEIGHTS
    d, stop_r, dist_r = _quality_raw_features(df, text_col, id_col)
    logit = (
        F.lit(w0)
        + F.lit(w_ntok) * F.col("n_tok").cast("double")
        + F.lit(w_punct) * F.col("__praw")
        + F.lit(w_stop) * stop_r
        + F.lit(w_dist) * dist_r
    )
    return d.select(
        id_col,
        "n_tok",
        F.round(F.col("__praw"), 6).alias("punct_r"),
        F.round(stop_r, 6).alias("stop_r"),
        F.round(dist_r, 6).alias("dist_r"),
        (F.floor(logit * F.lit(1000000.0)) / F.lit(1000000.0)).alias("logit"),
        F.when(logit >= 0, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


def logit_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    ntok_scale: int = LOGIT_NTOK_SCALE,
) -> DataFrame:
    """The :func:`quality_logit` feature vector as a reusable relation
    — ``(id, n_tok, x_ntok, x_punct, x_stop, x_dist)`` with every
    feature ROUND-QUANTIZED to 6 decimals so a trainer consuming them
    computes on engine-portable doubles (the same exactness discipline
    as :func:`doremi_iterated_weights`). ``x_ntok`` is the token count
    clamped at 1000 and divided by ``ntok_scale`` so it lives on the
    same order of magnitude as the ratio features (unscaled raw counts
    make a shared learning rate useless). A NULL ``text_col`` behaves
    like an empty document on EVERY feature — ``x_punct`` coalesces
    to 0.0 (``punct_ratio(NULL)`` is NULL; left through, one NULL-text
    row would NULL its z-score and silently drop its whole gradient
    contribution from :func:`logit_train` while still counting in the
    denominator).

    Scale shape: pure projection — no shuffle, no UDF."""
    if not (isinstance(ntok_scale, int) and ntok_scale >= 1):
        raise ValueError(
            f"ntok_scale must be a positive int, got {ntok_scale!r}"
        )
    d, sraw, draw = _quality_raw_features(df, text_col, id_col)
    return d.select(
        id_col,
        "n_tok",
        F.round(
            F.least(F.col("n_tok"), F.lit(1000).cast("long"))
            / F.lit(float(ntok_scale)),
            6,
        ).alias("x_ntok"),
        F.round(F.coalesce(F.col("__praw"), F.lit(0.0)), 6).alias("x_punct"),
        F.round(sraw, 6).alias("x_stop"),
        F.round(draw, 6).alias("x_dist"),
    )


# (feature-column, weight-column) pairs of the trainable classifier;
# the bias rides as an implicit all-ones feature.
LOGIT_TRAIN_FEATURES = (
    ("x_ntok", "w_ntok"),
    ("x_punct", "w_punct"),
    ("x_stop", "w_stop"),
    ("x_dist", "w_dist"),
)


def logit_train(
    feats: DataFrame,
    label_col: str,
    *,
    eta: float = 4.0,
    rounds: int = 3,
) -> DataFrame:
    """Distributed training of the linear quality classifier —
    full-batch gradient descent over a :func:`logit_features`
    relation carrying a 0/1 ``label_col``, the missing half of
    :func:`quality_logit` (which only APPLIES pinned weights). This
    is how model-based quality filters are actually built at scale
    (the GPT-3/LLaMA/DCLM recipe: label a corpus with a cheap rule or
    a seed set, train a linear scorer over it, filter with the
    scorer): each round is ONE corpus-sized aggregate producing the
    5-component gradient; weights never leave the plan (a 1-row
    relation cross-joined back in, never collected).

    Cross-engine exactness (the :func:`doremi_iterated_weights`
    regime, extended to a per-DOCUMENT inner term): the sigmoid is
    the HARD sigmoid ``clamp(0.5 + z/4, 0, 1)`` — pure +,*,/ IEEE
    arithmetic, no libm ``exp`` whose last ULP differs per engine —
    floor-quantized to integer micros per document; the gradient is
    an exact integer sum of ``residual_micros · feature_micros``
    products (DECIMAL(38,0) — a long sum would overflow near ~9e18
    micros², i.e. well inside 100 TB); each round's weights are
    round-quantized back to 6 decimals. The DuckDB oracle recomputes
    EVERY round from the same integers (the PageRank pattern), so the
    whole weight trajectory is pinned, not just the fixed point.

    Returns ``(step, w_bias, w_ntok, w_punct, w_stop, w_dist)`` for
    step ∈ 0..rounds (step 0 = the zero init).

    ``label_col`` must be NON-NULL 0/1 per row: a NULL label drops
    that row's products from the gradient sums while still counting
    it in the denominator (a silently damped step), and values
    outside {0,1} turn the loss into regression toward that value.

    Scale shape: ``rounds`` passes over a checkpointed skinny feature
    leaf — the honest cost of full-batch GD; per pass one global
    partial-aggregating reduce (map-side combine, no keyed shuffle),
    weights broadcast (1 row). No collect, no UDF."""
    if not (isinstance(rounds, int) and rounds >= 1):
        raise ValueError(f"rounds must be a positive int, got {rounds!r}")
    if not (isinstance(eta, (int, float)) and eta > 0):
        raise ValueError(f"eta must be a positive number, got {eta!r}")
    wcols = ["w_bias"] + [w for _, w in LOGIT_TRAIN_FEATURES]
    spark = feats.sparkSession
    base = feats.select(
        F.col(label_col).cast("long").alias("__y"),
        *[x for x, _ in LOGIT_TRAIN_FEATURES],
    ).localCheckpoint()
    w = spark.range(1).select(
        *[F.lit(0.0).alias(c) for c in wcols]
    )
    out = w.select(F.lit(0).alias("step"), *wcols)
    for t in range(1, rounds + 1):
        j = base.crossJoin(F.broadcast(w))
        z = F.col("w_bias")
        for x, wc in LOGIT_TRAIN_FEATURES:
            z = z + F.col(wc) * F.col(x)
        z = F.round(z, 6)
        s = F.least(
            F.greatest(F.lit(0.5) + z / F.lit(4.0), F.lit(0.0)), F.lit(1.0)
        )
        r = (
            F.floor(s * F.lit(1000000.0)).cast("long")
            - F.col("__y") * F.lit(1000000).cast("long")
        )
        xm = {
            x: F.round(F.col(x) * F.lit(1000000.0)).cast("long")
            for x, _ in LOGIT_TRAIN_FEATURES
        }
        agg = j.agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(
                (r * F.lit(1000000).cast("long")).cast("decimal(38,0)")
            ).alias("__g_bias"),
            *[
                F.sum((r * xm[x]).cast("decimal(38,0)")).alias(f"__g_{x}")
                for x, _ in LOGIT_TRAIN_FEATURES
            ],
            # max over 0 rows is NULL; weights are all-zero whenever
            # the corpus is empty (zero init + zero gradients), so a
            # 0.0 fallback is exact, not an approximation
            *[F.coalesce(F.max(c), F.lit(0.0)).alias(c) for c in wcols],
        )
        # empty corpus: count 0 makes every gradient sum NULL — treat
        # as a zero gradient (weights stay put) instead of NaN/NULL
        # weights (the all-empty-corpora guard regime, r15)
        denom = F.greatest(F.col("__n"), F.lit(1).cast("long")).cast(
            "double"
        ) * F.lit(1000000000000.0)
        gname = {"w_bias": "__g_bias"} | {
            wc: f"__g_{x}" for x, wc in LOGIT_TRAIN_FEATURES
        }
        w = agg.select(
            *[
                F.round(
                    F.col(c)
                    - F.lit(float(eta))
                    * (
                        F.coalesce(
                            F.col(gname[c]), F.lit(0).cast("decimal(38,0)")
                        ).cast("double")
                        / denom
                    ),
                    6,
                ).alias(c)
                for c in wcols
            ]
        )
        # cut each round's lineage: the 1-row weight relation is both
        # the next round's join input and a union leg — left live, the
        # K-round loop re-executes every earlier round's corpus
        # aggregate (O(K²) passes; 6 HashAggregates for K=3 in the
        # executed plan) and the plan tree doubles per round. The
        # reliable-checkpoint bracket makes it exactly K passes.
        from farmrpg_etl_spark.operators.iterate import truncate_lineage

        w = truncate_lineage(w)
        out = out.unionByName(w.select(F.lit(t).alias("step"), *wcols))
    return out


# Bloom-filter geometry for bloom_prune_contamination. m is a power of
# two so the modulo is a cheap mask; k=3 md5-slice hashes are portable
# (bit-identical in Spark and the DuckDB oracle).
BLOOM_M = 1 << 18
BLOOM_K = 3


def _bloom_pos(gram: Column, i: int) -> Column:
    return (
        F.conv(F.substring(F.md5(gram), 1 + 8 * i, 8), 16, 10).cast("long")
        % F.lit(BLOOM_M)
    )


def bloom_prune_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination with a Bloom-filter prune — the shape
    a 100 TB corpus actually runs: the eval benchmark's n-grams are
    folded into a Bloom bit set (here the relational rendering: the
    DISTINCT set of k md5-slice bit positions, ≤ 3·|eval grams| ints
    bounded by ``BLOOM_M`` — far smaller to broadcast than the gram
    strings), every train gram probes the broadcast bits map-side, and
    only grams whose k positions ALL hit proceed to the exact
    verification join. Bloom false positives are a measured column,
    not a hope: the output carries both ``n_cand_grams`` (passed the
    probe) and ``n_contaminated_ngrams`` (exact matches), so the FP
    rate is visible per document and the filter can never FALSELY
    CLEAR a document (no false negatives by construction).

    The probe is k chained broadcast LEFT-SEMI joins on the position
    columns — entirely map-side, no extra shuffle, no row blow-up (an
    earlier explode-positions → count-hits form paid a corpus-sized
    (id, gram) shuffle and measured ~2× the unpruned row; the semi
    chain is the bitmap-probe physical shape).
    """
    tgrams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "gram"
        ),
    )
    egrams = (
        eval_docs.select(
            F.explode(
                F.array_distinct(word_ngrams(F.col(text_col), n))
            ).alias("gram")
        )
        .distinct()
    )
    bits = (
        egrams.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("gram"), i) for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    cand = tgrams.select(
        id_col,
        "gram",
        *[_bloom_pos(F.col("gram"), i).alias(f"__p{i}") for i in range(BLOOM_K)],
    )
    for i in range(BLOOM_K):
        cand = cand.join(
            F.broadcast(bits), cand[f"__p{i}"] == bits["pos"], "left_semi"
        )
    marked = cand.select(id_col, "gram").join(
        F.broadcast(egrams.select("gram", F.lit(True).alias("__e"))),
        "gram",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_cand_grams"),
        F.count("__e").alias("n_contaminated_ngrams"),
    )


def bloom_bitmap_prune_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """``bloom_prune_contamination`` with the probe side taken to its
    100 TB endpoint: instead of joining train grams against a relation
    of set bit POSITIONS (k chained broadcast left-semi joins), the
    whole Bloom bit set is packed into a single ``array<bigint>``
    literal of exactly ``BLOOM_M / 64`` words (m = 2^18 bits → 4096
    longs → 32 KiB) that ships inside the serialized plan to every
    task. The probe is then PURE whole-stage-codegen column math —
    ``element_at`` + ``shiftright`` + ``& 1`` per hash — with ZERO
    joins until the exact verification of survivors. Semantics are
    bit-identical to the position-set form (membership in the same
    position set), so the two rows share one oracle and the output
    must hash-match ``bloom_decontaminate_docs``.

    Scale: the bitmap is FIXED-SIZE regardless of eval-set size — a
    billion eval grams still broadcast as 32 KiB (vs. a positions
    relation that grows toward min(3·|grams|, m) rows) — and the probe
    cost per train gram is 3 array loads instead of 3 hash-join
    probes. The one driver-side step, collecting ≤ 4096 (word, mask)
    rows to build the literal, is the same bounded-scalar contract as
    the k-means centroid collect (a fixed 32 KiB independent of data
    scale). Reference parity: models the eval-decontamination pass of
    quality.py's n-gram overlap checks at the scale the reference
    never reaches (its corpus fits in one process).

    Measured history (r10→r11, sf0.1, same session): the first cut of
    this operator ran 7.95 s vs the semi-chain's 3.89 s — the
    predicted-fastest form was SLOWEST. Two causes, both fixed here:
    (1) ``F.lit(list)`` builds a 4096-NODE expression tree
    (``array(lit, lit, …)``) — ConstantFolding does collapse it, so
    the EXECUTED plan is bit-identical to the single-literal form,
    but every invocation pays ~1.5 s of driver-side py4j construction
    + analyzer traversal first (measured: plan-build 1.49 s/call vs
    0.04 s for the one-node ``from_json`` literal; warm interleaved
    end-to-end 3.9-4.1 s vs 2.3-2.7 s); (2) the eval-gram pipeline
    (explode 13-grams → distinct) ran TWICE — once feeding the
    bit-set build and again as the broadcast side of the exact verify
    (≈3.9 s standalone, so ≈2 s of pure recompute). With the one-node
    literal and the eval grams persisted across the two uses, the row
    measures 2.9-3.5 s — faster than the semi-chain, as the zero-join
    plan shape says it should be. Full breakdown in docs/SCALE.md
    ("Bitmap Bloom: measured inversion and fix")."""
    tgrams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "gram"
        ),
    )
    # persisted: feeds BOTH the bit-set build and the exact-verify
    # broadcast below — without it the 13-gram explode+distinct runs
    # twice (measured ≈2 s of recompute at sf0.1)
    egrams = (
        eval_docs.select(
            F.explode(
                F.array_distinct(word_ngrams(F.col(text_col), n))
            ).alias("gram")
        )
        .distinct()
        .persist()
    )
    words = (
        egrams.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("gram"), i) for i in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .selectExpr(
            "CAST(pos DIV 64 AS INT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS m",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    arr = [0] * (BLOOM_M // 64)
    for r in words.collect():  # bounded: ≤ BLOOM_M/64 = 4096 longs, 32 KiB
        arr[r["w"]] = r["mask"]
    # ONE plan node, not 4096: F.lit(list) expands to array(lit, lit,
    # …) — ConstantFolding collapses it so the EXECUTED plan is
    # identical, but every invocation pays ~1.5 s of driver-side py4j
    # construction + analysis for the 4096-node tree first (measured:
    # 1.49 s vs 0.04 s per plan build). from_json of a literal string
    # folds from a single node.
    bitmap = F.from_json(F.lit(json.dumps(arr)), "array<bigint>")
    cand = tgrams.select(
        id_col,
        "gram",
        *[_bloom_pos(F.col("gram"), i).alias(f"__p{i}") for i in range(BLOOM_K)],
    ).withColumn("__bm", bitmap)
    for i in range(BLOOM_K):
        cand = cand.filter(
            F.expr(
                f"(shiftright(element_at(__bm, CAST(__p{i} DIV 64 AS INT) + 1),"
                f" CAST(__p{i} % 64 AS INT)) & 1) = 1"
            )
        )
    marked = cand.select(id_col, "gram").join(
        F.broadcast(egrams.select("gram", F.lit(True).alias("__e"))),
        "gram",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_cand_grams"),
        F.count("__e").alias("n_contaminated_ngrams"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    gibberish/binary-noise detector (low entropy = repeated filler,
    abnormally high = random bytes; both are cut candidates in
    C4/Gopher-style cleaning).

    Shapes: explode to (id, char) — a bounded-cardinality second key —
    then two partial-aggregated shuffles ((id, char) counts, per-id
    sum). Each entropy term ``-p·ln(p)`` is floor-quantized to micros
    and summed as exact INTEGER micros — the output stays an integer
    (``entropy_micros``), never a rounded double: a round-to-4 of the
    sum sat exactly on .00005 boundaries for ~1/1000 documents, where
    Spark's decimal-string HALF_UP and DuckDB's binary-multiply round
    disagree (found at sf0.1; integer output removes the boundary
    entirely).
    """
    chars = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.length(F.col(text_col)).alias("__n"),
    ).select(
        id_col,
        "__n",
        F.explode(
            F.when(F.col("__n") == 0, F.array().cast("array<int>")).otherwise(
                F.sequence(F.lit(1), F.col("__n"))
            )
        ).alias("__i"),
        F.col("__t"),
    ).select(
        id_col, "__n", F.substring(F.col("__t"), F.col("__i"), F.lit(1)).alias("__c")
    )
    counts = chars.groupBy(id_col, "__n", "__c").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    p = F.col("__cnt").cast("double") / F.col("__n").cast("double")
    qm = F.floor(-(p * F.log(p)) * F.lit(1000000.0)).cast("long")
    ent = counts.groupBy(id_col).agg(
        F.max("__n").cast("long").alias("n_chars"),
        F.sum(qm).cast("long").alias("entropy_micros"),
    )
    base = df.select(F.col(id_col))
    return base.join(ent, id_col, "left").select(
        id_col,
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce("entropy_micros", F.lit(0)).alias("entropy_micros"),
    )


# --------------------------------------------------------------------------
# C4 / FineWeb / Gopher heuristic document filters
# --------------------------------------------------------------------------

# Gopher's canonical stop set (Rae et al. 2021, §A.1.1): a document
# must contain >= 2 of these to pass the "stop word" rule.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Rule thresholds, expressed in integer micros where they are ratios
# so the keep flags compare exactly in both engines.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN_MICROS = 3_000_000
GOPHER_MAX_MEAN_WLEN_MICROS = 10_000_000
GOPHER_MAX_BULLET_RATIO_MICROS = 900_000   # <= 90% bullet-started lines
GOPHER_MAX_ELLIPSIS_RATIO_MICROS = 300_000  # <= 30% ellipsis-ended lines
GOPHER_MIN_ALPHA_RATIO_MICROS = 800_000    # >= 80% lines with a letter
GOPHER_MIN_STOP_HITS = 2
C4_MIN_SENTENCES = 3


def c4_fineweb_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The C4 (Raffel et al. 2020, §2.2) + Gopher/FineWeb (Rae et al.
    2021; Penedo et al. 2024) heuristic filter bundle as ONE pass of
    pure column expressions over a multi-line text column — the
    standard first quality gate of a web-scale pretraining pipeline.

    Per document: word/line censuses, mean word length, the line-shape
    ratios (terminal-punctuation, bullet-start, ellipsis-end,
    has-a-letter), Gopher stop-word hits, the C4 page-level drop flags
    (``lorem ipsum``, ``{``, the token ``javascript``), and the two
    composed keep flags:

    - ``keep_c4``: no lorem-ipsum / brace / javascript, and at least
      ``C4_MIN_SENTENCES`` terminal-punctuated lines. (C4 additionally
      cuts non-terminal LINES; that transform is
      :func:`farmrpg_etl_spark.operators.linededup.remove_frequent_lines`'s
      sibling and composes downstream — this operator scores pages.)
    - ``keep_gopher``: word count in [50, 100k], mean word length in
      [3, 10], bullet ratio <= 0.9, ellipsis ratio <= 0.3, >= 80% of
      lines contain a letter, >= 2 distinct Gopher stop words.

    All ratios are floor'd integer micros (exact integer division →
    bit-identical cross-engine); a line ending in ``...`` counts as
    ellipsis-ended, not terminal. Tokens are whitespace splits;
    stop-word membership strips non-letters after lowercasing.

    Scale: zero shuffles and zero UDFs — every signal is a
    whole-stage-codegen expression over the row's own arrays, so the
    operator runs at scan speed and composes with any downstream gate.
    One caveat the Gopher paper also hits: per-row array transforms
    are O(document length); the arrays here are bounded by the text
    column itself, and no array leaves the row (no explode), so
    memory per task is the document size it already holds.
    """
    lines = F.split(F.col(text_col), "\n")
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    stop_clean = F.array_distinct(
        F.transform(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: F.length(t) > 0,
            ),
            lambda t: F.regexp_replace(t, "[^a-z]", ""),
        )
    )

    def ratio_micros(cnt: Column, total: Column) -> Column:
        return F.when(total == 0, F.lit(0).cast("long")).otherwise(
            F.floor(cnt.cast("long") * F.lit(1_000_000) / total)
        ).cast("long")

    is_ellipsis = lambda ln: ln.endswith("...")
    is_terminal = lambda ln: (
        ln.endswith(".") | ln.endswith("!") | ln.endswith("?") | ln.endswith('"')
    ) & ~ln.endswith("...")

    n_lines = F.size(lines)
    n_words = F.size(toks)
    sum_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_term = F.size(F.filter(lines, is_terminal))
    n_bullet = F.size(
        F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* "))
    )
    n_ellip = F.size(F.filter(lines, is_ellipsis))
    n_alpha = F.size(F.filter(lines, lambda ln: ln.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            stop_clean, F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
        )
    )
    low = F.lower(F.col(text_col))
    has_lorem = low.contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    has_js = F.array_contains(stop_clean, "javascript")

    sig = df.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        n_words.cast("long").alias("n_words"),
        F.when(n_words == 0, F.lit(0).cast("long"))
        .otherwise(F.floor(sum_wlen * F.lit(1_000_000) / n_words))
        .cast("long")
        .alias("mean_wlen_micros"),
        n_term.cast("long").alias("n_terminal_lines"),
        ratio_micros(n_term, n_lines).alias("terminal_ratio_micros"),
        ratio_micros(n_bullet, n_lines).alias("bullet_ratio_micros"),
        ratio_micros(n_ellip, n_lines).alias("ellipsis_ratio_micros"),
        ratio_micros(n_alpha, n_lines).alias("alpha_ratio_micros"),
        stop_hits.cast("long").alias("stop_hits"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        has_js.alias("has_js"),
    )
    return sig.select(
        "*",
        (
            ~F.col("has_lorem")
            & ~F.col("has_brace")
            & ~F.col("has_js")
            & (F.col("n_terminal_lines") >= C4_MIN_SENTENCES)
        ).alias("keep_c4"),
        (
            F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & F.col("mean_wlen_micros").between(
                GOPHER_MIN_MEAN_WLEN_MICROS, GOPHER_MAX_MEAN_WLEN_MICROS
            )
            & (F.col("bullet_ratio_micros") <= GOPHER_MAX_BULLET_RATIO_MICROS)
            & (F.col("ellipsis_ratio_micros") <= GOPHER_MAX_ELLIPSIS_RATIO_MICROS)
            & (F.col("alpha_ratio_micros") >= GOPHER_MIN_ALPHA_RATIO_MICROS)
            & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
        ).alias("keep_gopher"),
    )


# Hashed-feature classifier geometry (the DCLM/fastText shape: word +
# word-bigram grams hashed into a fixed bucket space). Shared by the
# Spark operators below and the oracle template — interpolate, don't
# duplicate (the LOGIT_* constants' regime).
HL_BUCKETS = 4096
HL_TF_SCALE = 100
# eta ~ 1/(active buckets per document): a ~100-gram document touches
# ~100 buckets of x ~ HL_TF_SCALE/n_grams ~ 1, so the per-round logit
# drift is ~ active_buckets * eta — eta 1/16 keeps it inside the hard
# sigmoid's linear band (measured: eta 0.125+ oscillates and agreement
# collapses to the base rate; 0.0625 climbs monotonically to ~0.70
# teacher agreement by round 10 at sf0.01)
HL_ETA = 0.0625
HL_ROUNDS = 10


def hashed_logit_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_buckets: int = HL_BUCKETS,
) -> DataFrame:
    """Sparse hashed bag-of-grams features — ``(id, bucket, x)``: the
    document's words and word bigrams hash into ``n_buckets`` via the
    portable md5-slice hash (``conv(substr(md5(g),1,8),16,10) %
    n_buckets`` — bit-identical in Spark and DuckDB, the `_bloom_pos`
    primitive), and ``x`` is the bucket's gram count normalized by
    the document's total gram count, round-quantized to 6 decimals
    (engine-portable doubles, the `logit_features` discipline). This
    is how production quality classifiers actually featurize (DCLM's
    fastText teacher: hashed word/bigram buckets), replacing the
    4 hand-picked scalars of :func:`logit_features` with a
    corpus-derived feature space.

    A document with no grams emits NO rows (its score is bias-only);
    NULL text behaves like the empty document.

    Scale shape: one explode to gram instances (narrow), one
    ``(id, bucket)`` count aggregate with map-side partial combine —
    a single keyed shuffle; no UDF, no collect.

    The gram array is ONE let_-bound expression (r18): the optimizer
    copies a Generate's generator expression into an inferred
    ``size(...) > 0`` Filter (InferFiltersFromGenerate) and collapses
    staged projections into both, so the r17 staged-column form
    re-ran the whitespace split ~6× per row inside an INTERPRETED
    filter — measured 1.98 s -> 0.35 s for the sf0.1 featurization
    (5.7×), byte-identical instances. Binding the token array as a
    lambda variable caps every duplicated evaluation at one split."""
    if not (isinstance(n_buckets, int) and n_buckets >= 2):
        raise ValueError(
            f"n_buckets must be an int >= 2, got {n_buckets!r}"
        )

    def _grams(tk: Column) -> Column:
        # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
        # returning empty — single-word docs must skip the bigram leg
        bg = F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat(
                    F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(tk, bg)

    g = df.select(
        F.col(id_col),
        let_(
            F.coalesce(words(F.col(text_col)), F.array().cast("array<string>")),
            _grams,
        ).alias("__g"),
    )
    inst = g.select(
        F.col(id_col),
        F.size("__g").cast("long").alias("__ng"),
        F.explode("__g").alias("__gram"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("__gram")), 1, 8), 16, 10).cast(
            "long"
        )
        % F.lit(n_buckets)
    )
    return (
        inst.groupBy(F.col(id_col), F.col("__ng"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        .select(
            id_col,
            "bucket",
            F.round(
                F.lit(float(HL_TF_SCALE))
                * F.col("__cnt").cast("double")
                / F.col("__ng").cast("double"),
                6,
            ).alias("x"),
        )
    )


def logit_train_hashed(
    feats: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
    *,
    eta: float = HL_ETA,
    rounds: int = HL_ROUNDS,
) -> DataFrame:
    """Distributed full-batch GD over the SPARSE hashed feature
    relation — :func:`logit_train` generalized from 4 dense columns
    to thousands of hashed buckets, which is the production shape of
    a trained quality filter (DCLM/fastText: hashed grams → linear
    model). Weights live as a RELATION keyed by bucket (never a wide
    row, never collected); the per-document logit is an exact integer
    sum of ``w_micros · x_micros`` products (DECIMAL(38,0) — order-
    independent, so the thousands-of-terms-per-document sum is
    engine-portable where a double sum would not be), pushed through
    the same hard-sigmoid / floor-to-micros residual as the dense
    trainer; per-bucket gradients are ONE keyed aggregate per round.
    Every round's weights round-quantize to 6 decimals, so the DuckDB
    oracle replays the whole trajectory exactly.

    ``labels`` must carry one NON-NULL 0/1 ``label_col`` row per
    document (documents with no feature rows still train the bias); a
    duplicate or NULL id fails the call.
    Returns ``(step, bucket, w)`` for step 0..rounds, with bucket -1
    carrying the bias.

    Scale shape: per round — one broadcast join of the bucket-sized
    weight relation into the feature scan, one id-keyed aggregate
    (the logit), one id-keyed join back (residuals), one bucket-keyed
    aggregate (gradients). K rounds = K passes over a checkpointed
    skinny feature leaf; the honest full-batch cost, all map-side-
    combining, no collect, no UDF.

    Barrier shape (r18, VERDICT #2): the bias is FOLDED into the
    weight relation as the reserved bucket id -1, backed by one
    synthetic all-ones feature row per labeled document
    (``x_micros = 1e6``), so each round's gradient is ONE bucket-keyed
    aggregate over the augmented feature leaf and each round runs ONE
    eager checkpoint (the updated weight relation) instead of three
    (residuals + bias cut + weight cut — the r17 shape: 3 job
    barriers × K rounds). The z/score arithmetic is untouched — the
    bias still enters the logit as the separately-added ``w_bias``
    double (folding it into the integer sum would change the IEEE
    rounding of ``zp/1e12 + w_bias`` and fork the oracle-pinned
    trajectory), and the bias gradient ``Σ r·1e6`` is an exact integer
    either way, so the whole (step, bucket, w) trajectory is
    bit-identical to the r17 form. The r17 union-checkpoint attempt
    (REGRESSED 3.1 s -> 6.1 s) unioned two SEPARATE aggregates; this
    fold has no second aggregate at all."""
    if not (isinstance(rounds, int) and rounds >= 1):
        raise ValueError(f"rounds must be a positive int, got {rounds!r}")
    if not (isinstance(eta, (int, float)) and eta > 0):
        raise ValueError(f"eta must be a positive number, got {eta!r}")
    from farmrpg_etl_spark.operators.iterate import truncate_lineage

    f = feats.select(
        F.col(id_col).alias("__id"),
        "bucket",
        F.round(F.col("x") * F.lit(1000000.0)).cast("long").alias("__xm"),
    ).localCheckpoint()
    lab = labels.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("long").alias("__y"),
    ).localCheckpoint()
    # the label contract (one row per document) is checked INSIDE the
    # eager row-count aggregate: duplicate label rows would silently
    # square their document's bias-gradient contribution (every bias
    # feature row meets every residual row in the __id join), and
    # column pruning cannot drop a check that __n itself depends on
    n = F.count(F.lit(1))
    nrow = lab.agg(
        F.when(n == F.count_distinct("__id"), F.greatest(n, F.lit(1).cast("long")))
        .otherwise(
            F.raise_error(F.lit(f"logit_train_hashed: labels need one row per non-NULL {id_col}"))
            .cast("long")
        )
        .alias("__n")
    ).localCheckpoint()
    # the synthetic bias feature: one bucket -1 / x=1.0 row per labeled
    # document (a union of two checkpointed leaves — no checkpoint of
    # its own needed). Real buckets are >= 0 (md5 % n_buckets), so -1
    # cannot collide.
    f_aug = f.unionByName(
        lab.select(
            "__id",
            F.lit(-1).cast("long").alias("bucket"),
            F.lit(1000000).cast("long").alias("__xm"),
        )
    )
    # init: one relation carrying every feature bucket AND the bias
    # row; the explicit -1 leg (not a distinct over f_aug) keeps the
    # bias row present when the corpus is empty.
    w = truncate_lineage(
        f.select("bucket").distinct().select(
            "bucket", F.lit(0.0).alias("w")
        ).unionByName(
            lab.sparkSession.range(1).select(
                F.lit(-1).cast("long").alias("bucket"),
                F.lit(0.0).alias("w"),
            )
        )
    )
    out = w.select(F.lit(0).alias("step"), "bucket", "w")
    denom = F.col("__n").cast("double") * F.lit(1000000000000.0)
    for t in range(1, rounds + 1):
        # z-side bias: the -1 row of the checkpointed weight leaf,
        # added to the logit OUTSIDE the integer sum exactly as before
        # (bucket -1 never matches a real feature row in the zs join)
        bias = w.filter(F.col("bucket") == -1).select(
            F.col("w").alias("w_bias")
        )
        zs = (
            f.join(F.broadcast(w), "bucket")
            .select(
                "__id",
                (
                    F.round(F.col("w") * F.lit(1000000.0)).cast("long")
                    * F.col("__xm")
                ).cast("decimal(38,0)").alias("__zp"),
            )
            .groupBy("__id")
            .agg(F.sum("__zp").alias("__zp"))
        )
        d = (
            lab.join(zs, "__id", "left")
            .crossJoin(F.broadcast(bias))
        )
        z = F.round(
            F.coalesce(F.col("__zp").cast("double"), F.lit(0.0))
            / F.lit(1000000000000.0)
            + F.col("w_bias"),
            6,
        )
        s = F.least(
            F.greatest(F.lit(0.5) + z / F.lit(4.0), F.lit(0.0)), F.lit(1.0)
        )
        r = (
            F.floor(s * F.lit(1000000.0)).cast("long")
            - F.col("__y") * F.lit(1000000).cast("long")
        )
        # residuals flow straight into the one gradient aggregate —
        # they have exactly one consumer now, so the r17 residual
        # checkpoint (needed when the bias and bucket aggregates each
        # re-read them) is gone
        res = d.select("__id", r.alias("__r"))
        gb = (
            f_aug.join(res, "__id")
            .groupBy("bucket")
            .agg(
                F.sum(
                    (F.col("__r") * F.col("__xm")).cast("decimal(38,0)")
                ).alias("__g")
            )
        )
        w = truncate_lineage(
            w.join(gb, "bucket", "left")
            .crossJoin(F.broadcast(nrow))
            .select(
                "bucket",
                (
                    F.round(
                        F.col("w")
                        - F.lit(float(eta))
                        * (
                            F.coalesce(
                                F.col("__g"), F.lit(0).cast("decimal(38,0)")
                            ).cast("double")
                            / denom
                        ),
                        6,
                    )
                    + F.lit(0.0)  # normalize -0.0 (cross-engine hash)
                ).alias("w"),
            )
        )
        out = out.unionByName(
            w.select(F.lit(t).alias("step"), "bucket", "w")
        )
    return out


def hashed_logit_score(
    feats: DataFrame,
    labels: DataFrame,
    weights: DataFrame,
    id_col: str,
) -> DataFrame:
    """Score documents against TRAINED hashed weights (the final
    step's ``(bucket, w)`` rows, bucket -1 = bias): the logit is the
    same exact integer ``w_micros · x_micros`` sum the trainer used,
    so train-time and serve-time scores cannot diverge. Emits
    ``(id, score, label, rule_y)`` — label is the quantized score's
    sign, the teacher verdict rides along.

    Scale: bucket-sized broadcast join + one id-keyed aggregate; the
    per-document decision is stateless, which is what makes the
    streaming twin a pure per-batch projection."""
    wb = weights.filter(F.col("bucket") >= 0)
    bias = weights.filter(F.col("bucket") == -1).select(
        F.col("w").alias("w_bias")
    )
    f = feats.select(
        F.col(id_col).alias("__id"),
        "bucket",
        F.round(F.col("x") * F.lit(1000000.0)).cast("long").alias("__xm"),
    )
    zs = (
        f.join(F.broadcast(wb), "bucket")
        .select(
            "__id",
            (
                F.round(F.col("w") * F.lit(1000000.0)).cast("long")
                * F.col("__xm")
            ).cast("decimal(38,0)").alias("__zp"),
        )
        .groupBy("__id")
        .agg(F.sum("__zp").alias("__zp"))
    )
    d = labels.join(
        zs, labels[id_col] == zs["__id"], "left"
    ).crossJoin(F.broadcast(bias))
    score = (
        F.round(
            F.coalesce(F.col("__zp").cast("double"), F.lit(0.0))
            / F.lit(1000000000000.0)
            + F.col("w_bias"),
            6,
        )
        + F.lit(0.0)  # normalize -0.0 (cross-engine hash)
    )
    return d.select(
        id_col,
        score.alias("score"),
        F.when(score >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
        F.col("y").cast("long").alias("rule_y"),
    )
