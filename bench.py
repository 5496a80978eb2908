"""Headline benchmark — one JSON line for the driver.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is executed to completion with the ``noop`` batch sink —
it materializes every output column (a bare ``count()`` would let
Catalyst prune computed columns and under-measure) without paying
driver-side collection.

Methodology: each query runs twice; the reported per-query time is the
second (steady-state) run. The first invocation of a query pays
one-time whole-stage-codegen compilation + JVM JIT warm-up, which on a
long-lived cluster amortizes to noise but at sf0.1 can exceed the
actual execution time 5×. The cold first-run total is still reported
(``cold_total_sec``) so regressions in compile cost stay visible.

Every section is a table below (``HEADLINE``, ``EXTENDED``,
``STRETCH``, ``SKEW``) timed by the one :func:`measure`.

Profiling mode: ``python bench.py --only NAME... [--round N --tag T]``
times just the named registry rows the same way (cold run, then
min-of-2 steady) and prints one ``sec (cold) name`` line each plus a
total; with ``--round`` it then writes each row's
``explain('formatted')`` plan to ``plans/r<N>/<name>_<tag>.txt``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import re
import sys
import time
from datetime import datetime
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from farmrpg_etl_spark.functions.hashing import words  # noqa: E402
from farmrpg_etl_spark.operators import dedup as D  # noqa: E402
from farmrpg_etl_spark.operators import joins as J  # noqa: E402
from farmrpg_etl_spark.operators import similarity as S  # noqa: E402
from farmrpg_etl_spark.operators.curation import bpe_merges  # noqa: E402
from farmrpg_etl_spark.operators.heavyhitters import heavy_hitters  # noqa: E402
from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows  # noqa: E402
from farmrpg_etl_spark.queries import _CHAT_TEMPLATE, QUERIES  # noqa: E402
from farmrpg_etl_spark.sources.tables import load_table  # noqa: E402

# warms the JVM + parquet footers with a trivial action before any
# timed row
WARM = "j3_fk_hydrate"

# headline set: relational core + reference ops + LLM-pipeline ops
HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "regional_revenue",
    "top_customers_per_nation",
    "a1_latest_event_per_user_agg",
    "d1_changes_events",
    "exact_dedup_docs",
    "minhash_lsh_pairs_docs",
    "text_metrics_docs",
    "ann_topk_bruteforce",
    "asof_click_attribution",
    "tfidf_top_terms",
]

# Later operator additions, timed the same way but reported separately
# so the headline total stays comparable across rounds. A row absent
# from the committed BENCH_LOCAL.json is "new" this round: the
# one-line JSON splits `extended_total_inherited_sec` (directly
# diffable against the previous round) from `extended_total_new_sec`.
EXTENDED = [
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "decontaminate_docs",
    "repetition_docs",
    "pack_sequences_docs",
    "hourly_rollup_events",
    "ngram_jaccard_docs",
    "simhash_docs",
    "chunk_dedup_docs",
    "token_budget_mixture_docs",
    "ann_topk_quantized",
    "training_data_pipeline",
    "semantic_dedup_embeddings",
    "fuzzy_decontaminate_docs",
    "histogram_quantile_events",
    # round-3 additions
    "kmeans_lloyd_embeddings",
    "decode_real_media_docs",
    "incremental_lsh_docs",
    "j1_resolve_join",
    "heavy_hitter_tokens",
    "semantic_dedup_lloyd",
    # round-4 additions
    "dup_span_docs",
    "bm25_topk_docs",
    # round-5 additions
    "cut_dup_span_docs",
    "bpe_merges_docs",
    "ann_recall_ivf_tuned",
    "pooled_semantic_dedup_embeddings",
    # round-6 additions
    "training_data_pipeline_v2",
    "ann_topk_pq_rerank",
    "ann_topk_ivfpq",
    "hybrid_retrieval_docs",
    # round-8/9 additions
    "perplexity_docs",
    "ppl_external_lm_docs",
    "line_dedup_docs",
    "url_canonicalize_docs",
    "quality_logit_docs",
    "training_data_pipeline_v3",
    "funnel_events",
    "cohort_retention_events",
    "bloom_decontaminate_docs",
    "pagerank_docs",
    "char_entropy_docs",
    "event_transitions_events",
    "linear_attribution_events",
    "gap_fill_events",
    "k_partitioned_sink",
    "record_linkage_customer",
    "winsorize_events",
    "dq_checks_events",
    "dq_orphan_orders",
    "anomaly_hours_events",
    # round-10 additions
    "bloom_bitmap_decontaminate_docs",
    "lang_id_ngram_docs",
    "c4_fineweb_filter_docs",
    "training_data_pipeline_v4",
    "k_sqldb_insert_absent",
    # round-11 additions
    "training_data_pipeline_v5",
    "lang_id_script_docs",
    "k_docstore_partial_sink",
    "streaming_tws_first_seen",
    # round-13 additions (kn5_ppl_filter subsumes the 5-gram
    # train+score+bucket pipeline — the lm/perplexity rows would
    # re-pay its training cost for the same timing signal, and the
    # bench wall is already near the driver's capture window)
    "kn5_ppl_filter_docs",
    "crawl_robots_e2e_docs",
    "hard_negatives_recall",
    "training_data_pipeline_v6",
    # round-14 additions (v7 subsumes ccnet_per_lang_filter_docs —
    # it runs the identical keyed-KN stage over the gated
    # survivors, so timing both would re-pay the same ~30 s
    # training twice; streaming_pipeline_v6 is its own driver row)
    "unimax_mixture_docs",
    "training_data_pipeline_v7",
    "dsir_select_docs",
    # round-15 additions (v8 = DSIR selection composed over v7's
    # survivors; corpus_report_v7_docs and streaming_pipeline_v7
    # reuse the same interior+KN plans, so timing them separately
    # would re-pay the identical ~15 s stage for no new signal)
    "training_data_pipeline_v8",
    # round-16 additions (v9 = the full build: v8's interior +
    # clusters + schedule + packing, so corpus_report_v9_splits
    # would re-pay the same ~20 s interior for no new signal;
    # streaming_leakage_splits is its batch row + micro-batch
    # plumbing, timed via the batch row's cluster stage)
    "training_data_pipeline_v9",
    "doremi_iterated_docs",
    "leakage_safe_splits_docs",
    # streaming_pipeline_v9 re-pays the identical frozen
    # interior + schedule (timed via the batch v9 row); the
    # trained classifier is its own new timing signal
    "logit_train_docs",
    # round-17 additions (token_id_packs subsumes bpe_encode —
    # it runs the identical train+encode chain plus the pack
    # regroup; the hashed filter/streaming twin re-pay the
    # trainer for the same timing signal; v10 re-pays v9's
    # interior but its BPE+pack tail is the new flagship stage)
    "token_id_packs_docs",
    "logit_train_hashed_docs",
    "training_data_pipeline_v10",
    "auth_lookup_users",
]


# ---------------------------------------------------------------------------
# Timing
# ---------------------------------------------------------------------------


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def count(df) -> int:
    return df.count()


def measure(spark, name, build, *, warm=False, steady=2, action=noop, release=False):
    """Run ``action(build())`` once, then ``steady`` more timed times.

    Returns ``(cold, steady_secs, first)``: the first run's seconds
    (rounded; None under ``warm``, where that run is only a warm-up
    paying codegen compile + JIT), the raw steady-run seconds (min-of-2
    shields against host noise spikes) and the first run's action
    result (the row count under :func:`count`). Every run carries
    ``name`` as its Spark job description.

    Afterwards the row's cleanup: ``clearCache()`` drops the row's
    persisted intermediates (e.g. minhash signature caches) —
    operators persist by design and re-built plans re-hit the
    CacheManager by plan equality, so without it the cache grows
    monotonically all run and tail queries pay the GC pressure (r3
    measured uniform ~1.2× drift on unchanged queries late in the
    run). ``release`` adds a Python + JVM GC, which is what frees
    localCheckpoint blocks: they are released on JVM GC of the
    unreferenced DataFrame, not by clearCache(), and the v7/v8 100×
    rows each pin a full-corpus-with-text interior — three rows of
    those blocks piling up OOMed an 8g heap on the row AFTER them
    (kn5_filter_100x, r16 first stretch run).
    """
    sc = spark.sparkContext
    sc.setJobDescription(name)
    t0 = time.time()
    first = action(build())
    cold = None if warm else round(time.time() - t0, 3)
    secs = []
    for _ in range(steady):
        t0 = time.time()
        action(build())
        secs.append(time.time() - t0)
    sc.setJobDescription(None)
    spark.catalog.clearCache()
    if release:
        gc.collect()
        sc._jvm.System.gc()
    return cold, secs, first


def time_rows(spark, names, d, **kw):
    """:func:`measure` each registry row of ``names`` over ``d`` with
    the ``noop`` sink: ``{name: (cold, steady_secs)}``."""
    return {n: measure(spark, n, partial(QUERIES[n], spark, d), **kw)[:2] for n in names}


def headline(spark, d, *, warm):
    """One headline pass over ``d``: a cold run (a re-warm under
    ``warm``) then min-of-2 steady. Returns ``(best, cold)`` maps."""
    rows = time_rows(spark, HEADLINE, d, warm=warm)
    return {n: round(min(s), 3) for n, (_, s) in rows.items()}, {n: c for n, (c, _) in rows.items()}


def merge_pass2(out, prefix, key, total_key, pass2):
    """Publish the element-wise min of ``out[key]`` and ``pass2``;
    both raw passes stay in the detail so a divergence is auditable."""
    out[f"{prefix}_pass1"] = dict(out[key])
    out[f"{prefix}_pass2"] = pass2
    out[key] = {n: round(min(t, pass2[n]), 3) for n, t in out[key].items()}
    out[total_key] = round(sum(out[key].values()), 3)


def committed_extended() -> set:
    """Extended row names of the committed BENCH_LOCAL.json, i.e. the
    rows inherited from the previous round."""
    try:
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as f:
            return set(json.load(f).get("extended_queries", {}))
    except (OSError, ValueError):
        return set()


# ---------------------------------------------------------------------------
# Parse throughput
# ---------------------------------------------------------------------------


def parse_throughput(spark) -> dict:
    """Chat msg-parses/s through the real parse stage: 700 payloads of
    the reference's 100-message golden fixture when present, else of a
    synthetic 100-message body in the same markup (``parse_input`` says
    which)."""
    fixture = os.environ.get(
        "REFERENCE_CHAT_FIXTURE",
        "/root/reference/test/scrapers/fixtures/chat_help.html",
    )
    if os.path.exists(fixture):
        with open(fixture, "rb") as f:
            body, source = f.read(), "reference"
    else:
        # every 5th message deleted, ids 0..99
        body = "".join(
            _CHAT_TEMPLATE
            % (" redstripes" if i % 5 == 0 else "", i % 11 + 1, i % 60, i * 7 % 60, f"u{i % 50}", i, f"message {i}")
            for i in range(100)
        ).encode()
        source = "synthetic"
    t0 = datetime(2022, 4, 17, 23, 59, 59)
    rows = [("chat", f"r{i}", t0, 200, body) for i in range(700)]
    pdf = spark.createDataFrame(
        rows, "source string, key string, fetch_ts timestamp, status int, body binary"
    ).repartition(32)
    _, secs, n = measure(
        spark, "parse_throughput", lambda: parsed_rows(parse_payloads(pdf, "chat")),
        warm=True, steady=1, action=count,
    )
    return {"parse_msgs_per_sec": round(n / secs[0]), "parse_input": source}


# ---------------------------------------------------------------------------
# Stretch corpora: deterministic 10× / 100× syntheses of the input corpus
# ---------------------------------------------------------------------------

# replicas -> (directory, synthesis marker version). Bump a version
# when its synthesis logic changes.
CORPORA = {10: ("/tmp/farmrpg_sf1_synth", "v3"), 100: ("/tmp/farmrpg_sf10_synth", "v2")}

# Relational tables at 10×: consistent 10-universe replication — every
# key/FK column gets the SAME per-replica offset, so joins stay within
# a universe (zero cross-replica fan-out), row counts scale exactly
# 10×, and name-keyed group-bys collapse the universes back to the
# same output rows with 10× sums. Offsets: int32 FK columns
# (nation/region keys, values < 100) shift by k·1000; bigint keys by
# k·10⁹ (long math — k is cast first so ANSI mode cannot overflow an
# int intermediate).
INT_OFF = 1000
BIG_OFF = 1_000_000_000
KEY_OFFSETS = {
    "region": {"r_regionkey": INT_OFF},
    "nation": {"n_nationkey": INT_OFF, "n_regionkey": INT_OFF},
    "customer": {"c_custkey": BIG_OFF, "c_nationkey": INT_OFF},
    "supplier": {"s_suppkey": BIG_OFF, "s_nationkey": INT_OFF},
    "part": {"p_partkey": BIG_OFF},
    "orders": {"o_orderkey": BIG_OFF, "o_custkey": BIG_OFF},
    "lineitem": {"l_orderkey": BIG_OFF, "l_partkey": BIG_OFF, "l_suppkey": BIG_OFF},
    "events": {"event_id": BIG_OFF, "user_id": BIG_OFF},
}


def _replicas(n):
    """Explodes each row into replicas k = 0..n-1 (column ``k``)."""
    return F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k")


def _shifted(t, n, keys):
    """``t`` replicated ``n``× with each column of ``keys`` shifted by
    k·offset in replica k."""
    return t.select(*t.columns, _replicas(n)).select(*[
        (F.col(c) + F.col("k").cast("long" if keys[c] == BIG_OFF else "int") * F.lit(keys[c])).alias(c)
        if c in keys else F.col(c)
        for c in t.columns
    ])


def synthesize(spark, sf_dir, n, phase) -> None:
    """Write the ``n``-replica corpus of ``sf_dir`` unless its marker is
    present.

    The sf1 (10×) stretch proves the scale guards hold an order of
    magnitude up: banded LSH verify, shared-shingle+length-band
    Jaccard, and semantic dedup with the secondary-LSH skew guard
    ACTUALLY ENGAGED (max_cluster_size well below the 10× cluster
    sizes). Replica tokens are k-perturbed so the near-dup DENSITY
    stays realistic (≈2% of docs form planted n-member families; the
    rest are mutually distant) — a corpus that is 90% duplicates would
    measure quadratic verify cost, not 10× scale. The 100× corpus
    (documents and customer only) is the second point of the
    1×/10×/100× scaling curve.

    Deterministic: same code + same input dir → same bytes, so a
    completed synthesis is reusable across bench runs on one machine.
    The marker encodes the recipe version AND the resolved input dir —
    a different SPARK_GRAFT_SF_DIR re-synthesizes instead of silently
    reusing a corpus built from another scale factor.
    """
    out_dir, version = CORPORA[n]
    dir_tag = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:10]
    marker = os.path.join(out_dir, f"_SYNTH_OK_{version}_{dir_tag}")
    if os.path.exists(marker):
        phase(f"{n}x synthesis skipped (marker present)")
        return
    phase(f"{n}x synthesis start")

    def write(df, nfiles, tbl):
        # many files: scan parallelism at any maxPartitionBytes (on a
        # real cluster the ingest layout provides this; a synthesized
        # single-file corpus would serialize every downstream scan)
        df.repartition(nfiles).write.mode("overwrite").parquet(f"{out_dir}/{tbl}.parquet")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source", _replicas(n))
    kstr = F.col("k").cast("string")
    write(docs.select(
        (F.col("doc_id") + F.col("k") * 1_000_000).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text"))
        .when(
            F.col("doc_id") % 50 == 0,  # planted near-dup families
            F.concat(F.col("text"), F.lit(" replica "), kstr),
        )
        .otherwise(  # k-prefix every token: mutually distant replicas
            F.replace(F.col("text"), F.lit(" "), F.concat(F.lit(" "), kstr))
        )
        .alias("text"),
        # carried for the URL-synthesis rows (pipeline_v5_10x)
        F.col("source"),
    ), 64, "documents")
    if n == 100:
        # customer only (record_linkage_100x): c_custkey shifts by
        # k·10⁹ so the planted typo variants (+1,000,000 inside each
        # universe) never collide across universes and clusters stay
        # within a universe
        keys = {"c_custkey": KEY_OFFSETS["customer"]["c_custkey"]}
        write(_shifted(load_table(spark, sf_dir, "customer"), n, keys), 16, "customer")
    else:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label", _replicas(n))
        write(emb.select(
            (F.col("vec_id") + F.col("k") * 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + (F.col("k") * 0.001) * F.when(i == 0, 1.0).otherwise(0.0),
            ).alias("embedding"),
            "label",
        ), 64, "embeddings")
        # write proper micros timestamps (the default INT96 reads back
        # as timestamp[ns] through pyarrow and confuses nano detection)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        for tbl, keys in KEY_OFFSETS.items():
            nfiles = 64 if tbl in ("lineitem", "orders", "events") else 4
            write(_shifted(load_table(spark, sf_dir, tbl), n, keys), nfiles, tbl)
    with open(marker, "w") as f:
        f.write("ok")
    phase(f"{n}x synthesis done")


# ---------------------------------------------------------------------------
# Stretch rows: (name, source) where source is a registry row name or a
# build(spark, dir) function. A row's corpus is named by its suffix
# (_100x: the 100× corpus, else the 10× one), so the 10× and 100× rows
# of one query share their source.
# ---------------------------------------------------------------------------


def _docs(spark, d):
    return spark.read.parquet(f"{d}/documents.parquet")


def _embeddings(spark, d):
    return spark.read.parquet(f"{d}/embeddings.parquet")


def _minhash(spark, d):
    return D.minhash_lsh_pairs(
        _docs(spark, d), "text", "doc_id", num_hashes=16, bands=4, threshold=0.3, shingle_k=3
    )


def _jaccard(spark, d):
    return D.ngram_jaccard_pairs(
        _docs(spark, d).withColumn("lang", F.lit("en")), "text", "doc_id", "lang",
        shingle_k=3, threshold=0.5,
    )


def _semantic_dedup(spark, d, impl):
    # A/B of the pair-scoring impls at 10×: "arrow" generates
    # candidates with a per-group numpy matmul + exact fold rescore,
    # "catalyst" is the pure fold self-join. Outputs identical
    # (guard-banded candidate superset contract).
    clustered = _embeddings(spark, d).select("vec_id", "embedding", F.col("label").alias("cluster"))
    return S.semantic_dedup(
        clustered, "embedding", "vec_id", "cluster", threshold=0.25,
        max_cluster_size=500, split_dim=64, split_planes=2, impl=impl,
    )


def _heavy_hitters(spark, d):
    # the k-mutation (deliberately) fragments the vocabulary, so the
    # organic corpus has no 1/200-heavy token; plant three
    # per-document hitters HERE (not in the corpus files — an
    # every-document shingle would quadratically poison the Jaccard
    # stretch) so recall is observable, not vacuous
    toks = _docs(spark, d).select(
        F.explode(words(F.concat(F.col("text"), F.lit(" hh0 hh1 hh2")))).alias("tok")
    )
    return heavy_hitters(toks, "tok", k=200)


def _dup_span(spark, d):
    # the heaviest new shuffle — ~24 B/token of (id, pos, md5) — at
    # 10× corpus: direct evidence the ExactSubstr span operator's cost
    # stays linear in corpus tokens. The dup_tok > 0 filter is
    # load-bearing for the MEASUREMENT: a bare count() of the
    # unfiltered output lets Catalyst eliminate the outer join (unique
    # right keys preserve cardinality) and prune the whole
    # dup-detection subtree, timing only the scan (measured 0.46 s vs
    # ~8 s real).
    return D.duplicated_spans(_docs(spark, d), "text", "doc_id", k=8).filter(F.col("dup_tok") > 0)


def _cut_dup_span(spark, d):
    # span CUTTING at 10×: the detect path's shuffle plus the
    # dense-position coverage window and per-doc reassembly. The
    # kept_tok < n_tok filter plays the same anti-plan-elision role as
    # dup_tok > 0 above.
    return D.cut_duplicated_spans(_docs(spark, d), "text", "doc_id", k=8).filter(
        F.col("kept_tok") < F.col("n_tok")
    )


def _bpe_merges(spark, d):
    # iterative BPE training at 10×: vocab-first reduction means the
    # per-round cost is driven by VOCAB size (Heaps-law sublinear in
    # corpus tokens), so 10× corpus should be far under 10× time
    return bpe_merges(_docs(spark, d), "text", n_merges=3)


def _pq_rerank(spark, d):
    # PQ shortlist+rescore at 10× corpus: the ADC scan is the
    # scale-bearing stage (2-byte codes map-side vs broadcast
    # dtables); exact math stays bounded at queries×shortlist
    # regardless of corpus size
    e = _embeddings(spark, d)
    return S.pq_adc_rerank_topk(
        e, e.filter(F.col("vec_id") < 10), "embedding", "vec_id", k=5, m=8, ks=16, shortlist=200
    )


def _ann(spark, d, impl):
    # A/B of the two ann_topk_bruteforce impls at 10× corpus — the
    # scale regime where the arrow prune+rescore kernel is supposed to
    # win (at 1× the 2000-row corpus is fixed-cost dominated and the
    # impls tie). Outputs are bit-identical (veckernel contract); only
    # the physical plan differs.
    b = _embeddings(spark, d)
    return S.ann_topk_bruteforce(b, b.filter(F.col("vec_id") < 10), "embedding", "vec_id", k=5, impl=impl)


def _audit_cols():
    # v5/v6/v7: forces the contamination join, the lang expression
    # tree AND the reassembly digest (a bare count() of the unique-key
    # left join would let Catalyst elide all three and time only the
    # dedup core)
    return (F.col("n_contaminated") > 0) | (F.col("lang") != "xx") | (F.col("out_digest") > "")


# Anti-elision filters of the registry rows timed by count(): each
# forces the columns whose computation a bare count() would let
# Catalyst prune.
KEEP = {
    # the dedup subtree (a bare count() of a unique-right-key left
    # join lets Catalyst prune the whole computation)
    "line_dedup_docs": lambda: F.col("n_kept") < F.col("n_lines"),
    # the step joins (unique-key left joins preserve cardinality, so
    # steps 2-3 would be elided and only step 1 timed)
    "funnel_events": lambda: F.col("steps_completed") >= 2,
    # the full signal expression tree (else an empty scan is timed)
    "c4_fineweb_filter_docs": lambda: ~F.col("keep_gopher") | ~F.col("keep_c4"),
    "training_data_pipeline_v5": _audit_cols,
    "training_data_pipeline_v6": _audit_cols,
    "training_data_pipeline_v7": _audit_cols,
    # the DSIR score columns (the top-50 count alone would be 50
    # regardless of values)
    "training_data_pipeline_v8": lambda: (F.col("logw") != 0.0) | (F.col("bucket") != ""),
}

STRETCH = {
    "sf1_stretch": [
        ("minhash_lsh_pairs_10x", _minhash),
        ("ngram_jaccard_10x", _jaccard),
        ("semantic_dedup_guarded_10x", partial(_semantic_dedup, impl="arrow")),
        ("semantic_dedup_10x_catalyst", partial(_semantic_dedup, impl="catalyst")),
        ("heavy_hitters_10x", _heavy_hitters),
        ("dup_span_10x", _dup_span),
        ("cut_dup_span_10x", _cut_dup_span),
        ("bpe_merges_10x", _bpe_merges),
        ("pq_rerank_10x", _pq_rerank),
        # the full chunk→embed→pool→celled-dedup→decontaminate
        # composition: the per-doc stages are map-side so cost should
        # track corpus size; the dedup self-join is bounded by the
        # LSH cells
        ("pipeline_v2_10x", "training_data_pipeline_v2"),
        # frequency partial-agg on the line key, broadcast anti-join
        # against the boilerplate set, per-doc reassembly; the
        # k-mutated replicas keep the frequent set small and realistic
        ("line_dedup_10x", "line_dedup_docs"),
        # 3-step funnel (consistent universe replication keeps funnels
        # within-universe)
        ("funnel_10x", "funnel_events"),
        # C4/Gopher page filter: zero shuffles, zero UDFs — the "runs
        # at scan speed" claim as a measured point
        ("c4_filter_10x", "c4_fineweb_filter_docs"),
        # 5-round PageRank: one dst-keyed shuffle per round over a
        # fixed-out-degree edge list, so ~linear in the node count;
        # the eager per-round checkpoints are inside the timed call
        ("pagerank_10x", "pagerank_docs"),
        # entity resolution: md5-tail blocks stay bounded, the
        # Levenshtein verify is block-capped and the closure rounds
        # are O(star diameter)=1 — time should track the blocked-pair
        # count, not customers²
        ("record_linkage_10x", "record_linkage_customer"),
        # the crawl-front-half composition: robots gate (broadcast
        # rules), page gate, survivor line dedup, holdout
        # contamination census
        ("pipeline_v5_10x", "training_data_pipeline_v5"),
        # v5 with the LIVE crawl gate (robots bodies over real HTTP,
        # one GET per host — host count is unchanged at 10×, so the
        # e2e-fidelity cost stays constant while the gated corpus
        # scales)
        ("pipeline_v6_10x", "training_data_pipeline_v6"),
        # the order-5 KN family: LM training IS the cost — one corpus
        # shuffle into top-order counts + LM-sized suffix
        # re-aggregations; the row materializes and releases its own
        # tables
        ("kn5_filter_10x", "kn5_ppl_filter_docs"),
        # per-language CCNet: N languages are claimed to cost ONE
        # model's shuffle schedule (counts key on (lang, ctx, w)) —
        # this point against kn5_filter's on the same corpus measures
        # that claim
        ("ccnet_per_lang_10x", "ccnet_per_lang_filter_docs"),
        ("ann_bruteforce_10x_arrow", partial(_ann, impl="arrow")),
        ("ann_bruteforce_10x_catalyst", partial(_ann, impl="catalyst")),
        # the full tokenizer loop: BPE vocab (Heaps-sublinear),
        # per-vocab-entry segmentation + id join, schedule cumsum and
        # per-pack regroup — the slope should sit well under linear
        ("token_id_packs_10x", "token_id_packs_docs"),
        # K=10 exact-integer GD passes over the hashed feature leaf:
        # the weight relation stays ≤4096 rows regardless of corpus
        # size, so the slope measures the K corpus scans + bucket
        # aggregates alone
        ("hashed_logit_train_10x", "logit_train_hashed_docs"),
    ],
    # Gated behind SPARK_GRAFT_STRETCH_100X: the synthesis + runs add
    # minutes the per-round driver window doesn't have. The flagship
    # v7/v8 compositions keep BOTH their points here: they embed the
    # complete per-language KN training — minutes per run at sf1.
    "sf10_stretch": [
        ("pipeline_v7_10x", "training_data_pipeline_v7"),
        ("pipeline_v8_10x", "training_data_pipeline_v8"),
        ("pipeline_v7_100x", "training_data_pipeline_v7"),
        ("pipeline_v8_100x", "training_data_pipeline_v8"),
        ("line_dedup_100x", "line_dedup_docs"),
        ("minhash_lsh_pairs_100x", _minhash),
        ("c4_filter_100x", "c4_fineweb_filter_docs"),
        ("pagerank_100x", "pagerank_docs"),
        ("kn5_filter_100x", "kn5_ppl_filter_docs"),
        ("ccnet_per_lang_100x", "ccnet_per_lang_filter_docs"),
        ("pipeline_v5_100x", "training_data_pipeline_v5"),
        ("pipeline_v6_100x", "training_data_pipeline_v6"),
        ("record_linkage_100x", "record_linkage_customer"),
        # the trained classifier: the K gradient rounds run EAGERLY
        # at build time (per-round reliable checkpoints), so the timed
        # window captures the full training cost; the counted relation
        # is just the 4-row weight trajectory
        ("logit_train_10x", "logit_train_docs"),
        ("logit_train_100x", "logit_train_docs"),
    ],
}


def stretch_df(spark, name, source):
    d = CORPORA[100 if name.endswith("_100x") else 10][0]
    if callable(source):
        return source(spark, d)
    df = QUERIES[source](spark, d)
    keep = KEEP.get(source)
    return df if keep is None else df.filter(keep())


def stretch(spark, section, phase) -> dict:
    """Time every row of ``STRETCH[section]`` by count(): a cold run,
    then 2 steady."""
    out = {}
    for name, source in STRETCH[section]:
        cold, secs, n = measure(
            spark, name, partial(stretch_df, spark, name, source), action=count, release=True
        )
        # best-of-ALL-runs, cold included (r14 verdict #7): rows built
        # on localCheckpoint leaves re-train fresh leaves on every
        # invocation, so a "steady" pass is another full honest run
        # that can overlap the previous pass's shuffle-file GC and come
        # out SLOWER than cold (kn5_filter_100x: 106.7 s steady vs
        # 91.3 s cold). min-over-three keeps sec <= cold_sec by
        # construction; cold_sec stays visible for the compile cost.
        out[name] = {"sec": round(min(secs + [cold]), 3), "cold_sec": cold, "rows": n}
        phase(f"{name} {out[name]['sec']}s (cold {cold}s)")
    return out


# ---------------------------------------------------------------------------
# Skew join A/B
# ---------------------------------------------------------------------------

# AQE-runtime-skew-split vs manual salt, A/B on a PLANTED power-law key
# at 10×: half the fact rows share key 0, the rest spread over 999
# keys — the shape where a plain shuffle join pins one straggler task.
# Broadcast is disabled (the dim fits in memory here; at 100 TB the
# interesting dims don't) so both variants pay the shuffle, and the
# ONLY difference is who breaks the hot partition: AQE's post-shuffle
# split (skewedPartitionThresholdInBytes lowered to fire at this
# scale) or salted_join's 16-way pre-shuffle spread. Outputs are
# asserted identical; the executed plan is grepped for the skew=true
# marker so "AQE handled it" is a recorded fact, not an assumption.
# docs/SCALE.md "Skew strategy A/B" discusses the crossover.
SKEW = {
    "skew_join_aqe_10x": ("aqe", {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    }),
    "skew_join_salted_10x": ("salted", {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    }),
}


def _skew_join(spark, d, mode):
    ev = spark.read.parquet(f"{d}/events.parquet")
    fact = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.col("event_id"), F.lit(1000)))
        .cast("long")
        .alias("k"),
        "value",
    )
    dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w"))
    j = fact.join(dim, "k") if mode == "aqe" else J.salted_join(fact, dim, "k", num_salts=16)
    return j.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * F.col("w"))).alias("s"),
    )


def skew_ab(spark) -> dict:
    d = CORPORA[10][0]
    keys = sorted({k for _, confs in SKEW.values() for k in confs})
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def reset():
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)

    out, results = {}, {}
    try:
        for name, (mode, confs) in SKEW.items():
            # reset EVERY A/B key to its saved baseline first, so a mode
            # never inherits the other mode's overrides (the aqe-only
            # advisory/threshold keys would otherwise leak into the
            # salted measurement)
            reset()
            for k, v in confs.items():
                spark.conf.set(k, v)
            cold, secs, (row, df) = measure(
                spark, name, partial(_skew_join, spark, d, mode), action=lambda df: (df.collect()[0], df)
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            results[mode] = (row["n"], row["s"])
            out[name] = {
                "sec": round(min(secs), 3),
                "cold_sec": cold,
                "rows": row["n"],
                "skew_split_in_plan": "skew=true" in plan.lower(),
            }
    finally:
        reset()
    # salting is a physical strategy, not a semantic one
    assert results["aqe"] == results["salted"], results
    return out


# ---------------------------------------------------------------------------
# Drivers
# ---------------------------------------------------------------------------


def profile(spark, sf_dir, names, round_no, tag) -> None:
    """``--only``: time ``names`` and, with ``round_no``, capture plans."""
    total = 0.0
    for name in names:
        cold, secs, _ = measure(spark, name, partial(QUERIES[name], spark, sf_dir), release=True)
        total += min(secs)
        print(f"{min(secs):8.3f}s (cold {cold:7.3f}s)  {name}", flush=True)
    print(f"{total:8.3f}s TOTAL (steady best)")
    if round_no is None:
        return
    # Plan capture LAST: explainString re-builds each query (persisting
    # operator intermediates and, for eager rows, executing them) —
    # interleaving it with the timing loop poisoned later timings
    # (minhash steady 14.2 s interleaved vs 1.8 s clean).
    plans_dir = os.path.join(REPO, "plans", f"r{round_no}")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", nargs="+", metavar="NAME", help="time just these registry rows")
    ap.add_argument("--round", type=int, help="with --only: write plans to plans/r<N>/")
    ap.add_argument("--tag", default="before", help="plan file suffix")
    args = ap.parse_args()
    if args.round is not None and not args.only:
        ap.error("--round needs --only")

    t_start = time.time()

    def phase(msg: str) -> None:
        # stderr breadcrumb: where bench wall-time goes (the JSON line
        # on stdout stays the single machine-readable artifact)
        print(f"[bench +{time.time() - t_start:7.1f}s] {msg}", file=sys.stderr)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Local testdata is a single ~10 MB file per table (and the sf1
    # stretch synthesizes ~100 MB files); at the default 128m split a
    # scan becomes ONE task and a 32-core box idles 31 cores. 4m keeps
    # scan fan-out ≈ core count here without distorting the plans; on
    # a real cluster the default is right because file COUNT provides
    # the parallelism.
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")

    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    phase("session up; warming")
    measure(spark, WARM, partial(QUERIES[WARM], spark, sf_dir), warm=True, steady=0)
    if args.only:
        profile(spark, sf_dir, args.only, args.round, args.tag)
        return
    phase("headline block start")
    times, cold = headline(spark, sf_dir, warm=False)
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
    }

    # SPARK_GRAFT_HEADLINE_ONLY=1: stop after the headline block — the
    # isolated-process measurement mode (r4 verdict: settle whether the
    # marathon itself inflates headline times). Emits the same JSON
    # shape, minus the extended/stretch sections.
    if os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", "0") == "1":
        out["bench_wall_sec"] = round(time.time() - t_start, 1)
        phase("headline-only mode: done")
        print(json.dumps(out))
        return

    # reference-throughput comparison: the reference sustains ≤700 chat
    # msg-parses/s (BASELINE.md). Measured HERE — before the
    # extended/stretch marathon and after a cache clear — because
    # tail-of-run JVM pressure was costing 2-3× on this number, and it
    # is the one directly baseline-comparable metric.
    out.update(parse_throughput(spark))

    # ONE timed steady pass after a warm run (the headline block keeps
    # min-of-2; 3 passes of each extended row pushed the bench wall
    # past the driver's window as of r10)
    phase("parse throughput done; extended block start")
    rows = time_rows(spark, EXTENDED, sf_dir, warm=True, steady=1)
    extended = {n: round(s[0], 3) for n, (_, s) in rows.items()}
    inherited = committed_extended()
    out["extended_queries"] = extended
    out["extended_total_sec"] = round(sum(extended.values()), 3)
    out["extended_total_inherited_sec"] = round(sum(v for k, v in extended.items() if k in inherited), 3)
    out["extended_total_new_sec"] = round(sum(v for k, v in extended.items() if k not in inherited), 3)

    if os.environ.get("SPARK_GRAFT_SF1_STRETCH", "1") == "1":
        phase("extended done; sf1 synthesis start")
        synthesize(spark, sf_dir, 10, phase)
        phase("sf1 stretch start")
        out["sf1_stretch"] = stretch(spark, "sf1_stretch", phase)
        phase("skew join A/B start")
        out["sf1_stretch"].update(skew_ab(spark))

        if os.environ.get("SPARK_GRAFT_STRETCH_100X", "0") == "1":
            synthesize(spark, sf_dir, 100, phase)
            phase("sf10 (100x) stretch start")
            out["sf10_stretch"] = stretch(spark, "sf10_stretch", phase)
            phase("sf10 (100x) stretch done")

        # Full-headline sf1: the 12 headline queries on the 10×
        # relational synthesis — direct linear-scaling evidence for the
        # relational core (acceptance: no query superlinear vs its
        # sf0.1 time by more than ~12×).
        phase("sf1 full-headline start")
        out["sf1_headline"], _ = headline(spark, CORPORA[10][0], warm=False)
        out["sf1_headline_total_sec"] = round(sum(out["sf1_headline"].values()), 3)

    # End-of-marathon SECOND headline pass (r12 verdict #6 — bench
    # defense): the artifact's headline becomes the element-wise min
    # of two passes measured ~10 minutes apart, so transient host
    # contention (the r11 11.68 s incident) must strike the same query
    # in BOTH windows to inflate the number. Pass 2 re-warms each plan's
    # codegen after the marathon, then min-of-2 steady.
    phase("headline pass 2 start")
    merge_pass2(out, "headline", "queries", "value", headline(spark, sf_dir, warm=True)[0])
    # sf1-headline SECOND pass (r16 verdict #4 — the same two-window
    # contention defense: the r16 14.97→24.35 s read on byte-identical
    # plans was ambient, but only a pass-2 min makes that provable per
    # artifact).
    if "sf1_headline" in out:
        phase("sf1 headline pass 2 start")
        pass2, _ = headline(spark, CORPORA[10][0], warm=True)
        merge_pass2(out, "sf1_headline", "sf1_headline", "sf1_headline_total_sec", pass2)

    out["bench_wall_sec"] = round(time.time() - t_start, 1)
    phase("done")
    # Durable on-disk copy of the FULL detail: BENCH_r04/r05.json lost
    # their stdout tails to the driver's capture window
    # ("parsed": null), so everything is written where truncation
    # can't reach it. Default target is the GITIGNORED
    # BENCH_DETAIL.json — a driver bench run must leave `git status`
    # clean (r13 verdict #6: three rounds of dirty-worktree churn on
    # the committed artifact, losing its stretch blocks). The
    # committed builder artifact BENCH_LOCAL.json is only (re)written
    # under SPARK_GRAFT_COMMIT_DETAIL=1, i.e. on an explicit
    # builder-controlled run that includes the env-gated stretch
    # sections worth committing.
    detail_name = "BENCH_DETAIL.json"
    if os.environ.get("SPARK_GRAFT_COMMIT_DETAIL", "0") == "1":
        detail_name = "BENCH_LOCAL.json"
    try:
        with open(os.path.join(REPO, detail_name), "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    # ...and stdout gets a COMPACT line (headline + per-section totals
    # only — no extended/stretch/sf1 per-query maps) sized to survive
    # the capture window so BENCH_r06.json finally parses.
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "cold_total_sec",
            "parse_msgs_per_sec", "parse_input", "extended_total_sec",
            "extended_total_inherited_sec", "extended_total_new_sec",
            "sf1_headline_total_sec", "bench_wall_sec",
        )
        if k in out
    }
    if "sf1_stretch" in out:
        compact["sf1_stretch_total_sec"] = round(
            sum(v["sec"] for v in out["sf1_stretch"].values()), 3
        )
    compact["detail"] = detail_name
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
