"""Unit tests for pipeline operators beyond the oracle-parity gate."""

from __future__ import annotations

import pytest

from mspr2_back_spark.operators import dedup, multimodal, similarity
from pyspark.sql import functions as F

from mspr2_back_spark.plans import ORACLE_SQL, QUERIES
from mspr2_back_spark.sources.readers import load_table


def test_no_oracle_queries_still_run(spark, sf_dir):
    missing = sorted(k for k in QUERIES if k not in ORACLE_SQL)
    # every rows-only query must carry its own falsifiable in-repo
    # bound/contract test (HLL rsd bound, AR forecast contract,
    # GK rank-error bound)
    assert missing == [
        "approx_distinct_users",
        "approx_price_quantiles",
        "ml_forecast_ar",
    ], missing
    for name in missing:
        df = QUERIES[name](spark, sf_dir)
        assert df.count() > 0


def test_frame_sampling_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    out = multimodal.sample_frames(docs, n_frames=4).collect()
    assert len(out) == 20
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
        assert all(len(r.frame_hash) == 32 for r in rows)


def test_minhash_matches_exact_jaccard(spark, sf_dir):
    """LSH candidate+verify must reproduce the exact thresholded set."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_id_1, r.doc_id_2)
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    lsh = {
        (r.doc_id_1, r.doc_id_2)
        for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_blocks_near_dups(spark, sf_dir):
    """Known near-dup pairs (jaccard>=0.8) should have Hamming-close
    simhash fingerprints (<= 4 of 16 bits differ)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    assert pairs
    for p in pairs:
        ham = bin(fp[p.doc_id_1] ^ fp[p.doc_id_2]).count("1")
        assert ham <= 4, (p.doc_id_1, p.doc_id_2, ham)


def test_brute_force_topk_self_excluded(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    top = similarity.brute_force_topk(vecs, 0, k=10).collect()
    assert len(top) == 10
    assert all(r.vec_id != 0 for r in top)
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_catalog_introspection(spark, sf_dir):
    from mspr2_back_spark.sources.catalog import list_tables, table_columns
    from mspr2_back_spark.sources.readers import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("cat_probe_nation")
    assert "cat_probe_nation" in list_tables(spark)
    assert list_tables(spark, pattern="cat_probe") == ["cat_probe_nation"]
    cols = table_columns(spark, "cat_probe_nation")
    assert cols["n_name"] == "string"
    spark.catalog.dropTempView("cat_probe_nation")


def test_multimodal_feature_extract_and_resize(spark, sf_dir):
    from mspr2_back_spark.operators.multimodal import extract_features, resize_images
    from mspr2_back_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    feats = extract_features(docs, dim=16).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-5  # normalized histogram
    resized = resize_images(docs, width=8, height=8).collect()
    assert len(resized) == 50
    assert all(len(r.payload) == 64 for r in resized)
    # Determinism across runs (stub codec contract).
    feats2 = extract_features(docs, dim=16).collect()
    assert {r.doc_id: r.feature for r in feats} == {r.doc_id: r.feature for r in feats2}


def test_hash_sample_deterministic_and_sized(spark, sf_dir):
    from mspr2_back_spark.operators.sampling import hash_sample
    from mspr2_back_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    b = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    assert a == b  # deterministic: same keys every run
    assert 0.1 * n < len(a) < 0.3 * n
    # Different salt: a different (but still deterministic) subset.
    c = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2, salt="v2").select("doc_id").collect()}
    assert c != a


def test_train_val_test_split_partitions(spark, sf_dir):
    from mspr2_back_spark.operators.sampling import train_val_test_split
    from mspr2_back_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    train, val, test = train_val_test_split(docs, "doc_id", 0.15, 0.15)
    n = docs.count()
    nt, nv, ns = train.count(), val.count(), test.count()
    assert nt + nv + ns == n  # exhaustive
    ids = [set(r.doc_id for r in d.select("doc_id").collect()) for d in (train, val, test)]
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])
    assert nv > 0 and ns > 0 and nt > max(nv, ns)


def test_stratified_sample_respects_fractions(spark, sf_dir):
    from mspr2_back_spark.operators.sampling import stratified_sample
    from mspr2_back_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    types = [r.event_type for r in e.select("event_type").distinct().collect()]
    keep, drop = types[0], types[1]
    out = stratified_sample(e, "event_type", {keep: 0.5})
    got = {r.event_type for r in out.select("event_type").distinct().collect()}
    assert got == {keep}  # absent strata dropped
    n_keep_pop = e.filter(F.col("event_type") == keep).count()
    n_keep_sample = out.count()
    assert 0.3 * n_keep_pop < n_keep_sample < 0.7 * n_keep_pop


def test_null_and_empty_text_robustness(spark):
    """Null/empty/whitespace documents must flow through every text
    operator without crashing (nulls may propagate as nulls)."""
    from mspr2_back_spark.functions import text as T

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one two three four")],
        "doc_id long, text string",
    )
    shingled = {r.doc: r.shingles for r in dedup.with_shingles(docs).collect()}
    assert shingled[1] == [""] and shingled[2] == [""] and shingled[3] == [""]
    assert len(shingled[4]) == 2  # 'one two three', 'two three four'

    assert len(dedup.exact_duplicates(docs).collect()) == 4
    assert dedup.minhash_lsh_pairs(docs, threshold=0.8).count() >= 1  # 3 empty-ish docs pair up
    assert len(T.quality_features(docs).collect()) == 4
    assert len(T.token_stats(docs).collect()) == 4
    assert len(T.fingerprints(docs).collect()) == 4


def test_engine_facade(spark, sf_dir):
    from mspr2_back_spark.engine import AnalyticsEngine

    eng = AnalyticsEngine(spark=spark, sf_dir=sf_dir)
    assert "revenue_by_nation" in eng.list_queries()
    assert eng.run("global_totals").count() == 1
    assert "SELECT" in eng.reference_sql("pricing_summary").upper()
    got = eng.sql("SELECT COUNT(*) AS n FROM orders").first().n
    assert got == load_table(spark, sf_dir, "orders").count()
    try:
        eng.run("nope")
        raise AssertionError("expected KeyError")
    except KeyError as e:
        assert "list_queries" in str(e)


def test_ngram_jaccard_df_cap_equivalent_when_generous(spark, sf_dir):
    """A document-frequency cap above every real posting length must
    not change the output; a tiny cap reduces candidates but emitted
    jaccard values stay exact."""
    docs = load_table(spark, sf_dir, "documents")
    uncapped = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()
    }
    capped = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.8, max_doc_freq=10**6).collect()
    }
    assert capped == uncapped and len(uncapped) > 0
    tight = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.8, max_doc_freq=3).collect()
    }
    assert set(tight) <= set(uncapped)
    for k, v in tight.items():
        assert v == uncapped[k]  # exact verification, cap or no cap


def test_repair_encoding_fallback_chain(spark):
    from mspr2_back_spark.functions.text import repair_encoding

    rows = [
        (1, "plain ascii".encode("utf-8")),
        (2, "café crème".encode("utf-8")),
        (3, "café".encode("latin-1")),      # invalid utf-8, valid latin-1
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, raw binary")
    out = {r.doc_id: r.text for r in repair_encoding(df, "raw").collect()}
    assert out[1] == "plain ascii"
    assert out[2] == "café crème"
    assert out[3] == "café"
    assert out[4] is None


def test_near_dup_clusters_transitive_merge(spark):
    """{a,b} + {b,c} must merge into one cluster labeled min(a,b,c),
    and disjoint pairs must stay separate."""
    from mspr2_back_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 21)], "doc_id_1 long, doc_id_2 long"
    )
    got = {r.node: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert got == {2: 2, 5: 2, 9: 2, 20: 20, 21: 20}


def test_near_dup_clusters_chain_converges(spark):
    """A 12-node chain needs multi-round propagation (diameter > 1)."""
    from mspr2_back_spark.operators.dedup import near_dup_clusters

    chain = [(i, i + 1) for i in range(11)]
    pairs = spark.createDataFrame(chain, "doc_id_1 long, doc_id_2 long")
    got = {r.node: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def _union_find_clusters(edges):
    """Pure-Python connected components: node -> min id in its
    component (the ``near_dup_clusters`` output contract)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_near_dup_clusters_matches_union_find(spark):
    """``near_dup_clusters`` produces the same (node, cluster)
    assignment as a union-find over the same edges, across chains
    (diameter-bound rounds), descending-id chains, cliques, random
    graphs, and a star joined to a chain."""
    import random

    from mspr2_back_spark.operators.dedup import near_dup_clusters

    rng = random.Random(42)
    rand = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(400)
    ]
    cliques = [
        (c * 50 + i, c * 50 + j)
        for c in range(10)
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    graphs = {
        "chain": [(i, i + 1) for i in range(30)],
        "revchain": [(i + 1, i) for i in range(25)],
        "cliques": cliques,
        "random": [(a, b) for a, b in rand if a != b],
        "mixed": [(0, i) for i in range(1, 20)]
        + [(100 + i, 101 + i) for i in range(10)]
        + [(19, 100)],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
        lp = {
            r.node: r.cluster
            for r in near_dup_clusters(pairs, max_iter=60).collect()
        }
        assert lp == _union_find_clusters(edges), name


def test_pii_detect_and_redact_literals(spark):
    from mspr2_back_spark.functions.pii import scrub_documents

    docs = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@corp.example.org today"),
            (2, "call +33 555-0199 or ping 192.168.0.7 now"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_documents(docs).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (1, 0, 0)
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 1, 1)
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 0)
    # redaction removes every detected span
    from mspr2_back_spark.functions.pii import redact_pii
    import pyspark.sql.functions as F

    red = {r.doc_id: r.red for r in docs.select(
        "doc_id", redact_pii(F.col("text")).alias("red")).collect()}
    assert red[1] == "reach me at [EMAIL] today"
    assert red[2] == "call [PHONE] or ping [IP] now"
    assert red[3] == "no pii here at all"


def test_repeated_span_and_contamination_bounds(spark, sf_dir):
    """Ratios live in [0, 1]; contamination rows exclude the
    benchmark docs themselves."""
    from mspr2_back_spark.operators.dedup import (
        contamination_screen,
        repeated_span_coverage,
    )
    from mspr2_back_spark.sources.readers import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    rs = repeated_span_coverage(docs)
    bad = rs.filter((F.col("repeated_ratio") < 0) | (F.col("repeated_ratio") > 1))
    assert bad.count() == 0 and rs.count() == docs.count()
    cs = contamination_screen(docs, F.col("doc_id") % 50 == 0)
    assert cs.filter(F.col("doc_id") % 50 == 0).count() == 0
    assert cs.filter((F.col("contamination") <= 0) | (F.col("contamination") > 1)).count() == 0


def test_mixture_sample_deterministic_and_rate_scoped(spark):
    """Same key set in/out across reruns; rate=1 keeps all, rate=0
    keeps none."""
    from mspr2_back_spark.operators.sampling import mixture_sample

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in mixture_sample(df, F.lit(0.3), "doc_id").collect()}
    b = {r.doc_id for r in mixture_sample(df, F.lit(0.3), "doc_id").collect()}
    assert a == b and 200 < len(a) < 400
    assert mixture_sample(df, F.lit(1.0), "doc_id").count() == 1000
    assert mixture_sample(df, F.lit(0.0), "doc_id").count() == 0


def test_incremental_pairs_match_full_pairs_restriction(spark, sf_dir):
    """Corpus-vs-batch incremental pairs == the full pair set
    restricted to (corpus, batch) pairs (order-normalized)."""
    from mspr2_back_spark.operators.dedup import (
        incremental_ngram_pairs,
        ngram_jaccard_pairs,
    )
    from mspr2_back_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 7)
    batch = d.filter(F.col("doc_id") % 10 == 7)
    inc = {
        (r.corpus_doc_id, r.batch_doc_id, round(r.jaccard, 9))
        for r in incremental_ngram_pairs(corpus, batch, 0.5).collect()
    }
    full = ngram_jaccard_pairs(d, 0.5).collect()
    want = {
        (a, b, round(j, 9))
        for (a, b, j) in (
            (r.doc_id_1, r.doc_id_2, r.jaccard) for r in full
        )
        if (a % 10 != 7) == (b % 10 == 7)  # exactly one side in batch
        for (a, b) in [((a, b) if a % 10 != 7 else (b, a))]
    }
    assert inc == want and len(inc) > 0


def test_quality_filter_rule_order(spark):
    """The verdict ladder itself, on literal docs: duplicate outranks
    too_short (doc 4 is BOTH a dup loser and short -> 'duplicate'),
    the keeper of a dup pair is judged by the remaining rules, and a
    doc passing everything is 'keep'."""
    from mspr2_back_spark.plans.pipeline_queries import quality_filter_frame

    good = " ".join(["the quick brown fox jumps over a lazy dog and"] * 5)  # 50 words
    docs = spark.createDataFrame(
        [
            (1, good, "en"),        # keeper of the dup pair -> judged on merits
            (2, good, "en"),        # dup loser -> 'duplicate'
            (3, "tiny doc", "en"),  # short, unique -> 'too_short'
            (4, "tiny doc", "en"),  # short AND dup loser -> 'duplicate' wins
            (5, good, "fr"),        # mislabeled lang, same text? no — unique text:
        ],
        "doc_id long, text string, lang string",
    )
    # make doc 5 unique text but lang-mismatched (predicted en, labeled fr)
    docs = docs.replace(good, good + " extra", subset=["text"]).filter("doc_id = 5").union(
        docs.filter("doc_id != 5")
    )
    out = {r.doc_id: r.verdict for r in quality_filter_frame(docs).collect()}
    assert out[2] == "duplicate"
    assert out[4] == "duplicate"  # dup rule outranks too_short
    assert out[3] == "too_short"
    assert out[5] == "lang_mismatch"
    assert out[1] in ("keep", "low_quality")  # keeper judged on merits, not dup


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_new_query_plan_shapes(spark, sf_dir):
    """Pin the scale-critical plan properties of the round-2 queries:
    no cartesian/nested-loop joins anywhere; pii_scrub stays a
    zero-shuffle scan; pack_documents' only single-partition exchange
    is the partition-count-sized offsets window."""
    from mspr2_back_spark.plans import QUERIES

    for name in (
        "pii_scrub",
        "contamination_screen",
        "repeated_spans",
        "source_mixture_sample",
        "quality_filter",
        "dedup_incremental",
        "pack_documents",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    pii = _plan(QUERIES["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in pii  # pure per-row expressions

    pack = _plan(QUERIES["pack_documents"](spark, sf_dir))
    assert pack.count("Exchange SinglePartition") <= 1  # offsets only


def test_with_scalar_stays_broadcast_hash_join(spark, sf_dir):
    """_with_scalar's scalar attach must plan as a BroadcastHashJoin,
    never BroadcastNestedLoopJoin. Its non-foldable constant key
    (spark_partition_id() * 0 + 1) relies on Catalyst NOT folding
    x * 0 — if an optimizer upgrade ever adds that rule, the join
    silently degenerates to BNLJ in every scalar-attach query; this
    test turns that silent degradation into an immediate failure
    (ADVICE r4)."""
    from mspr2_back_spark.plans.analytics import _with_scalar

    df = load_table(spark, sf_dir, "customer")
    scalar = df.agg(F.count(F.lit(1)).alias("n_total"))
    plan = _plan(_with_scalar(df, scalar))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the real registered consumers keep the property end-to-end
    from mspr2_back_spark.plans import QUERIES

    for name in ("revenue_share_by_nation", "idle_customers_avg_bal"):
        qplan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in qplan, name


def test_pack_documents_partition_count_invariant(spark, sf_dir):
    """The two-phase prefix sum must be bit-identical under different
    shuffle partitioning — the property the round-1 global window got
    for free and the distributed form must not lose."""
    from mspr2_back_spark.plans.extensions import pack_documents

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, pack_documents(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, pack_documents(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b and len(a) > 0


def test_cosine_pairs_block_size_invariant(spark, sf_dir):
    """Block decomposition is an execution detail: any block_size
    must produce the identical pair set."""
    from mspr2_back_spark.operators.similarity import cosine_pairs
    from mspr2_back_spark.sources.readers import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, cosine_pairs(vecs, 0.45, block_size=64).collect()))
    b = sorted(map(tuple, cosine_pairs(vecs, 0.45, block_size=1024).collect()))
    assert a == b and len(a) > 0


def test_whole_surface_plan_hygiene(spark, sf_dir):
    """Global regression net over EVERY registered query's physical
    plan: no CartesianProduct and no row-at-a-time Python UDFs
    anywhere; BroadcastNestedLoopJoin only where the build side is
    tiny by construction (1-row query vectors, block-id pair keys,
    percentile literals); Exchange SinglePartition only up to each
    query's documented budget — a new global window/sort over
    unaggregated data shows up as an over-budget count and fails."""
    from mspr2_back_spark.plans import QUERIES

    bnlj_ok = {
        "ann_topk",          # 1-row query vector broadcast
        "ann_ivf_topk",      # 1-row query + 3-row probe set
        "ivf_cell_stats",    # n_cells-row centroid table broadcast
        "dedup_embedding_cosine",  # block-id pair keys (n_blocks²/2 rows)
        "percentile_prices_refined",  # len(ps)-row literal relation
        "equidepth_price_bands",  # same binned_quantiles ps-literal relation
        "corpus_datacard",  # binned_quantiles ps-literal relation (median)
        "funnel_latency",  # binned_quantiles ps-literal relation (quartiles)
        "rfm_segments",  # binned_quantiles ps-literal relation x3 dims
        "ann_quantized_topk",  # 1-row dequantized query vector broadcast
        "hybrid_search_rrf",  # ann_topk's 1-row query vector broadcast
    }
    # Exchange SinglePartition budgets.  Every entry is one of two
    # documented shapes: (a) the FINAL step of a global scalar
    # aggregate — partial aggregation runs map-side, so the exchange
    # carries one row per partition; (b) a global-frame window /
    # global set-op over a relation that is tiny by construction
    # (per-year rollup, 25-nation dim, partition-count offsets).
    # Queries not listed get budget 0.
    single_part_ok = {
        "revenue_share_by_nation": 1,   # (a) corpus-total revenue
        "or_of_ands_revenue": 1,        # (a) single-row result
        "idle_customers_avg_bal": 1,    # (a) mean-balance scalar
        "ivf_cell_stats": 1,            # (a) corpus-count scalar
        "bigram_pmi": 2,                # (a) unigram+bigram totals
        "global_totals": 1,             # (a)
        "last_value_sum": 1,            # (a)
        "pagination_meta": 1,           # (a) COUNT(*)
        "max_year_orders": 2,           # (a) MAX-year scalar + final
        "profile_orders": 1,            # (a) single-pass stats
        "yearly_orders_lag": 1,         # (b) global LAG over per-year rows (W3)
        "brand_surrogate_ids": 1,       # (b) tiny-dim row_number (W2)
        "window_frame_metrics": 1,      # (b) explicit global frames, tiny input
        "pack_documents": 1,            # (b) partition-count offsets window
        "set_ops_nations": 3,           # (b) set ops over the 25-row nation dim
        "bm25_topk": 1,                 # (a) corpus-stats row (N/avgdl/df)
        "event_funnel": 1,              # (a) final funnel-count row
        "embedding_quantize_stats": 1,  # (a) per-dim min/max stats row
        "fk_integrity_audit": 6,        # (a) one scalar row per FK edge
        "ann_quantized_topk": 2,        # (a) min/max stats row x2 branches
        "hybrid_search_rrf": 3,         # (a) bm25 stats row + (b) two
                                        # rank windows over k-sized lists
        "tfidf_top_terms": 1,           # (a) corpus-count scalar (n_docs)
        "bloom_prefilter_audit": 1,     # (a) final one-row accounting agg
        "event_weekday_contingency": 1,  # (b) global marginal window over
                                         # the types×7 cell relation
        "unigram_surprisal": 1,         # (a) corpus-token-total scalar
        "bigram_surprisal": 1,          # (a) vocabulary-size scalar (V)
        "event_association_rules": 1,   # (a) basket-total scalar
        "session_paths": 1,             # (a) session-total scalar
        "rolling_active_users": 1,      # (a) first-day scalar (flag)
        "rfm_segments": 1,              # (a) r6: empty-groupBy pivot of
                                        # the 3-row cutpoint relation to
                                        # the 1-row broadcast side
        "zorder_locality_audit": 1,     # (a) global min/max stats row
                                        # for the grid scaling (r7)
    }
    # the iterative/expensive constructors run real jobs at plan time;
    # plan hygiene for them is covered by their dedicated tests
    skip = {"dedup_clusters", "dedup_corpus_summary"}
    for name, fn in QUERIES.items():
        if name in skip:
            continue
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
        n_single = plan.count("Exchange SinglePartition")
        assert n_single <= single_part_ok.get(name, 0), (
            f"{name}: {n_single} single-partition exchanges "
            f"(budget {single_part_ok.get(name, 0)})"
        )


def test_chunk_documents_window_math(spark, tmp_path):
    """Chunk cardinality and boundaries: docs at/below one window get
    one chunk; longer docs advance by the stride with overlap."""
    import duckdb

    from mspr2_back_spark.plans import ORACLE_SQL
    from mspr2_back_spark.plans.extensions import chunk_documents

    words80 = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(0, "short doc"), (1, " ".join(f"w{i}" for i in range(32))), (2, words80)],
        "doc_id long, text string",
    )
    sf = str(tmp_path / "chunks_sf")
    import os
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = chunk_documents(spark, sf).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    assert by_doc[0] == [(0, 2)]
    assert by_doc[1] == [(0, 32)]  # exactly one window
    # 80 words, size 32, stride 24 -> 1 + ceil(48/24) = 3 chunks,
    # last chunk starts at 48 and holds 32 tokens
    assert sorted(by_doc[2]) == [(0, 32), (1, 32), (2, 32)]
    # oracle agreement on the same literal docs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(sf, 'documents.parquet')}/*.parquet'"
    )
    orows = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(ORACLE_SQL["chunk_documents"]).fetchall()
    )
    srows = sorted((r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_hash) for r in out)
    assert srows == orows


def test_pii_regex_portability_on_adversarial_strings(spark):
    """The PII patterns must behave identically under Java regex
    (Spark) and RE2 (DuckDB) on boundary-probing inputs — the
    portable-subset guarantee functions/pii.py promises."""
    import duckdb

    from mspr2_back_spark.functions.pii import scrub_documents

    cases = [
        "a@b.co",                        # minimal email
        "a@b.c",                         # TLD too short: no match
        "x.y+z_9%@sub.domain-x.org!",    # charset edges + trailing punct
        "+1 555-0000 and +12 123-4567",  # two phones
        "+123 555-0000",                 # 3-digit country code: no match
        "1.2.3.4.5",                     # 5 octets: first 4 match
        "999.999.999.999",               # in-range per pattern (bounded rep)
        "not an ip 1.2.3",               # 3 octets: no match
        "mixed a@b.com 10.0.0.1 +1 555-1234",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_email, r.n_phone, r.n_ipv4, r.redacted_hash)
        for r in scrub_documents(docs).collect()
    }
    from mspr2_back_spark.plans.pipeline_oracle import (
        _PII_EMAIL, _PII_IPV4, _PII_PHONE, _PII_REDACTED,
    )
    con = duckdb.connect()
    for i, t in enumerate(cases):
        row = con.execute(
            f"""SELECT len(regexp_extract_all(text, '{_PII_EMAIL}')),
                       len(regexp_extract_all(text, '{_PII_PHONE}')),
                       len(regexp_extract_all(text, '{_PII_IPV4}')),
                       md5({_PII_REDACTED})
                FROM (SELECT ? AS text)""",
            [t],
        ).fetchone()
        assert got[i] == row, (i, t, got[i], row)


def test_explain_tool_lists_and_collects_metrics(spark, sf_dir):
    from mspr2_back_spark.plans import QUERIES
    from mspr2_back_spark.tools.explain import collect_plan_metrics

    df = QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()
    metrics = collect_plan_metrics(df)
    rows_out = [v for k, v in metrics.items() if k.endswith("numOutputRows")]
    assert rows_out and max(rows_out) > 0


def test_ivf_assignments_contract(spark, sf_dir):
    """Direct contract of the IVF audit surface (ADVICE r3): the
    assignment PARTITIONS the id space (exactly one row per vec_id),
    `dist` equals an independently recomputed squared L2 distance to
    the assigned centroid, and the whole table is invariant to the
    shuffle partition count."""
    from mspr2_back_spark.operators.similarity import _ivf_index, ivf_assignments

    vecs = load_table(spark, sf_dir, "embeddings")
    n_input = vecs.count()
    assigned = ivf_assignments(vecs, n_cells=8)
    rows = assigned.collect()
    # exactly one cell per vector — a partition of the id space
    assert len(rows) == n_input
    assert len({r.vec_id for r in rows}) == n_input
    assert {r.cell for r in rows} <= set(range(8))

    # dist == squared L2 to the ASSIGNED centroid, recomputed
    # independently (python floats over the collected centroid table)
    _, cents = _ivf_index(vecs, n_cells=8)
    cvec = {r.cell: r.cvec for r in cents.collect()}
    emb = {r.vec_id: r.embedding for r in vecs.select("vec_id", "embedding").collect()}
    for r in rows[:50]:
        acc = 0.0
        for x, c in zip(emb[r.vec_id], cvec[r.cell]):
            d = float(x) - c
            acc += d * d
        assert abs(acc - r.dist) <= 1e-9 * max(1.0, abs(acc)), r.vec_id
        # and no OTHER centroid is strictly closer (argmin property)
        for cell, cv in cvec.items():
            other = 0.0
            for x, c in zip(emb[r.vec_id], cv):
                d = float(x) - c
                other += d * d
            assert other >= r.dist - 1e-9, (r.vec_id, cell)

    # partition-count invariance (the determinism contract)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, ivf_assignments(vecs, n_cells=8).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, ivf_assignments(vecs, n_cells=8).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b and len(a) == n_input


def test_ngram_jaccard_cap_preserves_pairs(spark):
    """The df-capped index + hot-set correction must emit the exact
    uncapped pair set and values, even when a boilerplate shingle is
    hot enough to be dropped from the index (the 100 TB stop-phrase
    scenario measured in SCALING.md)."""
    import itertools

    boiler = "standard legal disclaimer applies to this document text"
    bodies = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "one two three four five six seven eight nine ten",
        "one two three four five six seven eight nine eleven",
        "totally different words with no overlap whatsoever here now",
    ]
    rows = []
    for i, body in enumerate(itertools.chain.from_iterable(
        [bodies] * 4
    )):
        # every doc carries the boilerplate -> its shingles have
        # df == n_docs, far above the cap
        rows.append((i, body.replace("alpha", f"alpha{i % 7}") + " " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap sits between the max body-shingle df (<= 16) and the
    # boilerplate df (20 = every doc): only boilerplate is dropped
    # from the index, and every qualifying pair still shares at least
    # one rare body shingle — the sizing rule the operator docstring
    # prescribes.
    uncapped = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, 0.3).collect())
    )
    capped = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, 0.3, max_doc_freq=17).collect())
    )
    assert len(uncapped) > 0
    assert capped == uncapped


def test_token_budget_sample_adherence(spark, sf_dir):
    """Budget is respected per source to bucket granularity: kept
    tokens <= budget, and adding the NEXT bucket would exceed it
    (maximality); membership is partition-count invariant."""
    from mspr2_back_spark.operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    budget = 800
    kept = token_budget_sample(docs, budget).collect()
    assert kept
    per_source = {}
    for r in kept:
        per_source.setdefault(r.source, []).append(r)
    # token totals per (source, bucket) over the FULL corpus
    full = (
        token_budget_sample(docs, 10**9)  # budget never binds
        .groupBy("source", "bucket")
        .agg(F.sum("n_tokens").alias("bt"))
        .collect()
    )
    buckets = {}
    for r in full:
        buckets.setdefault(r.source, {})[r.bucket] = r.bt
    for source, rows in per_source.items():
        total = sum(r.n_tokens for r in rows)
        assert total <= budget, (source, total)
        cutoff = max(r.bucket for r in rows)
        nxt = [b for b in buckets[source] if b > cutoff]
        if nxt:  # maximal: the next occupied bucket would overflow
            assert total + buckets[source][min(nxt)] > budget, source

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, token_budget_sample(docs, budget).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, token_budget_sample(docs, budget).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b == sorted(map(tuple, kept))


def test_portable_hash_bucket_wide_widths(spark, sf_dir):
    """The adaptive-nibble bucket (r5): wider bucket counts must (a)
    match a pure-Python md5 recomputation exactly — the engine-swap
    portability contract at every width, (b) stay in range, (c) keep
    the legacy 4-nibble values bit-identical at the default width,
    and (d) tighten token_budget_sample's overshoot granularity while
    keeping adherence."""
    import hashlib

    from mspr2_back_spark.operators.sampling import (
        portable_hash_bucket,
        token_budget_sample,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    for buckets, nibbles in ((65536, 4), (1 << 20, 5), ((1 << 24) - 17, 6)):
        got = {
            r.doc_id: r.b
            for r in docs.select(
                "doc_id",
                portable_hash_bucket(F.col("doc_id"), "w", buckets).alias("b"),
            ).collect()
        }
        for doc_id, b in got.items():
            hx = hashlib.md5(f"{doc_id}|w".encode()).hexdigest()
            assert b == int(hx[:nibbles], 16) % buckets, (buckets, doc_id)
            assert 0 <= b < buckets
    # legacy width unchanged: same values as the 4-nibble formula
    legacy = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id",
            portable_hash_bucket(F.col("doc_id"), "budget").alias("b"),
        ).collect()
    }
    for doc_id, b in legacy.items():
        hx = hashlib.md5(f"{doc_id}|budget".encode()).hexdigest()
        assert b == int(hx[:4], 16) % 65536
    # finer buckets: adherence holds and granularity strictly refines
    # (>= as many kept rows for the same budget, since smaller
    # buckets waste less of the budget on the last partial grant)
    full_docs = load_table(spark, sf_dir, "documents")
    coarse = token_budget_sample(full_docs, 800, n_buckets=256).collect()
    fine = token_budget_sample(full_docs, 800, n_buckets=1 << 20).collect()
    for rows in (coarse, fine):
        per = {}
        for r in rows:
            per[r.source] = per.get(r.source, 0) + r.n_tokens
        assert per and all(t <= 800 for t in per.values())
    assert len(fine) >= len(coarse)


def test_lsh_cosine_pairs_subset_of_exact(spark, sf_dir):
    """Bucketed embedding dedup: every emitted pair must appear in
    the exact all-pairs result with the identical rounded cosine
    (verify-exactness); recall is bucket-limited by design but must
    be non-trivial at the registered parameters."""
    vecs = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.cosine_pairs(vecs, 0.45, block_size=256).collect()
    }
    lsh = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.lsh_cosine_pairs(vecs, 0.45).collect()
    }
    assert lsh, "LSH found no pairs at the registered parameters"
    for pair, sim in lsh.items():
        assert pair in exact, pair
        assert abs(sim - exact[pair]) < 1e-9, pair


def test_cell_cosine_pairs_subset_and_better_recall_than_lsh(spark, sf_dir):
    """Cell-bucketed exact verify: every emitted pair is in the exact
    all-pairs set with the identical cosine, block decomposition is
    an execution detail, and at the moderate 0.45 threshold the cell
    composition retains at least as many pairs as the banded
    sign-LSH (the SCALING.md regime analysis)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.cosine_pairs(vecs, 0.45, block_size=256).collect()
    }
    cells = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.cell_cosine_pairs(
            vecs, 0.45, n_planes=4, block_size=256
        ).collect()
    }
    assert cells, "cell verifier found no pairs"
    for pair, sim in cells.items():
        assert pair in exact and abs(sim - exact[pair]) < 1e-9, pair
    # block size must not change membership
    cells_b64 = {
        (r.vec_id_1, r.vec_id_2)
        for r in similarity.cell_cosine_pairs(
            vecs, 0.45, n_planes=4, block_size=64
        ).collect()
    }
    assert cells_b64 == set(cells)
    lsh = similarity.lsh_cosine_pairs(vecs, 0.45).count()
    assert len(cells) >= lsh


def test_cell_cosine_pairs_multi_probe_recall(spark, sf_dir):
    """Hamming-1 multi-probe: candidates become exactly the pairs
    whose sign vectors differ in <= 2 bits, so recall strictly
    dominates single-probe; every emitted value still matches the
    exact verifier bit-for-bit."""
    vecs = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.cosine_pairs(vecs, 0.45, block_size=256).collect()
    }
    single = {
        (r.vec_id_1, r.vec_id_2)
        for r in similarity.cell_cosine_pairs(
            vecs, 0.45, n_planes=4, block_size=256
        ).collect()
    }
    multi = {
        (r.vec_id_1, r.vec_id_2): r.cosine_sim
        for r in similarity.cell_cosine_pairs(
            vecs, 0.45, n_planes=4, block_size=256, multi_probe=True
        ).collect()
    }
    assert single <= set(multi)  # probing only adds candidates
    assert len(multi) > len(single)
    for pair, sim in multi.items():
        assert pair in exact and abs(sim - exact[pair]) < 1e-9, pair


def test_simhash_near_pairs_complete(spark, sf_dir):
    """Pigeonhole banding is a COMPLETE candidate generator for
    hamming <= 2 (bands > max_hamming forces an exact band match):
    the banded result must equal brute force over the fingerprints,
    and bands <= max_hamming must be rejected."""
    import itertools

    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents")
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    brute = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a, b in itertools.combinations(sorted(fp), 2)
        if bin(fp[a] ^ fp[b]).count("1") <= 2
    }
    banded = {
        (r.doc_id_1, r.doc_id_2): r.hamming
        for r in dedup.simhash_near_pairs(docs).collect()
    }
    assert banded == brute and len(brute) > 0
    with _pytest.raises(ValueError):
        dedup.simhash_near_pairs(docs, max_hamming=4, bands=4)


def test_simhash_degree_matches_pair_aggregation(spark, sf_dir):
    """The Hamming-ball probe join must equal degree aggregation over
    the (complete) banded pair set — two independent formulations of
    the same quantity."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(docs)
    sym = pairs.select(
        F.col("doc_id_1").alias("doc_id"), "hamming"
    ).unionAll(pairs.select(F.col("doc_id_2").alias("doc_id"), "hamming"))
    from_pairs = {
        (r.doc_id): (r.n_near, r.min_hamming)
        for r in sym.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min("hamming").cast("int").alias("min_hamming"),
        )
        .collect()
    }
    from_probe = {
        r.doc_id: (r.n_near, r.min_hamming)
        for r in dedup.simhash_near_degree(docs).collect()
    }
    assert from_probe == from_pairs and len(from_probe) > 0


def test_ivf_topk_recall_floor(spark, sf_dir):
    """Pin the probe/recall contract of the adaptive (MLlib-KMeans)
    IVF variant: with n_probe=3 of 8 cells, top-10 recall vs exact
    brute force must hold a floor across seeds and query points
    (VERDICT r4 task 7). The floor is deliberately conservative —
    sign-random cells can unluckily split a query's neighborhood —
    but mean recall across the sweep must be high."""
    vecs = load_table(spark, sf_dir, "embeddings")
    exact_by_qid = {
        qid: {
            r.vec_id
            for r in similarity.brute_force_topk(vecs, qid, k=10).collect()
        }
        for qid in (0, 7, 23)
    }
    recalls = []
    for seed in (1, 42):
        for qid, exact in exact_by_qid.items():
            approx = {
                r.vec_id
                for r in similarity.ivf_topk(
                    vecs, qid, k=10, n_cells=8, n_probe=3, seed=seed
                ).collect()
            }
            recalls.append(len(exact & approx) / len(exact))
    # measured on this corpus: [0.8, 0.9, 0.5, 0.8, 0.5, 0.9] —
    # 3/8 probes trade ~25% recall for ~60% less scan, pinned here
    # so an index-build regression can't hide behind "approximate"
    assert min(recalls) >= 0.4, recalls
    assert sum(recalls) / len(recalls) >= 0.6, recalls
    # the limit contract: probing EVERY cell must recover brute
    # force (>=0.9 allows k-boundary score ties to order differently)
    for qid, exact in exact_by_qid.items():
        full = {
            r.vec_id
            for r in similarity.ivf_topk(
                vecs, qid, k=10, n_cells=8, n_probe=8, seed=42
            ).collect()
        }
        assert len(exact & full) / len(exact) >= 0.9, qid


def test_simhash64_fingerprint_python_parity(spark, sf_dir):
    """The 64-bit fingerprint's bit layout re-derived in pure Python
    (hashlib md5) — pins the construction independently of BOTH
    engines: bit i votes by bit (i % 4) of md5 hex nibble (i div 4),
    set iff the distinct-word vote sum is positive, bit 63 in two's
    complement."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.simhash
        for r in dedup.simhash_fingerprints(docs, bits=64).collect()
    }
    sample = docs.select("doc_id", "text").limit(50).collect()
    assert len(sample) > 0
    for row in sample:
        words = [w for w in dict.fromkeys(row.text.split(" ")) if w != ""]
        votes = [0] * 64
        for w in words:
            hx = hashlib.md5(w.encode()).hexdigest()
            for i in range(64):
                nib = int(hx[i // 4], 16)
                votes[i] += 1 if (nib >> (i % 4)) & 1 else -1
        fp = sum(1 << i for i in range(64) if votes[i] > 0)
        fp = fp - (1 << 64) if fp >= (1 << 63) else fp
        assert got[row.doc_id] == fp, row.doc_id


def test_simhash64_degree_matches_brute(spark, sf_dir):
    """64-bit probe-join degree == brute-force N^2 over the collected
    fingerprints (negative/sign-bit fingerprints included)."""
    import itertools

    docs = load_table(spark, sf_dir, "documents")
    fp = {
        r.doc_id: r.simhash & ((1 << 64) - 1)
        for r in dedup.simhash_fingerprints(docs, bits=64).collect()
    }
    brute: dict[int, list[int]] = {}
    for a, b in itertools.combinations(sorted(fp), 2):
        h = bin(fp[a] ^ fp[b]).count("1")
        if h <= 2:
            brute.setdefault(a, []).append(h)
            brute.setdefault(b, []).append(h)
    expect = {d: (len(hs), min(hs)) for d, hs in brute.items()}
    got = {
        r.doc_id: (r.n_near, r.min_hamming)
        for r in dedup.simhash_near_degree(docs, max_hamming=2, bits=64).collect()
    }
    assert got == expect and len(got) > 0


def test_simhash_degree_hamming3_banded_fallback(spark, sf_dir):
    """max_hamming=3 works on both degree paths and they agree: the
    probe join (697 masks at 16 bits, under the default limit) and
    the pigeonhole-banded pair aggregation (forced via
    probe_mask_limit=0). bands=4 > 3 keeps the banding complete."""
    docs = load_table(spark, sf_dir, "documents")
    via_probe = {
        r.doc_id: (r.n_near, r.min_hamming)
        for r in dedup.simhash_near_degree(docs, max_hamming=3).collect()
    }
    via_bands = {
        r.doc_id: (r.n_near, r.min_hamming)
        for r in dedup.simhash_near_degree(
            docs, max_hamming=3, probe_mask_limit=0, bands=4
        ).collect()
    }
    assert via_probe == via_bands and len(via_probe) > 0


def test_registry_report_matches_documented_counts():
    """The derived registry inventory stays in lockstep with the
    documented surface: 50-slot sweep window full, every non-oracle
    query on the explicit rows-only allowlist, and every plans module
    contributing."""
    from mspr2_back_spark.tools.registry_report import (
        SWEEP_WINDOW,
        markdown,
        summary,
    )

    s = summary()
    assert s["in_sweep_window"] == SWEEP_WINDOW
    assert s["total"] == s["oracle_checked"] + len(s["rows_only"])
    assert s["rows_only"] == [
        "approx_distinct_users",
        "approx_price_quantiles",
        "ml_forecast_ar",
    ]
    # retirement bookkeeping (r12): a retired query stays registered
    # and oracle-backed, its subsumer is registered, it never occupies
    # a sweep slot, and the treadmill count excludes exactly the
    # retired set
    from mspr2_back_spark.plans import ORACLE_SQL, QUERIES
    from mspr2_back_spark.tools.registry_report import RETIRED, registry_rows

    assert s["treadmill"] == s["total"] - len(RETIRED)
    slots = {r["name"]: r["sweep_slot"] for r in registry_rows()}
    for name, (_, subsumed_by) in RETIRED.items():
        assert name in QUERIES and name in ORACLE_SQL
        assert subsumed_by in QUERIES
        assert slots[name] is None, f"retired {name} occupies a sweep slot"
    expected_modules = {
        "mspr2_back_spark.plans.analytics",
        "mspr2_back_spark.plans.customer",
        "mspr2_back_spark.plans.extensions",
        "mspr2_back_spark.plans.pipeline_queries",
        "mspr2_back_spark.plans.queries",
        "mspr2_back_spark.plans.sketches",
        "mspr2_back_spark.plans.timeseries",
        "mspr2_back_spark.plans.workloads",
    }
    assert set(s["modules"]) == expected_modules
    # the report renders one row per query plus 2 header lines,
    # a blank separator, and the summary footer
    assert len(markdown().splitlines()) == s["total"] + 4


def test_sweep_rotation_matches_artifacts():
    """The sweep window must equal the declared freshness obligation
    COMPUTED FROM THE ARTIFACTS (r19: CORRECTNESS_r16 keys set-minus
    the r17 sweep), not just name known queries — an accidental edit
    to _SWEEP_FIRST between rotation and the driver run would
    otherwise silently break the steady-state rotation the verdicts
    audit. Update the two artifact names here at each rotation; skip
    silently if the artifacts are absent (fresh clone without driver
    history)."""
    import json
    import os

    from mspr2_back_spark.plans import QUERIES

    root = os.path.join(os.path.dirname(__file__), "..")
    owed_src = os.path.join(root, "CORRECTNESS_r16.json")
    done_src = os.path.join(root, "CORRECTNESS_r17.json")
    if not (os.path.exists(owed_src) and os.path.exists(done_src)):
        pytest.skip("driver correctness artifacts absent")
    owed = set(json.load(open(owed_src))) - set(json.load(open(done_src)))
    window = list(QUERIES)[:50]
    assert len(window) == 50
    assert set(window) == owed, (
        "sweep window != artifact-computed obligation: "
        f"extra={sorted(set(window) - owed)} "
        f"missing={sorted(owed - set(window))}"
    )


def _word_grams(text):
    """Independent word-3-gram shingle set (whole text when shorter
    than 3 words) — the plain-python ground-truth reference the
    planted-corpus tests compare the Spark operators against. Must
    stay in lockstep with operators/dedup.py::with_shingles; a single
    definition here keeps the four planted-truth tests editing one
    place (r13 review)."""
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} or {text}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def test_dupcorp_builder_structure(spark, sf_dir, tmp_path):
    """r13: the controlled-duplication corpus construction behind the
    banding-expansion closure (SCALING.md round 13;
    tools/build_corpora.py::build_dupcorp) is pinned structurally —
    family members are genuine NEAR-dups (word-3-gram Jaccard ≥ 0.8
    for median-length docs, strictly < 1: zero exact twins), families
    are mutually disjoint (Jaccard 0), and unique-doc copies are
    disjoint from everything. Computed in plain python on the emitted
    text so the pin is independent of the Spark shingle operator."""
    from mspr2_back_spark.tools.build_corpora import build_dupcorp

    df = build_dupcorp(spark, sf_dir, str(tmp_path / "dup"), copies=8)
    base_n = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    assert df.count() == base_n * 8

    # pick a family base doc (id%5<2) with a median-length text
    rows = {
        r["doc_id"]: r["text"]
        for r in df.filter(
            "doc_id % 100000 % 5 < 2 and doc_id % 100000 >= 0"
        ).collect()
    }
    fam_bases = sorted({d % 100000 for d in rows})
    base = next(
        b for b in fam_bases if len(rows[b].split(" ")) >= 40
    )
    # copies c=0..3 -> family f=0; c=4..7 -> family f=1
    f0 = [_word_grams(rows[c * 100000 + base]) for c in range(4)]
    f1 = [_word_grams(rows[c * 100000 + base]) for c in range(4, 8)]
    for i in range(4):
        for j in range(i + 1, 4):
            assert 0.8 <= _jaccard(f0[i], f0[j]) < 1.0, (i, j, _jaccard(f0[i], f0[j]))
    assert _jaccard(f0[0], f1[0]) == 0.0  # cross-family disjoint
    # unique docs: two copies of an id%5>=2 base share nothing
    ub = min(
        r["doc_id"] % 100000
        for r in df.filter("doc_id % 100000 % 5 >= 2")
        .select("doc_id").distinct().collect()
    )
    u = [
        _word_grams(r["text"])
        for r in df.filter(
            f"doc_id % 100000 = {ub} and doc_id < 200000"
        ).collect()
    ]
    assert len(u) == 2 and _jaccard(u[0], u[1]) == 0.0


def test_scaled_builder_structure(spark, sf_dir, tmp_path):
    """r13: the scaled-replica builder (tools/build_corpora.py::
    build_scaled — the construction behind every SCALING.md scale
    row, committed this round) is pinned structurally: row counts
    multiply, shifted keys never collide across copies, the
    documents alphabet rotation makes cross-copy shingle sets
    disjoint while preserving length, and the embeddings circular
    dimension shift preserves within-copy norms exactly."""
    import numpy as np

    from mspr2_back_spark.tools.build_corpora import build_scaled

    out = str(tmp_path / "scaled")
    build_scaled(
        spark, sf_dir, out, 3,
        tables=["nation", "documents", "embeddings", "events"],
    )
    base = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        for t in ("nation", "documents", "embeddings", "events")
    }
    for t, n in base.items():
        df = spark.read.parquet(f"{out}/{t}.parquet")
        assert df.count() == 3 * n, t
    docs = spark.read.parquet(f"{out}/documents.parquet")
    assert docs.select("doc_id").distinct().count() == 3 * base["documents"]
    ev = spark.read.parquet(f"{out}/events.parquet")
    assert ev.select("event_id").distinct().count() == 3 * base["events"]

    # rotation: copy-1 text is the copy-0 text rotated by one letter
    pair = {
        r["doc_id"]: r["text"]
        for r in docs.filter(
            "doc_id % 10000000 = 0 and doc_id < 20000000"
        ).collect()
    }
    t0, t1 = pair[0], pair[10_000_000]
    ab = "abcdefghijklmnopqrstuvwxyz"
    assert t1 == t0.translate(str.maketrans(ab, ab[1:] + ab[:1]))
    w0 = {w for w in t0.split() if any(c in ab for c in w)}
    w1 = {w for w in t1.split() if any(c in ab for c in w)}
    assert w0 and w0.isdisjoint(w1)  # cross-copy token disjointness

    # embeddings: copy-1 vector is copy-0 circularly shifted by 1,
    # so norms (and within-copy cosines) are preserved exactly
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    vid = emb.filter("vec_id % 10000000 = 0 and vec_id < 20000000")
    vs = {r["vec_id"]: np.array(r["embedding"]) for r in vid.collect()}
    v0, v1 = vs[0], vs[10_000_000]
    assert np.array_equal(v1, np.roll(v0, -1))
    # a circular shift permutes components bit-exactly (the "norms
    # and within-copy cosines preserved" claim follows; the norms
    # themselves differ in the last ulp from summation order)
    assert np.array_equal(np.sort(v0), np.sort(v1))


def test_dedup_chain_recovers_planted_families(spark, sf_dir, tmp_path):
    """r13: end-to-end falsifiability for the dedup chain — on the
    controlled-duplication corpus the RIGHT answer is known by
    construction, so the whole minhash→banding→verify→label-
    propagation chain is pinned against planted ground truth (the
    256× version of this check is the SCALING.md round-13 clustering
    record). An independent plain-python pass over the emitted text
    computes which families clear the 0.8 Jaccard threshold (members
    differ at the SAME single position, so every within-family pair
    shares one Jaccard — families are all-or-nothing); the chain
    must return exactly those families as clusters of exactly 4,
    with the family minimum as the cluster id, and nothing else.
    Construction laws: FIXTURES.md "Controlled-duplication corpus"."""
    from mspr2_back_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from mspr2_back_spark.tools.build_corpora import build_dupcorp

    docs = build_dupcorp(spark, sf_dir, str(tmp_path / "dup"), copies=8)

    texts = {
        r["doc_id"]: r["text"]
        for r in docs.filter("doc_id % 100000 % 5 < 2").collect()
    }
    expected = set()
    for base in {d % 100000 for d in texts}:
        for f in range(2):  # copies 0-3 -> family 0, 4-7 -> family 1
            members = [(f * 4 + m) * 100000 + base for m in range(4)]
            g = [_word_grams(texts[d]) for d in members]
            j = len(g[0] & g[1]) / len(g[0] | g[1])
            if j >= 0.8:
                expected.add(frozenset(members))
    assert len(expected) > 10  # the corpus must plant enough signal

    clusters = near_dup_clusters(minhash_lsh_pairs(docs)).collect()
    got = {}
    for r in clusters:
        got.setdefault(r["cluster"], set()).add(r["node"])
    # cluster id is the family minimum; membership exactly the family
    assert {frozenset(v) for v in got.values()} == expected
    assert all(min(v) == c for c, v in got.items())


def test_incremental_dedup_recovers_planted_families(spark, sf_dir, tmp_path):
    """r13: planted ground truth for the INCREMENTAL dedup path —
    hold the last member of every planted family out as the "daily
    ingest batch" and probe the remaining corpus:
    ``incremental_ngram_pairs`` must return exactly (each held-out
    member × its 3 in-corpus siblings) for every family clearing the
    threshold, at EXACTLY the family Jaccard (one int division on
    identical operands in both engines), and nothing for the unique
    batch docs. The expected set comes from plain python over the
    corpus construction, independent of the Spark operators.
    Construction laws: FIXTURES.md "Controlled-duplication corpus"."""
    from mspr2_back_spark.operators.dedup import incremental_ngram_pairs
    from mspr2_back_spark.tools.build_corpora import build_dupcorp

    docs = build_dupcorp(spark, sf_dir, str(tmp_path / "dup"), copies=8)
    is_family = "doc_id % 100000 % 5 < 2"
    copy = "cast(doc_id / 100000 as int)"
    # corpus: family members m=0..2 of both families + unique copies
    # c<6; batch: the held-out family members (c=3, c=7) + unique
    # copies c in (6, 7), which must match nothing
    corpus = docs.filter(
        f"({is_family} and {copy} % 4 != 3)"
        f" or (not ({is_family}) and {copy} < 6)"
    )
    batch = docs.filter(
        f"({is_family} and {copy} % 4 = 3)"
        f" or (not ({is_family}) and {copy} >= 6)"
    )

    texts = {
        r["doc_id"]: r["text"] for r in docs.filter(is_family).collect()
    }
    expected = set()
    for base in {d % 100000 for d in texts}:
        for f in range(2):
            members = [(f * 4 + m) * 100000 + base for m in range(4)]
            g = [_word_grams(texts[d]) for d in members]
            for m, sib in enumerate(members[:3]):
                shared = len(g[3] & g[m])
                jac = shared / (len(g[3]) + len(g[m]) - shared)
                if jac >= 0.8:
                    expected.add((sib, members[3], jac))
    assert len(expected) > 30

    got = {
        (r["corpus_doc_id"], r["batch_doc_id"], r["jaccard"])
        for r in incremental_ngram_pairs(corpus, batch, 0.8).collect()
    }
    assert got == expected


def test_split_governance_on_planted_families(spark, sf_dir, tmp_path):
    """r13: planted ground truth for the split-governance pair —
    on the controlled-duplication corpus the cluster-atomic split
    means a DETECTED family (pairwise Jaccard ≥ threshold) can never
    straddle splits, so its spans never leak; residual span leakage
    must come EXACTLY from sub-threshold families whose singleton-
    labeled members land in different splits. The entire audit
    output (n_docs, n_leaking_docs, mean_span_overlap per held-out
    split) is recomputed in plain python from the corpus
    construction + the md5-mod-20 split law and compared exactly.
    Construction laws: FIXTURES.md "Controlled-duplication corpus"."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from mspr2_back_spark.plans.pipeline_queries import (
        _contamination_audit_frame,
        _split_assignments,
    )
    from mspr2_back_spark.tools.build_corpora import build_dupcorp

    docs = build_dupcorp(spark, sf_dir, str(tmp_path / "dup"), copies=8)

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    # cluster id: detected families (all-or-nothing) -> min member;
    # everything else self-labels
    cluster = {d: d for d in texts}
    for base in {d % 100000 for d in texts if d % 100000 % 5 < 2}:
        for f in range(2):
            members = [(f * 4 + m) * 100000 + base for m in range(4)]
            g = [_word_grams(texts[d]) for d in members]
            if len(g[0] & g[1]) / len(g[0] | g[1]) >= 0.8:
                for d in members:
                    cluster[d] = min(members)

    def split_of(cid):
        b = int(hashlib.md5(str(cid).encode()).hexdigest()[:4], 16) % 20
        return "train" if b < 18 else ("val" if b == 18 else "test")

    split = {d: split_of(cluster[d]) for d in texts}
    train_grams = set()
    for d, s in split.items():
        if s == "train":
            train_grams |= _word_grams(texts[d])
    expected = {}
    for s in ("test", "val"):
        docs_s = [d for d in split if split[d] == s]
        overlaps = []
        leaking = 0
        for d in docs_s:
            g = _word_grams(texts[d])
            shared = len(g & train_grams)
            leaking += shared > 0
            overlaps.append(Decimal(shared) / Decimal(len(g)))
        mean = (sum(overlaps) / len(overlaps)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        expected[s] = (len(docs_s), leaking, float(mean))
    # structural spot-check of the premise: some leakage exists (the
    # sub-threshold families) but not everything leaks
    assert 0 < expected["test"][1] < expected["test"][0]

    out = {
        r["split"]: (r["n_docs"], r["n_leaking_docs"], r["mean_span_overlap"])
        for r in _contamination_audit_frame(
            _split_assignments(docs)
        ).collect()
    }
    assert out == expected
    # and the invariant that names the test: no detected-family
    # member leaks (their clusters are split-atomic and families are
    # mutually disjoint by construction)
    for d, s in split.items():
        if s != "train" and cluster[d] != d:
            assert not (_word_grams(texts[d]) & train_grams), d


def test_ml_forecast_ar_exact_matches_numpy_fit(spark, sf_dir):
    """The SQL-side Cramer AR(2) fit and unrolled recursion must
    reproduce an independent numpy lstsq fit + python recursion on
    the same per-user daily series (falsifiability for the
    oracle-checked closed form)."""
    import math

    import numpy as np

    from mspr2_back_spark.plans.pipeline_queries import ml_forecast_ar_exact
    from mspr2_back_spark.sources.readers import load_table

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.user_id, []).append((r.day, r.y))
    out = ml_forecast_ar_exact(spark, sf_dir).collect()
    got: dict = {}
    for r in out:
        got.setdefault(r.user_id, {})[r.step] = (r.forecast_day, r.forecast_value)

    assert set(got) == set(series)
    checked_fit = checked_fallback = 0
    for uid, pts in series.items():
        pts.sort()
        y = np.array([v for _, v in pts], dtype=np.float64)
        last_day = pts[-1][0]
        if len(y) >= 5:
            X = np.stack([y[1:-1], y[:-2], np.ones(len(y) - 2)], axis=1)
            tgt = y[2:]
            w1, w2, b = np.linalg.lstsq(X, tgt, rcond=None)[0]
            preds = []
            p1, p2 = y[-1], y[-2]
            for _ in range(7):
                nxt = b + w1 * p1 + w2 * p2
                preds.append(nxt)
                p2, p1 = p1, nxt
            checked_fit += 1
        else:
            preds = [y[-1]] * 7
            checked_fallback += 1
        for s in range(1, 8):
            fd, fv = got[uid][s]
            assert (fd - last_day).days == s
            assert math.isclose(fv, preds[s - 1], rel_tol=1e-6, abs_tol=1e-4), (
                uid, s, fv, preds[s - 1]
            )
    assert checked_fit > 0


def test_ml_forecast_ar_exact_degenerate_repeats_last(spark, tmp_path):
    """Users with too little history (< 3 training rows) must get the
    repeat-last-value fallback, exactly like _fit_predict_ar."""
    import datetime
    import os

    from mspr2_back_spark.plans.pipeline_queries import ml_forecast_ar_exact

    base = datetime.datetime(2024, 5, 1, 8, 0, 0)
    rows = []
    # user 1: two days; user 2: one day — both degenerate
    rows.append((1, 1, "view", base, 5.0))
    rows.append((2, 1, "view", base + datetime.timedelta(days=1), 9.0))
    rows.append((3, 2, "click", base, 4.25))
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    )
    sf = str(tmp_path / "tiny")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = ml_forecast_ar_exact(spark, sf).collect()
    assert len(out) == 14
    for r in out:
        assert r.forecast_value == (9.0 if r.user_id == 1 else 4.25)


class TestBmpWavCodecs:
    """Golden-byte tests for the r6 pure-numpy media codecs."""

    def test_bmp_golden_pixels(self):
        """Hand-assembled 2x2 24-bit BMP (stride 8, bottom-up, BGR):
        the decoder must recover the exact logical RGB grid."""
        import struct

        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_bmp

        # logical image (top-down RGB):
        #   (255,0,0) (0,255,0)
        #   (0,0,255) (10,20,30)
        # file stores rows bottom-up, channels BGR, rows padded to 8B
        row_bottom = bytes([255, 0, 0, 30, 20, 10, 0, 0])  # B G R ...
        row_top = bytes([0, 0, 255, 0, 255, 0, 0, 0])
        data = row_bottom + row_top
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(data), 0, 0, 0, 0)
        px, meta = decode_bmp(hdr + info + data)
        assert meta == {"width": 2, "height": 2, "format": "bmp/24"}
        expect = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]],
            dtype=np.uint8,
        )
        assert (px == expect).all()

    def test_bmp_roundtrip_odd_widths(self):
        """encode->decode is the identity for every stride-padding
        class (w mod 4 in 0..3) and non-square shapes."""
        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_bmp, encode_bmp

        rng = np.random.default_rng(7)
        for w in (1, 2, 3, 4, 5, 7, 8, 13):
            img = rng.integers(0, 256, size=(5, w, 3), dtype=np.uint8)
            px, meta = decode_bmp(encode_bmp(img))
            assert meta["width"] == w and meta["height"] == 5
            assert (px == img).all()

    def test_bmp_rejects_unsupported(self):
        import pytest

        from mspr2_back_spark.operators.multimodal import decode_bmp

        with pytest.raises(ValueError):
            decode_bmp(b"BMgarbage")
        with pytest.raises(ValueError):
            decode_bmp(b"PNGnope" * 20)

    def test_wav_golden_samples(self):
        """Minimal 16-bit stereo PCM WAV: exact sample recovery."""
        import struct

        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_wav

        samples = [(0, 100), (-32768, 32767), (42, -7)]
        data = b"".join(struct.pack("<hh", a, b) for a, b in samples)
        fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
        payload = (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", len(fmt))
            + fmt
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        arr, meta = decode_wav(payload)
        assert meta == {
            "channels": 2,
            "sample_rate": 8000,
            "bits": 16,
            "n_samples": 3,
            "format": "wav/pcm16",
        }
        assert arr.tolist() == [list(t) for t in samples]

    def test_wav_encode_decode_roundtrip_all_depths_and_chunks(self):
        """r9 (VERDICT r8 task 2): encode_wav → decode_wav must be
        the identity for 8/16/32-bit PCM across channel counts, with
        extra pre/post chunks (odd-sized → word-align pad, like real
        files' LIST/JUNK/cue) walked over correctly, and an odd-sized
        8-bit data chunk itself padded without corrupting a trailing
        chunk."""
        import struct

        import numpy as np

        from mspr2_back_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        rng = np.random.default_rng(5)
        cases = [
            (rng.integers(0, 256, (7, 1)).astype(np.uint8), 8000),
            (rng.integers(-2048, 2048, (11, 2)).astype(np.int16), 16000),
            (rng.integers(-(1 << 20), 1 << 20, (5, 3)).astype(np.int32), 32000),
        ]
        for samples, rate in cases:
            enc = encode_wav(
                samples,
                rate,
                pre_chunks=[(b"JUNK", b"\x01\x02\x03")],  # odd → pad
                post_chunks=[(b"cue ", b"\x00" * 4)],
            )
            # RIFF declared size covers everything incl. pads
            assert struct.unpack_from("<I", enc, 4)[0] == len(enc) - 8
            arr, meta = decode_wav(enc)
            assert meta["sample_rate"] == rate
            assert meta["channels"] == samples.shape[1]
            assert meta["n_samples"] == samples.shape[0]
            assert np.array_equal(arr, samples)
        # odd-sized 8-bit data chunk (7 samples × 1 ch) + trailing
        # chunk: the pad after data must not shift the trailing walk
        odd = rng.integers(0, 256, (7, 1)).astype(np.uint8)
        enc = encode_wav(odd, 8000, post_chunks=[(b"cue ", b"\x00" * 5)])
        assert len(enc) % 2 == 0  # trailing odd chunk padded too
        arr, _ = decode_wav(enc)
        assert np.array_equal(arr, odd)

    def test_metadata_dispatches_real_bmp(self):
        """decode_image_batch must route a real BMP to the real
        parser (true dimensions) and text to the fake."""
        import numpy as np
        import pandas as pd

        from mspr2_back_spark.operators.multimodal import (
            decode_image_batch,
            encode_bmp,
        )

        img = np.zeros((3, 5, 3), dtype=np.uint8)
        out = decode_image_batch(pd.Series([encode_bmp(img), b"plain text"]))
        assert out.loc[0, "format"] == "bmp/24"
        assert (out.loc[0, "width"], out.loc[0, "height"]) == (5, 3)
        assert out.loc[1, "format"] == "fake/deterministic"

    def test_resize_real_pixels_nearest_neighbor(self):
        """4x4 -> 2x2 nearest-neighbor must pick pixels (0,0), (0,2),
        (2,0), (2,2) of the source — checked through the full
        decode->resample->re-encode path."""
        import numpy as np

        from mspr2_back_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
            resize_image_array,
        )

        src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        small = resize_image_array(src, 2, 2)
        assert (small == src[[0, 2]][:, [0, 2]]).all()
        px, meta = decode_bmp(encode_bmp(small))
        assert (px == small).all() and meta["width"] == 2

    def test_extract_features_uses_decoded_pixels(self):
        """A constant-color BMP must yield a one-hot luma histogram —
        impossible from raw file bytes (headers would smear it). The
        feature arithmetic (decode → integer luma → mod-dim bins) is
        asserted on the same helpers the mapInPandas body calls."""
        import numpy as np

        from mspr2_back_spark.operators import multimodal

        img = np.full((6, 6, 3), 200, dtype=np.uint8)  # luma 200
        payload = multimodal.encode_bmp(img)
        px, _ = multimodal.decode_bmp(payload)
        luma = (px.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
        hist = np.bincount(luma.ravel() % 16, minlength=16)
        assert hist[200 % 16] == 36 and hist.sum() == 36


class TestPngCodec:
    """Golden-byte tests for the r7 pure-stdlib PNG codec."""

    def test_png_golden_pixels_handassembled(self):
        """Hand-assembled 2x2 RGB PNG with per-row filters Up/Sub —
        the decoder must reconstruct the exact logical grid (checked
        against the filter math done by hand, not the encoder)."""
        import struct
        import zlib

        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_png

        # target image (top-down RGB):
        #   (10, 20, 30) (13, 24, 35)
        #   (11, 22, 33) (14, 26, 38)
        # row 0 filter 1 (Sub):  raw = [10,20,30, 13-10,24-20,35-30]
        # row 1 filter 2 (Up):   raw = [11-10,22-20,33-30, 14-13,26-24,38-35]
        scan = (
            bytes([1, 10, 20, 30, 3, 4, 5])
            + bytes([2, 1, 2, 3, 1, 2, 3])
        )

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b"")
        )
        px, meta = decode_png(payload)
        assert meta == {"width": 2, "height": 2, "format": "png/rgb8"}
        expect = np.array(
            [[[10, 20, 30], [13, 24, 35]], [[11, 22, 33], [14, 26, 38]]],
            dtype=np.uint8,
        )
        assert (px == expect).all()

    def test_png_roundtrip_every_filter_type(self):
        """encode(filter_type=f) -> decode is the identity for every
        scanline filter 0..4 (None/Sub/Up/Average/Paeth), odd widths
        included — each f exercises a distinct unfilter path."""
        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_png, encode_png

        rng = np.random.default_rng(11)
        for f in range(5):
            for w in (1, 3, 8, 13):
                img = rng.integers(0, 256, size=(6, w, 3), dtype=np.uint8)
                px, meta = decode_png(encode_png(img, filter_type=f))
                assert meta == {"width": w, "height": 6, "format": "png/rgb8"}
                assert (px == img).all(), f"filter {f} width {w}"

    def test_png_gray_and_rgba(self):
        """Grayscale expands to RGB; RGBA drops alpha — both via
        hand-built single-channel/4-channel scanlines."""
        import struct
        import zlib

        import numpy as np

        from mspr2_back_spark.operators.multimodal import decode_png

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        def png(w, h, color_type, scan):
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(
                    b"IHDR",
                    struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0),
                )
                + chunk(b"IDAT", zlib.compress(scan))
                + chunk(b"IEND", b"")
            )

        gray = png(2, 1, 0, bytes([0, 7, 250]))
        px, meta = decode_png(gray)
        assert meta["format"] == "png/gray8"
        assert px.tolist() == [[[7, 7, 7], [250, 250, 250]]]

        rgba = png(1, 1, 6, bytes([0, 1, 2, 3, 99]))
        px, meta = decode_png(rgba)
        assert meta["format"] == "png/rgba8"
        assert px.tolist() == [[[1, 2, 3]]]

    def test_png_rejects_unsupported_and_corrupt(self):
        import struct
        import zlib

        import numpy as np
        import pytest

        from mspr2_back_spark.operators.multimodal import decode_png, encode_png

        with pytest.raises(ValueError):
            decode_png(b"not a png at all")
        # invalid depth: flip the depth byte inside a valid file and
        # re-CRC is unnecessary — the IHDR parse runs before any CRC
        # (12 is not a legal PNG depth; 16 decodes as of r11)
        good = bytearray(
            encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
        )
        depth_off = good.index(b"IHDR") + 4 + 8
        good[depth_off] = 12
        with pytest.raises(ValueError, match="unsupported PNG"):
            decode_png(bytes(good))
        # corrupt deflate stream → ValueError (total contract)
        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        bad = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", b"\xff\xfe\xfd")
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="IDAT"):
            decode_png(bad)

    def test_dispatch_routes_png_and_survives_corrupt_wav(self):
        """decode_image_batch: a real PNG takes the real parser; a
        WAV with a truncated fmt chunk (the r7 ADVICE struct.error
        case) falls back to the deterministic fake instead of
        crashing the Arrow batch."""
        import struct

        import numpy as np
        import pandas as pd

        from mspr2_back_spark.operators.multimodal import (
            decode_image_batch,
            encode_png,
        )

        img = np.zeros((3, 5, 3), dtype=np.uint8)
        # declared fmt size 16 but only 4 bytes present before 'data'
        bad_wav = (
            b"RIFF" + struct.pack("<I", 20) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x02\x00"
        )
        out = decode_image_batch(
            pd.Series([encode_png(img), bad_wav, b"plain text"])
        )
        assert out.loc[0, "format"] == "png/rgb8"
        assert (out.loc[0, "width"], out.loc[0, "height"]) == (5, 3)
        assert out.loc[1, "format"] == "fake/deterministic"
        assert out.loc[2, "format"] == "fake/deterministic"


class TestJpegCodec:
    """Bounded-error tests for the r7 numpy+stdlib baseline JPEG
    codec — JPEG is lossy, so unlike BMP/PNG the pin is an error
    BOUND (quantization + color rounding), not bit equality."""

    def test_idct_fdct_identity(self):
        """The DCT pair must invert to well under the rounding floor —
        isolates transform bugs from quantization loss."""
        import numpy as np

        from mspr2_back_spark.operators.jpeg import _fdct_blocks, _idct_blocks

        rng = np.random.default_rng(3)
        blocks = rng.uniform(-128, 127, size=(32, 8, 8))
        back = _idct_blocks(_fdct_blocks(blocks))
        assert np.abs(back - blocks).max() < 1e-9

    def test_flat_image_roundtrip_exact(self):
        """A flat block is pure DC; it must survive encode->decode
        exactly at q=90 (DC quantizer 16·scale divides cleanly after
        rounding)."""
        import numpy as np

        from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

        img = np.full((16, 24, 3), 130, dtype=np.uint8)
        px, meta = decode_jpeg(encode_jpeg(img, quality=90))
        assert meta == {"width": 24, "height": 16, "format": "jpeg/baseline"}
        assert np.array_equal(px, img)

    def test_gradient_and_random_error_bounds(self):
        """Smooth gradients at q=95 reconstruct within ±1; full-range
        random noise at q=100 (all-ones quant tables) within ±4 — the
        YCbCr + coefficient rounding floor. Non-multiple-of-8 shapes
        exercise the edge-replication padding."""
        import numpy as np

        from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

        r = np.arange(16).reshape(-1, 1, 1)
        c = np.arange(24).reshape(1, -1, 1)
        grad = np.clip(
            4 * r + 3 * c + np.array([0, 40, 80]).reshape(1, 1, 3), 0, 255
        ).astype(np.uint8)
        px, _ = decode_jpeg(encode_jpeg(grad, quality=95))
        assert np.abs(px.astype(int) - grad.astype(int)).max() <= 1

        rng = np.random.default_rng(9)
        noise = rng.integers(0, 256, size=(17, 19, 3), dtype=np.uint8)
        px2, _ = decode_jpeg(encode_jpeg(noise, quality=100))
        assert np.abs(px2.astype(int) - noise.astype(int)).max() <= 4

    def test_quality_monotonic_loss(self):
        """Lower quality must not reconstruct better than higher
        quality on the same image (sanity on the quant scaling)."""
        import numpy as np

        from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)

        def err(q):
            px, _ = decode_jpeg(encode_jpeg(img, quality=q))
            return float(np.abs(px.astype(int) - img.astype(int)).mean())

        e10, e50, e95 = err(10), err(50), err(95)
        assert e95 <= e50 <= e10
        assert e95 < 10 and e10 > e95

    def test_rejects_non_baseline_and_corrupt(self):
        import numpy as np
        import pytest

        from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNG not a jpeg")
        # flip SOF0 -> SOF2 in a valid BASELINE stream: since r11 the
        # progressive path owns SOF2, and this stream's single
        # full-band scan is malformed progressive (a DC scan must
        # have Se=0) — still a loud rejection, never a wrong decode
        buf = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
        sof = buf.find(b"\xff\xc0")
        buf[sof + 1] = 0xC2
        with pytest.raises(ValueError, match="Ss=0 must have Se=0"):
            decode_jpeg(bytes(buf))
        # arithmetic-coded frames keep the pinned non-baseline error
        buf[sof + 1] = 0xC9
        with pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg(bytes(buf))

    def test_dispatch_routes_jpeg(self):
        """decode_image_batch must route a real JPEG to the real
        parser and report its true dimensions."""
        import numpy as np
        import pandas as pd

        from mspr2_back_spark.operators.jpeg import encode_jpeg
        from mspr2_back_spark.operators.multimodal import decode_image_batch

        img = np.full((6, 10, 3), 77, dtype=np.uint8)
        out = decode_image_batch(
            pd.Series([encode_jpeg(img), b"\xff\xd8\xffcorrupt tail"])
        )
        assert out.loc[0, "format"] == "jpeg/baseline"
        assert (out.loc[0, "width"], out.loc[0, "height"]) == (10, 6)
        assert out.loc[1, "format"] == "fake/deterministic"

    def test_marker_walk_closed_forms_beyond_meta_grid(self):
        """The independent marker walk behind multimodal_jpeg_meta
        (SOF0 dims, DRI segment, stuffing-aware RSTn census) pinned
        against the closed forms OUTSIDE the registered query's
        doc_id grid: dims past its 13–35/9–25 window, dri=5/7 (the
        query only exercises 0–3), MCU-exact and sub-MCU shapes, and
        q=100 noise whose entropy is dense in stuffed 0xFF bytes —
        a census that trusted raw byte pairs would overcount there."""
        import numpy as np

        from mspr2_back_spark.operators.jpeg import encode_jpeg
        from mspr2_back_spark.operators.multimodal import (
            _parse_jpeg_markers,
        )

        rng = np.random.default_rng(11)
        cases = [
            (64, 48, "gray", 5, 90),  # dri past the query grid
            (64, 48, "420", 7, 90),
            (16, 16, "420", 1, 90),  # exactly one 16-px MCU row pair
            (7, 5, "444", 2, 90),  # smaller than one MCU
            (40, 24, "444", 3, 100),  # q100 noise: stuffed-0xFF dense
            (33, 17, "420", 2, 100),  # q100 + 4:2:0 partial MCUs
            (24, 24, "gray", 0, 95),  # dri=0: no DRI, no RSTn
        ]
        for w, h, mode, dri, q in cases:
            if mode == "gray":
                img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
                kw = {}
            else:
                img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                kw = {"subsampling": mode}
            enc = encode_jpeg(img, quality=q, restart_interval=dri, **kw)
            pw, ph, n_mcus, p_dri, n_rst = _parse_jpeg_markers(enc)
            mcu_px = 16 if mode == "420" else 8
            want_mcus = -(-w // mcu_px) * -(-h // mcu_px)
            assert (pw, ph) == (w, h)
            assert p_dri == dri
            assert n_mcus == want_mcus
            assert n_rst == (0 if dri == 0 else (want_mcus - 1) // dri)
            if dri:
                # the census must also see the markers CYCLING D0..D7
                # in order (T.81 E.1.2), not merely count them
                seq, pos = [], enc.index(b"\xff\xda")
                while pos + 1 < len(enc):
                    if enc[pos] == 0xFF and 0xD0 <= enc[pos + 1] <= 0xD7:
                        seq.append(enc[pos + 1] - 0xD0)
                        pos += 2
                    elif enc[pos] == 0xFF and enc[pos + 1] == 0xD9:
                        break
                    else:
                        pos += 1
                assert seq == [i % 8 for i in range(len(seq))]


def test_jpeg_grayscale_roundtrip():
    """Single-component JPEG: the decoder's ncomp==1 branch expands
    gray to RGB; a flat gray image survives exactly and a gradient
    within the rounding bound (no chroma loss in this path)."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    flat = np.full((12, 20), 90, dtype=np.uint8)
    px, meta = decode_jpeg(encode_jpeg(flat, quality=90))
    assert meta["format"] == "jpeg/gray8"
    assert np.array_equal(px, np.repeat(flat[:, :, None], 3, axis=2))

    grad = np.clip(
        np.arange(12).reshape(-1, 1) * 9 + np.arange(20).reshape(1, -1) * 4,
        0,
        255,
    ).astype(np.uint8)
    px2, _ = decode_jpeg(encode_jpeg(grad, quality=95))
    assert np.abs(px2[:, :, 0].astype(int) - grad.astype(int)).max() <= 1


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 — the dominant real-world JPEG profile: MCU-interleaved
    encode (4 Y + Cb + Cr per MCU, 2x2-mean chroma downsample) must
    round-trip within the rounding bound on smooth-chroma images,
    including non-MCU-aligned dimensions."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    r = np.arange(20).reshape(-1, 1, 1)
    c = np.arange(30).reshape(1, -1, 1)
    img = np.clip(
        4 * r + 3 * c + np.array([10, 50, 90]).reshape(1, 1, 3), 0, 255
    ).astype(np.uint8)
    for shape in [(20, 30), (13, 17)]:
        im = img[: shape[0], : shape[1]]
        px, meta = decode_jpeg(encode_jpeg(im, quality=95, subsampling="420"))
        assert (meta["width"], meta["height"]) == (shape[1], shape[0])
        assert np.abs(px.astype(int) - im.astype(int)).max() <= 1
    # on chroma-busy input the halved chroma resolution must save
    # bytes (on tiny smooth images the MCU padding can mask it)
    rng = np.random.default_rng(6)
    busy = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    b420 = len(encode_jpeg(busy, quality=90, subsampling="420"))
    b444 = len(encode_jpeg(busy, quality=90, subsampling="444"))
    assert b420 < b444


def test_jpeg_dri_restart_roundtrip_bit_identical():
    """r8 ADVICE (high): _BitReader._fill used to discard up to 3
    buffered entropy bytes when its refill window straddled an RSTn,
    corrupting every DRI stream (mean pixel error ~70 on this very
    construction). A DRI stream must now decode BIT-IDENTICALLY to
    the same image encoded without restart markers, across gray /
    4:4:4 / 4:2:0 and intervals down to 1 MCU (marker after every
    MCU maximizes straddle opportunities)."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    gray = (np.add.outer(np.arange(48), np.arange(56)) * 2 % 256).astype(
        np.uint8
    )
    color = (rng.integers(0, 256, (50, 62, 3)) // 8 * 8).astype(np.uint8)
    cases = [
        (gray, {}),
        (color, {"subsampling": "444"}),
        (color, {"subsampling": "420"}),
    ]
    for img, kw in cases:
        plain = encode_jpeg(img, quality=90, **kw)
        base, _ = decode_jpeg(plain)
        for interval in (1, 2, 3, 5):
            dri = encode_jpeg(img, quality=90, restart_interval=interval, **kw)
            assert b"\xff\xdd" in dri  # DRI segment present
            assert any(
                bytes([0xFF, 0xD0 + n]) in dri for n in range(8)
            )  # at least one RSTn in the entropy stream
            px, _ = decode_jpeg(dri)
            assert np.array_equal(px, base), (kw, interval)


def test_jpeg_dri_stuffed_pad_byte_before_marker():
    """The nastiest DRI byte sequence: when an interval's final
    entropy bits plus the 1-fill pad form 0xFF, the encoder must
    emit it STUFFED (FF 00) and only then the restart marker — so
    the stream contains FF 00 FF Dn — and the decoder must treat the
    stuffed byte as (discardable pad) data, not a marker. This exact
    configuration produces that sequence deterministically (asserted,
    so the fixture goes stale loudly if encode changes) and a 300-
    case randomized sweep found the pattern 58 times, all
    bit-identical; this pins one such case in the suite."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = (
        np.random.default_rng(0).integers(0, 256, (24, 32, 3))
    ).astype(np.uint8)
    enc = encode_jpeg(img, quality=95, restart_interval=1, subsampling="444")
    assert any(
        bytes([0xFF, 0x00, 0xFF, 0xD0 + n]) in enc for n in range(8)
    ), "fixture no longer produces a stuffed pad byte before an RSTn"
    plain, _ = decode_jpeg(encode_jpeg(img, quality=95, subsampling="444"))
    px, _ = decode_jpeg(enc)
    assert np.array_equal(px, plain)


def test_jpeg_missing_restart_marker_raises():
    """r9 ADVICE: a stream that DECLARES a restart interval but whose
    RSTn is missing/misplaced (corrupt file or foreign encoder) must
    fail loudly — the old path silently discarded up to 7 buffered
    entropy bits at the expected boundary and kept decoding
    desynchronized. Excising the first RSTn pair from a valid DRI
    stream must now raise the explicit expected-restart ValueError,
    and (via the dispatch contract) fall back to the deterministic
    fake rather than crash the batch."""
    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from mspr2_back_spark.operators.multimodal import decode_image

    img = (np.add.outer(np.arange(40), np.arange(48)) * 5 % 256).astype(
        np.uint8
    )
    enc = encode_jpeg(img, quality=90, restart_interval=2)
    # excise the first restart marker pair from the entropy region
    sos = enc.find(b"\xff\xda")
    rst = min(
        p
        for p in (enc.find(bytes([0xFF, 0xD0 + n]), sos) for n in range(8))
        if p != -1
    )
    broken = enc[:rst] + enc[rst + 2 :]
    with pytest.raises(ValueError, match="restart marker accounting mismatch"):
        decode_jpeg(broken)
    assert decode_image(broken) is None  # dispatch falls back cleanly
    # the untouched stream still decodes (guard is boundary-only)
    px, _ = decode_jpeg(enc)
    assert px.shape == (40, 48, 3)


def test_jpeg_progressive_grayscale_decodes_real_file():
    """r11 (VERDICT r10 "What's missing" #3): the r9 SOF2-rejection
    fixture flips to a REAL decode — progressive grayscale now works.
    Interop fixture: Spark's own MLlib test image
    (data/mllib/images/origin/multi-channel/grayscale.jpg) is a
    genuine foreign-encoder progressive grayscale JPEG (SOF2, 1
    component, multi-scan with successive approximation). Golden
    pins: dimensions, spot pixels, and the md5 of the full gray
    plane — any entropy/refinement/IDCT regression breaks the hash.
    Skips gracefully when the Spark distribution isn't present."""
    import hashlib
    import os

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg

    path = (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/grayscale.jpg"
    )
    if not os.path.exists(path):
        pytest.skip("Spark MLlib image fixtures not on this machine")
    px, meta = decode_jpeg(open(path, "rb").read())
    assert meta == {
        "width": 300,
        "height": 215,
        "format": "jpeg/progressive-gray8",
    }
    assert px.shape == (215, 300, 3) and px.dtype == np.uint8
    g = px[:, :, 0]
    assert np.array_equal(px[:, :, 1], g) and np.array_equal(px[:, :, 2], g)
    assert (
        int(g[0, 0]), int(g[0, -1]), int(g[-1, 0]), int(g[-1, -1]),
        int(g[107, 150]),
    ) == (253, 252, 254, 254, 72)
    assert hashlib.md5(g.tobytes()).hexdigest() == (
        "8cda7b078c8dff9b1b5fd203c2bbd3e5"
    )


def test_jpeg_progressive_matches_baseline_pixels():
    """r11: a progressive scan script partitions exactly the same
    quantized coefficient bits the baseline scan sends in one pass,
    so progressive encode → decode must reproduce the BASELINE
    decode's pixels bit-for-bit — across image shapes (including
    non-multiples of 8), qualities, restart intervals, and scan
    scripts exercising every scan type (DC first/refine, spectral AC
    bands, AC refinement chains down to Al=0, EOB runs)."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    for shape, q in (((24, 32), 90), ((17, 23), 50), ((5, 100), 100)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base, _ = decode_jpeg(encode_jpeg(img, quality=q))
        prog, meta = decode_jpeg(encode_jpeg_progressive(img, quality=q))
        assert meta["format"] == "jpeg/progressive-gray8"
        assert np.array_equal(base, prog), (shape, q)

    img = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)  # 35 blocks
    base, _ = decode_jpeg(encode_jpeg(img, quality=75))
    for ri in (1, 3, 7, 35, 100):
        prog, _ = decode_jpeg(
            encode_jpeg_progressive(img, quality=75, restart_interval=ri)
        )
        assert np.array_equal(base, prog), ri

    scripts = (
        # single-pass Al=0 (no successive approximation at all)
        ((0, 0, 0, 0), (1, 63, 0, 0)),
        # deep refinement chain + out-of-order bands
        ((0, 0, 0, 2), (1, 2, 0, 1), (3, 63, 0, 3), (3, 63, 3, 2),
         (3, 63, 2, 1), (1, 2, 1, 0), (0, 0, 2, 1), (0, 0, 1, 0),
         (3, 63, 1, 0)),
    )
    img = rng.integers(0, 256, size=(29, 31), dtype=np.uint8)
    base, _ = decode_jpeg(encode_jpeg(img, quality=60))
    for sc in scripts:
        for ri in (0, 3):
            prog, _ = decode_jpeg(
                encode_jpeg_progressive(
                    img, quality=60, scans=sc, restart_interval=ri
                )
            )
            assert np.array_equal(base, prog), (sc, ri)

    # flat image: the all-EOB-run degenerate case
    flat = np.full((16, 24), 130, dtype=np.uint8)
    base, _ = decode_jpeg(encode_jpeg(flat, quality=90))
    prog, _ = decode_jpeg(encode_jpeg_progressive(flat, quality=90))
    assert np.array_equal(base, prog)

    # COLOR (same round): the identity holds per component through
    # the interleaved DC scans and the per-component AC scans, at
    # both 4:4:4 and the subsampled 4:2:0 geometry (where luma's
    # real block grid is narrower than its MCU-padded storage grid),
    # with and without restarts
    rgb = rng.integers(0, 256, size=(25, 38, 3), dtype=np.uint8)
    for sub in ("444", "420"):
        base, _ = decode_jpeg(encode_jpeg(rgb, quality=80, subsampling=sub))
        for ri in (0, 3):
            prog, meta = decode_jpeg(
                encode_jpeg_progressive(
                    rgb, quality=80, subsampling=sub, restart_interval=ri
                )
            )
            assert meta["format"] == "jpeg/progressive"
            assert np.array_equal(base, prog), (sub, ri)


def test_jpeg_progressive_color_decodes_real_files():
    """r11: interop for COLOR progressive — real foreign-encoder
    SOF2 files present on common systems, covering per-component DC
    scans, spectral AC bands, AC refinement (full-white-stripe's
    Ah=1 chroma scans), 4:4:4 and 4:2:0 (pyparsing's 2x2 luma).
    Golden pins on the nodejs logo: dims + full-plane md5. Skips
    gracefully when absent."""
    import hashlib
    import os

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg

    path = "/usr/share/doc/nodejs/full-white-stripe.jpg"
    if not os.path.exists(path):
        pytest.skip("nodejs doc images not on this machine")
    px, meta = decode_jpeg(open(path, "rb").read())
    assert meta == {
        "width": 493,
        "height": 312,
        "format": "jpeg/progressive",
    }
    assert px.shape == (312, 493, 3) and px.dtype == np.uint8
    assert hashlib.md5(px.tobytes()).hexdigest() == (
        "85b122593b02b705b60a049d13266fd9"
    )
    # the thin variant shares the encoder family; dims-only pin
    thin = "/usr/share/doc/nodejs/thin-white-stripe.jpg"
    if os.path.exists(thin):
        px2, meta2 = decode_jpeg(open(thin, "rb").read())
        assert (meta2["width"], meta2["height"]) == (493, 58)
        assert meta2["format"] == "jpeg/progressive"


def test_jpeg_progressive_foreign_decoder_interop(tmp_path):
    """r12 (VERDICT r11 stretch 6): streams emitted by
    ``encode_jpeg_progressive`` must be readable OUTSIDE the repo,
    not just self-consistent. Java's ImageIO (the JDK ships a full
    baseline+progressive JPEG decoder) decodes each emitted stream
    and the raw raster samples are compared against our own decode.
    Exact pixel identity is NOT expected — T.81 does not mandate an
    exact IDCT and ImageIO's chroma upsampling filter differs from
    ours — so the pins are: the foreign decoder accepts the stream,
    dimensions match, and per-pixel deltas stay within the
    rounding/filter band (measured: gray ≤ 1, 4:4:4 ≤ 10 on noise,
    4:2:0 ≤ 4 on smooth gradients where the upsample filters agree).
    Skip-guarded on the JDK toolchain like the real-file fixture
    pins."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("JDK toolchain not available")

    src = tmp_path / "DecodeRaw.java"
    src.write_text(
        "import javax.imageio.ImageIO;\n"
        "import java.awt.image.BufferedImage;\n"
        "import java.awt.image.Raster;\n"
        "import java.io.*;\n"
        "public class DecodeRaw {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    BufferedImage img = ImageIO.read(new File(a[0]));\n"
        "    if (img == null) { System.err.println(\"unreadable\"); System.exit(2); }\n"
        "    Raster r = img.getRaster();\n"
        "    int w = img.getWidth(), h = img.getHeight(), b = r.getNumBands();\n"
        "    DataOutputStream o = new DataOutputStream(\n"
        "        new BufferedOutputStream(new FileOutputStream(a[1])));\n"
        "    o.writeBytes((b == 1 ? \"P5\" : \"P6\") + \"\\n\" + w + \" \" + h + \"\\n255\\n\");\n"
        "    for (int y = 0; y < h; y++)\n"
        "      for (int x = 0; x < w; x++)\n"
        "        for (int c = 0; c < b; c++)\n"
        "          o.writeByte(r.getSample(x, y, c));\n"
        "    o.close();\n"
        "  }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", str(src)], check=True, capture_output=True, cwd=tmp_path
    )

    def java_decode(payload: bytes) -> np.ndarray:
        jpg = tmp_path / "in.jpg"
        pnm = tmp_path / "out.pnm"
        jpg.write_bytes(payload)
        subprocess.run(
            ["java", "-cp", str(tmp_path), "DecodeRaw", str(jpg), str(pnm)],
            check=True,
            capture_output=True,
        )
        data = pnm.read_bytes()
        magic, dims, _, raw = data.split(b"\n", 3)
        w, h = map(int, dims.split())
        bands = 1 if magic == b"P5" else 3
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, bands)

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (33, 47), dtype=np.uint8)
    noise = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:64, 0:48]
    smooth = np.stack(
        [
            (yy * 2 + xx).astype(np.uint8),
            (128 + yy - xx // 2).astype(np.uint8),
            (60 + xx * 3 // 2).astype(np.uint8),
        ],
        axis=-1,
    )
    # (payload, reference image, allowed per-pixel delta)
    cases = [
        ("prog-gray", encode_jpeg_progressive(gray, quality=80), 2),
        (
            "prog-gray-rst",
            encode_jpeg_progressive(gray, quality=80, restart_interval=2),
            2,
        ),
        ("prog-444-noise", encode_jpeg_progressive(noise, quality=80), 12),
        (
            "prog-420-smooth",
            encode_jpeg_progressive(
                smooth, quality=85, subsampling="420", restart_interval=3
            ),
            6,
        ),
        (
            "prog-scripted-gray",
            encode_jpeg_progressive(
                gray,
                quality=85,
                scans=(
                    (0, 0, 0, 1),
                    (1, 5, 0, 2),
                    (6, 63, 0, 0),
                    (1, 5, 2, 1),
                    (0, 0, 1, 0),
                    (1, 5, 1, 0),
                ),
            ),
            2,
        ),
        ("baseline-444", encode_jpeg(noise, quality=80), 12),
    ]
    for tag, payload, bound in cases:
        foreign = java_decode(payload)
        ours, _ = decode_jpeg(payload)
        if foreign.shape[2] == 1:
            foreign = np.repeat(foreign, 3, axis=2)
        assert foreign.shape == ours.shape, tag
        assert int(foreign.std()) > 0, tag  # non-trivial content
        diff = np.abs(foreign.astype(int) - ours.astype(int))
        assert diff.max() <= bound, (tag, int(diff.max()))


def test_png_foreign_decoder_interop(tmp_path):
    """r13 (VERDICT r12 stretch 6): extend the ImageIO interop
    pattern from progressive JPEG to PNG — ``encode_png`` output
    (every scanline filter type AND the Adam7 twin) must be readable
    by a foreign decoder, not just by ``decode_png``. PNG is
    LOSSLESS, so unlike the JPEG pin the bar here is EXACT pixel
    identity: ImageIO's raster of every emitted stream must equal
    the source array bit-for-bit. Odd dimensions exercise partial
    Adam7 passes; the 3×2 case makes several passes empty (spec:
    empty passes emit nothing). Skip-guarded on the JDK toolchain
    like the JPEG interop test."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import encode_png

    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("JDK toolchain not available")

    src = tmp_path / "DecodeRaw.java"
    src.write_text(
        "import javax.imageio.ImageIO;\n"
        "import java.awt.image.BufferedImage;\n"
        "import java.awt.image.Raster;\n"
        "import java.io.*;\n"
        "public class DecodeRaw {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    BufferedImage img = ImageIO.read(new File(a[0]));\n"
        "    if (img == null) { System.err.println(\"unreadable\"); System.exit(2); }\n"
        "    Raster r = img.getRaster();\n"
        "    int w = img.getWidth(), h = img.getHeight(), b = r.getNumBands();\n"
        "    DataOutputStream o = new DataOutputStream(\n"
        "        new BufferedOutputStream(new FileOutputStream(a[1])));\n"
        "    o.writeBytes((b == 1 ? \"P5\" : \"P6\") + \"\\n\" + w + \" \" + h + \"\\n255\\n\");\n"
        "    for (int y = 0; y < h; y++)\n"
        "      for (int x = 0; x < w; x++)\n"
        "        for (int c = 0; c < b; c++)\n"
        "          o.writeByte(r.getSample(x, y, c));\n"
        "    o.close();\n"
        "  }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", str(src)], check=True, capture_output=True, cwd=tmp_path
    )

    def java_decode(payload: bytes) -> np.ndarray:
        png = tmp_path / "in.png"
        pnm = tmp_path / "out.pnm"
        png.write_bytes(payload)
        subprocess.run(
            ["java", "-cp", str(tmp_path), "DecodeRaw", str(png), str(pnm)],
            check=True,
            capture_output=True,
        )
        data = pnm.read_bytes()
        magic, dims, _, raw = data.split(b"\n", 3)
        w, h = map(int, dims.split())
        bands = 1 if magic == b"P5" else 3
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, bands)

    rng = np.random.default_rng(13)
    noise = rng.integers(0, 256, (29, 37, 3), dtype=np.uint8)
    tiny = rng.integers(0, 256, (3, 2, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:35, 0:23]
    smooth = np.stack(
        [
            (yy * 3 + xx).astype(np.uint8),
            (200 - yy + xx * 2).astype(np.uint8),
            (xx * 5).astype(np.uint8),
        ],
        axis=-1,
    )
    cases = [
        (f"filter{ft}", encode_png(noise, filter_type=ft), noise)
        for ft in range(5)
    ] + [
        ("adam7-noise", encode_png(noise, interlace=True), noise),
        ("adam7-tiny", encode_png(tiny, interlace=True), tiny),
        ("adam7-smooth-paeth",
         encode_png(smooth, filter_type=4, interlace=True), smooth),
    ]
    for tag, payload, ref in cases:
        foreign = java_decode(payload)
        assert foreign.shape == ref.shape, tag
        assert np.array_equal(foreign, ref), (
            tag,
            int(np.abs(foreign.astype(int) - ref.astype(int)).max()),
        )


def test_wav_foreign_decoder_interop(tmp_path):
    """r13: the interop pattern extends to the WAV container — Java's
    ``javax.sound.sampled`` (a foreign RIFF/WAVE reader + G.711
    expander, shipped with the JDK) must read every ``encode_wav``
    emission. Pins, all EXACT (the container and G.711 are lossless):
    metadata (encoding/rate/bits/channels/frame count), raw frame
    bytes == our data chunk (the chunk walk and sizes agree), and for
    µ-law/A-law the JavaSound PCM16 expansion equals ``decode_wav``'s
    CCITT-table expansion bit-for-bit — a foreign implementation of
    the same tables. JUNK/cue extra chunks pin the foreign reader
    over our word-aligned chunk emission too. EXTENSIBLE-wrapped
    G.711 is deliberately NOT a case: JavaSound dispatches 0xFFFE
    only for PCM sub-formats (probed: PCM EXTENSIBLE reads fine,
    MULAW GUID throws) — a reader gap, not an emission defect; our
    own decoder and the scalar references cover that framing.
    Skip-guarded on the JDK toolchain like the image interop pins."""
    import shutil
    import subprocess

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import decode_wav, encode_wav

    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("JDK toolchain not available")

    src = tmp_path / "WavProbe.java"
    src.write_text(
        "import javax.sound.sampled.*;\n"
        "import java.io.*;\n"
        "public class WavProbe {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    AudioInputStream in = AudioSystem.getAudioInputStream(new File(a[0]));\n"
        "    AudioFormat f = in.getFormat();\n"
        "    System.out.println(\"encoding=\" + f.getEncoding()\n"
        "        + \" rate=\" + (int) f.getSampleRate()\n"
        "        + \" bits=\" + f.getSampleSizeInBits()\n"
        "        + \" channels=\" + f.getChannels()\n"
        "        + \" frames=\" + in.getFrameLength());\n"
        "    DataOutputStream raw = new DataOutputStream(\n"
        "        new BufferedOutputStream(new FileOutputStream(a[1])));\n"
        "    byte[] buf = new byte[8192]; int n;\n"
        "    while ((n = in.read(buf)) > 0) raw.write(buf, 0, n);\n"
        "    raw.close();\n"
        "    AudioInputStream in2 = AudioSystem.getAudioInputStream(new File(a[0]));\n"
        "    AudioFormat tgt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,\n"
        "        f.getSampleRate(), 16, f.getChannels(), 2 * f.getChannels(),\n"
        "        f.getSampleRate(), false);\n"
        "    AudioInputStream conv = AudioSystem.getAudioInputStream(tgt, in2);\n"
        "    DataOutputStream pcm = new DataOutputStream(\n"
        "        new BufferedOutputStream(new FileOutputStream(a[2])));\n"
        "    while ((n = conv.read(buf)) > 0) pcm.write(buf, 0, n);\n"
        "    pcm.close();\n"
        "  }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", str(src)], check=True, capture_output=True, cwd=tmp_path
    )

    def probe(payload: bytes):
        wav = tmp_path / "in.wav"
        raw = tmp_path / "raw.bin"
        pcm = tmp_path / "pcm.bin"
        wav.write_bytes(payload)
        r = subprocess.run(
            ["java", "-cp", str(tmp_path), "WavProbe",
             str(wav), str(raw), str(pcm)],
            check=True,
            capture_output=True,
            text=True,
        )
        meta = dict(kv.split("=") for kv in r.stdout.split())
        return meta, raw.read_bytes(), pcm.read_bytes()

    t = np.arange(800)
    x = (5000 * np.sin(t / 7) + 2000 * np.sin(t / 31)).astype(np.int16)
    stereo = np.stack([x, (x // 3).astype(np.int16)], axis=1)
    mono = x.reshape(-1, 1)

    def data_chunk(payload: bytes) -> bytes:
        import struct

        pos = payload.find(b"data")
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        return payload[pos + 8 : pos + 8 + size]

    # (tag, payload, expected metadata, expected raw bytes)
    cases = [
        ("pcm16-stereo", encode_wav(stereo, 16000),
         {"encoding": "PCM_SIGNED", "rate": "16000", "bits": "16",
          "channels": "2", "frames": "800"}, stereo.tobytes()),
        ("pcm16-extensible", encode_wav(mono, 8000, extensible=True),
         {"encoding": "PCM_SIGNED", "rate": "8000", "bits": "16",
          "channels": "1", "frames": "800"}, mono.tobytes()),
        ("pcm16-extra-chunks",
         encode_wav(mono, 8000, pre_chunks=[(b"JUNK", b"x" * 7)],
                    post_chunks=[(b"cue ", b"y" * 12)]),
         {"encoding": "PCM_SIGNED", "rate": "8000", "bits": "16",
          "channels": "1", "frames": "800"}, mono.tobytes()),
        ("pcm8",
         encode_wav(((x.astype(np.int32) + 32768) // 256)
                    .astype(np.uint8).reshape(-1, 1), 8000),
         {"encoding": "PCM_UNSIGNED", "rate": "8000", "bits": "8",
          "channels": "1", "frames": "800"}, None),
        ("pcm32", encode_wav(x.astype(np.int32).reshape(-1, 1) * 65536, 8000),
         {"encoding": "PCM_SIGNED", "rate": "8000", "bits": "32",
          "channels": "1", "frames": "800"}, None),
        ("float32",
         encode_wav((x.astype(np.float32) / 32768.0).reshape(-1, 1), 8000),
         {"encoding": "PCM_FLOAT", "rate": "8000", "bits": "32",
          "channels": "1", "frames": "800"}, None),
        ("ulaw-stereo", encode_wav(stereo, 8000, codec="ulaw"),
         {"encoding": "ULAW", "rate": "8000", "bits": "8",
          "channels": "2", "frames": "800"}, None),
        ("alaw-mono", encode_wav(mono, 8000, codec="alaw"),
         {"encoding": "ALAW", "rate": "8000", "bits": "8",
          "channels": "1", "frames": "800"}, None),
    ]
    for tag, payload, want_meta, want_raw in cases:
        meta, raw, pcm = probe(payload)
        assert meta == want_meta, (tag, meta)
        assert raw == (want_raw or data_chunk(payload)), tag
        if meta["encoding"] in ("ULAW", "ALAW"):
            ours, _ = decode_wav(payload)
            foreign = np.frombuffer(pcm, dtype="<i2").reshape(ours.shape)
            assert np.array_equal(foreign, ours), tag  # CCITT bit parity


def test_jpeg_progressive_rejections_and_fallback():
    """r11: what stays rejected after the grayscale flip, each with
    its own loud error and the deterministic-fake dispatch fallback —
    color progressive (until it's real), a malformed progressive
    stream whose DC scan spans the full band (the old patched
    fixture: baseline SOF0 flipped to SOF2, whose single Ss=0/Se=63
    scan violates T.81 B.2.3), and a refinement step wider than one
    bit. The encoder's scan-script validation mirrors the decoder's
    rules."""
    import numpy as np
    import pandas as pd
    import pytest

    from mspr2_back_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from mspr2_back_spark.operators.multimodal import (
        decode_image,
        decode_image_batch,
    )

    # a baseline stream with its SOF0 flipped to SOF2 is NOT valid
    # progressive (gray or color): its single scan covers
    # Ss=0..Se=63, and a progressive DC scan must have Se=0
    img = (np.add.outer(np.arange(24), np.arange(32)) * 3 % 256).astype(
        np.uint8
    )
    for fixture in (img, np.stack([img] * 3, axis=2)):
        enc = encode_jpeg(fixture)
        sof = enc.find(b"\xff\xc0")
        malformed = enc[: sof + 1] + b"\xc2" + enc[sof + 2 :]
        with pytest.raises(ValueError, match="Ss=0 must have Se=0"):
            decode_jpeg(malformed)
        assert decode_image(malformed) is None
    enc = encode_jpeg(img)
    sof = enc.find(b"\xff\xc0")
    malformed = enc[: sof + 1] + b"\xc2" + enc[sof + 2 :]
    out = decode_image_batch(pd.Series([malformed, enc]))
    assert list(out["format"]) == ["fake/deterministic", "jpeg/gray8"]

    # component counts outside {1, 3} stay rejected at the frame
    color = encode_jpeg(np.stack([img] * 3, axis=2))
    sof = color.find(b"\xff\xc0")
    twocomp = bytearray(color)
    twocomp[sof + 1] = 0xC2
    twocomp[sof + 4 + 5] = 2  # nc byte
    with pytest.raises(ValueError, match="grayscale or 3-component"):
        decode_jpeg(bytes(twocomp))

    # refinement step wider than one bit (Ah must equal Al+1): walk
    # the marker stream to the LAST SOS header (a bare rfind can land
    # inside an unstuffed DHT body) and patch its AhAl 0x10 -> 0x20
    import struct

    from mspr2_back_spark.operators.jpeg import _entropy_end

    good = encode_jpeg_progressive(img, quality=90)
    bad = bytearray(good)
    pos, last_sos = 2, -1
    while pos + 4 <= len(bad) and bad[pos + 1] != 0xD9:
        size = struct.unpack_from(">H", bad, pos + 2)[0]
        if bad[pos + 1] == 0xDA:
            last_sos = pos
            pos = _entropy_end(bytes(bad), pos + 2 + size)
        else:
            pos = pos + 2 + size
    # SOS body: ns, (cid, tabs), Ss, Se, AhAl — the default script's
    # final scan is (1, 63, 1, 0)
    assert last_sos > 0 and bad[last_sos + 9] == 0x10
    bad[last_sos + 9] = 0x20
    with pytest.raises(ValueError, match="Ah must equal Al"):
        decode_jpeg(bytes(bad))

    # encoder-side script validation
    with pytest.raises(ValueError, match="scanned twice"):
        encode_jpeg_progressive(
            img, scans=((0, 0, 0, 0), (1, 63, 0, 0), (1, 5, 0, 0))
        )
    with pytest.raises(ValueError, match="does not continue"):
        encode_jpeg_progressive(
            img, scans=((0, 0, 0, 0), (1, 63, 0, 2), (1, 63, 1, 0))
        )
    with pytest.raises(ValueError, match="bad spectral selection"):
        encode_jpeg_progressive(img, scans=((0, 63, 0, 0),))


def test_jpeg_411_sampling_rejected():
    """r9 (VERDICT r8 task 7): sampling factors beyond 2×2 (e.g.
    4:1:1's 4×1 luma) are outside the decoder's contract and must be
    rejected with the explicit ≤2×2 message, falling back to the
    deterministic fake. Fixture: a 4:2:0 encode with the luma
    sampling byte patched 0x22 → 0x41."""
    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from mspr2_back_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    img = (rng.integers(0, 256, (32, 48, 3)) // 4 * 4).astype(np.uint8)
    enc = encode_jpeg(img, quality=90, subsampling="420")
    sof = enc.find(b"\xff\xc0")
    samp_off = sof + 4 + 5 + 1 + 1  # SOF0 body: prec,h,w,nc then cid,samp
    assert enc[samp_off] == 0x22
    patched = enc[:samp_off] + b"\x41" + enc[samp_off + 1 :]
    with pytest.raises(ValueError, match="beyond 2x2"):
        decode_jpeg(patched)
    assert decode_image(patched) is None


def test_jpeg_undefined_table_raises_value_error_and_batch_falls_back():
    """r8 ADVICE (medium): a payload with JPEG magic whose SOF/SOS
    reference undefined quant/Huffman tables must raise ValueError
    (not KeyError) so decode_image returns None and the mapInPandas
    batch falls back to the deterministic fake instead of crashing."""
    import numpy as np
    import pandas as pd
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from mspr2_back_spark.operators.multimodal import (
        decode_image,
        decode_image_batch,
    )

    img = (np.add.outer(np.arange(24), np.arange(32)) * 3 % 256).astype(
        np.uint8
    )
    enc = encode_jpeg(img)
    sof = enc.find(b"\xff\xc0")
    qid_off = sof + 4 + 5 + 1 + 2  # SOF0 body: prec,h,w,nc then cid,samp,qid
    assert enc[qid_off] == 0
    bad_q = enc[:qid_off] + b"\x03" + enc[qid_off + 1 :]
    with pytest.raises(ValueError, match="undefined quant table"):
        decode_jpeg(bad_q)

    sos = enc.find(b"\xff\xda")
    tabs_off = sos + 4 + 1 + 1  # SOS body: ns then cid,tabs
    bad_h = enc[:tabs_off] + b"\x57" + enc[tabs_off + 1 :]
    with pytest.raises(ValueError, match="undefined"):
        decode_jpeg(bad_h)

    assert decode_image(bad_q) is None
    out = decode_image_batch(pd.Series([bad_q, bad_h, enc]))
    assert list(out["format"]) == [
        "fake/deterministic",
        "fake/deterministic",
        "jpeg/gray8",
    ]


def test_jpeg_single_component_scan_is_non_interleaved():
    """r8 ADVICE (low): T.81 A.2 — a single-component scan is
    non-interleaved (one data unit per MCU, raster order) regardless
    of the sampling factors the frame header declares. A grayscale
    stream whose SOF declares 2x2 for the sole component must decode
    identically to the same stream declaring 1x1."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = (np.add.outer(np.arange(40), np.arange(48)) * 3 % 256).astype(
        np.uint8
    )
    enc = encode_jpeg(img)
    base, _ = decode_jpeg(enc)
    sof = enc.find(b"\xff\xc0")
    samp_off = sof + 4 + 5 + 1 + 1
    assert enc[samp_off] == 0x11
    patched = enc[:samp_off] + b"\x22" + enc[samp_off + 1 :]
    px, meta = decode_jpeg(patched)
    assert meta["format"] == "jpeg/gray8"
    assert np.array_equal(px, base)


def test_jpeg_decodes_real_world_files():
    """Interop: the decoder must read JPEGs produced by real
    encoders (libjpeg-era system test files), covering grayscale,
    4:4:4, and 4:2:0 — this is what validates the Annex K tables and
    marker handling beyond self-consistency. Skips gracefully when
    the files aren't present."""
    import os

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg

    candidates = [
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
        "test/test_email/data/python.jpg",  # 16x16 4:2:0
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
        "site-packages/IPython/core/tests/2x2.jpg",  # grayscale
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
        "doc/rust/html/embedded-book/assets/verify.jpeg",  # 720x477
    ]
    present = [p for p in candidates if os.path.exists(p)]
    if not present:
        pytest.skip("no system JPEG fixtures on this machine")
    for p in present:
        px, meta = decode_jpeg(open(p, "rb").read())
        assert px.dtype == np.uint8 and px.ndim == 3 and px.shape[2] == 3
        assert px.shape[0] == meta["height"] and px.shape[1] == meta["width"]
        assert meta["width"] > 0 and meta["height"] > 0


def test_unified_decode_seam_feeds_resize_and_features(spark, tmp_path):
    """r7: resize_images and extract_features route PNG and JPEG
    payloads through the real decoders via the unified decode_image
    seam — resize re-encodes in the same format family, features
    histogram decoded luma (not file bytes)."""
    import numpy as np

    from mspr2_back_spark.operators import multimodal
    from mspr2_back_spark.operators.jpeg import encode_jpeg
    from mspr2_back_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    img = np.full((8, 8, 3), 200, dtype=np.uint8)
    png_p, jpg_p = encode_png(img), encode_jpeg(img, quality=95)

    # seam: both decode to the flat image (JPEG within rounding)
    for p in (png_p, jpg_p):
        px, meta = decode_image(p)
        assert px.shape == (8, 8, 3)
        assert np.abs(px.astype(int) - 200).max() <= 1

    # features: flat luma 200 → one-hot histogram, impossible from
    # raw file bytes (headers/entropy data would smear it). The same
    # luma arithmetic the mapInPandas body runs, driven directly
    # (with_binary_payload utf-8-encodes TEXT corpora; real image
    # columns arrive as binary, which these helpers consume as-is).
    import pandas as pd

    feats = []
    for p in (png_p, jpg_p):
        px, _ = decode_image(p)
        luma = (px.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
        hist = np.bincount(luma.ravel() % 16, minlength=16)
        feats.append(hist)
    for hist in feats:
        assert hist[200 % 16] >= 63 and hist.sum() == 64

    # resize: PNG stays PNG, JPEG stays JPEG, both at the new dims
    small_png = multimodal.resize_image_array(decode_image(png_p)[0], 4, 4)
    assert small_png.shape == (4, 4, 3)
    out = multimodal.decode_image_batch(pd.Series([png_p, jpg_p]))
    assert out.loc[0, "format"].startswith("png")
    assert out.loc[1, "format"].startswith("jpeg")


def test_leakage_safe_splits_invariants(spark, sf_dir):
    """Split assignment is cluster-atomic (no cluster spans two
    splits — the leakage invariant), total, deterministic, and
    roughly 90/5/5; singletons get their own label; every member of
    a multi-doc cluster carries the same split as its cluster rep."""
    from mspr2_back_spark.plans.pipeline_queries import (
        dedup_clusters,
        leakage_safe_splits,
    )

    out = leakage_safe_splits(spark, sf_dir).collect()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert len(out) == docs_n  # total: every doc assigned exactly once
    # cluster-atomicity: one split per cluster_id
    by_cluster: dict[int, set] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # the cluster labels agree with dedup_clusters for clustered docs
    clustered = {
        r.doc_id: r.cluster_id for r in dedup_clusters(spark, sf_dir).collect()
    }
    assigned = {r.doc_id: r.cluster_id for r in out}
    for doc_id, cl in clustered.items():
        assert assigned[doc_id] == cl
    # singletons label themselves
    for doc_id, cl in assigned.items():
        if doc_id not in clustered:
            assert cl == doc_id
    # quotas: hash mod 20 -> 18/1/1; allow generous binomial slack
    n = len(out)
    frac = {
        s: sum(1 for r in out if r.split == s) / n
        for s in ("train", "val", "test")
    }
    assert frac["train"] > 0.8
    assert 0 < frac["val"] < 0.15
    assert 0 < frac["test"] < 0.15
    # at least one multi-doc cluster exercised the atomicity clause
    assert any(len([r for r in out if r.cluster_id == c]) > 1 for c in by_cluster)
    # deterministic: a second run is identical
    again = {r.doc_id: (r.cluster_id, r.split) for r in leakage_safe_splits(spark, sf_dir).collect()}
    assert again == {r.doc_id: (r.cluster_id, r.split) for r in out}


def test_split_contamination_audit_consistency(spark, sf_dir):
    """The audit's counts reconcile with first principles: per
    held-out doc, 'leaking' means sharing >= 1 distinct 3-gram span
    with ANY train doc — recomputed here with raw set algebra over
    the same split assignment; the mean overlap equals the average
    of per-doc shared-span fractions."""
    from mspr2_back_spark.plans.pipeline_queries import (
        _split_assignments,
        leakage_safe_splits,
        split_contamination_audit,
    )

    out = {r.split: r for r in split_contamination_audit(spark, sf_dir).collect()}
    assert set(out) == {"val", "test"}
    splits = {
        r.doc_id: r.split
        for r in leakage_safe_splits(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").collect()

    def spans(text):
        w = [t for t in text.split(" ") if t]
        if len(w) >= 3:
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        return {" ".join(w)}

    train_spans = set()
    per_doc = {}
    for r in docs:
        s = spans(r.text)
        per_doc[r.doc_id] = s
        if splits[r.doc_id] == "train":
            train_spans |= s
    expect = {}
    for sp in ("val", "test"):
        members = [d for d, v in splits.items() if v == sp]
        overlaps = [
            len(per_doc[d] & train_spans) / len(per_doc[d]) for d in members
        ]
        expect[sp] = (
            len(members),
            sum(1 for o in overlaps if o > 0),
            round(sum(overlaps) / len(overlaps), 6),
        )
    for sp in ("val", "test"):
        r = out[sp]
        n_docs, n_leak, mean_ov = expect[sp]
        assert r.n_docs == n_docs
        assert r.n_leaking_docs == n_leak
        assert abs(r.mean_span_overlap - mean_ov) < 1e-6
    # the audit must be non-vacuous at this SF — residual span leakage
    # exists even though the near-dup-cluster invariant holds
    assert any(out[sp].n_leaking_docs > 0 for sp in out)


def test_dedup_keep_best_invariants(spark, sf_dir):
    """Survivor selection first principles: members and labels agree
    with dedup_clusters exactly; every cluster keeps EXACTLY one doc;
    the kept doc maximizes (quality_score, -doc_id); every member's
    canonical_id is the kept doc's id; cluster_size matches."""
    from mspr2_back_spark.functions.text import quality_score_col
    from mspr2_back_spark.plans.pipeline_queries import (
        dedup_clusters,
        dedup_keep_best,
    )

    out = dedup_keep_best(spark, sf_dir).collect()
    clusters = dedup_clusters(spark, sf_dir).collect()
    assert {(r.doc_id, r.cluster_id, r.cluster_size) for r in out} == {
        (r.doc_id, r.cluster_id, r.cluster_size) for r in clusters
    }
    scores = {
        r.doc_id: r.q
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", quality_score_col().alias("q"))
        .collect()
    }
    by_cluster: dict[int, list] = {}
    for r in out:
        assert r.quality_score == scores[r.doc_id]
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert len(by_cluster) >= 2  # non-vacuous at this SF
    for members in by_cluster.values():
        assert len(members) >= 2  # only clustered docs appear
        kept = [r for r in members if r.kept]
        assert len(kept) == 1
        best = min(members, key=lambda r: (-r.quality_score, r.doc_id))
        assert kept[0].doc_id == best.doc_id
        assert all(r.canonical_id == best.doc_id for r in members)
        assert all(r.cluster_size == len(members) for r in members)


def test_bigram_surprisal_matches_hand_computation(spark, sf_dir):
    """Recompute one document's conditional bigram surprisal from raw
    corpus counts in plain Python (add-k smoothing, k = 0.5, rounded
    per-term at 6 dp) and pin the engine's mean and perplexity; also
    pin totality (every >= 2-word doc appears, n_bigrams = words-1)."""
    import math
    from collections import Counter

    from mspr2_back_spark.plans.sketches import BIGRAM_ADD_K, bigram_surprisal

    out = {r.doc_id: r for r in bigram_surprisal(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    words = {
        r.doc_id: [t for t in (r.text or "").split(" ") if t] for r in docs
    }
    eligible = {d: w for d, w in words.items() if len(w) >= 2}
    assert set(out) == set(eligible)
    cb: Counter = Counter()
    ch: Counter = Counter()
    vocab = set()
    for w in words.values():
        vocab.update(w)
        for a, b in zip(w, w[1:]):
            cb[(a, b)] += 1
            ch[a] += 1
    v = len(vocab)
    probe = sorted(eligible)[:25]
    for doc_id in probe:
        w = eligible[doc_id]
        terms = [
            round(
                -math.log(
                    (cb[(a, b)] + BIGRAM_ADD_K) / (ch[a] + BIGRAM_ADD_K * v)
                ),
                6,
            )
            for a, b in zip(w, w[1:])
        ]
        r = out[doc_id]
        assert r.n_bigrams == len(w) - 1
        mean = sum(terms) / len(terms)
        assert abs(r.mean_surprisal - round(mean, 6)) <= 1e-6
        assert abs(r.perplexity - round(math.exp(mean), 6)) <= 1e-4


def test_near_dup_clusters_rejects_non_integral_ids(spark):
    """The monotone-sum convergence witness is exact only for integer
    labels (a string id casts to NULL and would fake round-1
    convergence) — non-integral id columns must raise up front."""
    import pytest as _pytest

    from mspr2_back_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_id_1 string, doc_id_2 string"
    )
    with _pytest.raises(TypeError, match="integral id type"):
        near_dup_clusters(pairs)


def test_jpeg_fill_bytes_before_restart_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker — a conformant foreign encoder may emit FF FF D0 inside
    the entropy stream. The segment splitter must exclude the fill
    bytes and decode BIT-IDENTICALLY to the unpadded stream (r9
    review finding: the rework's first cut ended the entropy region
    at the fill byte and raised expected-restart on valid input)."""
    import numpy as np

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = (np.add.outer(np.arange(32), np.arange(40)) * 3 % 256).astype(
        np.uint8
    )
    dri = encode_jpeg(img, quality=85, restart_interval=1)
    base, _ = decode_jpeg(dri)
    # insert one fill FF before every RSTn in the entropy stream
    # (scan data starts after the SOS header; RSTn markers only occur
    # there, so a global scan-and-pad is safe)
    padded = bytearray()
    i = 0
    n_padded = 0
    while i < len(dri):
        if (
            dri[i] == 0xFF
            and i + 1 < len(dri)
            and 0xD0 <= dri[i + 1] <= 0xD7
        ):
            padded.extend(b"\xff")  # fill byte before the marker
            n_padded += 1
        padded.append(dri[i])
        i += 1
    assert n_padded > 0
    out, meta = decode_jpeg(bytes(padded))
    assert np.array_equal(out, base)


def test_jpeg_stray_rstn_without_dri_rejected():
    """r10 ADVICE: the trailing-empty-segment tolerance (real DRI
    encoders that emit a final RSTn after the last MCU) must be gated
    on restart_interval > 0 — a baseline stream with NO DRI but a
    stray RSTn right before EOI previously slipped through the
    marker accounting as a trimmed empty segment instead of raising
    like every other accounting violation."""
    import numpy as np
    import pytest

    from mspr2_back_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = (np.add.outer(np.arange(24), np.arange(24)) * 7 % 256).astype(
        np.uint8
    )
    enc = encode_jpeg(img, quality=90)  # no DRI
    assert enc.endswith(b"\xff\xd9")
    stray = enc[:-2] + b"\xff\xd0" + enc[-2:]
    with pytest.raises(ValueError, match="restart marker accounting mismatch"):
        decode_jpeg(stray)
    # the untouched stream still decodes (guard is accounting-only)
    px, _ = decode_jpeg(enc)
    assert px.shape == (24, 24, 3)


def test_wav_float32_roundtrip():
    """r10 (VERDICT r9 task 4): IEEE float32 WAV (format 3) — the
    other encoding real corpora actually carry — must round-trip
    encode→decode bit-exactly, with format metadata distinguishing it
    from integer PCM."""
    import numpy as np

    from mspr2_back_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    samples = rng.standard_normal((13, 2)).astype(np.float32)
    enc = encode_wav(samples, 44100)
    import struct as _struct

    # fmt chunk declares format 3 (IEEE float)
    fmt_off = enc.find(b"fmt ") + 8
    assert _struct.unpack_from("<H", enc, fmt_off)[0] == 3
    arr, meta = decode_wav(enc)
    assert meta == {
        "channels": 2,
        "sample_rate": 44100,
        "bits": 32,
        "n_samples": 13,
        "format": "wav/float32",
    }
    assert arr.dtype == np.dtype("<f4")
    assert np.array_equal(arr, samples)


def test_wav_rejection_surface_pinned_per_format():
    """r10 (VERDICT r9 task 4, the JPEG-rejection precedent of r8
    task 7), narrowed in r11 now that WAVE_FORMAT_EXTENSIBLE-wrapped
    PCM/IEEE-float DECODES (VERDICT r10 task 3): what stays rejected
    must each raise its own explicit ValueError — an EXTENSIBLE fmt
    with NO extension (truncated), an EXTENSIBLE sub-format GUID that
    is neither PCM nor IEEE_FLOAT, valid-bits narrowing (24-in-32),
    a data chunk whose declared size runs past the payload, and
    non-32-bit float declarations."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        _KSDATAFORMAT_TAIL,
        decode_wav,
        encode_wav,
    )

    samples = np.arange(12, dtype=np.int16).reshape(6, 2)
    enc = encode_wav(samples, 8000)
    fmt_off = enc.find(b"fmt ") + 8

    # 0xFFFE declared but the 16-byte base fmt carries no extension
    bare = bytearray(enc)
    struct.pack_into("<H", bare, fmt_off, 0xFFFE)
    with pytest.raises(ValueError, match="truncated fmt extension"):
        decode_wav(bytes(bare))

    # a real extension, but a sub-format this decoder does not own
    # (KSDATAFORMAT_SUBTYPE_MPEGLAYER3, Data1=0x55)
    ext = encode_wav(samples, 8000, extensible=True)
    mp3 = bytearray(ext)
    guid_off = ext.find(b"fmt ") + 8 + 24
    assert ext[guid_off + 4 : guid_off + 16] == _KSDATAFORMAT_TAIL
    struct.pack_into("<I", mp3, guid_off, 0x55)
    with pytest.raises(ValueError, match="none of KSDATAFORMAT_SUBTYPE_PCM"):
        decode_wav(bytes(mp3))

    # valid bits narrower than the container (24-in-32 style)
    narrowed = bytearray(ext)
    struct.pack_into("<H", narrowed, ext.find(b"fmt ") + 8 + 18, 12)
    with pytest.raises(ValueError, match="12 valid bits in a 16-bit"):
        decode_wav(bytes(narrowed))

    float16 = bytearray(enc)
    struct.pack_into("<H", float16, fmt_off, 3)  # float but bits=16
    with pytest.raises(ValueError, match="IEEE float must be 32-bit"):
        decode_wav(bytes(float16))

    # truncated data chunk: declared size intact, payload cut short
    data_off = enc.find(b"data")
    assert data_off > 0
    truncated = enc[: data_off + 8 + 5]  # 5 of 24 declared bytes
    with pytest.raises(ValueError, match="truncated WAV data chunk"):
        decode_wav(truncated)

    # zeroed fmt sample-rate field (r11 ADVICE): well-formed RIFF but
    # every time-domain quantity divides by it — rejected at the
    # decode seam so audio_feature_row / wav_stats can never hit a
    # ZeroDivisionError inside an Arrow batch
    from mspr2_back_spark.operators.multimodal import audio_feature_row

    zerorate = bytearray(enc)
    struct.pack_into("<I", zerorate, fmt_off + 4, 0)
    with pytest.raises(ValueError, match="sample_rate=0"):
        decode_wav(bytes(zerorate))
    assert audio_feature_row(bytes(zerorate)) is None

    # the untouched stream still decodes (guards are format-only)
    arr, meta = decode_wav(enc)
    assert meta["format"] == "wav/pcm16"
    assert np.array_equal(arr, samples)


def test_ima_adpcm_encode_roundtrip_and_reference():
    """r12: ``encode_wav_ima_adpcm`` completes the compressed-WAV
    round trip — blocks are self-contained (header = first sample
    verbatim + index 0), the nibble chain matches the vendored scalar
    DVI reference nibble-for-nibble (``tests/codec_refs.py`` — r13:
    formerly the stdlib's audioop, which Python 3.13 removes; the
    vendored copy is pinned against audioop exhaustively in
    ``test_codec_refs_match_audioop`` while both exist), the fact
    chunk trims the zero-padded tail exactly, and decode(encode(x))
    equals the encoder's own tracked reconstruction through BOTH
    decoders."""
    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        _ima_encode_nibbles,
        decode_wav,
        encode_wav_ima_adpcm,
    )
    from tests.codec_refs import ref_ima_decode, ref_ima_encode

    rng = np.random.default_rng(5)

    # mono, partial final block (130 samples over 57-sample blocks)
    x = rng.integers(-30000, 30000, (130, 1)).astype(np.int16)
    wav = encode_wav_ima_adpcm(x, 8000, block_align=32)
    arr, meta = decode_wav(wav)
    assert meta == {
        "channels": 1, "sample_rate": 8000, "bits": 4,
        "n_samples": 130, "format": "wav/ima-adpcm4",
    }
    spb = 57
    for b in range(3):
        if b * spb < 130:
            assert arr[b * spb, 0] == x[b * spb, 0]  # header verbatim

    # nibble-for-nibble vs the vendored scalar DVI encoder, per block
    blk = x[:spb, 0]
    mine = _ima_encode_nibbles(
        blk[1:][None, :].astype(np.int64),
        np.array([int(blk[0])]),
        np.array([0]),
    )[0]
    ref = np.array(
        ref_ima_encode(blk[1:].tolist(), int(blk[0]), 0)[: len(mine)],
        dtype=np.uint8,
    )
    assert np.array_equal(mine, ref)

    # the emitted stream means the same thing to the scalar decoder
    assert np.array_equal(
        np.array(
            ref_ima_decode([int(n) for n in mine], int(blk[0]), 0),
            dtype=np.int16,
        ),
        arr[1:spb, 0],
    )

    # stereo round trip: on this pinned input, re-encoding the
    # reconstruction at the same block geometry is a fixpoint (each
    # reconstructed step is a representable quantizer delta; not a
    # theorem under clipping, so pinned on a fixed seed)
    st = rng.integers(-20000, 20000, (114, 2)).astype(np.int16)
    wav2 = encode_wav_ima_adpcm(st, 16000, block_align=24)
    a2, m2 = decode_wav(wav2)
    assert m2["channels"] == 2 and m2["n_samples"] == 114
    a3, _ = decode_wav(encode_wav_ima_adpcm(a2, 16000, block_align=24))
    assert np.array_equal(a2, a3)

    # rejections mirror the decoder's layout checks
    with pytest.raises(ValueError, match="malformed IMA ADPCM block"):
        encode_wav_ima_adpcm(st, 8000, block_align=14)
    with pytest.raises(ValueError, match="malformed IMA ADPCM block"):
        # zero channels: layout ValueError, not ZeroDivisionError
        encode_wav_ima_adpcm(np.empty((5, 0), dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="expects int16"):
        encode_wav_ima_adpcm(st.astype(np.int32), 8000)


def test_ms_adpcm_encode_roundtrip_and_reference():
    """r13 (VERDICT r12 task 3): ``encode_wav_ms_adpcm`` completes the
    codec matrix's one asymmetric cell — blocks are self-contained
    (headers carry the first two samples verbatim plus a per-block
    predictor pick and idelta), the emitted fmt chunk carries the
    standard coefficient table (plain framing) or the ADPCM GUID
    (EXTENSIBLE framing), and the decoded stream equals a scalar
    re-decode of the emitted bytes through the vendored registration
    pseudocode (``tests/codec_refs.py``) — the same independent-
    scalar cross-check role the r12 decode test plays, now exercised
    over encoder-produced streams."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        decode_wav,
        encode_wav_ms_adpcm,
    )
    from tests.codec_refs import ref_ms_decode

    STD_C1 = [256, 512, 0, 192, 240, 460, 392]
    STD_C2 = [0, -256, 0, 64, 0, -208, -232]

    # mono, partial final block (500 samples over 116-sample blocks)
    t = np.arange(500)
    x = (
        3000 * np.sin(t / 9) + 1500 * np.sin(t / 23)
    ).astype(np.int16).reshape(-1, 1)
    wav = encode_wav_ms_adpcm(x, 8000, block_align=64)
    arr, meta = decode_wav(wav)
    assert meta == {
        "channels": 1, "sample_rate": 8000, "bits": 4,
        "n_samples": 500, "format": "wav/ms-adpcm4",
    }
    spb = (64 - 7) * 2 + 2  # 116
    for b in range(5):
        for off in (0, 1):  # first two samples verbatim per block
            if b * spb + off < 500:
                assert arr[b * spb + off, 0] == x[b * spb + off, 0]
    # the lossy reconstruction still tracks the signal closely
    err = np.abs(arr.astype(np.int64) - x.astype(np.int64))
    assert err.mean() < 64 and err.max() < 512

    # the emitted container is a well-formed format-2 WAV: fmt base +
    # cbSize=32 extension with wSamplesPerBlock and the 7 standard
    # coefficient pairs, a fact chunk with the true count, and
    # whole blocks in the data chunk
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    pos, chunks = 12, {}
    while pos + 8 <= len(wav):
        cid = wav[pos : pos + 4]
        size = struct.unpack_from("<I", wav, pos + 4)[0]
        chunks[cid] = wav[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    fmt = chunks[b"fmt "]
    assert struct.unpack_from("<HHIIHH", fmt, 0) == (
        2, 1, 8000, 8000 * 64 // spb, 64, 4,
    )
    assert struct.unpack_from("<HHH", fmt, 16) == (32, spb, 7)
    pairs = list(struct.iter_unpack("<hh", fmt[22:22 + 28]))
    assert [p[0] for p in pairs] == STD_C1
    assert [p[1] for p in pairs] == STD_C2
    assert struct.unpack("<I", chunks[b"fact"])[0] == 500
    assert len(chunks[b"data"]) % 64 == 0

    # scalar re-decode of the emitted bytes, block by block, equals
    # the vectorized decoder's output (headers are read from the
    # emitted stream, so this also pins the header layout)
    data = chunks[b"data"]
    scalar: list[int] = []
    for b in range(len(data) // 64):
        blk = data[b * 64 : (b + 1) * 64]
        pi = blk[0]
        delta, s1, s2 = struct.unpack_from("<hhh", blk, 1)
        nibs = [n for by in blk[7:] for n in (by >> 4, by & 0xF)]
        scalar += ref_ms_decode(nibs, STD_C1[pi], STD_C2[pi], delta, s1, s2)
    assert arr[:, 0].tolist() == scalar[:500]

    # stereo: EXTENSIBLE and plain framings decode to the SAME
    # samples (the GUID wrapper changes the container, not the code
    # stream — both use the standard table)
    st = (2000 * np.sin(np.arange(300) / 7)).astype(np.int16)
    st = np.stack([st, (st // 2).astype(np.int16)], axis=1)
    plain, mp = decode_wav(encode_wav_ms_adpcm(st, 16000, block_align=32))
    ext, me = decode_wav(
        encode_wav_ms_adpcm(st, 16000, block_align=32, extensible=True)
    )
    assert mp == me == {
        "channels": 2, "sample_rate": 16000, "bits": 4,
        "n_samples": 300, "format": "wav/ms-adpcm4",
    }
    assert np.array_equal(plain, ext)
    assert np.abs(plain.astype(np.int64) - st.astype(np.int64)).mean() < 64

    # rejections mirror the decoder's layout checks
    with pytest.raises(ValueError, match="malformed MS ADPCM block"):
        encode_wav_ms_adpcm(st, 8000, block_align=14)  # zero data bytes
    with pytest.raises(ValueError, match="malformed MS ADPCM block"):
        # 3 channels, 1 data byte = 2 nibbles: not divisible by 3
        encode_wav_ms_adpcm(
            np.zeros((9, 3), dtype=np.int16), 8000, block_align=22
        )
    with pytest.raises(ValueError, match="expects int16"):
        encode_wav_ms_adpcm(st.astype(np.int32), 8000)
    with pytest.raises(ValueError, match="at least one sample"):
        encode_wav_ms_adpcm(np.empty((0, 1), dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="malformed MS ADPCM block"):
        # zero channels must hit the layout ValueError, not the
        # ZeroDivisionError the modulo would raise (r13 review)
        encode_wav_ms_adpcm(np.empty((5, 0), dtype=np.int16), 8000)


def test_adpcm_probe_container_closed_forms():
    """r13 (VERDICT r12 task 2): the ``multimodal_adpcm_stats``
    oracle recomputes n_bytes from per-framing closed-form container
    assembly. This pins that law directly against the encoders,
    scalar-side (the Spark/DuckDB halves meet in
    test_oracle_parity): for a doc_id range covering every (sel,
    id%2, id%3, id%5, id%8, partial/full final block) combination,
    the emitted payload length, decode metadata, and declared RIFF
    size must equal the same formulas the SQL uses —
    - IMA (sel 0, mono): 60 + n_blocks*(8+4m), spb = 9+8m,
    - MS plain (sel 1, stereo): 90 + n_blocks*(18+4q), spb = 6+4q,
    - MS EXTENSIBLE (sel 2, mono): 80 + n_blocks*ba + (n_blocks*ba)%2
      with the odd block_align ba = 11+4q exercising the word-align
      pad, spb = 10+8q,
    - G.711 (sel 3, stereo): 28 + (40 if EXTENSIBLE else 16) + 2n —
    with m = id%3, q = id%5, n = 50+id%101."""
    import struct

    import numpy as np

    from mspr2_back_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        encode_wav_ima_adpcm,
        encode_wav_ms_adpcm,
    )

    for did in range(0, 404):  # covers lcm(4,2,3,5,8)=120 and 101
        channels = 1 + did % 2
        rate = 8000 * (1 + did % 3)
        n = 50 + did % 101
        i = np.arange(n, dtype=np.int64).reshape(-1, 1)
        ch = np.arange(channels, dtype=np.int64).reshape(1, -1)
        k = (
            ((1231 * did + 2749 * i + 997 * ch) % 4001) - 2000
        ).astype(np.int16)
        sel = did % 4
        m, q = did % 3, did % 5
        if sel == 0:
            payload = encode_wav_ima_adpcm(
                k, rate, block_align=4 * channels * (2 + m)
            )
            spb = 9 + 8 * m
            nb = -(-n // spb)
            expect, fmt, bits = 60 + nb * (8 + 4 * m), "wav/ima-adpcm4", 4
        elif sel in (1, 2):
            payload = encode_wav_ms_adpcm(
                k,
                rate,
                block_align=7 * channels + 4 * (1 + q),
                extensible=sel == 2,
            )
            if sel == 1:
                spb, ba, base = 6 + 4 * q, 18 + 4 * q, 90
            else:
                spb, ba, base = 10 + 8 * q, 11 + 4 * q, 80
            nb = -(-n // spb)
            expect = base + nb * ba + (nb * ba) % 2 * (sel == 2)
            fmt, bits = "wav/ms-adpcm4", 4
        else:
            payload = encode_wav(
                k,
                rate,
                codec="ulaw" if did % 8 < 4 else "alaw",
                extensible=did % 5 < 2,
            )
            expect = 28 + (40 if q < 2 else 16) + channels * n
            fmt = "wav/ulaw8" if did % 8 < 4 else "wav/alaw8"
            bits = 8
        _, meta = decode_wav(payload)
        assert len(payload) == expect, (did, sel, len(payload), expect)
        assert struct.unpack_from("<I", payload, 4)[0] == expect - 8
        assert meta == {
            "channels": channels,
            "sample_rate": rate,
            "bits": bits,
            "n_samples": n,
            "format": fmt,
        }, (did, sel, meta)


def test_g711_encoders_match_reference_exhaustively():
    """r12: the G.711 encode halves (``linear_to_ulaw`` /
    ``linear_to_alaw``) are the CCITT reference encoders, verified on
    EVERY one of the 65536 int16 inputs against an independent
    scalar implementation of the CCITT reference code (r13: vendored
    in ``tests/codec_refs.py`` — formerly the stdlib's audioop, which
    Python 3.13 removes; the vendored copy is itself pinned against
    audioop exhaustively in ``test_codec_refs_match_audioop`` while
    both exist). Codec transparency — re-encoding an
    expanded code is the identity — holds for all 256 A-law codes
    and 255 of 256 µ-law codes; the single exception is the
    canonical ±0 collapse (0x7F, negative zero, expands to 0 which
    re-encodes as positive zero 0xFF — value-identical expansion,
    pinned as such)."""
    import numpy as np

    from mspr2_back_spark.operators.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        linear_to_alaw,
        linear_to_ulaw,
    )
    from tests.codec_refs import ref_lin2alaw, ref_lin2ulaw

    allv = np.arange(-32768, 32768, dtype=np.int16)
    assert np.array_equal(
        linear_to_ulaw(allv),
        np.fromiter(
            (ref_lin2ulaw(int(v)) for v in allv), dtype=np.uint8,
            count=65536,
        ),
    )
    assert np.array_equal(
        linear_to_alaw(allv),
        np.fromiter(
            (ref_lin2alaw(int(v)) for v in allv), dtype=np.uint8,
            count=65536,
        ),
    )

    codes = np.arange(256, dtype=np.uint8)
    re_a = linear_to_alaw(_ALAW_TABLE[codes])
    assert np.array_equal(re_a, codes)
    re_u = linear_to_ulaw(_ULAW_TABLE[codes])
    mismatch = codes[re_u != codes]
    assert mismatch.tolist() == [0x7F]
    assert _ULAW_TABLE[0x7F] == 0 and re_u[0x7F] == 0xFF
    assert _ULAW_TABLE[0xFF] == 0  # value-identical expansion


def test_codec_refs_match_audioop():
    """r13 (ADVICE r12 #2): the vendored scalar references in
    ``tests/codec_refs.py`` are themselves pinned against the
    stdlib's independent C implementation wherever audioop still
    ships (it is removed in Python 3.13) — G.711 exhaustively over
    all 65536 int16 inputs, IMA-ADPCM encode AND decode over random
    streams from random (predictor, index) states.  On 3.13+ this
    test skips, but the codec tests above keep their vendored
    reference, so the headline 'all 65536 inputs verified' claims
    never silently degrade to skipped."""
    import numpy as np
    import pytest

    from tests.codec_refs import (
        ref_ima_decode,
        ref_ima_encode,
        ref_lin2alaw,
        ref_lin2ulaw,
    )

    audioop = pytest.importorskip("audioop")

    allv = np.arange(-32768, 32768, dtype=np.int16)
    raw = allv.tobytes()
    assert bytes(ref_lin2ulaw(int(v)) for v in allv) == audioop.lin2ulaw(
        raw, 2
    )
    assert bytes(ref_lin2alaw(int(v)) for v in allv) == audioop.lin2alaw(
        raw, 2
    )

    rng = np.random.default_rng(113)
    for _ in range(25):
        n = int(rng.integers(2, 200)) * 2
        x = rng.integers(-32768, 32768, n).astype(np.int16)
        pred = int(rng.integers(-32768, 32768))
        idx = int(rng.integers(0, 89))
        enc_bytes, _ = audioop.lin2adpcm(x.tobytes(), 2, (pred, idx))
        ref_nib = ref_ima_encode(x.tolist(), pred, idx)
        got = [n for by in enc_bytes for n in (by >> 4, by & 0xF)]
        assert got[: len(ref_nib)] == ref_nib
        nibs = [int(v) for v in rng.integers(0, 16, n)]
        hi_first = bytes(
            (nibs[i] << 4) | nibs[i + 1] for i in range(0, n, 2)
        )
        lin, _ = audioop.adpcm2lin(hi_first, 2, (pred, idx))
        assert (
            list(np.frombuffer(lin, dtype=np.int16))
            == ref_ima_decode(nibs, pred, idx)
        )


def test_g711_encode_wav_roundtrip():
    """r12: ``encode_wav(codec=...)`` emits real format-6/7 G.711
    WAVs (plain and EXTENSIBLE) that ``decode_wav`` expands back —
    decoded samples equal the table expansion of the companded
    bytes, twice-companded audio is a fixpoint (G.711 trunk
    transparency), and non-int16 input is rejected loudly."""
    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        _ULAW_TABLE,
        decode_wav,
        encode_wav,
        linear_to_ulaw,
    )

    rng = np.random.default_rng(31)
    pcm = rng.integers(-32768, 32768, (50, 2)).astype(np.int16)

    for codec, fmt_name in (("ulaw", "wav/ulaw8"), ("alaw", "wav/alaw8")):
        for ext in (False, True):
            wav = encode_wav(pcm, 8000, codec=codec, extensible=ext)
            arr, meta = decode_wav(wav)
            assert meta == {
                "channels": 2, "sample_rate": 8000, "bits": 8,
                "n_samples": 50, "format": fmt_name,
            }
            # decode(encode(x)) is lossy vs x but EXACT vs the
            # companded bytes, and re-encoding is a fixpoint
            again = encode_wav(arr, 8000, codec=codec, extensible=ext)
            arr2, _ = decode_wav(again)
            assert np.array_equal(arr, arr2)

    # value check against the table on the µ-law path
    wav = encode_wav(pcm, 8000, codec="ulaw")
    arr, _ = decode_wav(wav)
    assert np.array_equal(arr, _ULAW_TABLE[linear_to_ulaw(pcm)])

    with pytest.raises(ValueError, match="expects int16"):
        encode_wav(pcm.astype(np.int32), 8000, codec="ulaw")
    with pytest.raises(ValueError, match="unsupported WAV codec"):
        encode_wav(pcm, 8000, codec="gsm")


def test_near_dup_clusters_deep_chain_cap(spark):
    """On a chain DEEPER than the default 20-round cap,
    ``near_dup_clusters`` fails loudly at the cap (never returns an
    under-merged clustering), and raising ``max_iter`` to the
    diameter converges."""
    import pytest

    from mspr2_back_spark.operators.dedup import near_dup_clusters

    # a single 26-hop chain: diameter 25 > the default 20-round cap
    edges = [(i, i + 1) for i in range(25)]
    pairs = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        near_dup_clusters(pairs)
    lifted = {
        r.node: r.cluster
        for r in near_dup_clusters(pairs, max_iter=30).collect()
    }
    assert lifted == {i: 0 for i in range(26)}


def test_minhash_verify_joins_reuse_cached_doc_partitioning(spark, sf_dir):
    """r10 (VERDICT r9 task 2, the adopted fix): minhash_lsh_pairs
    persists its shingle projection hash(doc)-partitioned, so the two
    exact-verify joins must reach the cached ARRAY relation without
    any exchange — only the narrow candidate side may re-shuffle
    (measured 68.0 -> 40.1 s at 256x, SCALING.md round 10). Pinned
    with broadcasting disabled so the joins take their shuffle-join
    form (the shape that matters at scale; at test scale AQE may
    broadcast the candidates, where the array side trivially never
    moves)."""
    import re

    from mspr2_back_spark.operators.dedup import minhash_lsh_pairs
    from mspr2_back_spark.sources.readers import load_table

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = load_table(spark, sf_dir, "documents")
        df = minhash_lsh_pairs(docs, 0.8)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # the verify joins: both sides named doc_id_1 / doc_id_2; the
    # RIGHT key is the cached array side's alias of `doc`
    joins = re.findall(
        r"Left keys \[1\]: \[(doc_id_[12])#(\d+)L?\]\s*\n\s*"
        r"Right keys \[1\]: \[(doc_id_[12])#(\d+)L?\]",
        plan,
    )
    verify = [(l, lid, rid) for l, lid, r, rid in joins if l == r]
    assert len(verify) == 2, f"expected the two verify joins, got {joins}"
    build_exchanges = re.findall(
        r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_(?:NUM|COL)",
        plan,
    )
    assert build_exchanges, (
        "the build-time repartition(id) is gone — the cache is no "
        "longer hash(doc)-partitioned"
    )
    for _, left_id, right_id in verify:
        # candidate side exchanges (EnsureRequirements matches it to
        # the cached layout) ...
        assert re.search(
            rf"hashpartitioning\(doc_id_[12]#{left_id}L?, \d+\), "
            r"ENSURE_REQUIREMENTS",
            plan,
        ), "the candidate side of a verify join stopped exchanging"
        # ... the array side must NOT: its partitioning flows from the
        # InMemoryRelation through the alias
        assert not re.search(
            rf"hashpartitioning\(doc_id_[12]#{right_id}L?,", plan
        ), (
            "a verify join re-exchanged the cached shingle-array "
            "relation — the r10 partitioning contract regressed"
        )


def test_wav_g711_alaw_ulaw_decode():
    """r11: G.711 telephony WAVs (format 6 A-law / 7 µ-law) expand to
    16-bit linear through the CCITT reference tables. Pins: the
    published table values for known code bytes (Sun/CCITT
    ulaw2linear / alaw2linear), full-range sign symmetry, and the
    EXTENSIBLE-wrapped dispatch; G.711 at a declared width other than
    8 bits stays rejected."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import decode_wav, encode_wav

    codes = np.arange(256, dtype=np.uint8).reshape(-1, 1)
    enc = encode_wav(codes, 8000)  # 8-bit PCM container for raw bytes
    fmt_off = enc.find(b"fmt ") + 8

    ulaw = bytearray(enc)
    struct.pack_into("<H", ulaw, fmt_off, 7)
    arr, meta = decode_wav(bytes(ulaw))
    assert meta["format"] == "wav/ulaw8" and meta["bits"] == 8
    assert arr.dtype == np.int16
    by_code = {int(c): int(v) for c, v in zip(codes[:, 0], arr[:, 0])}
    # published µ-law expansions
    assert by_code[0x00] == -32124 and by_code[0x80] == 32124
    assert by_code[0x01] == -31100 and by_code[0xFF] == 0
    assert by_code[0x7F] == 0
    # sign symmetry: byte b and b|0x80 are negatives of each other
    assert all(by_code[b] == -by_code[b | 0x80] for b in range(128))

    alaw = bytearray(enc)
    struct.pack_into("<H", alaw, fmt_off, 6)
    arr, meta = decode_wav(bytes(alaw))
    assert meta["format"] == "wav/alaw8" and meta["bits"] == 8
    by_code = {int(c): int(v) for c, v in zip(codes[:, 0], arr[:, 0])}
    # published A-law expansions
    assert by_code[0x55] == -8 and by_code[0xD5] == 8
    assert by_code[0x00] == -5504 and by_code[0x80] == 5504
    assert by_code[0xFF] == 848
    assert all(by_code[b] == -by_code[b | 0x80] for b in range(128))

    # EXTENSIBLE-wrapped µ-law dispatches onto the same path
    ext = bytearray(encode_wav(codes, 8000, extensible=True))
    guid_off = bytes(ext).find(b"fmt ") + 8 + 24
    struct.pack_into("<I", ext, guid_off, 7)
    arr, meta = decode_wav(bytes(ext))
    assert meta["format"] == "wav/ulaw8"
    assert int(arr[0, 0]) == -32124

    # G.711 must be 8-bit
    bad = bytearray(enc)
    struct.pack_into("<H", bad, fmt_off, 7)
    struct.pack_into("<H", bad, fmt_off + 14, 16)
    with pytest.raises(ValueError, match="G.711 must be 8-bit"):
        decode_wav(bytes(bad))


def _build_png(w, h, depth, ctype, idat_raw, plte=b"", trns=b""):
    import struct
    import zlib

    from mspr2_back_spark.operators.multimodal import _PNG_MAGIC

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    out = _PNG_MAGIC + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    )
    if plte:
        out += chunk(b"PLTE", plte)
    if trns:
        out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(idat_raw)) + chunk(b"IEND", b"")


def test_png_palette_subbyte_and_alpha_golden():
    """r11: PNG color types 3 (palette, depths 1/2/4/8 + tRNS) and 4
    (gray+alpha), and sub-byte grayscale, on HAND-BUILT fixtures —
    the PLTE bytes and packed index bits are written in the test, so
    the expected pixel arrays are golden by construction, not
    round-tripped through the encoder. Rejections: out-of-range
    palette indices, missing PLTE, 16-bit palette."""
    import pytest

    from mspr2_back_spark.operators.multimodal import decode_png

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    # 8-bit palette, 2x2: indices [[0,1],[2,3]]
    px, meta = decode_png(
        _build_png(2, 2, 8, 3, b"\x00\x00\x01" + b"\x00\x02\x03", plte)
    )
    assert meta["format"] == "png/palette8" and "has_alpha" not in meta
    assert px.tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [10, 20, 30]],
    ]
    # 4-bit palette, 3 px/row (odd → padded low nibble)
    px, meta = decode_png(
        _build_png(
            3, 2, 4, 3,
            b"\x00" + bytes([0x01, 0x20]) + b"\x00" + bytes([0x30, 0x10]),
            plte,
        )
    )
    assert meta["format"] == "png/palette4"
    assert px.tolist() == [
        [[255, 0, 0], [0, 255, 0], [0, 0, 255]],
        [[10, 20, 30], [255, 0, 0], [0, 255, 0]],
    ]
    # 2-bit palette, 5 px/row: 00 01 10 11 | 00 + pad bits
    px, _ = decode_png(
        _build_png(5, 1, 2, 3, b"\x00" + bytes([0b00011011, 0]), plte)
    )
    assert px.tolist()[0] == [
        [255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30], [255, 0, 0]
    ]
    # 1-bit palette across a byte boundary (10 px)
    px, _ = decode_png(
        _build_png(
            10, 1, 1, 3, b"\x00" + bytes([0b01101001, 0b11000000]), plte[:6]
        )
    )
    want = [0, 1, 1, 0, 1, 0, 0, 1, 1, 1]
    assert px.tolist()[0] == [
        [255, 0, 0] if i == 0 else [0, 255, 0] for i in want
    ]
    # sub-byte grayscale scales code points onto 0..255
    px, meta = decode_png(_build_png(4, 1, 1, 0, b"\x00" + bytes([0b10100000])))
    assert meta["format"] == "png/gray1"
    assert [p[0] for p in px.tolist()[0]] == [255, 0, 255, 0]
    px, _ = decode_png(_build_png(4, 1, 2, 0, b"\x00" + bytes([0b00011011])))
    assert [p[0] for p in px.tolist()[0]] == [0, 85, 170, 255]
    # gray+alpha drops alpha into metadata
    px, meta = decode_png(
        _build_png(2, 1, 8, 4, b"\x00" + bytes([7, 9, 200, 255]))
    )
    assert meta["format"] == "png/graya8" and meta["has_alpha"] is True
    assert px.tolist()[0] == [[7, 7, 7], [200, 200, 200]]
    # tRNS on a palette flags alpha
    _, meta = decode_png(
        _build_png(2, 1, 8, 3, b"\x00\x00\x01", plte, trns=bytes([0, 255]))
    )
    assert meta["has_alpha"] is True
    with pytest.raises(ValueError, match="palette index out of range"):
        decode_png(_build_png(2, 1, 8, 3, b"\x00\x00\x09", plte))
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(_build_png(2, 1, 8, 3, b"\x00\x00\x01"))
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(_build_png(2, 1, 16, 3, b"\x00" + bytes(4), plte))


def test_png_adam7_roundtrip_all_filters_and_shapes():
    """r11: encode_png(interlace=True) -> decode_png is the identity
    across every filter type and shapes exercising the Adam7 corner
    cases — dims under 8 (passes with zero width/height contribute
    NO bytes), dims that leave ragged final passes, and exact
    8-multiples."""
    import numpy as np

    from mspr2_back_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)
    for shape in [(1, 1), (2, 3), (5, 5), (7, 9), (8, 8), (13, 17), (16, 33)]:
        for ft in range(5):
            img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
            px, meta = decode_png(
                encode_png(img, filter_type=ft, interlace=True)
            )
            assert meta["format"] == "png/rgb8-adam7"
            assert np.array_equal(px, img), (shape, ft)


def test_png_decodes_real_world_variants():
    """r11 interop: real foreign-encoder PNGs covering every newly
    supported class — 8/4/2-bit palette, gray+alpha, and Adam7
    interlaced RGBA (libpng's own canonical pngtest.png). Full-plane
    md5 golden pins; each skips independently when absent."""
    import hashlib
    import os

    import pytest

    from mspr2_back_spark.operators.multimodal import decode_png

    fixtures = [
        ("/usr/share/gitweb/static/git-logo.png",
         "png/palette8", (72, 27), "d0388f2b65d5feaac2f7d0c94e53e562"),
        ("/usr/share/icons/locolor/16x16/apps/gvim.png",
         "png/palette4", (16, 16), "bdaf530d548ae16bec25dc6416e19cca"),
        ("/usr/share/gitweb/static/git-favicon.png",
         "png/palette2", (16, 16), "166632a72fc081d03e0c322dc8854bd8"),
        ("/usr/share/icons/Adwaita/48x48/legacy/"
         "preferences-system-privacy.png",
         "png/graya8", (48, 48), "8b989ee3f94f66f45676b0f53f566697"),
        ("/usr/share/doc/libpng-dev/examples/pngtest.png",
         "png/rgba8-adam7", (91, 69), "5e8924c106ce28226e2a8412b6d58cb8"),
    ]
    present = [f for f in fixtures if os.path.exists(f[0])]
    if not present:
        pytest.skip("no system PNG fixtures on this machine")
    for path, fmt, (w, h), md5 in present:
        px, meta = decode_png(open(path, "rb").read())
        assert meta["format"] == fmt, path
        assert (meta["width"], meta["height"]) == (w, h), path
        assert hashlib.md5(px.tobytes()).hexdigest() == md5, path


def test_jpeg_adversarial_dc_size_rejected_not_overflow():
    """r11 review finding: an adversarial DHT can map a Huffman code
    to ANY byte, and an unchecked DC size symbol (e.g. 0xFF) used as
    a shift width pushed the coefficient past int64 — an
    OverflowError the dispatch fallback doesn't catch, crashing the
    whole Arrow batch. T.81 F.1.2.1.1 caps 8-bit DC categories at 11;
    both decoders (baseline and progressive) must reject larger
    symbols with the per-format ValueError, and the dispatch must
    fall back to the deterministic fake."""
    import numpy as np
    import pandas as pd
    import pytest

    from mspr2_back_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from mspr2_back_spark.operators.multimodal import decode_image_batch

    # flat 128 level-shifts to zero, so the single block's DC diff is
    # 0 and the decoder reads the size-0 symbol this test poisons
    img = np.full((8, 8), 128, dtype=np.uint8)

    # baseline: patch the Annex K DC table's first symbol (size 0,
    # the code a flat block's zero DC diff decodes) to 0xFF
    enc = bytearray(encode_jpeg(img, quality=90))
    dht = bytes(enc).find(b"\xff\xc4")
    assert enc[dht + 4] == 0x00  # DC luma table header
    vals_off = dht + 5 + 16
    assert enc[vals_off] == 0  # symbol for size category 0
    enc[vals_off] = 0xFF
    with pytest.raises(ValueError, match="invalid DC size symbol"):
        decode_jpeg(bytes(enc))

    # progressive: same patch on the optimized DC table's sole
    # zero-size symbol (flat image -> all DC diffs are 0)
    prog = bytearray(encode_jpeg_progressive(img, quality=90))
    dht = bytes(prog).find(b"\xff\xc4")
    assert prog[dht + 4] == 0x00
    vals_off = dht + 5 + 16
    assert prog[vals_off] == 0
    prog[vals_off] = 0xFF
    with pytest.raises(ValueError, match="invalid DC size symbol"):
        decode_jpeg(bytes(prog))

    # the dispatch contract holds: fake fallback, batch survives
    out = decode_image_batch(
        pd.Series([bytes(enc), bytes(prog), encode_jpeg(img, quality=90)])
    )
    assert list(out["format"]) == [
        "fake/deterministic", "fake/deterministic", "jpeg/gray8",
    ]


def test_png_trns_color_key_flags_alpha():
    """r11 review finding: a tRNS chunk on grayscale/truecolor PNGs
    is a transparent color key — has_alpha must flag it just like a
    palette tRNS or a real alpha channel does."""
    from mspr2_back_spark.operators.multimodal import decode_png

    # truecolor 1x1 + 16-bit-per-sample tRNS color key (6 bytes)
    png = _build_png(
        1, 1, 8, 2, b"\x00\x01\x02\x03", trns=bytes([0, 1, 0, 2, 0, 3])
    )
    px, meta = decode_png(png)
    assert meta["has_alpha"] is True and px.tolist() == [[[1, 2, 3]]]
    # grayscale + 2-byte tRNS key
    _, meta = decode_png(
        _build_png(2, 1, 8, 0, b"\x00\x07\x08", trns=bytes([0, 7]))
    )
    assert meta["has_alpha"] is True
    # and absent tRNS still means no alpha key in the metadata
    _, meta = decode_png(_build_png(1, 1, 8, 2, b"\x00\x01\x02\x03"))
    assert "has_alpha" not in meta


def test_wav_ima_adpcm_decode():
    """r11: IMA/DVI ADPCM WAVs (format 0x11) decode block-wise —
    per-channel 4-byte headers (the predictor IS the first sample),
    4-byte nibble units round-robin across channels, low nibble
    first, fact-chunk trim. The arithmetic chain is cross-checked
    against an INDEPENDENT scalar DVI implementation (r13: vendored
    in ``tests/codec_refs.py`` — formerly the stdlib's audioop, which
    Python 3.13 removes; the vendored copy is pinned against audioop
    in ``test_codec_refs_match_audioop`` while both exist);
    rejections stay loud for out-of-range step indices, non-4-bit
    declarations, and malformed block layouts."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import decode_wav
    from tests.codec_refs import ref_ima_decode

    def build_wav(
        channels, block_align, blocks, fact=None, rate=8000, fmt_tag=0x11
    ):
        spb = (block_align - 4 * channels) * 2 // channels + 1
        fmt = struct.pack(
            "<HHIIHHHH", fmt_tag, channels, rate,
            rate * block_align // spb, block_align, 4, 2, spb,
        )
        def chunk(cid, body):
            return cid + struct.pack("<I", len(body)) + body + (
                b"\x00" if len(body) & 1 else b""
            )
        payload = chunk(b"fmt ", fmt)
        if fact is not None:
            payload += chunk(b"fact", struct.pack("<I", fact))
        payload += chunk(b"data", blocks)
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload

    rng = np.random.default_rng(17)

    def ref_block(nib_bytes, pred, idx):
        # WAV blocks are low-nibble-first; the scalar reference takes
        # one nibble per element, so unpack in stream order
        nibs = [n for b in nib_bytes for n in (b & 0xF, b >> 4)]
        return [pred] + ref_ima_decode(nibs, pred, idx)

    # mono, 3 blocks of block_align=32 (28 data bytes -> 57 samples)
    blocks, want = b"", []
    for _ in range(3):
        pred = int(rng.integers(-32768, 32768))
        idx = int(rng.integers(0, 89))
        body = bytes(rng.integers(0, 256, 28, dtype=np.uint8))
        blocks += struct.pack("<hBB", pred, idx, 0) + body
        want += ref_block(body, pred, idx)
    arr, meta = decode_wav(build_wav(1, 32, blocks))
    assert meta == {
        "channels": 1, "sample_rate": 8000, "bits": 4,
        "n_samples": 171, "format": "wav/ima-adpcm4",
    }
    assert arr[:, 0].tolist() == want

    # the fact chunk trims the final block's padding
    arr, meta = decode_wav(build_wav(1, 32, blocks, fact=150))
    assert meta["n_samples"] == 150 and arr[:, 0].tolist() == want[:150]

    # stereo: one block, L/R units alternate every 4 bytes
    predL, idxL, predR, idxR = 100, 10, -200, 44
    dataL = bytes(rng.integers(0, 256, 8, dtype=np.uint8))
    dataR = bytes(rng.integers(0, 256, 8, dtype=np.uint8))
    inter = b"".join(
        dataL[i : i + 4] + dataR[i : i + 4] for i in range(0, 8, 4)
    )
    blk = (
        struct.pack("<hBB", predL, idxL, 0)
        + struct.pack("<hBB", predR, idxR, 0)
        + inter
    )
    arr, meta = decode_wav(build_wav(2, 24, blk))
    assert meta["channels"] == 2 and meta["n_samples"] == 17
    assert arr[:, 0].tolist() == ref_block(dataL, predL, idxL)
    assert arr[:, 1].tolist() == ref_block(dataR, predR, idxR)

    # EXTENSIBLE-wrapped IMA_ADPCM dispatches onto the same path
    spb = 57
    ext_fmt = struct.pack(
        "<HHIIHHHHI", 0xFFFE, 1, 8000, 8000 * 32 // spb, 32, 4, 22, spb, 0
    ) + struct.pack("<I", 0x11) + bytes.fromhex("000010008000 00aa00389b71".replace(" ", ""))
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )
    payload = chunk(b"fmt ", ext_fmt) + chunk(b"data", blocks)
    ext_wav = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload
    arr, meta = decode_wav(ext_wav)
    assert meta["format"] == "wav/ima-adpcm4" and arr[:, 0].tolist() == want

    # rejections
    bad = bytearray(build_wav(1, 32, blocks))
    bad[bad.find(b"data") + 8 + 2] = 90  # step index > 88
    with pytest.raises(ValueError, match="step index out of range"):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="malformed IMA ADPCM block"):
        decode_wav(build_wav(1, 6, blocks[:6]))
    bad = bytearray(build_wav(1, 32, blocks))
    struct.pack_into("<H", bad, bad.find(b"fmt ") + 8 + 14, 16)
    with pytest.raises(ValueError, match="IMA ADPCM must be 4-bit"):
        decode_wav(bytes(bad))


def test_wav_ms_adpcm_decode():
    """r12 (VERDICT r11 task 2): MS-ADPCM WAVs (format 2) decode
    block-wise — 7-byte-per-channel headers (predictor index byte,
    then channel-interleaved int16 idelta/sample1/sample2, where
    sample2+sample1 ARE the first two output samples), 4-bit nibbles
    HIGH-first round-robin across channels, the fmt extension's
    coefficient table honored, fact-chunk trim. The vectorized
    decoder is cross-checked against an INDEPENDENT scalar
    implementation of the published pseudocode (per-sample Python,
    no numpy); rejections stay loud for out-of-range predictor
    indices, non-4-bit declarations, and malformed block layouts."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        _KSDATAFORMAT_TAIL,
        decode_wav,
    )

    STD_C1 = [256, 512, 0, 192, 240, 460, 392]
    STD_C2 = [0, -256, 0, 64, 0, -208, -232]
    ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]

    def ref_channel(nibbles, c1, c2, delta, s1, s2):
        # scalar reference: the Microsoft multimedia registration's
        # pseudocode, one sample at a time (floor-division shift)
        out = [s2, s1]
        for nib in nibbles:
            snib = nib - 16 if nib & 8 else nib
            pred = (s1 * c1 + s2 * c2) >> 8
            pred += snib * delta
            pred = max(-32768, min(32767, pred))
            s2, s1 = s1, pred
            delta = max((ADAPT[nib] * delta) >> 8, 16)
            out.append(pred)
        return out

    def build_wav(channels, block_align, blocks, fact=None, rate=8000,
                  coefs=None):
        c1 = STD_C1 if coefs is None else [p[0] for p in coefs]
        c2 = STD_C2 if coefs is None else [p[1] for p in coefs]
        spb = (block_align - 7 * channels) * 2 // channels + 2
        ext = struct.pack("<HH", spb, len(c1)) + b"".join(
            struct.pack("<hh", a, b) for a, b in zip(c1, c2)
        )
        fmt = struct.pack(
            "<HHIIHHH", 2, channels, rate, rate * block_align // spb,
            block_align, 4, len(ext),
        ) + ext
        def chunk(cid, body):
            return cid + struct.pack("<I", len(body)) + body + (
                b"\x00" if len(body) & 1 else b""
            )
        payload = chunk(b"fmt ", fmt)
        if fact is not None:
            payload += chunk(b"fact", struct.pack("<I", fact))
        payload += chunk(b"data", blocks)
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload

    rng = np.random.default_rng(29)

    def mono_block(pred_i, body_bytes):
        delta = int(rng.integers(16, 4000))
        s1 = int(rng.integers(-32768, 32768))
        s2 = int(rng.integers(-32768, 32768))
        blk = struct.pack("<Bhhh", pred_i, delta, s1, s2) + body_bytes
        nibs = [n for b in body_bytes for n in (b >> 4, b & 0xF)]
        return blk, (nibs, delta, s1, s2)

    # mono, 3 blocks of block_align=32 (25 data bytes -> 52 samples/blk)
    blocks, want = b"", []
    for _ in range(3):
        pred_i = int(rng.integers(0, 7))
        blk, (nibs, delta, s1, s2) = mono_block(
            pred_i, bytes(rng.integers(0, 256, 25, dtype=np.uint8))
        )
        blocks += blk
        want += ref_channel(nibs, STD_C1[pred_i], STD_C2[pred_i],
                            delta, s1, s2)
    arr, meta = decode_wav(build_wav(1, 32, blocks))
    assert meta == {
        "channels": 1, "sample_rate": 8000, "bits": 4,
        "n_samples": 156, "format": "wav/ms-adpcm4",
    }
    assert arr[:, 0].tolist() == want

    # the fact chunk trims the final block's padding
    arr, meta = decode_wav(build_wav(1, 32, blocks, fact=140))
    assert meta["n_samples"] == 140 and arr[:, 0].tolist() == want[:140]

    # stereo: nibbles alternate channels, HIGH nibble = left
    predL, predR = 1, 5
    deltaL, s1L, s2L = 100, 3000, -2000
    deltaR, s1R, s2R = 40, -500, 700
    body = bytes(rng.integers(0, 256, 10, dtype=np.uint8))
    blk = (
        struct.pack("<BB", predL, predR)
        + struct.pack("<hh", deltaL, deltaR)
        + struct.pack("<hh", s1L, s1R)
        + struct.pack("<hh", s2L, s2R)
        + body
    )
    all_nibs = [n for b in body for n in (b >> 4, b & 0xF)]
    arr, meta = decode_wav(build_wav(2, 24, blk))
    assert meta["channels"] == 2 and meta["n_samples"] == 12
    assert arr[:, 0].tolist() == ref_channel(
        all_nibs[0::2], STD_C1[predL], STD_C2[predL], deltaL, s1L, s2L
    )
    assert arr[:, 1].tolist() == ref_channel(
        all_nibs[1::2], STD_C1[predR], STD_C2[predR], deltaR, s1R, s2R
    )

    # a custom 8th coefficient pair in the fmt table is honored
    coefs = list(zip(STD_C1, STD_C2)) + [(300, -100)]
    blk, (nibs, delta, s1, s2) = mono_block(
        7, bytes(rng.integers(0, 256, 25, dtype=np.uint8))
    )
    arr, _ = decode_wav(build_wav(1, 32, blk, coefs=coefs))
    assert arr[:, 0].tolist() == ref_channel(nibs, 300, -100, delta, s1, s2)

    # EXTENSIBLE-wrapped MS-ADPCM dispatches with the STANDARD table
    spb = 52
    ext_fmt = struct.pack(
        "<HHIIHHHHI", 0xFFFE, 1, 8000, 8000 * 32 // spb, 32, 4, 22, spb, 0
    ) + struct.pack("<I", 2) + _KSDATAFORMAT_TAIL
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )
    payload = chunk(b"fmt ", ext_fmt) + chunk(b"data", blocks)
    ext_wav = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload
    arr, meta = decode_wav(ext_wav)
    assert meta["format"] == "wav/ms-adpcm4" and arr[:, 0].tolist() == want

    # hand-computed literal vector (worked by hand from the published
    # pseudocode — a third source, independent of both the vectorized
    # decoder and ref_channel): mono, predictor 0 (c1=256, c2=0, so
    # pred == s1 exactly), delta=16, s1=100, s2=50, nibbles 1,9,0,15
    # (bytes 0x19 0x0F, high-first):
    #   nib 1  (+1): pred 100+16  = 116; delta (230·16)>>8=14 -> 16
    #   nib 9  (-7): pred 116-112 =   4; delta (614·16)>>8=38
    #   nib 0  ( 0): pred 4       =   4; delta (230·38)>>8=34
    #   nib 15 (-1): pred 4-34    = -30
    lit_blk = struct.pack("<Bhhh", 0, 16, 100, 50) + bytes([0x19, 0x0F])
    arr, meta = decode_wav(build_wav(1, 9, lit_blk))
    assert arr[:, 0].tolist() == [50, 100, 116, 4, 4, -30]
    assert meta["n_samples"] == 6

    # a declared-but-truncated coefficient table (wNumCoef=9, only 7
    # pairs present) falls back to the STANDARD seven pairs — and a
    # predictor index pointing into the phantom tail raises loudly
    # against that table instead of reading garbage
    short_tbl = bytearray(build_wav(1, 32, blocks))
    struct.pack_into("<H", short_tbl, short_tbl.find(b"fmt ") + 8 + 20, 9)
    arr, meta = decode_wav(bytes(short_tbl))
    assert meta["format"] == "wav/ms-adpcm4" and arr[:, 0].tolist() == want
    bad_tail = bytearray(short_tbl)
    bad_tail[bad_tail.find(b"data") + 8] = 8  # valid if 9-pair table were real
    with pytest.raises(ValueError, match="coefficient table has 7 pairs"):
        decode_wav(bytes(bad_tail))

    # rejections
    bad = bytearray(build_wav(1, 32, blocks))
    bad[bad.find(b"data") + 8] = 7  # predictor index == table size
    with pytest.raises(ValueError, match="predictor index out of range"):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="malformed MS ADPCM block"):
        decode_wav(build_wav(1, 7, blocks[:7]))
    bad = bytearray(build_wav(1, 32, blocks))
    struct.pack_into("<H", bad, bad.find(b"fmt ") + 8 + 14, 16)
    with pytest.raises(ValueError, match="MS ADPCM must be 4-bit"):
        decode_wav(bytes(bad))


def test_png_16bit_decodes_high_byte():
    """r11: 16-bit PNGs (gray/truecolor/alpha variants) decode with
    the standard high-byte reduction onto the 8-bit output contract.
    Hand-built fixtures: big-endian 16-bit samples whose high and low
    bytes differ, so a wrong-byte pick or an off-by-one in the
    2-byte-bpp filter distance breaks the expected array; the Sub
    filter case pins that bpp = 6 for 16-bit RGB (a 3-byte distance
    would corrupt pixel 2)."""
    import numpy as np

    from mspr2_back_spark.operators.multimodal import decode_png

    # 16-bit truecolor 2x1: pixels (0x0102,0x0304,0x0506), (0xA1B2,..)
    raw = bytes(
        [0]
        + [0x01, 0x02, 0x03, 0x04, 0x05, 0x06]
        + [0xA1, 0xB2, 0xC3, 0xD4, 0xE5, 0xF6]
    )
    px, meta = decode_png(_build_png(2, 1, 16, 2, raw))
    assert meta["format"] == "png/rgb16"
    assert px.tolist() == [[[0x01, 0x03, 0x05], [0xA1, 0xC3, 0xE5]]]

    # same pixels through the Sub filter (bpp must be 6)
    line = np.frombuffer(raw[1:], dtype=np.uint8).copy()
    filt = line.copy()
    filt[6:] = line[6:] - line[:-6]
    px2, _ = decode_png(_build_png(2, 1, 16, 2, bytes([1]) + filt.tobytes()))
    assert np.array_equal(px2, px)

    # 16-bit grayscale + 16-bit gray+alpha
    px, meta = decode_png(
        _build_png(2, 1, 16, 0, bytes([0, 0x7F, 0xFF, 0x80, 0x01]))
    )
    assert meta["format"] == "png/gray16"
    assert px.tolist() == [[[0x7F] * 3, [0x80] * 3]]
    px, meta = decode_png(
        _build_png(1, 1, 16, 4, bytes([0, 0x42, 0x99, 0xFF, 0xFF]))
    )
    assert meta["format"] == "png/graya16" and meta["has_alpha"] is True
    assert px.tolist() == [[[0x42] * 3]]


def test_png_adversarial_dims_rejected_not_memoryerror():
    """r11 review finding (the PNG twin of the JPEG DC-size bug): a
    crafted interlaced IHDR declaring huge dimensions over a tiny
    IDAT must raise the truncated-stream ValueError BEFORE the
    full-image allocation — a MemoryError escapes the dispatch
    fallback and kills the whole Arrow batch."""
    import zlib

    import pandas as pd
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        decode_image_batch,
        decode_png,
    )

    import struct

    from mspr2_back_spark.operators.multimodal import _PNG_MAGIC

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    evil = (
        _PNG_MAGIC
        + chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", 2_000_000, 2_000_000, 8, 6, 0, 0, 1),
        )
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated PNG scanline data"):
        decode_png(evil)
    out = decode_image_batch(pd.Series([evil]))
    assert list(out["format"]) == ["fake/deterministic"]


def test_audio_features_closed_form_signals():
    """r11: audio_feature_row on signals with known descriptors — a
    full-period sine (RMS = A/sqrt(2), ZCR = 2f/sr, spectral centroid
    = f exactly: the rFFT of an integer-period sine is a single
    line), DC silence (zero ZCR/centroid), and format coverage
    across PCM16/float32/G.711 µ-law (the µ-law round-trip keeps the
    sine's centroid on the same bin)."""
    import struct

    import numpy as np
    import pytest

    from mspr2_back_spark.operators.multimodal import (
        audio_feature_row,
        encode_wav,
    )

    sr, f, n = 8000, 400, 8000  # integer periods: 400 cycles in 1 s
    t = np.arange(n) / sr
    sine = (0.5 * np.sin(2 * np.pi * f * t)).astype(np.float32)
    row = audio_feature_row(encode_wav(sine.reshape(-1, 1), sr))
    assert row["format"] == "wav/float32" and row["duration_ms"] == 1000.0
    assert row["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-6)
    assert row["peak"] == pytest.approx(0.5, rel=1e-3)
    assert row["zero_cross_rate"] == pytest.approx(2 * f / sr, rel=2e-3)
    assert row["spectral_centroid_hz"] == pytest.approx(f, rel=1e-6)

    # PCM16 of the same sine: descriptors agree within quantization
    pcm = np.round(sine * 32767).astype(np.int16).reshape(-1, 1)
    row16 = audio_feature_row(encode_wav(pcm, sr))
    assert row16["format"] == "wav/pcm16"
    assert row16["spectral_centroid_hz"] == pytest.approx(f, rel=1e-3)
    assert row16["rms"] == pytest.approx(row["rms"], rel=1e-3)

    # µ-law: companding is lossy but the dominant line survives
    codes = np.arange(n, dtype=np.uint8).reshape(-1, 1)  # container
    ul = bytearray(encode_wav(codes, sr))
    struct.pack_into("<H", ul, bytes(ul).find(b"fmt ") + 8, 7)
    # overwrite the data chunk with a µ-law-ish encode of the sine:
    # quantize to the nearest µ-law code via the decode table
    from mspr2_back_spark.operators.multimodal import _ULAW_TABLE

    target = np.round(sine * 8000).astype(np.int64)
    table = _ULAW_TABLE.astype(np.int64)
    best = np.abs(target[:, None] - table[None, :]).argmin(axis=1)
    off = bytes(ul).find(b"data") + 8
    ul[off : off + n] = best.astype(np.uint8).tobytes()
    rowu = audio_feature_row(bytes(ul))
    assert rowu["format"] == "wav/ulaw8"
    # companding noise is broadband, so the magnitude-weighted
    # centroid drifts high — the robust claims are the dominant
    # spectral line and the crossing rate
    assert rowu["spectral_centroid_hz"] == pytest.approx(f, rel=0.2)
    assert rowu["zero_cross_rate"] == pytest.approx(2 * f / sr, rel=0.02)
    from mspr2_back_spark.operators.multimodal import decode_wav

    mono, _ = decode_wav(bytes(ul))
    mag = np.abs(np.fft.rfft(mono[:, 0].astype(np.float64)))
    assert int(mag[1:].argmax()) + 1 == f  # 1-per-Hz bins at n == sr

    # DC silence: no crossings, empty spectrum beyond the DC bin
    flat = np.full((100, 2), 1000, dtype=np.int16)
    rowf = audio_feature_row(encode_wav(flat, sr))
    assert rowf["zero_cross_rate"] == 0.0
    assert rowf["spectral_centroid_hz"] == pytest.approx(0.0, abs=1e-9)
    assert rowf["channels"] == 2

    # non-WAV → None (the operator's fake-fallback trigger)
    assert audio_feature_row(b"not audio at all") is None
    assert audio_feature_row(b"RIFF\x00\x00\x00\x00WAVEjunk") is None


def test_audio_features_spark_operator_total(spark):
    """r11: the audio_features operator is total over a mixed binary
    column — real WAVs get real descriptors, text payloads get the
    deterministic fake row — and the Arrow-batched plan carries no
    shuffle (scan-parallel per-doc work, like the image seam)."""
    import numpy as np

    from mspr2_back_spark.operators.multimodal import (
        audio_features,
        encode_wav,
    )

    sr = 4000
    t = np.arange(2000) / sr
    wav1 = encode_wav(
        (0.25 * np.sin(2 * np.pi * 100 * t)).astype(np.float32).reshape(-1, 1),
        sr,
    )
    wav2 = encode_wav(
        np.round(3000 * np.sin(2 * np.pi * 500 * t)).astype(np.int16).reshape(-1, 1),
        sr,
    )
    df = spark.createDataFrame(
        [(1, bytearray(wav1)), (2, bytearray(wav2)), (3, b"just text")],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in audio_features(df).collect()}
    assert out[1].format == "wav/float32"
    assert abs(out[1].spectral_centroid_hz - 100) < 1
    assert out[2].format == "wav/pcm16"
    assert abs(out[2].spectral_centroid_hz - 500) < 2
    assert out[3].format == "fake/deterministic"
    assert out[3].rms == 0.0 and out[3].n_samples == 0
    plan = audio_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# r14: planted ground truth for the EMBEDDING-space chain (VERDICT r13
# task 3) — the build_dupcorp pattern extended to vectors. Construction
# laws: FIXTURES.md "Planted-neighborhood embeddings corpus". Every
# expected answer below is recomputed in plain python from the EMITTED
# vectors (independent of the Spark operators), then cross-checked
# against the closed-form construction law where one exists.
# ---------------------------------------------------------------------------


def _emb_fold(a, b):
    """Index-order left fold of sum(a[i]*b[i]) — bit-identical to the
    engine's aggregate(zip_with(...)) dot/norm expressions."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _emb_cos6(vecs, i, j):
    import math

    c = _emb_fold(vecs[i], vecs[j]) / (
        math.sqrt(_emb_fold(vecs[i], vecs[i]))
        * math.sqrt(_emb_fold(vecs[j], vecs[j]))
    )
    # rounding-stability margin: no cosine may sit at a 1e-6 HALF_UP
    # boundary (python round is half-even — the margin makes both
    # roundings, and the BLAS-ordered float64 of the block verifier,
    # agree bit-for-bit on the rounded value)
    frac = abs(c) * 1e6 % 1.0
    assert abs(frac - 0.5) > 1e-3, (i, j, c)
    return round(c, 6)


def _emb_plane_sign_bit(vec, plane):
    """0/1 sign bit of the md5-derived hyperplane projection —
    the same public law operators/similarity.py::_plane_signs
    states, recomputed independently with an index-order fold."""
    import hashlib

    acc = 0.0
    for i, x in enumerate(vec):
        s = (
            1.0
            if hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[0]
            in "89abcdef"
            else -1.0
        )
        acc += float(x) * s
    return 1 if acc > 0 else 0


@pytest.fixture(scope="module")
def emb_corpus(spark, tmp_path_factory):
    from mspr2_back_spark.tools.build_corpora import build_embcorp

    out = str(tmp_path_factory.mktemp("embcorp"))
    build_embcorp(spark, out)
    rows = spark.read.parquet(f"{out}/embeddings.parquet").collect()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows
    }
    labels = {r["vec_id"]: r["label"] for r in rows}
    return out, vecs, labels


def _emb_exact_expected(vecs):
    """All-pairs expected set at the registered 0.45 threshold, with
    the per-pair threshold margin asserted."""
    ids = sorted(vecs)
    expected = {}
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            c = _emb_cos6(vecs, a, b)
            assert abs(c - 0.45) > 1e-4, (a, b, c)
            if c >= 0.45:
                expected[(a, b)] = c
    return expected


def test_embedding_exact_pairs_recover_planted_neighborhoods(
    spark, emb_corpus
):
    """The exact all-pairs verifier (dedup_embedding_cosine's plan) on
    the planted corpus: the emitted pair set must be EXACTLY the
    within-family pairs whose closed-form cosine
    (1 + t1*t2)/sqrt((1+t1^2)(1+t2^2)), t = tau_f*m, clears the
    0.45 threshold — cross-family/unique cosines are exactly zero by
    Hadamard orthogonality, so nothing else can ever qualify.
    Construction laws: FIXTURES.md "Planted-neighborhood embeddings
    corpus"."""
    import math

    from mspr2_back_spark.plans.pipeline_queries import (
        dedup_embedding_cosine,
    )
    from mspr2_back_spark.tools.build_corpora import _emb_tau

    out, vecs, labels = emb_corpus
    expected = _emb_exact_expected(vecs)

    # closed-form cross-check from the construction LAW (not the
    # emitted floats): within-family pairs above threshold
    law = set()
    for f in range(24):
        tau = _emb_tau(f)
        for m1 in range(4):
            for m2 in range(m1 + 1, 4):
                t1, t2 = tau * m1, tau * m2
                c = (1 + t1 * t2) / math.sqrt(
                    (1 + t1 * t1) * (1 + t2 * t2)
                )
                if c >= 0.45:
                    law.add((100 * f + m1, 100 * f + m2))
    assert set(expected) == law
    # the threshold must do real work: some family pairs fall below
    assert 0 < len(law) < 24 * 6
    # family disjointness: every expected pair is within one family
    assert all(labels[a] == labels[b] != -1 for a, b in expected)

    got = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
        for r in dedup_embedding_cosine(spark, out).collect()
    }
    assert got == expected


def test_embedding_lsh_recovers_planted_neighborhoods(spark, emb_corpus):
    """dedup_embedding_lsh end-to-end on the planted corpus: expected
    output = (exact planted pair set) ∩ (pairs whose md5-derived sign
    vectors agree in at least one of the 3 bands of 6 planes) — both
    sides recomputed in plain python. The recall accounting is
    closed-form: every missed pair disagrees in EVERY band, and
    nothing outside the planted families can be emitted (candidates
    are verified at 0.45 against exactly-orthogonal neighborhoods)."""
    from mspr2_back_spark.plans.pipeline_queries import (
        EMB_LSH_BANDS,
        EMB_LSH_PLANES,
        dedup_embedding_lsh,
    )

    out, vecs, labels = emb_corpus
    exact = _emb_exact_expected(vecs)

    rows = EMB_LSH_PLANES // EMB_LSH_BANDS
    bits = {
        v: [
            _emb_plane_sign_bit(vecs[v], p) for p in range(EMB_LSH_PLANES)
        ]
        for v in vecs
    }

    def coband(a, b):
        return any(
            bits[a][band * rows : (band + 1) * rows]
            == bits[b][band * rows : (band + 1) * rows]
            for band in range(EMB_LSH_BANDS)
        )

    expected = {p: c for p, c in exact.items() if coband(*p)}
    missed = set(exact) - set(expected)
    # the accounting that names the test: misses are exactly the
    # planted pairs whose sign vectors differ in all bands
    assert all(not coband(a, b) for a, b in missed)
    assert len(expected) > 10  # the corpus must plant enough signal

    got = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
        for r in dedup_embedding_lsh(spark, out).collect()
    }
    assert got == expected


def test_embedding_cells_recover_planted_neighborhoods(spark, emb_corpus):
    """dedup_embedding_cells (Hamming-1 multi-probe hyperplane cells +
    BLAS per-cell verifier) end-to-end on the planted corpus:
    expected = (exact planted pair set) ∩ (sign-vector Hamming
    distance ≤ 2 over the 4 cell planes) — the probe sets {home} ∪
    Hamming-1(home) of two vectors intersect iff their sign vectors
    differ in ≤ 2 bits. Misses are exactly the planted pairs at
    Hamming ≥ 3; emitted values ride the same rounding-margin
    assertion as the exact verifier."""
    from mspr2_back_spark.plans.pipeline_queries import (
        EMB_CELL_PLANES,
        dedup_embedding_cells,
    )

    out, vecs, labels = emb_corpus
    exact = _emb_exact_expected(vecs)

    bits = {
        v: [
            _emb_plane_sign_bit(vecs[v], p)
            for p in range(EMB_CELL_PLANES)
        ]
        for v in vecs
    }

    def hamming(a, b):
        return sum(x != y for x, y in zip(bits[a], bits[b]))

    expected = {p: c for p, c in exact.items() if hamming(*p) <= 2}
    assert all(hamming(a, b) >= 3 for a, b in set(exact) - set(expected))
    assert len(expected) > 10

    got = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
        for r in dedup_embedding_cells(spark, out).collect()
    }
    assert got == expected

    # and the SINGLE-probe law (the plain 100 TB composition the
    # docstring documents): candidates are exactly the same-cell
    # pairs, i.e. sign-Hamming 0
    from mspr2_back_spark.operators.similarity import cell_cosine_pairs
    from mspr2_back_spark.sources.readers import load_table

    single = {p: c for p, c in exact.items() if hamming(*p) == 0}
    got1 = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
        for r in cell_cosine_pairs(
            load_table(spark, out, "embeddings"),
            0.45,
            n_planes=EMB_CELL_PLANES,
            block_size=256,
            multi_probe=False,
        ).collect()
    }
    assert got1 == single
    assert set(single) < set(expected)  # multi-probe strictly widens


def test_ann_topk_on_planted_neighborhoods(spark, emb_corpus):
    """ann_topk (brute-force cosine top-10 for vec_id 0) on the
    planted corpus: the answer is known closed-form — vec 0 is
    family 0's base member, so the top 3 are its siblings at the law
    cosines 1/sqrt(1 + (0.15*m)^2), and every other vector is
    EXACTLY orthogonal (float residue ~1e-16 rounds to 0), so the
    remaining 7 slots are the lowest-id zero-cosine vectors by the
    (cosine desc, vec_id asc) tiebreak."""
    from mspr2_back_spark.plans.pipeline_queries import ann_topk

    out, vecs, labels = emb_corpus

    scored = sorted(
        (
            (-_emb_cos6(vecs, 0, v), v)
            for v in vecs
            if v != 0
        ),
    )[:10]
    expected = [(v, labels[v], -negc) for negc, v in scored]
    # closed-form spot-check of the planted structure
    assert [v for v, _, _ in expected] == [
        1, 2, 3, 100, 101, 102, 103, 200, 201, 202
    ]
    assert all(c == 0.0 for _, _, c in expected[3:])
    assert expected[0][2] == round(1 / (1 + 0.15**2) ** 0.5, 6)

    got = [
        (r["vec_id"], r["label"], r["cosine_sim"])
        for r in ann_topk(spark, out).collect()
    ]
    assert got == expected


def test_bmp_foreign_decoder_interop(tmp_path):
    """r14 (VERDICT r13 stretch 6): the last image emission without a
    foreign-decoder pin. ImageIO ships a BMP reader, and BMP is
    lossless, so the bar is EXACT pixel identity of ImageIO's raster
    with the source array for every ``encode_bmp`` stream. Widths
    8..11 cover all four 4-byte row-padding classes (stride pad
    0/1/2/3 bytes — the only layout freedom the 24-bit reference
    format has); odd heights exercise the bottom-up row flip on an
    asymmetric image. Skip-guarded on the JDK toolchain like the
    PNG/JPEG/WAV interop pins."""
    import shutil
    import subprocess

    import numpy as np

    from mspr2_back_spark.operators.multimodal import encode_bmp

    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("JDK toolchain not available")

    src = tmp_path / "DecodeRaw.java"
    src.write_text(
        "import javax.imageio.ImageIO;\n"
        "import java.awt.image.BufferedImage;\n"
        "import java.awt.image.Raster;\n"
        "import java.io.*;\n"
        "public class DecodeRaw {\n"
        "  public static void main(String[] a) throws Exception {\n"
        "    BufferedImage img = ImageIO.read(new File(a[0]));\n"
        "    if (img == null) { System.err.println(\"unreadable\"); System.exit(2); }\n"
        "    Raster r = img.getRaster();\n"
        "    int w = img.getWidth(), h = img.getHeight(), b = r.getNumBands();\n"
        "    DataOutputStream o = new DataOutputStream(\n"
        "        new BufferedOutputStream(new FileOutputStream(a[1])));\n"
        "    o.writeBytes((b == 1 ? \"P5\" : \"P6\") + \"\\n\" + w + \" \" + h + \"\\n255\\n\");\n"
        "    for (int y = 0; y < h; y++)\n"
        "      for (int x = 0; x < w; x++)\n"
        "        for (int c = 0; c < b; c++)\n"
        "          o.writeByte(r.getSample(x, y, c));\n"
        "    o.close();\n"
        "  }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", str(src)], check=True, capture_output=True, cwd=tmp_path
    )

    rng = np.random.default_rng(14)
    for w in (8, 9, 10, 11):  # stride pads 0, 3, 2, 1
        ref = rng.integers(0, 256, (7, w, 3), dtype=np.uint8)
        bmp = tmp_path / "in.bmp"
        pnm = tmp_path / "out.pnm"
        bmp.write_bytes(encode_bmp(ref))
        subprocess.run(
            ["java", "-cp", str(tmp_path), "DecodeRaw", str(bmp), str(pnm)],
            check=True,
            capture_output=True,
        )
        data = pnm.read_bytes()
        magic, dims, _, raw = data.split(b"\n", 3)
        assert magic == b"P6", w
        gw, gh = map(int, dims.split())
        foreign = np.frombuffer(raw, dtype=np.uint8).reshape(gh, gw, 3)
        assert foreign.shape == ref.shape, w
        assert np.array_equal(foreign, ref), (
            w, int(np.abs(foreign.astype(int) - ref.astype(int)).max())
        )


def test_ann_lsh_topk_on_planted_neighborhoods(spark, emb_corpus):
    """ann_lsh_topk (8-plane single-bucket ANN, query vec 0, k=5) on
    the planted corpus: the candidate set is EXACTLY the vectors
    sharing vec 0's 8-bit md5-derived sign bucket — recomputed
    independently in python — and the result is the top-5 of that
    set by (rounded cosine desc, id asc). The planted structure
    makes the approximation visible closed-form: some family-0
    siblings land outside the bucket (genuine recall misses of the
    single-probe design), and the remainder of the top-5 fills from
    exactly-orthogonal in-bucket vectors at cosine 0."""
    from mspr2_back_spark.plans.pipeline_queries import ann_lsh_topk

    out, vecs, labels = emb_corpus

    bucket = {
        v: sum(
            _emb_plane_sign_bit(vecs[v], p) << p for p in range(8)
        )
        for v in vecs
    }
    cands = [v for v in vecs if v != 0 and bucket[v] == bucket[0]]
    assert len(cands) >= 5  # enough in-bucket signal to fill k
    # the approximation must be visible: at least one family-0
    # sibling is OUT of the bucket (single-probe recall miss)
    assert any(bucket[v] != bucket[0] for v in (1, 2, 3))
    scored = sorted((-_emb_cos6(vecs, 0, v), v) for v in cands)[:5]
    expected = [(v, bucket[0], -negc) for negc, v in scored]

    got = [
        (r["vec_id"], r["bucket"], r["cosine_sim"])
        for r in ann_lsh_topk(spark, out).collect()
    ]
    assert got == expected


def test_embedding_cells_histogram_law_under_replication(
    spark, emb_corpus, tmp_path
):
    """The scaled planted-truth law for the cells chain: replicating
    the base corpus verbatim with disjoint id blocks preserves every
    expected answer closed-form — a cross-block copy pair of the
    same base vector is exactly colinear (cosine 1.0, sign vectors
    identical, so always a candidate at any probe depth), and every
    other cross-block pair inherits its base pair's cosine AND sign
    structure. The full value HISTOGRAM of dedup_embedding_cells'
    output at B blocks is therefore pure arithmetic over the
    112-vector base: B^2 pairs at each qualifying base-pair cosine
    plus C(B,2)*112 pairs at 1.0. Pinned here end-to-end at B=3
    through the registered query; the same law scales the SCALING.md
    measurement corpus."""
    from collections import Counter

    from mspr2_back_spark.plans.pipeline_queries import (
        EMB_CELL_PLANES,
        dedup_embedding_cells,
    )
    from mspr2_back_spark.tools.build_corpora import build_embcorp

    out, vecs, labels = emb_corpus
    blocks = 3
    scaled_dir = str(tmp_path / "embx3")
    build_embcorp(spark, scaled_dir, blocks=blocks)

    exact = _emb_exact_expected(vecs)
    bits = {
        v: [
            _emb_plane_sign_bit(vecs[v], p)
            for p in range(EMB_CELL_PLANES)
        ]
        for v in vecs
    }
    base = {
        p: c
        for p, c in exact.items()
        if sum(x != y for x, y in zip(bits[p[0]], bits[p[1]])) <= 2
    }
    expected = Counter()
    for c in base.values():
        expected[c] += blocks * blocks
    expected[1.0] += blocks * (blocks - 1) // 2 * len(vecs)
    assert sum(expected.values()) == blocks**2 * len(base) + (
        blocks * (blocks - 1) // 2
    ) * len(vecs)

    got = Counter(
        {
            r["cosine_sim"]: r["n"]
            for r in dedup_embedding_cells(spark, scaled_dir)
            .groupBy("cosine_sim")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    )
    assert got == expected


def test_similarity_dirty_row_exclusion_contract(spark):
    """r14 robustness: dirty embedding rows — NULL vectors, wrong
    dimensions, empty arrays — must be SILENTLY EXCLUDED from pair
    outputs, not crash the job (at 100 TB a single corrupt row must
    not kill task 17,000 of a 3-hour run). The fold-based paths
    already had this contract for free (zip_with pads a mismatched
    pair with NULL → NULL cosine → threshold filter drops it); the
    BLAS block scorer previously raised on the ragged numpy array —
    now it drops dirty entries per packed block with a modal-length
    rule. Pinned: every pair path returns EXACTLY the clean
    sub-corpus's pairs on the dirtied corpus; brute-force top-k's
    NULL-cosine tail (dirty rows can fill trailing slots only when
    scoreable candidates < k, since NULLS LAST in the desc order) is
    a documented contract, not a defect."""
    from mspr2_back_spark.operators.similarity import (
        brute_force_topk,
        cell_cosine_pairs,
        cosine_pairs,
        lsh_cosine_pairs,
    )

    clean_rows = [
        (0, [1.0] * 64, 0),
        (1, [1.0] * 64, 0),
        (5, [0.5] * 64, 2),
        (300, [float(j % 3) for j in range(64)], 3),
    ]
    # TWO instances of every dirty class (r17 scatter-probe find):
    # one representative per class can NEVER expose the crash class
    # where dirty rows meet EACH OTHER — all non-conforming rows fold
    # to band-bucket 0, so a lone one is dropped by the size(ds) > 1
    # bucket filter, but a second empty array makes an empty x empty
    # candidate pair whose dot is a NON-NULL 0 over zero norms: ANSI
    # DIVIDE_BY_ZERO, aborting the whole job. lsh_cosine_pairs
    # crashed exactly there on the scattered-dirty sf0.01 corpus
    # until it gained the scan-side conformance filter.
    dirty_rows = [
        (2, None, 1),
        (3, [1.0] * 32, 1),
        (4, [], 1),
        (6, None, 1),
        (7, [1.0] * 32, 1),
        (8, [], 1),
    ]
    schema = "vec_id bigint, embedding array<float>, label int"
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(clean_rows + dirty_rows, schema)

    paths = [
        ("exact", lambda df: cosine_pairs(df, 0.45, block_size=4)),
        (
            "lsh",
            lambda df: lsh_cosine_pairs(df, 0.45, n_planes=6, bands=3),
        ),
        (
            "cells",
            lambda df: cell_cosine_pairs(
                df, 0.45, n_planes=4, block_size=4, multi_probe=True
            ),
        ),
        (
            "cells-single",
            lambda df: cell_cosine_pairs(
                df, 0.45, n_planes=4, block_size=4, multi_probe=False
            ),
        ),
    ]
    for tag, fn in paths:
        want = {
            (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
            for r in fn(clean).collect()
        }
        got = {
            (r["vec_id_1"], r["vec_id_2"]): r["cosine_sim"]
            for r in fn(dirty).collect()
        }
        assert got == want, tag
        dirty_ids = {2, 3, 4, 6, 7, 8}
        assert not any(a in dirty_ids or b in dirty_ids for a, b in got), tag
    # the exact path must still find the planted clean pairs at all
    assert len({p for p in fn(clean).collect()}) >= 0  # smoke
    exact_pairs = {
        (r["vec_id_1"], r["vec_id_2"])
        for r in cosine_pairs(dirty, 0.45, block_size=4).collect()
    }
    assert (0, 1) in exact_pairs and (0, 5) in exact_pairs

    # brute-force: dirty rows may only appear BELOW every scoreable
    # candidate (NULLS LAST), with NULL cosine — here k exceeds the
    # scoreable candidates so the tail surfaces them
    top = brute_force_topk(dirty, 0, k=6).collect()
    sims = [r["cosine_sim"] for r in top]
    ids = [r["vec_id"] for r in top]
    n_scored = sum(s is not None for s in sims)
    assert set(ids[:n_scored]) == {1, 5, 300}
    assert all(s is None for s in sims[n_scored:])
    assert set(ids[n_scored:]) == {2, 3, 4}


def test_ann_dirty_row_exclusion_contract(spark):
    """r15 (VERDICT r14 task 4): the dirty-corpus behavior of the
    REMAINING embedding entry points — deterministic IVF, batch
    top-k, hyperplane-LSH top-k — was probed and RECORDED at r14
    close (commit e770f1b) but not pinned; a recorded probe can
    silently rot, a test can't. Pinned contracts, measured before
    writing (not aspirational):

    - every ranked output excludes dirty rows (NULL vector, wrong
      dimension, empty array) whenever ≥ k scoreable candidates
      exist, and `hyperplane_lsh_topk` / `batch_topk` outputs are
      EXACTLY the clean sub-corpus's outputs on the dirtied corpus;
    - `ivf_topk_deterministic` pins the weaker (vec_id, cosine_sim)
      invariance deliberately: wrong-dim rows contribute their
      leading components to the decimal centroid sums, so CELL
      labels may legitimately differ between the clean and dirtied
      index (observed: one of five rows relabels at n_cells=4) —
      the ranked ids and sims must still contain no dirty id and no
      NULL sim;
    - `ivf_assignments` is the audit surface: dirty rows appear
      VISIBLY with NULL dist (never silently vanish from the
      index), per the r14 COVERAGE.md record;
    - `batch_topk` shares brute-force top-k's documented NULL-tail:
      when a query has < k scoreable candidates, dirty rows may
      fill the trailing ranks only, with NULL cosine, after every
      scoreable candidate.
    """
    import math

    from mspr2_back_spark.operators.similarity import (
        batch_topk,
        hyperplane_lsh_topk,
        ivf_assignments,
        ivf_topk_deterministic,
    )

    def vec(i):
        return [math.sin(0.1 * i + 0.05 * j) + 0.01 * j for j in range(64)]

    clean_rows = [(i, vec(i), i % 3) for i in range(40)]
    dirty_rows = [(100, None, 1), (101, [1.0] * 32, 1), (102, [], 1)]
    dirty_ids = {100, 101, 102}
    schema = "vec_id bigint, embedding array<float>, label int"
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(clean_rows + dirty_rows, schema)

    # exact invariance: LSH top-k and batch top-k
    for tag, fn in [
        (
            "lsh",
            lambda df: hyperplane_lsh_topk(df, 7, k=5, n_planes=3),
        ),
        ("batch", lambda df: batch_topk(df, n_queries=3, k=5)),
    ]:
        want = [tuple(r) for r in fn(clean).collect()]
        got = [tuple(r) for r in fn(dirty).collect()]
        assert got == want, tag
        flat = {v for row in got for v in row}
        assert not (flat & dirty_ids), tag

    # IVF: ranked (vec_id, cosine_sim) excludes dirty rows; cell
    # labels are allowed to differ (centroid perturbation, above)
    ivf = ivf_topk_deterministic(dirty, 7, k=5, n_cells=4, n_probe=2)
    rows = ivf.collect()
    assert len(rows) == 5
    assert all(r["vec_id"] not in dirty_ids for r in rows)
    assert all(r["cosine_sim"] is not None for r in rows)
    ivf_clean = ivf_topk_deterministic(
        clean, 7, k=5, n_cells=4, n_probe=2
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in rows] == [
        (r["vec_id"], r["cosine_sim"]) for r in ivf_clean
    ]

    # audit surface: dirty rows visible with NULL dist
    audit = {
        r["vec_id"]: r["dist"]
        for r in ivf_assignments(dirty, n_cells=4).collect()
    }
    assert len(audit) == len(clean_rows) + len(dirty_rows)
    assert all(audit[i] is None for i in dirty_ids)
    assert all(
        audit[i] is not None for i in audit if i not in dirty_ids
    )

    # batch NULL-tail: < k scoreable candidates → dirty rows trail
    tiny = spark.createDataFrame(
        [
            (0, [1.0] * 64, 0),
            (1, [0.5] * 64, 0),
            (10, [1.0] * 64, 0),
            (11, [-1.0] * 64, 0),
        ]
        + dirty_rows,
        schema,
    )
    tail = batch_topk(tiny, n_queries=2, k=5).collect()
    assert len(tail) == 10
    for q in (0, 1):
        part = [r for r in tail if r["q_id"] == q]
        sims = [r["cosine_sim"] for r in part]
        ids = [r["vec_id"] for r in part]
        n_scored = sum(s is not None for s in sims)
        assert ids[:n_scored] == [10, 11]
        assert sims[:n_scored] == [1.0, -1.0]
        assert set(ids[n_scored:]) == dirty_ids
        assert all(s is None for s in sims[n_scored:])


def test_ivf_planted_recall_contract(spark, emb_corpus):
    """r15: pin the deterministic numbers of the SCALING.md IVF
    recall-vs-planted-truth record (VERDICT r14 task 3) so the
    record can't silently rot — same maxim as the dirty-corpus pin.
    The full 96-query sweep lives in `tools/ivf_planted_check.py`
    (231/252 qualifying directed edges recovered at the registered
    n_cells=8 / n_probe=3 / k=10 shape); this test pins the cheap
    deterministic anchors:

    - same-cell candidate recall of the 126 qualifying family pairs
      at n_cells=8 is EXACTLY 87 (the decimal-sum index build is
      order-invariant, so this is a constant of the corpus);
    - the probe-bounded ASYMMETRY is real: query 400 (family 4,
      tau=0.75) recovers NO family member — its 3-probe set misses
      every family cell — while query 401 recovers all three
      siblings 400/402/403 (the record's (400,401)/(401,400)
      asymmetric miss pair);
    - a low-tau family is fully recovered: query 0 (family 0,
      tau=0.15, all cosines near 1) finds members 1, 2, 3.
    """
    from mspr2_back_spark.operators.similarity import (
        ivf_assignments,
        ivf_topk_deterministic,
    )

    out, vecs, labels = emb_corpus
    corpus = spark.read.parquet(f"{out}/embeddings.parquet")

    qual = []
    for f in range(24):
        ids = [100 * f + m for m in range(4)]
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if _emb_cos6(vecs, a, b) >= 0.45:
                    qual.append((a, b))
    assert len(qual) == 126

    cells = {
        r["vec_id"]: r["cell"]
        for r in ivf_assignments(corpus, n_cells=8).collect()
    }
    same_cell = sum(1 for a, b in qual if cells[a] == cells[b])
    assert same_cell == 87

    def family_hits(q):
        fam = labels[q]
        return {
            r["vec_id"]
            for r in ivf_topk_deterministic(
                corpus, q, k=10, n_cells=8, n_probe=3
            ).collect()
            if labels.get(r["vec_id"]) == fam
        }

    assert family_hits(400) == set()
    assert family_hits(401) == {400, 402, 403}
    assert family_hits(0) == {1, 2, 3}


def test_quantize_dirty_row_exclusion_contract(spark):
    """r15 dirty-corpus probe follow-up: the r14 COVERAGE.md record
    claimed the quantize paths were total pure-SQL transforms — the
    probe proved it WRONG: `element_at(xs, i)` past a short array's
    length throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI, so
    one wrong-dim row aborted `minmax_stats`,
    `int8_quantize_stats`, and `quantized_topk` (two REGISTERED
    queries ride these), and MLlib KMeans aborted `ivf_topk` on one
    NULL vector. All four now exclude non-conforming rows up front
    (the fixed-width contract) and must return EXACTLY the clean
    sub-corpus's output on the dirtied corpus; a dirty or missing
    QUERY vector in `ivf_topk` raises ValueError (a user-supplied
    query must be valid)."""
    import math

    import pytest as _pytest

    from mspr2_back_spark.operators.quantize import (
        int8_quantize_stats,
        minmax_stats,
        quantized_topk,
    )
    from mspr2_back_spark.operators.similarity import ivf_topk

    def vec(i):
        return [math.sin(0.1 * i + 0.05 * j) + 0.01 * j for j in range(64)]

    clean_rows = [(i, vec(i), i % 3) for i in range(40)]
    dirty_rows = [(100, None, 1), (101, [1.0] * 32, 1), (102, [], 1)]
    schema = "vec_id bigint, embedding array<float>, label int"
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(clean_rows + dirty_rows, schema)

    for tag, fn in [
        ("minmax", lambda df: minmax_stats(df)),
        ("audit", lambda df: int8_quantize_stats(df)),
        ("serving", lambda df: quantized_topk(df, 7, k=5)),
        (
            "mllib-ivf",
            lambda df: ivf_topk(df, 7, k=5, n_cells=4, n_probe=2),
        ),
    ]:
        want = [tuple(r) for r in fn(clean).collect()]
        got = [tuple(r) for r in fn(dirty).collect()]
        assert got == want, tag
        assert want, tag  # non-vacuous

    with _pytest.raises(ValueError, match="does not conform"):
        ivf_topk(dirty, 101, k=5, n_cells=4, n_probe=2)


def test_dirty_events_totality_contract(spark, tmp_path):
    """r15 dirty-events sweep pins (the collect()-forced sweep — a
    count()-based probe lets Catalyst PRUNE the crash-prone
    expression out of the plan and vacuously passes; that
    methodology trap is recorded in COVERAGE.md). Four registered
    queries aborted on one bad row; all are now total with defined
    NULL semantics, mirrored in their oracles via the shared
    templates:

    - `props_extract`: '' from a no-match regexp_extract is
      NULLIF'd before the ANSI INT cast — malformed/key-less props
      count in n_events but not sum_k; r17 extends the class: a
      MATCHED digit run too long for INT (20-digit k) is NULLed by
      try_cast instead of aborting with CAST_INVALID_INPUT (the
      NULLIF guard alone cannot cover it);
    - `source_mixture_sample` (r17, same class): a source label
      outside the srcNN format NULLs its parsed index via try_cast
      and falls into the otherwise-branch tail rate instead of
      aborting the scan;
    - `props_variant_stats`: try_parse_json — a malformed payload
      yields NULL variant instead of aborting the scan (oracle
      mirror is a json_valid guard, r15 ADVICE; pinned by
      test_props_variant_oracle_dirty_parity below);
    - `daily_value_trend`: a single-day event type has zero x
      variance — slope/intercept are NULL (undefined), not a
      DIVIDE_BY_ZERO abort;
    - `lineitem_corr_matrix` (same template class): a group where a
      column is constant gets NULL for correlations involving it,
      non-NULL for the rest.
    """
    from pyspark.sql import functions as F

    from mspr2_back_spark.plans.extensions import props_variant_stats
    from mspr2_back_spark.plans.queries import props_extract
    from mspr2_back_spark.plans.timeseries import daily_value_trend
    from mspr2_back_spark.plans.workloads import lineitem_corr_matrix

    out = str(tmp_path / "dirtysf")
    clean_ev = [
        (i, f"2024-01-{(i % 27) + 1:02d} 0{i % 9}:00:00", i % 5,
         ["click", "view"][i % 2], float(i), '{"k": %d}' % (i % 7))
        for i in range(30)
    ]
    dirty_ev = [
        (90001, None, 5, "click", 1.0, '{"k": 3}'),
        (90002, "2024-02-01 00:00:00", None, "click", 1.0, '{"k": 4}'),
        (90003, "2024-02-01 01:00:00", 6, None, 1.0, '{"k": 5}'),
        (90004, "2024-02-01 02:00:00", 7, "click", None, None),
        (90005, "2024-02-01 03:00:00", 8, "click", -5.0, '{"broken'),
        (90006, "2024-02-01 04:00:00", 9, "weird_type", 0.0, '{"j": 1}'),
        (None, "2024-02-01 05:00:00", 10, "click", 2.0, '{"k": 6}'),
        # r17: matched digits that overflow INT — try_cast NULLs
        (90007, "2024-02-01 06:00:00", 11, "click", 1.0,
         '{"k": 99999999999999999999}'),
    ]
    ev = spark.createDataFrame(
        clean_ev + dirty_ev,
        "event_id bigint, ts string, user_id bigint,"
        " event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev.write.parquet(f"{out}/events.parquet")
    li = spark.createDataFrame(
        # flag A: all three vary; flag B: discount CONSTANT
        [("A", 1.0 + i, 100.0 + 3 * i, 0.01 * i) for i in range(6)]
        + [("B", 2.0 + i, 90.0 + 5 * i, 0.05) for i in range(6)],
        "l_returnflag string, l_quantity double,"
        " l_extendedprice double, l_discount double",
    )
    li.write.parquet(f"{out}/lineitem.parquet")

    pe = {r["event_type"]: r for r in props_extract(spark, out).collect()}
    assert pe["click"]["n_events"] == 15 + 6  # dirty clicks counted
    assert pe["weird_type"]["sum_k"] is None  # no k key → NULL
    assert pe["weird_type"]["n_events"] == 1
    # the overflow-k row counts in n_events; its k is NULL, so the
    # click sum equals the clean rows' k total + the three parseable
    # dirty clicks (k=3, k=4, k=6)
    clean_click_k = sum(i % 7 for i in range(30) if i % 2 == 0)
    assert pe["click"]["sum_k"] == clean_click_k + 3 + 4 + 6

    pv = {
        r["event_type"]: r
        for r in props_variant_stats(spark, out).collect()
    }
    assert pv["weird_type"]["k_sum"] is None
    assert pv["click"]["n_events"] == 21

    docs = spark.createDataFrame(
        [(i, f"doc text {i}", "en", f"src{i % 20}", 10) for i in range(40)]
        + [(100, "weird doc", "en", "rd_source", 9),
           (101, "weird doc 2", "en", "s", 11)],
        "doc_id bigint, text string, lang string,"
        " source string, n_chars bigint",
    )
    docs.write.parquet(f"{out}/documents.parquet")
    from mspr2_back_spark.plans.pipeline_queries import source_mixture_sample

    sm = {r["source"]: r for r in source_mixture_sample(spark, out).collect()}
    # malformed sources are PRESENT (total, not dropped) at the
    # otherwise-branch tail rate — not an abort
    assert "rd_source" in sm and "s" in sm
    assert sm["rd_source"]["n_total"] == 1

    tr = {
        r["event_type"]: r
        for r in daily_value_trend(spark, out).collect()
    }
    assert tr["weird_type"]["n_days"] == 1
    assert tr["weird_type"]["slope_per_day"] is None
    assert tr["weird_type"]["intercept"] is None
    assert tr["click"]["slope_per_day"] is not None

    cm = {
        r["l_returnflag"]: r
        for r in lineitem_corr_matrix(spark, out).collect()
    }
    assert cm["A"]["corr_qp"] is not None
    assert cm["B"]["corr_qd"] is None  # constant discount → NULL
    assert cm["B"]["corr_pd"] is None
    assert cm["B"]["corr_qp"] is not None


def test_props_variant_oracle_dirty_parity(spark, tmp_path):
    """The props_variant_stats DuckDB oracle must stay TOTAL and
    value-identical to the Spark side on dirty payloads (r15
    ADVICE: the Spark side went try_parse_json in r15 but the
    oracle kept strict json_extract, which ABORTS on a malformed
    payload — parity diverged exactly where the totality fix
    mattered). The oracle now guards extraction behind json_valid;
    this pin runs BOTH engines on a dirty corpus (malformed JSON,
    NULL props, key-less valid JSON) and compares every group's
    values, so the oracle can't silently regress to the strict
    form. Clean-corpus parity is the driver's job (r15 sweep green;
    natural re-sweep r18)."""
    import duckdb

    from mspr2_back_spark.plans import ORACLE_SQL as _SQL
    from mspr2_back_spark.plans.extensions import props_variant_stats

    out = str(tmp_path / "dirtyprops")
    rows = [
        (i, ["click", "view"][i % 2], '{"k": %d}' % (i % 7))
        for i in range(30)
    ] + [
        (90001, "click", '{"broken'),        # malformed → NULL k
        (90002, "click", None),              # NULL props → NULL k
        (90003, "weird_type", '{"j": 1}'),   # valid, no k → NULL k
        (90004, "view", "[1, 2"),            # malformed array prefix
        # r17: VALID json whose k overflows INT — try_variant_get /
        # TRY_CAST must NULL it identically on both engines
        (90005, "view", '{"k": 99999999999999999999}'),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, event_type string, props string"
    ).write.parquet(f"{out}/events.parquet")

    got = {
        r["event_type"]: (r["n_events"], r["k_sum"], r["k_min"], r["k_max"])
        for r in props_variant_stats(spark, out).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{out}/events.parquet/*.parquet')"
    )
    want = {
        et: (n, ks, kmin, kmax)
        for et, n, ks, kmin, kmax in con.execute(
            _SQL["props_variant_stats"]
        ).fetchall()
    }
    assert got == want
    assert got["weird_type"] == (1, None, None, None)  # non-vacuous
    assert got["click"][0] == 17  # dirty rows counted, not dropped


def test_quantized_topk_dirty_query_contract(spark):
    """Documented contrast between the two int8-adjacent serving
    paths on a non-conforming query id (r15 ADVICE — aligned-or-
    documented; documented, rationale in quantized_topk's
    docstring): quantized_topk is one fully-lazy plan and returns
    EMPTY; ivf_topk already collects the query vector driver-side
    and raises ValueError for free. Both are defined behavior; this
    pin keeps either path from silently swapping contracts."""
    import pytest as _pytest

    from mspr2_back_spark.operators.quantize import quantized_topk
    from mspr2_back_spark.operators.similarity import ivf_topk

    rows = [(i, [float(i + j) for j in range(64)], i % 3)
            for i in range(24)]
    dirty = spark.createDataFrame(
        rows + [(101, [1.0] * 7, 1), (102, None, 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    # wrong-dim query id: excluded by conforming() → empty, no crash
    assert quantized_topk(dirty, 101, k=5).collect() == []
    # absent query id: same contract
    assert quantized_topk(dirty, 99999, k=5).collect() == []
    # the IVF path's documented opposite
    with _pytest.raises(ValueError, match="does not conform"):
        ivf_topk(dirty, 101, k=5, n_cells=4, n_probe=2)
    # sanity: a conforming query still serves
    assert len(quantized_topk(dirty, 7, k=5).collect()) == 5


def test_cosine_pairs_total_exclusion_fails_loudly(spark):
    """r15 ADVICE: under the caller-declared fixed-width contract, a
    mis-declared dim over a uniformly non-dim corpus used to yield
    ZERO pairs silently — indistinguishable from "no
    near-duplicates". Both block-scorer paths now raise ValueError
    when every row of a NON-EMPTY corpus is excluded; an empty
    corpus still returns an empty result (zero rows → zero pairs is
    honest, not a mis-declared contract), and a partially-dirty
    corpus keeps the documented row-exclusion semantics."""
    import pytest as _pytest

    from mspr2_back_spark.operators.similarity import (
        cell_cosine_pairs,
        cosine_pairs,
    )

    schema = "vec_id bigint, embedding array<float>, label int"
    uniform32 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(32)], 0) for i in range(8)],
        schema,
    )
    # mis-declared dim (default 64 over a 32-wide corpus): loud
    with _pytest.raises(ValueError, match="mis-declared dim"):
        cosine_pairs(uniform32, 0.9, block_size=4)
    with _pytest.raises(ValueError, match="mis-declared dim"):
        cell_cosine_pairs(uniform32, 0.9, n_planes=2, block_size=4)
    # correctly-declared dim on the same corpus: runs
    assert cosine_pairs(uniform32, 0.99, block_size=4, dim=32).collect()
    # empty corpus: empty result, no raise
    empty = spark.createDataFrame([], schema)
    assert cosine_pairs(empty, 0.9, block_size=4).collect() == []
    # partially-dirty corpus: dirty rows excluded, clean rows scored
    mixed = spark.createDataFrame(
        [(i, [float(i + j) for j in range(64)], 0) for i in range(6)]
        + [(100, None, 0), (101, [1.0] * 32, 0)],
        schema,
    )
    assert cosine_pairs(mixed, 0.99, block_size=4).collect()


def test_ivf_replication_boundary_contract(spark, emb_corpus, tmp_path):
    """r16: pin the deterministic anchors of the SCALING.md
    replication-law BOUNDARY record (VERDICT r15 task 4). The r15
    B=128 exactness at n_cells=8 rests on n_cells dividing the
    block id offset (10,000); n_cells=32 does NOT divide it
    (10,000 = 32·312 + 16), and the measured boundary shows the
    predicted non-preservation of the base law PLUS the refined
    structure the measurement surfaced:

    - base corpus same-cell at n_cells=32 is 12/126 (over-
      fragmented: 112 vectors in 32 cells);
    - the B=2 replica is 276/504 — NOT 12·4 = 48: the base law does
      not survive a non-dividing n_cells;
    - but exactness RE-INDEXES to parity classes: for even B each
      base vector puts exactly B/2 copies in each of its two seed
      residues (v and v+16 mod 32), the shard means are invariant
      in B, and hq = 276·(B/2)² exactly (B=8 → 4,416 and B=128 →
      1,130,496 measured in SCALING.md; re-running B>2 here would
      tax the suite for arithmetic already pinned by the B=2
      constant);
    - the parity split is symmetric at even B (138/252 both);
    - colinear copies NEVER split (112/112 at B=2).
    """
    from mspr2_back_spark.operators.similarity import ivf_assignments
    from mspr2_back_spark.tools.build_corpora import (
        EMB_BLOCK_ID_OFFSET,
        build_embcorp,
    )

    out, vecs, _labels = emb_corpus
    assert EMB_BLOCK_ID_OFFSET % 32 == 16  # the non-dividing premise

    qual = []
    for f in range(24):
        ids = [100 * f + m for m in range(4)]
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if _emb_cos6(vecs, a, b) >= 0.45:
                    qual.append((a, b))
    assert len(qual) == 126

    base = spark.read.parquet(f"{out}/embeddings.parquet")
    cells1 = {
        r["vec_id"]: r["cell"]
        for r in ivf_assignments(base, n_cells=32).collect()
    }
    assert sum(1 for a, b in qual if cells1[a] == cells1[b]) == 12

    out2 = str(tmp_path / "embcorp_b2")
    build_embcorp(spark, out2, blocks=2)
    rep = spark.read.parquet(f"{out2}/embeddings.parquet")
    cells2 = {
        r["vec_id"]: r["cell"]
        for r in ivf_assignments(rep, n_cells=32).collect()
    }
    scaled = [
        (a + EMB_BLOCK_ID_OFFSET * i, b + EMB_BLOCK_ID_OFFSET * j, i, j)
        for a, b in qual
        for i in range(2)
        for j in range(2)
    ]
    hits_same = sum(
        1 for x, y, i, j in scaled
        if (i - j) % 2 == 0 and cells2[x] == cells2[y]
    )
    hits_mixed = sum(
        1 for x, y, i, j in scaled
        if (i - j) % 2 == 1 and cells2[x] == cells2[y]
    )
    assert hits_same + hits_mixed == 276  # NOT the base law's 48
    assert (hits_same, hits_mixed) == (138, 138)  # symmetric parity
    colinear = [
        (v, v + EMB_BLOCK_ID_OFFSET) for v in sorted(vecs)
    ]
    assert all(cells2[a] == cells2[b] for a, b in colinear)  # 112/112


def test_multimodal_null_docid_exclusion_contract(spark):
    """r16 dirty-corpus find (from the new opt-in whole-surface dirty
    smoke, tests/test_dirty_smoke.py): ALL FIVE closed-form codec
    probes crashed on a NULL doc_id — Arrow hands a NULL bigint to
    pandas as NaN and `int(NaN)` aborted the whole mapInPandas job.
    This is the same crash class the r15 quantize fix closed (one
    corrupt row killing a corpus-wide scan) and the same record-
    error class r15 itself corrected in the r14 evidence: the r15
    "all-NULL document" totality record could not have included a
    NULL doc_id (the crash is deterministic) — corrected in
    COVERAGE.md. Contract now: NULL doc_ids are excluded scan-side
    (`_doc_ids`, pushdown-eligible IsNotNull), and each probe
    returns EXACTLY the clean sub-corpus's output on the dirtied
    corpus."""
    from mspr2_back_spark.operators.multimodal import (
        adpcm_roundtrip_probe,
        audio_feature_probe,
        decode_stats,
        jpeg_meta_stats,
        wav_meta_stats,
    )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    clean_rows = [
        (i, f"doc {i}", "en", "web", 10 + i) for i in range(12)
    ]
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(
        clean_rows + [(None, None, None, None, None)], schema
    )

    for tag, fn in [
        ("decode", decode_stats),
        ("jpeg", jpeg_meta_stats),
        ("wav", wav_meta_stats),
        ("audio", audio_feature_probe),
        ("adpcm", adpcm_roundtrip_probe),
    ]:
        want = sorted(tuple(r) for r in fn(clean).collect())
        got = sorted(tuple(r) for r in fn(dirty).collect())
        assert got == want, tag
        assert want, tag  # non-vacuous


def test_extreme_timestamp_totality_contract(spark, tmp_path):
    """r18 extreme-timestamp class pins (COVERAGE.md addendum 3 —
    verified-to-fail on pre-fix code: the r18 probe reproduced all
    five modes at sf0.001). Extreme-but-VALID timestamps, >=2
    instances per class so they can meet each other:

    - day-one year-1 rows are unrepresentable at the driver's
      collect boundary (`ValueError: year 0 is out of range` —
      measured boundary: 0001-01-01 fails, 0001-01-02 is the first
      representable value) and their hop-window starts land in year
      ZERO. `sliding_event_rates`, `event_debounce`,
      `asof_event_value`, `user_event_sequences` exclude them via
      the shared ts_operating_window_sql conformance filter and
      must return EXACTLY the clean sub-corpus's output;
    - year-9999 rows overflowed the trend template's INT day-index
      moments (`daily_value_trend` — now BIGINT/TREND_MOMENT_SCALE,
      so the rows are INCLUDED and compute) and pushed
      `ml_forecast_ar_exact`'s 7-step horizon into year 10000 (now
      excluded by the window's 7-day upper margin);
    - ONE extreme date inflated the dense spines of
      `gapfill_user_daily` / `rolling_active_users` 1000x+ (memory
      bomb at 100 TB) — the spine calendar window bounds them:
      output on the dirtied corpus equals the clean sub-corpus's.
    """
    from pyspark.sql import functions as F

    from mspr2_back_spark.plans.extensions import (
        asof_event_value,
        user_event_sequences,
    )
    from mspr2_back_spark.plans.pipeline_queries import ml_forecast_ar_exact
    from mspr2_back_spark.plans.timeseries import (
        daily_value_trend,
        event_debounce,
        gapfill_user_daily,
        rolling_active_users,
    )
    from mspr2_back_spark.plans.workloads import sliding_event_rates

    clean_dir = str(tmp_path / "clean")
    mid_dir = str(tmp_path / "mid")
    dirty_dir = str(tmp_path / "dirty")
    clean_ev = [
        (i, f"2024-03-{(i % 9) + 1:02d} 0{i % 9}:10:00", i % 4,
         ["click", "view", "purchase"][i % 3], float(i + 1),
         '{"k": %d}' % (i % 7))
        for i in range(40)
    ]
    # far-future but INSIDE the operating window: conforming for the
    # window-arithmetic consumers (year-2999 output marshals fine),
    # non-conforming for the spine consumers (the inflation class
    # the calendar window bounds)
    farfuture_ev = [
        (80005, "2999-06-15 00:00:00", 3, "purchase", 5.0, '{"k": 5}'),
        (80006, "2999-06-16 00:00:00", 3, "purchase", 6.0, '{"k": 6}'),
    ]
    # two day-one year-1 rows (same user+type: they meet in one LAG
    # group) and two year-9999 rows — outside the operating window
    edge_ev = [
        (80001, "0001-01-01 00:30:00", 1, "click", 1.0, '{"k": 1}'),
        (80002, "0001-01-01 04:00:00", 1, "click", 2.0, '{"k": 2}'),
        (80003, "9999-12-31 12:00:00", 2, "view", 3.0, '{"k": 3}'),
        (80004, "9999-12-30 06:00:00", 2, "view", 4.0, '{"k": 4}'),
    ]
    schema = (
        "event_id bigint, ts string, user_id bigint,"
        " event_type string, value double, props string"
    )
    for out, rows in [
        (clean_dir, clean_ev),
        (mid_dir, clean_ev + farfuture_ev),
        (dirty_dir, clean_ev + farfuture_ev + edge_ev),
    ]:
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.parquet(f"{out}/events.parquet")

    # (1) operating-window consumers: the edge rows are excluded —
    # dirty output == in-window (mid) output, collect()-forced (full
    # evaluation, totality-probes discipline); pre-fix this collect
    # raised ValueError at the driver boundary
    for tag, fn in [
        ("sliding", sliding_event_rates),
        ("debounce", event_debounce),
        ("asof", asof_event_value),
        ("sequences", user_event_sequences),
    ]:
        want = sorted(tuple(r) for r in fn(spark, mid_dir).collect())
        got = sorted(tuple(r) for r in fn(spark, dirty_dir).collect())
        assert got == want, tag
        assert want, tag  # non-vacuous

    # (2) spine consumers: bounded — dirty output == clean output
    # (pre-fix: 16,268x / 121,735x inflation at sf0.001)
    for tag, fn in [
        ("gapfill", gapfill_user_daily),
        ("rau", rolling_active_users),
    ]:
        want = sorted(tuple(r) for r in fn(spark, clean_dir).collect())
        got = sorted(tuple(r) for r in fn(spark, dirty_dir).collect())
        assert got == want, tag
        assert want, tag

    # (3) daily_value_trend INCLUDES the extreme days (they are
    # in-domain observations; only the moment TYPES widened) and
    # computes finite values where pre-fix code threw
    # ARITHMETIC_OVERFLOW on the year-9999 day index
    tr = {r["event_type"]: r for r in daily_value_trend(spark, dirty_dir).collect()}
    assert tr["view"]["n_days"] == len({r[1][:10] for r in clean_ev
                                        if r[3] == "view"}) + 2
    assert tr["view"]["slope_per_day"] is not None
    import math
    assert math.isfinite(tr["view"]["slope_per_day"])

    # (4) the AR horizon: year-9999 rows excluded (their 7-step
    # forecast_day would reach year 10000 — unrepresentable); the
    # in-window users forecast normally
    fc = ml_forecast_ar_exact(spark, dirty_dir).collect()
    assert fc and all(r["forecast_day"].year <= 9999 for r in fc)
    assert {r["user_id"] for r in fc} == {0, 1, 2, 3}
    # user 3's 2999 rows are in-window: its horizon starts there
    assert max(r["forecast_day"] for r in fc).year == 2999


def test_dirty_corpus_recipe_fingerprint_rebuild(tmp_path):
    """The dirty-gate corpora are cached in /tmp and were rebuilt
    only when ABSENT — a dir built before a recipe change silently
    probed the OLD corpus (VERDICT r17 what's-wrong #3). ensure_built
    keys the cache on a recipe fingerprint: reuse only on fingerprint
    match; rebuild (after clearing the dir, including derived state
    like the streaming gate's _events_stream_src) on mismatch or a
    mutated marker."""
    import os

    from test_dirty_smoke import ensure_built, recipe_fingerprint

    d = str(tmp_path / "corpus")
    calls = []

    def build():
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")
        calls.append(1)

    fp1 = recipe_fingerprint(build, [1, 2, 3])
    ensure_built(d, fp1, build)
    assert len(calls) == 1
    # same fingerprint -> reuse, no rebuild
    ensure_built(d, fp1, build)
    assert len(calls) == 1
    # mutated marker (stale/hand-edited) -> rebuild
    with open(os.path.join(d, "_BUILT"), "w") as fh:
        fh.write("stale\n")
    stale_derived = os.path.join(d, "derived_state")
    with open(stale_derived, "w") as fh:
        fh.write("old")
    ensure_built(d, fp1, build)
    assert len(calls) == 2
    assert not os.path.exists(stale_derived)  # derived state cleared
    # recipe change (different constant) -> different fingerprint
    fp2 = recipe_fingerprint(build, [1, 2, 3, 4])
    assert fp2 != fp1
    ensure_built(d, fp2, build)
    assert len(calls) == 3
    # callables fingerprint by SOURCE, constants by repr
    assert recipe_fingerprint(build, [1, 2, 3]) == fp1


def test_metric_extreme_value_contract(spark, tmp_path):
    """r18 metric-contract probe pins (verified-to-fail on pre-fix
    code). The engine-wide METRIC discipline (DECIMAL(18,6) per-row
    casts) has the same two-sided contract as the documented money
    contract (PLANS.md):

    - IN-CONTRACT extremes must be total: two daily totals near the
      METRIC edge (~9.9e11) multiply to ~9.8e23 inside the AR(2)
      normal equations — past DECIMAL(28,6), inside the widened
      AR2_SCALE (38,6). Pre-fix, ml_forecast_ar_exact aborted with
      NUMERIC_VALUE_OUT_OF_RANGE on values every other query
      handled.
    - OUT-of-contract values (≥1e12, representable in the DOUBLE
      storage column) fail LOUDLY on METRIC-summing queries —
      deliberate: silently excluding or NULLing a huge value would
      corrupt totals, exactly the money-contract argument.
    """
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mspr2_back_spark.plans.pipeline_queries import ml_forecast_ar_exact
    from mspr2_back_spark.plans.queries import global_totals  # noqa: F401

    schema = (
        "event_id bigint, ts string, user_id bigint,"
        " event_type string, value double, props string"
    )
    base = [
        (i, f"2024-03-{(i % 9) + 1:02d} 0{i % 9}:10:00", i % 3,
         "click", float(i + 1), "{}")
        for i in range(30)
    ]
    # user 7: three consecutive days of edge-metric totals, so the
    # lag products x1*y / x2*y / x1*x2 are all ~9.8e23
    edge = [
        (90001, "2024-03-01 01:00:00", 7, "click", 9.9e11, "{}"),
        (90002, "2024-03-02 01:00:00", 7, "click", 9.9e11, "{}"),
        (90003, "2024-03-03 01:00:00", 7, "click", 9.9e11, "{}"),
    ]
    in_dir = str(tmp_path / "edge")
    spark.createDataFrame(base + edge, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(f"{in_dir}/events.parquet")

    rows = ml_forecast_ar_exact(spark, in_dir).collect()
    u7 = [r for r in rows if r["user_id"] == 7]
    assert len(u7) == 7  # full horizon, no abort
    assert all(r["forecast_value"] is not None for r in u7)

    # in-contract DAILY-TOTAL overflow (the scatter gate's find):
    # TWO edge values on ONE (type, day) make y ≈ 1.98e12 — past
    # METRIC — and seasonal_decompose_daily's second-level window
    # sum re-cast it through METRIC until it widened to
    # TREND_MOMENT_SCALE. The base corpus spans 9 consecutive days,
    # so the doubled day sits inside full ±3-day MA windows.
    from mspr2_back_spark.plans.timeseries import seasonal_decompose_daily

    pair_dir = str(tmp_path / "pair")
    paired = base + [
        (90004, "2024-03-05 02:00:00", 9, "click", 9.9e11, "{}"),
        (90005, "2024-03-05 03:00:00", 9, "click", 9.9e11, "{}"),
    ]
    spark.createDataFrame(paired, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(f"{pair_dir}/events.parquet")
    dec = seasonal_decompose_daily(spark, pair_dir).collect()
    assert dec and all(r["trend"] is not None for r in dec)

    # out-of-contract: loud fail naming the decimal, on a
    # METRIC-summing events query
    out_dir = str(tmp_path / "over")
    spark.createDataFrame(
        base + [(90010, "2024-03-04 01:00:00", 8, "click", 1.0e13, "{}")],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        f"{out_dir}/events.parquet"
    )
    from mspr2_back_spark.plans.timeseries import ewma_daily_value

    with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        ewma_daily_value(spark, out_dir).collect()
