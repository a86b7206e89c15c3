"""Deduplication operators for large-scale corpus curation.

All four families (exact, MinHash+LSH, SimHash, n-gram Jaccard) are
pure DataFrame compositions — no Python UDFs anywhere in the hot
path, so the whole pipeline stays inside whole-stage codegen and
scales by partitioning on doc_id / shingle / band.

Scale notes (100 TB corpus):
- exact dedup is one hash-shuffle on a 16-byte digest (map-side
  partial agg collapses most groups before the exchange);
- MinHash: the corpus exchanges ONCE by doc id (raw text, pre-
  shingle) so the persisted shingle projection is hash(doc)-
  partitioned — both exact-verify joins then move only candidate
  pairs, never the wide shingle arrays (r10 A/B: −41% at 256x);
  signatures are computed in place on the cached projection,
  candidate generation shuffles only (band_idx, band_hash)
  pairs — the classic banding trade-off; verification touches only
  candidate pairs, never the full N²;
- the inverted-index Jaccard join is quadratic in posting-list
  length per shingle — at scale you add prefix filtering / df-cap
  on hot shingles (documented on the function);
- SimHash is a per-row expression (embarrassingly parallel) whose
  fingerprints bucket near-dups for pair generation; the portable
  16-bit width saturates on real corpora, so production runs use
  the 64-bit form (bits=64) — measured concentration collapse in
  SCALING.md.
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Word-level shingles: contiguous word k-grams, distinct per document.
# array_remove is a plain JVM expression (codegen'd) — the lambda form
# filter(..., w -> w <> '') is interpreted per word and ~2x slower
# over a wide corpus.
_WORDS = "array_remove(split(text, ' '), '')"
_K = 3


def _spread(docs: DataFrame) -> DataFrame:
    """Ensure the corpus is spread across the cluster's cores before
    CPU-heavy per-row work.

    A 100 TB corpus scan already arrives in thousands of splits and
    this is a no-op; the guard exists for small/non-splittable inputs
    (e.g. a single-row-group parquet file ⇒ 1 partition), where an
    interpreted projection would otherwise run on one core.
    """
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per distinct content,
    with multiplicity and the canonical keeper (min id).

    Spark-first: md5 + groupBy = partial-agg'ed hash aggregation; the
    shuffle carries digests, not documents.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper_id"))
    )


def with_shingles(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct word-3-gram shingle set per document as an array
    column — one shuffle-free projection (for set intersection/union
    verification and for signature building via explode).

    Shingling happens scan-side wherever the document already lives,
    which is exactly what survives a 100 TB corpus (an earlier
    windowed formulation shuffled the whole exploded corpus by doc id
    just to run `lead()`). The k-grams come from MLlib's NGram
    transformer — JVM string joins, measured ~2x faster than the
    interpreted `transform(sequence(...), i -> concat_ws(slice(...)))`
    lambda on a wide corpus. Documents shorter than the shingle width
    contribute their whole text as one shingle.
    """
    from pyspark.ml.feature import NGram

    # NULL-safe: split(NULL) is NULL and MLlib's NGram NPEs on null
    # arrays — null/empty documents become the empty word list and
    # contribute a single empty-string shingle.
    words = docs.select(
        F.col(id_col).alias("doc"),
        F.coalesce(F.expr(_WORDS), F.array().cast("array<string>")).alias("words"),
    )
    grams = NGram(n=_K, inputCol="words", outputCol="grams").transform(words)
    return grams.select(
        "doc",
        F.when(F.size("words") < _K, F.array(F.concat_ws(" ", "words")))
        .otherwise(F.array_distinct("grams"))
        .alias("shingles"),
    )


def shingles_exploded(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct word-3-gram shingles, one row per (doc, shingle)."""
    return with_shingles(docs, id_col).select(
        "doc", F.explode("shingles").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle
    index — the scalable formulation: explode shingles, self-join on
    shingle (co-occurrence counts), then Jaccard from set sizes.

    ``max_doc_freq`` bounds posting lists at scale: shingles appearing
    in more than that many documents are dropped from the INDEX (the
    self-join's cost is Σ posting_len², so one stop-phrase shingle in
    10⁶ docs is 10¹² candidate pairs); candidate pairs found via the
    surviving rare shingles are then verified EXACTLY against the full
    shingle sets, so emitted Jaccard values are uncapped-identical.
    Recall caveat (standard for df-capped indexes): a qualifying pair
    sharing only hot shingles is missed — size the cap so that
    near-dup pairs keep at least one sub-cap shingle.
    """
    # Persisted + materialized once so the self-join's two sides read
    # the cache instead of re-shingling the corpus per side;
    # explode_outer avoids the size()>0 predicate that would push the
    # interpreted shingle expression into the file scan (see
    # minhash_lsh_pairs for both rationales).
    ex = (
        with_shingles(_spread(docs), id_col)
        .select(
            "doc",
            F.size("shingles").alias("n_shingles"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex.count()
    if max_doc_freq is not None:
        # The HOT set (df > cap) is tiny by construction: at cap =
        # 1% of the corpus it holds at most avg_shingles_per_doc×100
        # entries regardless of corpus size — so it broadcasts, and
        # the index filter is a map-side anti join (no extra shuffle
        # of the exploded corpus).
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        index = ex.join(F.broadcast(hot), "shingle", "left_anti")
    else:
        index = ex
    a, b = index.alias("a"), index.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_id_1"), F.col("b.doc").alias("doc_id_2"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("a.n_shingles").alias("n1"),
            F.first("b.n_shingles").alias("n2"),
        )
    )
    if max_doc_freq is None:
        # Index is complete: Jaccard comes straight from the counts.
        jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
        return (
            pairs.select("doc_id_1", "doc_id_2", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # Capped index: `shared` undercounts by exactly the co-occurring
    # HOT shingles, so recover |A∩B| = shared_rare + |A_hot ∩ B_hot|.
    # Per-doc hot-shingle sets are bounded by the (broadcast-small)
    # hot vocabulary, so the correction joins candidate-pair-sized and
    # hot-doc-sized relations — never full shingle sets; n1/n2 are the
    # full set sizes captured before filtering, so the Jaccard is
    # identical to the uncapped computation for every emitted pair.
    hot_per_doc = (
        ex.join(F.broadcast(hot), "shingle")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("hot_sh"))
    )
    h1 = hot_per_doc.select(
        F.col("doc").alias("doc_id_1"), F.col("hot_sh").alias("hot1")
    )
    h2 = hot_per_doc.select(
        F.col("doc").alias("doc_id_2"), F.col("hot_sh").alias("hot2")
    )
    shared_hot = F.when(
        F.col("hot1").isNull() | F.col("hot2").isNull(), F.lit(0)
    ).otherwise(F.size(F.array_intersect("hot1", "hot2")))
    shared = F.col("shared") + shared_hot
    jac = shared / (F.col("n1") + F.col("n2") - shared)
    return (
        pairs.join(h1, "doc_id_1", "left")
        .join(h2, "doc_id_2", "left")
        .select("doc_id_1", "doc_id_2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


_MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)


def _minhash_coeffs(k: int) -> tuple[int, int]:
    """Deterministic (a_k, b_k) for the 2-universal slot permutation
    h_k(x) = (a_k·x + b_k) mod P, derived from md5 of the slot index
    so the signature family is fixed across runs and engines
    (a_k ∈ [1, P-1], b_k ∈ [0, P-1])."""
    import hashlib

    a = (
        int.from_bytes(hashlib.md5(f"mh_a{k}".encode()).digest()[:4], "big")
        % (_MINHASH_PRIME - 1)
        + 1
    )
    b = (
        int.from_bytes(hashlib.md5(f"mh_b{k}".encode()).digest()[:4], "big")
        % _MINHASH_PRIME
    )
    return a, b


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH near-dup detection, verified exactly.

    shingle → one xxhash64 → 32 minhashes via the (a·x + b) mod P
    2-universal trick (computed scan-side) → 16 bands of 2 rows →
    bucket-join on (band, band signature) for candidates → exact
    Jaccard verification on the candidate pairs only.

    With r=2, b=16 the candidate probability at j=0.8 is
    1-(1-0.8²)¹⁶ ≈ 1-8e-8, so verified output equals the exact
    thresholded pair set with near-certainty while the join only ever
    sees banded buckets — this is the piece that survives 100 TB,
    where the all-pairs verifier alone would not. (Widen num_hashes
    for lower thresholds: recall at j is 1-(1-j^r)^b.)
    """
    rows = num_hashes // bands
    # The shingle projection is needed by three consumers (signature
    # build + both verification sides), so it is persisted and
    # materialized ONCE, eagerly: without this, Spark's plan has no
    # common-subexpression sharing across join branches and the
    # corpus would be re-shingled per branch. `explode_outer` (not
    # `explode`) matters: `explode` implies a `size(col) > 0` filter
    # that predicate-pushdown drives all the way into the file scan —
    # which then evaluates the whole interpreted shingle expression
    # per row inside the (possibly single-split) scan, serially, once
    # per branch. Shingle sets are never empty here so the two are
    # semantically identical.
    #
    # repartition(id) BEFORE shingling+persisting (r10, VERDICT r9
    # task 2 — the near_dup_clusters edge-partitioning trick applied
    # to the verify stage the r9 staged profile showed dominating:
    # ~48 s of the ~75 s 256x wall was the two verify joins, each
    # shuffling the corpus-wide shingle-ARRAY relation by doc id).
    # Hash-partitioning the cache by the doc id makes hash(doc)
    # visible through the InMemoryRelation (alias-aware), so BOTH
    # verify joins exchange only the narrow candidate-pair side; the
    # one build-time exchange moves raw text (pre-shingle, ~1/3 the
    # array bytes) and doubles as the core-spread guard _spread used
    # to provide. Partition count rides spark.sql.shuffle.partitions
    # — sized to the data like every other exchange. Interleaved A/B
    # at 256x/shuffle=128 (SCALING.md round 10): 68.0 s -> 40.1 s
    # min-of-2, identical pair sets; plan capture shows zero
    # exchanges on the array side of either verify join.
    # Explicit-N form (r18): the partition count is the session's
    # shuffle.partitions — the same count the bare repartition(col)
    # produced — but REPARTITION_BY_NUM is exempt from AQE's
    # cached-plan coalescing (session.py r18 conf). This cache
    # encodes COMPUTE density (interpreted shingle + 32-slot minhash
    # expressions per row), so byte-based coalescing would serialize
    # the most expensive scan stage behind a handful of tasks.
    n_shuffle = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    per_doc = with_shingles(docs.repartition(n_shuffle, id_col), id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per_doc.count()  # eager: populate once, before branches race to compute it
    # Signatures are computed ENTIRELY scan-side: hash each shingle
    # STRING once, fold it into [0, P) (P = 2^31 - 1), then derive
    # the per-slot permutations by the 2-universal family
    # h_k(x) = (a_k·x + b_k) mod P — one multiply + add + mod per
    # slot instead of a full 64-bit hash round (r6, VERDICT r5 task
    # 6; the same family Spark MLlib's MinHashLSH uses). Operands
    # stay < 2^62, so the arithmetic never trips ANSI overflow. The
    # per-slot minimum is taken by array_min INSIDE the row, so no
    # signature shuffle exists at any width. Correctness does not
    # ride on the signature family: candidates are verified with
    # exact Jaccard below, and at r=2/b=16 the miss probability at
    # j=0.8 stays ~1e-7 per pair (2-universal collision probability
    # is within o(1) of the fully-random bound).
    a_b = [_minhash_coeffs(k) for k in range(num_hashes)]
    sig = per_doc.select(
        "doc",
        F.expr(
            f"transform(shingles, s -> pmod(xxhash64(s), {_MINHASH_PRIME}))"
        ).alias("hs"),
    ).select(
        "doc",
        *[
            F.expr(
                f"array_min(transform(hs, x -> pmod({a} * x + {b},"
                f" {_MINHASH_PRIME})))"
            ).alias(f"h{k}")
            for k, (a, b) in enumerate(a_b)
        ],
    )
    banded = sig.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.hash(*[F.col(f"h{b * rows + r}") for r in range(rows)], F.lit(b))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    # Candidate pairs per LSH bucket via groupBy + in-bucket pair
    # expansion — NOT a self-join: a self-join would execute the
    # whole signature pipeline twice (Spark does not share subplans
    # across join sides), and at cluster scale it would shuffle the
    # banded rows twice. One shuffle to the buckets, then each bucket
    # expands its (sorted) member list to ordered pairs in-place.
    #
    # `.select("ds").distinct()` BEFORE the expansion (r10): a pair
    # of near-identical documents collides in MANY bands with the
    # same sorted co-member list — the common case for true
    # duplicates — so expanding every bucket emits the same pairs
    # once per colliding band (9.6x the deduped candidates on the
    # 256x exact-twin-dense corpus) and makes the pair-level
    # dropDuplicates pay for all of them. Collapsing identical
    # member LISTS first removes that duplication pre-explode.
    # Output-identical by construction: expanding a multiset of
    # lists then deduping pairs equals expanding the distinct SET of
    # lists then deduping pairs. Worst case (no identical lists) the
    # distinct adds one list-sized exchange and removes nothing;
    # measured at 256x/shuffle=128 (interleaved, identical pair
    # sets): 45.1 -> 37.5 s min-of-2 on top of the verify fix
    # (SCALING.md round 10).
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") > 1)
        .select("ds")
        .distinct()
    )
    pair_expansion = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds)), "
        "y -> named_struct('doc_id_1', x, 'doc_id_2', y))))"
    )
    cand = (
        buckets.select(F.explode(F.expr(pair_expansion)).alias("p"))
        .select("p.doc_id_1", "p.doc_id_2")
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    # Verify candidates exactly — shingle sets come straight from the
    # persisted per-doc projection, fetched only for the (few)
    # candidate pairs, so the wide arrays never shuffle through the
    # band join.
    sh = per_doc
    s1 = sh.select(F.col("doc").alias("doc_id_1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc").alias("doc_id_2"), F.col("shingles").alias("sh2"))
    jac = F.size(F.array_intersect("sh1", "sh2")) / F.size(F.array_union("sh1", "sh2"))
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select("doc_id_1", "doc_id_2", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """``bits``-wide SimHash fingerprint per document, built from md5
    of each distinct word (portable: no engine-specific hash).

    16-bit (default, the portable test form): bit i votes +1/−1 per
    word according to md5 nibble i's high bit; fingerprint bit i is
    set iff the vote sum is positive. Near-dup documents (high word
    overlap) land on identical or Hamming-adjacent fingerprints, so
    the fingerprint is a blocking key: pair generation within
    fingerprint buckets replaces N².

    64-bit (the production width): bit i votes by bit (i % 4) of md5
    nibble (i div 4) — 64 independent bits from the md5's first 16
    nibbles. The per-word nibble array is hoisted once (16
    md5-substring evaluations per word, same count as the 16-bit
    form), then all 64 vote counters update from it via
    zip_with — the expression stays scan-side whole-stage codegen
    with zero shuffle. Bit 63 is the sign bit of the BIGINT
    fingerprint (two's complement, ``shiftleft(1L, 63)``), which both
    Spark and the DuckDB oracle represent identically. 16-bit
    concentrates at corpus scale (65,536 buckets — a 3,786-doc band
    bucket and 4.9M Hamming≤2 pairs from 5k docs were measured at
    sf0.1); 64-bit is what keeps Hamming-ball blocking usable at
    100 TB (measured collapse in SCALING.md).
    """
    words = "array_distinct(array_remove(split(text, ' '), ''))"
    if bits == 16:
        bit_sum = (
            "aggregate({words}, 0, (acc, w) -> acc + "
            "IF(instr('0123456789abcdef', substring(md5(w), i + 1, 1)) - 1 >= 8, 1, -1))"
        ).format(words=words)
        fp = (
            "aggregate(transform(sequence(0, 15), i -> IF({bs} > 0, shiftleft(1, i), 0)),"
            " 0, (acc, v) -> acc + v)"
        ).format(bs=bit_sum)
        return docs.select(
            F.col(id_col), F.expr(fp).cast("int").alias("simhash")
        )
    if bits != 64:
        raise ValueError(f"supported fingerprint widths: 16, 64 (got {bits})")
    nibs = (
        "transform({words}, w -> transform(sequence(0, 15), "
        "n -> instr('0123456789abcdef', substring(md5(w), n + 1, 1)) - 1))"
    ).format(words=words)
    votes = (
        "aggregate({nibs}, transform(sequence(0, 63), z -> 0L), "
        "(acc, a) -> zip_with(acc, sequence(0, 63), "
        "(x, i) -> x + IF(shiftright(element_at(a, int(i div 4) + 1), int(i % 4)) % 2 = 1, 1, -1)))"
    ).format(nibs=nibs)
    fp = (
        "aggregate(zip_with({votes}, sequence(0, 63), "
        "(v, i) -> IF(v > 0, shiftleft(1L, int(i)), 0L)), 0L, (acc, x) -> acc + x)"
    ).format(votes=votes)
    return docs.select(
        F.col(id_col), F.expr(fp).cast("bigint").alias("simhash")
    )


def simhash_buckets(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Documents grouped by SimHash fingerprint — candidate dup
    buckets (bucket size > 1 ⇒ likely near-dups)."""
    return (
        simhash_fingerprints(docs, id_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min(id_col).alias("min_doc_id"))
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 2,
    bands: int = 4,
    bits: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-match pair generation over SimHash fingerprints: all
    pairs within ``max_hamming`` bit flips, found by pigeonhole
    banding + exact Hamming verification.

    The fingerprint's ``bits`` are split into ``bands`` equal bands;
    if two fingerprints differ in ≤ max_hamming bits then at most
    max_hamming bands are touched, so with bands > max_hamming the
    pair MUST agree exactly on ≥ 1 band — single-band buckets are a
    complete candidate generator (recall 1.0, unlike the similarity
    LSH families). Candidates expand in-bucket (sorted list, never a
    self-join), then exact ``bit_count(xor)`` keeps true pairs.

    Scale note: bucket count per band is 2^(bits/bands) — at the
    portable 16-bit fingerprint that is 16 per band, fine for test
    corpora but quadratic-in-bucket at corpus scale; production runs
    widen the fingerprint (64-bit, 4 bands of 16) so buckets stay
    small. The plan shape (band shuffle + in-bucket expansion +
    verify) is band-width-invariant.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    width = bits // bands
    # Persisted: the candidate self-join reads the fingerprint
    # relation twice (one int per doc — tiny either way).
    fp = simhash_fingerprints(docs, id_col, bits=bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    fp.count()
    banded = fp.select(
        F.col(id_col).alias("doc"),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias(f"b{b}")
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # Candidate generation is a bucket-keyed SELF-JOIN here, unlike
    # the minhash pipeline's in-place array expansion: minhash band
    # buckets are hash-random and tiny, but narrow simhash bands
    # concentrate (real fingerprints are highly non-uniform — a
    # 3,786-doc bucket was measured at sf0.1), and collect_list would
    # materialize a bucket's whole pair set as ONE in-row array
    # (OOM), where the join streams the same pairs as rows. The
    # Hamming filter runs BEFORE the pair dedup, so the exchange
    # only carries true near-pairs (AQE splits skewed buckets).
    a = banded.select(
        "band_idx",
        "band_val",
        F.col("doc").alias("doc_id_1"),
        F.col("simhash").alias("sh1"),
    )
    b = banded.select(
        "band_idx",
        "band_val",
        F.col("doc").alias("doc_id_2"),
        F.col("simhash").alias("sh2"),
    )
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )


def _signed64(m: int) -> int:
    """Two's-complement signed view of an unsigned 64-bit mask (bit 63
    set ⇒ negative BIGINT literal, matching Spark/Java semantics)."""
    return m - (1 << 64) if m >= (1 << 63) else m


def hamming_ball_masks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """All XOR masks within ``max_hamming`` bit flips of ``bits``-wide
    fingerprints, as (signed mask, distance) pairs: Σ_{d≤r} C(bits, d)
    masks (137 for 16/≤2; 2,081 for 64/≤2; 43,745 for 64/≤3)."""
    import itertools

    masks: list[tuple[int, int]] = [(0, 0)]
    for d in range(1, max_hamming + 1):
        masks += [
            (_signed64(sum(1 << i for i in combo)), d)
            for combo in itertools.combinations(range(bits), d)
        ]
    return masks


def simhash_near_degree(
    docs: DataFrame,
    max_hamming: int = 2,
    bits: int = 16,
    id_col: str = "doc_id",
    probe_mask_limit: int = 4096,
    bands: int = 4,
) -> DataFrame:
    """Per-document near-duplicate degree under SimHash Hamming ≤
    ``max_hamming``, via a Hamming-ball PROBE JOIN — no pair
    materialization.

    Each fingerprint explodes into its Σ C(bits, d) patterns within
    distance ``max_hamming`` (137 for 16 bits / d ≤ 2; 2,081 for 64
    bits) and joins against the aggregated fingerprint-COUNT table —
    at most min(2^bits, N_distinct) rows, broadcast. Degree = Σ
    matched counts (self excluded); min_hamming = nearest non-empty
    shell. This is how production simhash dedup scales: the probe
    explode is scan-side and corpus-linear, the join side is
    vocabulary-sized, and the concentrated-fingerprint case that
    makes pair materialization quadratic (`simhash_near_pairs` built
    4.9M pairs from 5k docs at sf0.1 on 16-bit prints) costs nothing
    extra here. Exactly equal to aggregating the pair relation.

    Above ``probe_mask_limit`` masks (e.g. 64-bit / Hamming ≤ 3 =
    43,745) the probe explode itself becomes the bottleneck — a 43,745×
    row amplification is worse than banding — so the operator switches
    to the pigeonhole-banded pair generator (`simhash_near_pairs`,
    complete for bands > max_hamming) and aggregates the symmetric
    pair relation into the identical degree table. Both paths are
    equivalence-tested against each other.
    """
    n_masks = 1 + sum(
        math.comb(bits, d) for d in range(1, max_hamming + 1)
    )
    if n_masks > probe_mask_limit:
        pairs = simhash_near_pairs(
            docs, max_hamming=max_hamming, bands=bands, bits=bits,
            id_col=id_col,
        )
        # In-row symmetrization (r18, same rework as the LP edge
        # build): a union would reference the banded pair DAG from
        # both branches — one explode emits both endpoints per pair
        # over a single subtree.
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id_1").alias("doc_id"), F.col("hamming")
                    ),
                    F.struct(
                        F.col("doc_id_2").alias("doc_id"), F.col("hamming")
                    ),
                )
            ).alias("e")
        ).select("e.doc_id", "e.hamming")
        return sym.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min("hamming").cast("int").alias("min_hamming"),
        )
    masks = hamming_ball_masks(bits, max_hamming)
    fp = simhash_fingerprints(docs, id_col, bits=bits)
    fpc = fp.groupBy("simhash").agg(F.count(F.lit(1)).alias("n"))
    # The mask set MUST be a true array Literal (F.lit of a Python
    # list). The previous form — F.array of 2,081 F.struct(...) — is
    # a CreateArray expression tree that Spark re-evaluates per input
    # row: measured 14.6 s vs 2.4 s for the same 1M-row explode at
    # sf0.01. Two parallel primitive literals + posexplode keep the
    # probe stage a constant-reference explode.
    mask_lit = F.lit([m for m, _ in masks])
    if bits == 64:
        mask_lit = mask_lit.cast("array<bigint>")
    dist_lit = F.lit([d for _, d in masks])
    probes = fp.select(
        id_col, "simhash", F.posexplode(mask_lit).alias("pos", "mask")
    ).select(
        id_col,
        F.col("simhash").bitwiseXOR(F.col("mask")).alias("probe"),
        F.element_at(dist_lit, F.col("pos") + 1).alias("dist"),
    )
    joined = probes.join(
        F.broadcast(fpc.withColumnRenamed("simhash", "probe")), "probe"
    )
    # a doc always matches its own fingerprint in the dist-0 shell
    contrib = F.col("n") - F.when(F.col("dist") == 0, 1).otherwise(0)
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum(contrib).alias("n_near"),
            F.min(F.when(contrib > 0, F.col("dist"))).alias("mh"),
        )
        .filter(F.col("n_near") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            "n_near",
            F.col("mh").cast("int").alias("min_hamming"),
        )
    )


def near_dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_id_1",
    b_col: str = "doc_id_2",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    document in a pair gets the MINIMUM reachable doc id as its
    cluster id — the canonical "keep one per duplicate cluster"
    assignment (pairs alone under-merge: {a,b} and {b,c} are one
    cluster even if (a,c) was never emitted).

    Algorithm: minimum-label propagation to fixpoint — the engine's
    one connected-components algorithm. Each iteration is one
    distributed join (labels onto edges) + one min-aggregate; the
    driver only reads the 1-row monotone label sum per round (the
    convergence witness), so state stays on the executors. Node ids
    must be an integral type — the sum witness is exact only there,
    so anything else raises up front rather than risking a silent
    early exit. Converges in graph-diameter rounds; near-dup clusters
    are shallow (stars/chains of a few hops).

    Iteration cap: ``max_iter`` bounds the total propagation rounds,
    and a graph that has not converged by then raises RuntimeError
    rather than returning a silently under-merged clustering. The
    default of 20 covers any graph of diameter < 20; on real near-dup
    corpora hitting it almost always means the pair generation is
    wrong (threshold too low, banding misconfigured), so the default
    stays low and loud. A corpus that legitimately carries longer
    chains (drifting boilerplate where doc_i ~ doc_{i+1} but
    doc_1 !~ doc_n) raises ``max_iter`` to its expected diameter —
    each extra round costs one labels-sized shuffle, the edges stay
    cached.

    Output: one row per distinct node — (node, cluster) with
    ``cluster = min(reachable ids)``.
    """
    # The monotone-sum convergence witness below is only exact for
    # integral ids: a non-numeric label CASTs to NULL (sum NULL every
    # round → a silent round-1 "convergence" on an under-merged
    # clustering) and a fractional one could hide a sub-unit label
    # change inside the DECIMAL(38,0) rounding. Fail loudly instead.
    for c in (a_col, b_col):
        t = pairs.schema[c].dataType.typeName()
        if t not in ("byte", "short", "integer", "long"):
            raise TypeError(
                f"near_dup_clusters: {c} must be an integral id type "
                f"(got {t}) — the monotone-sum convergence witness is "
                "exact only for integer labels"
            )
    # Symmetrize IN-ROW (r18): the old `edges.union(reversed)` form
    # referenced the whole pair-generation DAG from BOTH union
    # branches (Spark shares no subplans across branches — at best
    # AQE deduplicates some shuffle stages at runtime), and its
    # `.distinct()` was semantically a no-op bought at a full
    # edge-relation exchange: verified pair relations emit each pair
    # once with a < b, so the forward and reversed sets are disjoint
    # — and minimum-label propagation is duplicate-insensitive
    # anyway (min over a multiset ≡ min over its set; a caller
    # passing duplicate pairs costs join fan-out, never
    # correctness). One explode emits both directions per input row:
    # one subtree, zero extra exchanges.
    #
    # repartition("src") BEFORE persisting: persisted hash(src)
    # partitioning is visible to the optimizer through the
    # InMemoryRelation, so each round's edges⋈labels join exchanges
    # only the labels side — one build-time exchange buys one saved
    # edge shuffle PER ROUND (measured A/B in SCALING.md round 9:
    # −4% at the 64× worst case's 2 rounds, −24% on a diameter-9
    # chain graph's 10 rounds; the margin is per-round by
    # construction).
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # localCheckpoint(eager=False) everywhere in this loop. The call is
    # not free under AQE: it finalizes the physical plan, so every
    # shuffle map stage below the checkpoint runs as a job at call
    # time (2 per round; round 1's call also fills the edges persist).
    # eager=False only defers the final stage: its tasks compute and
    # store the checkpoint blocks inside the next action, the 1-row
    # convergence sum below, which runs 2 jobs (that stage, then the
    # sum's own final stage). About 4 jobs per round, measured at
    # local[1] on a 5-round graph: 21 jobs while building.
    #
    # Round 1 is CLOSED-FORM (r18): over the symmetric edge set,
    # one propagation from the self-labeled seed gives every node
    # min(node, min(neighbors)) — a single aggregation keyed on dst,
    # no edges⋈labels join. And the seed's own sum action proved
    # nothing: for any edge (a, b) with a < b, b's label drops to
    # ≤ a in round 1, so a NONEMPTY edge set always changes labels
    # (and an empty one yields empty labels either way) — the
    # convergence comparison can start AT round 1. This folds the
    # seed relation's distinct + checkpoint + sum action and round
    # 1's join into one fused aggregation job over the cached edges.
    labels = (
        edges.groupBy("dst")
        .agg(F.min("src").alias("mn"))
        .select(
            F.col("dst").alias("node"),
            F.least(F.col("mn"), F.col("dst")).alias("cluster"),
        )
        .localCheckpoint(eager=False)
    )

    def label_sum(frame: DataFrame):
        # DECIMAL(38,0): exact at any node-count × id magnitude (a
        # BIGINT sum would overflow around 10^18 total label mass).
        return frame.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
        ).first()[0]

    prev_sum = label_sum(labels)
    try:
        # range(max_iter - 1): round 1 ran fused above, so the cap
        # still bounds TOTAL propagation rounds at max_iter — the
        # documented diameter contract is unchanged (max_iter=1 on a
        # nonempty graph raises in both formulations: round 1 always
        # changes labels and no comparison round remains).
        for _ in range(max_iter - 1):
            neighbor_min = (
                edges.join(labels, edges.src == labels.node)
                .select(F.col("dst").alias("node"), "cluster")
            )
            # localCheckpoint truncates the logical plan each round:
            # without it the union+join lineage nests per iteration
            # and the plan grows exponentially (a 12-node chain alone
            # blows past Spark's 2 GB plan-string cap around round
            # 11). This is the standard iterative-algorithm pattern
            # (GraphX does the same); on a cluster you'd use reliable
            # checkpoints if executor loss matters mid-computation.
            # eager=False: the call runs this round's join and
            # groupBy shuffle stages; label_sum below runs the stage
            # that stores the blocks (see the comment above round 1).
            new_labels = (
                labels.unionByName(neighbor_min)
                .groupBy("node")
                .agg(F.min("cluster").alias("cluster"))
                .localCheckpoint(eager=False)
            )
            # Convergence witness: per-node labels are NON-INCREASING
            # (each round min-folds the node's own label back in), so
            # Σ cluster is strictly monotone decreasing until the
            # fixpoint — equal sums ⟺ no label changed. One map-side
            # partial agg over the just-checkpointed blocks (1 row to
            # the driver) replaces the old per-round old⋈new join +
            # count, which shuffled two label-sized relations purely
            # to detect convergence (measured A/B in SCALING.md
            # round 9).
            new_sum = label_sum(new_labels)
            # Dropping the reference is the release: DataFrame
            # .unpersist() is a no-op on localCheckpoint-backed frames
            # (their blocks live outside the cache manager); the
            # superseded RDD is collected by the ContextCleaner once
            # unreferenced.
            labels = new_labels
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
        raise RuntimeError(
            f"near_dup_clusters: no fixpoint after {max_iter} rounds "
            "(pathological chain graph? raise max_iter to the expected "
            "diameter)"
        )
    finally:
        edges.unpersist()


def repeated_span_coverage(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Substring-level duplication signal per document: the fraction
    of a document's distinct word-3-gram spans that also occur in at
    least one OTHER document (suffix-array-style substring dedup,
    approximated at fixed span width — the curation signal used to
    drop boilerplate-heavy documents, complementing pairwise Jaccard
    which only scores whole-document similarity).

    Plan shape: one shingle explode, one document-frequency aggregate
    over shingles (map-side partials; hot shingles are exactly the
    interesting ones), one semi-join back. Shuffles carry (shingle,
    count) and (doc, shingle) — never text.
    """
    ex = shingles_exploded(_spread(docs), id_col).persist(StorageLevel.MEMORY_AND_DISK)
    shared = (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 1)
        .select("shingle")
    )
    totals = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("n_spans"))
    repeated = (
        ex.join(shared, "shingle", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_repeated"))
    )
    return (
        totals.join(repeated, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_spans",
            F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
            F.round(
                F.coalesce("n_repeated", F.lit(0)) / F.col("n_spans"), 6
            ).alias("repeated_ratio"),
        )
    )


def contamination_screen(
    docs: DataFrame,
    benchmark_pred,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination screen: for every candidate training
    document, the fraction of its distinct word-3-gram spans that
    appear in any document of a held-out benchmark set
    (``benchmark_pred`` marks benchmark rows). Documents with any
    overlap are reported — the pre-training hygiene check that a
    training corpus doesn't contain the eval set.

    Plan shape: the benchmark shingle set is a distinct projection
    (small by construction — benchmarks are tiny next to the corpus)
    joined as a semi-join build side; the corpus side is one explode +
    count. At 100 TB the benchmark side broadcasts.
    """
    ex = shingles_exploded(_spread(docs), id_col).persist(StorageLevel.MEMORY_AND_DISK)
    bench_ids = docs.filter(benchmark_pred).select(F.col(id_col).alias("doc"))
    bench_shingles = (
        ex.join(bench_ids, "doc", "left_semi").select("shingle").distinct()
    )
    candidates = ex.join(bench_ids, "doc", "left_anti")
    totals = candidates.groupBy("doc").agg(F.count(F.lit(1)).alias("n_spans"))
    hits = (
        candidates.join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(hits, "doc")
        .select(
            F.col("doc").alias(id_col),
            "n_spans",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_spans"), 6).alias(
                "contamination"
            ),
        )
    )


def incremental_ngram_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup: near-dup pairs between an EXISTING corpus
    and a NEW batch only — the shape of a daily ingest pipeline,
    where re-scoring corpus×corpus every day would be quadratic
    waste. Cost is |batch's shingles| joined against the corpus
    inverted index: linear in the batch, not the corpus.

    Output: (corpus doc, batch doc, jaccard) at or above threshold.
    At scale the corpus index is a persisted/bucketed table keyed by
    shingle, and each day's batch probes it.
    """
    old_ex = with_shingles(_spread(corpus), id_col).select(
        F.col("doc").alias("old_doc"),
        F.size("shingles").alias("n_old"),
        F.explode_outer("shingles").alias("shingle"),
    )
    new_ex = with_shingles(_spread(batch), id_col).select(
        F.col("doc").alias("new_doc"),
        F.size("shingles").alias("n_new"),
        F.explode_outer("shingles").alias("shingle"),
    )
    pairs = (
        old_ex.join(new_ex, "shingle")
        .groupBy("old_doc", "new_doc")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("n_old").alias("n1"),
            F.first("n_new").alias("n2"),
        )
    )
    jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    return (
        pairs.select(
            F.col("old_doc").alias("corpus_doc_id"),
            F.col("new_doc").alias("batch_doc_id"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def edit_distance_pairs(
    docs: DataFrame,
    prefix_len: int = 32,
    max_dist: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by bounded Levenshtein distance, with
    exact-prefix blocking — the character-level verifier family
    (shingle Jaccard is token-level; SimHash/MinHash are sketches;
    this is the edit-operation ground truth for small perturbations).

    Blocking: docs sharing the same first ``prefix_len`` characters
    (md5 of the prefix is the join key, so the shuffle key is 32
    bytes however long the text). Candidates are verified with the
    BANDED Levenshtein (Spark's 3-arg ``levenshtein(l, r, k)``
    computes only the ±k diagonal — O(len·k) instead of O(len²) —
    returning -1 past the bound), after a free |length delta| ≤ k
    prefilter (length difference lower-bounds edit distance).

    Scale: cost is Σ bucket², like every blocking join — safe when
    prefixes spread (random corpora) and a skew bomb when boilerplate
    makes one prefix hot; production either strips known boilerplate
    first or caps bucket size the way ngram_jaccard_pairs df-caps its
    inverted index. Recall bound: a pair whose edits touch the first
    ``prefix_len`` characters lands in different buckets and is
    missed — that is the documented trade of prefix blocking
    (complete only for suffix-side edits; compose with MinHash for
    edit-anywhere recall).
    """
    b = _spread(docs).select(
        F.col(id_col),
        F.col(text_col),
        F.length(text_col).alias("tlen"),
        F.md5(F.substring(text_col, 1, prefix_len)).alias("pbucket"),
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.pbucket") == F.col("c.pbucket"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .filter(F.abs(F.col("a.tlen") - F.col("c.tlen")) <= max_dist)
        .withColumn(
            "edit_dist",
            F.levenshtein(
                F.col(f"a.{text_col}"), F.col(f"c.{text_col}"), max_dist
            ),
        )
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.col(f"a.{id_col}").alias("doc_id_1"),
            F.col(f"c.{id_col}").alias("doc_id_2"),
            "edit_dist",
        )
    )
