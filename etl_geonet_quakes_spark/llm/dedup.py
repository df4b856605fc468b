"""Deduplication operators over the ``documents`` table.

Four tiers, in increasing tolerance for fuzz and increasing care
about pair-explosion at scale:

- **exact**: hash-groupBy on a canonical fingerprint. One shuffle on
  the fingerprint; at 100 TB this is the cheapest possible dedup.
- **n-gram Jaccard**: exact set similarity over shingles, but the
  candidate space is bounded by a blocking key (here: ``source``) so
  the self-join never goes quadratic in the corpus.
- **MinHash + LSH**: signature → bands → bucket-join. Candidates are
  generated by an EQUI-join on (band, band-hash) — the only way a
  near-dup join survives 100 TB, because Catalyst shuffles both
  sides on the bucket key instead of cross-joining.
- **SimHash**: 60-bit fingerprints; near-dups = small Hamming
  distance, candidates blocked on 15-bit chunks (pigeonhole: any
  pair within distance 3 shares at least one of 4 chunks).

Hashing: MinHash signatures/banding use xxhash64 (JVM-side, cheap,
engine-private — fine for candidate generation, whose errors the
verify tier absorbs); everything whose VALUES reach a result — SimHash
fingerprints, winnowing grams, sampling thresholds — uses the md5-based
60-bit family (md5_feature_hash) that any engine reproduces
bit-for-bit. Both are deterministic across runs/partitionings.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import load_table
from etl_geonet_quakes_spark.llm.text import ngram_join, tokens

def dedup_pair_graph(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """The (doc_a, doc_b) near-dup pair graph, localCheckpointed: the
    shared input of every graph consumer (CC labels, triangles,
    PageRank, BFS), which each branch it several times. Unordered: no
    consumer reads the pair order, so none pays for a sort."""
    return (
        _ngram_jaccard_pairs(spark, sf_dir, threshold)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep min doc_id per canonical text; emit kept id +
    cluster size. Equivalent reference semantics: the upsert-key
    contract (task.ts:213) generalized to content identity."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("kept_doc"), F.count("*").alias("n_dups"))
        .orderBy("kept_doc")
    )


def spread_single_split_scan(df: DataFrame) -> DataFrame:
    """Repartition a scan right after the read when it has fewer
    splits than the session has cores (input skew: one unsplittable
    file), so the corpus map stages before the first exchange do not
    run on one core. Measurements in OPTIMIZATION_r15.md.

    The repartition only fires when the scan cannot already feed
    every core: where the input has ≥ cores splits this helper is an
    exact no-op (no exchange added). The probe compiles the
    (projected) scan plan once; it launches no job.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= par:
            return df
    except Exception:
        return df
    return df.repartition(par)


def shingles_str(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (w-shingling) as STRINGS. Shingles —
    not unigram token sets — are what make MinHash/SimHash
    discriminative: corpora with a small shared vocabulary (like this
    fixture's word soup) have high token-set Jaccard between nearly
    ALL document pairs, which turns every LSH bucket into a
    mega-bucket and the candidate join quadratic. Word order rescues
    selectivity. Pure column algebra: slide a window over the token
    array with transform + slice.

    Documents shorter than ``n`` tokens contribute ONE shingle (the
    whole document) instead of a spurious truncated window — the
    guarded form, mirrored exactly by the DuckDB oracles in
    queries.py. String (not hashed) shingles are the cross-engine
    currency: DuckDB can rebuild the identical set, which is what
    makes the MinHash/SimHash verify tiers hash-checkable."""
    toks = tokens(col)
    # ngram_join is the zip-sliced fast form (3.3× over per-element
    # slice lambdas, byte-identical output — see its docstring)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(ngram_join(toks, n)),
    ).otherwise(F.array(F.array_join(toks, " ")))


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    saturated_block_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact token-set Jaccard within a blocking key.

    ``saturated_block_cap`` (default None = exact mode, the oracle
    contract): when set, any (source, size-bucket) block larger than
    the cap emits only STAR pairs (block representative = min doc_id
    ↔ member) instead of all pairs, and only the representative
    carries the block into the cross-bucket probe join. On a corpus
    with a giant duplicate clique the exact pair LISTING is itself
    Ω(n²) — no algorithm fixes an output that big (measured: a
    5k-copy doc = 12.5M pairs; a 10⁶-copy boilerplate clique at
    100 TB = 5×10¹¹ pairs) — so the scale mode changes the contract
    to O(n) pairs per saturated block while PRESERVING the downstream
    cluster result: every emitted star pair still passes the exact
    Jaccard ≥ τ verify, and transitive closure (q45) reconnects the
    block through its representative. Recall caveat, documented:
    pairs between two non-representative members of a saturated block
    (or a member and an adjacent block) are not listed — at high τ
    near-transitivity makes the rep edge carry the cluster.

    The score is |A∩B| / |A∪B| over the distinct token sets
    (array_intersect/array_union sizes), one integer division in
    double space (bit-reproducible); blocking on ``source`` keeps the
    self-join from going quadratic, and a provable size-ratio prune
    (J ≤ min/max) sits inside the join condition so hopeless pairs
    die before the set work runs.
    """
    return _ngram_jaccard_pairs(
        spark, sf_dir, threshold, saturated_block_cap
    ).orderBy("doc_a", "doc_b")


def _ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    saturated_block_cap: int | None = None,
) -> DataFrame:
    """dedup_ngram_jaccard's (doc_a, doc_b, jaccard) pairs, unordered."""
    d = spread_single_split_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).select(
        "doc_id", "source", F.array_distinct(tokens(F.col("text"))).alias("toks")
    ).withColumn("n", F.size("toks"))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))

    # Second blocking key: log-scale SIZE buckets. J ≥ τ forces
    # min(|A|,|B|)/max(|A|,|B|) ≥ τ, so with bucket width ln(base),
    # base > 1/τ, any qualifying pair sits in the same or adjacent
    # bucket — the per-(source)-block candidate space drops from
    # O(n²) to O(Σ per-(source,bucket) n²), which degrades gracefully
    # when one source block is huge but its documents span lengths.
    # Each doc probes its own bucket (ordered, so same-bucket pairs
    # count once) and the next one up (one direction, so cross-bucket
    # pairs count once); the join stays a pure EQUI join on
    # (source, bucket) — the only shape that shuffles instead of
    # cross-joining at scale. base carries a 1e-6 margin so the
    # floor-of-float bucket index can never split a ratio-τ pair
    # by two buckets.
    base = (1.0 / threshold) * (1.0 + 1e-6)
    d = d.withColumn(
        "bkt", F.floor(F.log(F.col("n").cast("double")) / math.log(base)).cast("int")
    )

    jac = inter.cast("double") / union
    size_ok = (
        F.least(F.col("a.n"), F.col("b.n")).cast("double")
        / F.greatest(F.col("a.n"), F.col("b.n"))
        >= threshold
    )

    star = None
    if saturated_block_cap is not None:
        # block stats ride the SAME (source, bkt) partitioning the
        # pair join shuffles on — one partial+final count/min agg
        stats = d.groupBy("source", "bkt").agg(
            F.count("*").alias("bn"), F.min("doc_id").alias("rep")
        )
        dk = d.join(stats, ["source", "bkt"])
        # saturated blocks: rep ↔ member star pairs, exact-verified
        star = (
            d.alias("a")
            .join(
                dk.alias("b"),
                (F.col("a.source") == F.col("b.source"))
                & (F.col("a.bkt") == F.col("b.bkt"))
                & (F.col("a.doc_id") == F.col("b.rep"))
                & (F.col("b.doc_id") != F.col("b.rep"))
                & (F.col("b.bn") > saturated_block_cap)
                & size_ok,
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                jac.alias("jaccard"),
            )
        )
        # saturated blocks enter the probe join as their rep only
        d = dk.filter(
            (F.col("bn") <= saturated_block_cap) | (F.col("doc_id") == F.col("rep"))
        ).drop("bn", "rep")

    probes = d.withColumn("pb", F.col("bkt")).withColumn(
        "self_probe", F.lit(True)
    ).unionByName(
        d.withColumn("pb", F.col("bkt") + 1).withColumn("self_probe", F.lit(False))
    )

    a = probes.alias("a")
    b = d.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.pb") == F.col("b.bkt"))
            & F.when(
                F.col("a.self_probe"), F.col("a.doc_id") < F.col("b.doc_id")
            ).otherwise(F.lit(True))
            & size_ok,
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            jac.alias("jaccard"),
        )
    )
    if star is not None:
        out = out.unionByName(star)
    return out.filter(F.col("jaccard") >= threshold)


def _minhash_signature_array(tok_col: Column, n_hashes: int) -> Column:
    """n_hashes min-hashes over a pre-hashed feature array, as an
    array column: one array_min(transform(...)) per family, each
    re-mixing the 64-bit value with the family seed (a few ALU ops —
    the expensive string hashing happened once upstream).

    Measured note: a single-traversal fold with an array<long>
    accumulator (aggregate + zip_with(least)) looks cheaper on paper
    but benchmarked ~15% SLOWER at sf0.1 — the per-element accumulator
    and seed-array allocations cost more than n_hashes cheap passes
    over a long[] that stays hot in cache. Keep the multi-pass form.
    ``tok_col`` must be a materialized column (per-element
    re-evaluation trap)."""
    def family(seed: int) -> Column:
        # one-arg lambda in its own scope: a two-arg lambda would be
        # interpreted by transform() as (element, array_index) and
        # silently shadow the seed
        return F.array_min(F.transform(tok_col, lambda h: F.xxhash64(h, F.lit(seed))))

    return F.array(*[family(i) for i in range(n_hashes)])


def _token_hashes(tok_col: Column) -> Column:
    return F.transform(tok_col, lambda t: F.xxhash64(t))


def _hashed_shingles_from(th: Column, n: int = 3) -> Column:
    """Distinct n-shingles as 64-bit hashes from a MATERIALIZED
    array<long> column of token hashes: combine n consecutive hashes
    with one xxhash64(long,…) per shingle. Identical shingle-set
    semantics to string shingles up to 64-bit collisions (~n²/2⁶⁴).

    ``th`` must be a plain column reference, not an inline transform
    expression — a lambda that closes over an expression re-evaluates
    it per output element (O(len²) per doc; measured 2× slower than
    the string path before this was caught)."""
    k = F.size(th) - (n - 1)
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    return F.array_distinct(
        F.transform(
            idx,
            # try_element_at, not element_at: documents shorter than n
            # tokens have windows that run past the array end, which
            # ANSI element_at turns into a runtime error — NULL inputs
            # hash deterministically, preserving the one-short-shingle
            # behavior for tiny docs (candidates only; the verify tier
            # defines the result)
            lambda i: F.xxhash64(*[F.try_element_at(th, i + j) for j in range(n)]),
        )
    )


def _with_hashed_shingles(df: DataFrame, out: str = "toks", n: int = 3) -> DataFrame:
    return (
        df.withColumn("__th", _token_hashes(tokens(F.col("text"))))
        .withColumn(out, _hashed_shingles_from(F.col("__th"), n))
        .drop("__th")
    )


def band_buckets(
    docs: DataFrame, n_hashes: int = 24, bands: int = 12
) -> DataFrame:
    """(doc_id, text) → exploded LSH band buckets (doc_id, band,
    bucket): hashed 3-shingles → MinHash signature → per-band
    xxhash64 bucket id. The shared signature stage of batch
    dedup_minhash_lsh and the incremental streaming index
    (streaming/dedup_stream.py) — both must derive bit-identical
    buckets from the same text or batch ≢ incremental."""
    rows_per_band = n_hashes // bands
    d = _with_hashed_shingles(docs.select("doc_id", "text")).select("doc_id", "toks")
    sig = d.withColumn("sig", _minhash_signature_array(F.col("toks"), n_hashes))
    band_cols = []
    for b in range(bands):
        cols = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
        )
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


def _band_pairs(buckets: DataFrame) -> DataFrame:
    """q38's candidate stage: the self-EQUI-join of (doc_id, band,
    bucket) rows on (band, bucket), one (doc_a < doc_b) row per shared
    band — not yet deduplicated."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )


def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = 24,
    bands: int = 12,
    threshold: float = 0.7,
    saturated_bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection, the 100 TB scale path.

    ``saturated_bucket_cap`` (default None = exact mode, the oracle
    contract): when set, any (band, bucket) whose membership exceeds
    the cap emits STAR candidates (bucket representative = min doc_id
    ↔ member) instead of all pairs, and only the representative joins
    the all-pairs path for that bucket. The exact pair LISTING on a
    duplicate clique is Ω(n²) in the OUTPUT (measured: 5k copies of
    one doc = 12.5M pairs in 27.8 s at local[32]; a 10⁶-copy
    boilerplate clique = 5×10¹¹ pairs — unwritable at any cluster
    size), so the scale mode trades the complete listing for O(n)
    candidates per saturated bucket; every emitted pair still passes
    the exact-Jaccard verify tier, and q45's transitive closure
    reconnects the clique through its representative. Non-rep members
    of a saturated bucket pair with each other/other buckets only via
    their OTHER bands (or not at all) — the documented recall trade.

    1. shingling: distinct 3-word shingles (see shingles_str — unigram
       sets mega-bucket on low-vocab corpora);
    2. signature: 24 min-hashes per doc (one narrow scan);
    3. banding: 12 bands × 2 rows hashed to a bucket id;
    4. candidates: self-EQUI-join on (band, bucket) — shuffle on the
       bucket key, never a cross join;
    5. verify: exact STRING-shingle Jaccard on candidates only.

    Probability a pair with Jaccard s collides: 1-(1-s^2)^12. The
    oracle is the FULL exact-Jaccard pair set, so recall is a
    correctness surface, not just a quality knob: 12 bands put the
    per-pair miss at 3e-4 right AT τ=0.7 and ~5e-6 at s=0.8 — the
    minimum Jaccard any true pair in the generated corpora actually
    exhibits (measured; near-dup fixtures are mutated copies, their
    overlap clusters ≥0.8). 8 bands left ~3e-4 at s=0.8, i.e. ~7%
    odds of ONE missed pair somewhere on a regenerated fixture —
    the flagged fragility. The extra 8 hash families cost ~0.2 s at
    sf0.1 (the signature pass is ~25% of runtime) and the recall-1.0
    pin in test_llm_ops.py re-proves the equality on every pytest
    against the live fixtures, so a future corpus that beats these
    odds fails in-repo before any driver run.

    The verify tier runs on string shingles (not the 64-bit hashed
    ones used for signatures), so the emitted pair set is definable
    without reference to xxhash: exactly {pairs with string-shingle
    Jaccard ≥ τ} ∩ {LSH candidates}. With the recall above, that
    equals the full exact-Jaccard pair set — the DuckDB oracle in
    queries.py computes that full set, and tests pin the equality.
    """
    # the LSH join moves ONLY (doc_id, band, bucket) — never the
    # shingle arrays. Shipping payloads through a bands-way explode
    # multiplies shuffle bytes by |bands| on both join sides; at 100 TB
    # that dominates the whole job. Arrays are re-attached afterwards,
    # for the (by-construction rare) candidate pairs only.
    # The bucket table is the lightweight proxy (~24 B/doc/band) of the
    # full-corpus signature pass, materialized so that pass runs once:
    # unmaterialized, the plan repeats it for every reference to the
    # buckets (OPTIMIZATION_r14.md).
    buckets = band_buckets(
        spread_single_split_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
        n_hashes,
        bands,
    ).localCheckpoint()

    star = None
    if saturated_bucket_cap is not None:
        # per-(band,bucket) size + representative: one partial+final
        # agg on the same key the candidate join shuffles on
        stats = buckets.groupBy("band", "bucket").agg(
            F.count("*").alias("bn"), F.min("doc_id").alias("rep")
        )
        bk = buckets.join(stats, ["band", "bucket"])
        star = bk.filter(
            (F.col("bn") > saturated_bucket_cap) & (F.col("doc_id") != F.col("rep"))
        ).select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        buckets = bk.filter(
            (F.col("bn") <= saturated_bucket_cap) | (F.col("doc_id") == F.col("rep"))
        ).select("doc_id", "band", "bucket")

    pair_cands = _band_pairs(buckets)
    if star is not None:
        pair_cands = pair_cands.unionByName(star)
    cand_ids = (
        pair_cands.dropDuplicates(["doc_a", "doc_b"])
        # cand_ids feeds TWO consumers below (the broadcast id-probe
        # into documents and the final pair join); bounded by the
        # candidate count, so the checkpoint is cheap at any scale and
        # the candidate join + dedup run once instead of once per
        # consumer (OPTIMIZATION_r14.md).
        .localCheckpoint()
    )
    # verify tier: re-shingle ONLY the candidate docs (a second tiny
    # pass beats caching the full corpus' arrays or recomputing them
    # per join side — the sig branch stays the single full-corpus
    # pass). STRING shingles here: cross-engine-reproducible exactness.
    # Both verify-tier sides are bounded by the CANDIDATE count — LSH's
    # whole premise is candidates ≪ corpus — so broadcast them
    # explicitly: the id-list probe into documents and the two
    # shingle-reattach joins each collapse from a 3-stage shuffle join
    # to a map-side hash join (measured ~0.25 s of pure scheduling
    # overhead at sf0.1; at cluster scale it keeps the full-corpus scan
    # shuffle-free). If a corpus ever produced corpus-scale candidates,
    # the banding parameters are what's wrong, not this join strategy.
    cand_doc_ids = F.broadcast(
        cand_ids.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    # materialized before the broadcast: the table is referenced for
    # both pair sides, and each broadcast build would otherwise re-run
    # the documents probe + shingling (bounded by the candidate count)
    toks_small = F.broadcast(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(cand_doc_ids, "doc_id")
        .select("doc_id", shingles_str(F.col("text")).alias("toks"))
        .localCheckpoint()
    )
    cand = cand_ids.join(
        toks_small.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")),
        "doc_a",
    ).join(
        toks_small.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")),
        "doc_b",
    )
    jac = (
        F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
        / F.size(F.array_union("toks_a", "toks_b"))
    )
    return (
        cand.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits a signed 64-bit long


def md5_feature_hash(col: Column) -> Column:
    """Uniform 60-bit feature hash = first 15 hex chars of md5,
    base-converted to a long. md5-based (not xxhash64) deliberately:
    every engine renders the same lowercase hex for the same UTF-8
    bytes, so an external oracle (DuckDB: CAST('0x'||substring(md5(t),
    1,15) AS BIGINT)) reproduces the hash bit-for-bit — that is what
    upgrades SimHash from rows-only to value-hash-checked."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _simhash_fingerprints(
    hashed: DataFrame, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, array<long> feature hashes) → (doc_id, sim)
    fingerprints via per-bit majority vote: for each bit i, count
    features with bit i set; fingerprint bit i = (count > n/2).

    Shape: ``hashed`` is one (doc_id, h) ROW per feature (explode
    before hashing, so the md5+conv runs as a codegen'd row expression,
    not inside an interpreted array transform), then ``bits`` SUM
    aggregates in one partial+final hash agg. Measured ~4× faster than
    the equivalent array-algebra form (``bits`` × F.filter passes):
    higher-order array functions are interpreted per element in Spark,
    while the explode+agg pipeline stays inside whole-stage codegen
    with map-side partial aggregation — also the right distributed
    shape, since the shuffle carries one 60-counter row per doc, not
    the shingle payload."""
    ex = hashed
    per_bit = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    counts = ex.groupBy("doc_id").agg(F.count("*").alias("n"), *per_bit)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft, not lit(1 << i): a high bit as a Python int would
        # overflow the JVM signed long that lit() builds
        mask = F.shiftleft(F.lit(1).cast("long"), i)
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{i}") * 2 > F.col("n"), mask).otherwise(
                F.lit(0).cast("long")
            )
        )
    return counts.select("doc_id", sim.alias("sim"))


def _simhash_document_fingerprints(docs: DataFrame) -> DataFrame:
    """q39's front: (doc_id, text) → distinct string 3-shingles → md5
    feature hashes → (doc_id, sim) fingerprints."""
    sh_rows = docs.select(
        "doc_id", F.explode(shingles_str(F.col("text"))).alias("s")
    )
    hashed = sh_rows.select("doc_id", md5_feature_hash(F.col("s")).alias("h"))
    return _simhash_fingerprints(hashed).select("doc_id", "sim")


def _chunk_pairs(fp: DataFrame) -> DataFrame:
    """q39's pigeonhole candidate stage: the (chunk_idx, chunk_value)
    equi-join of 4×15-bit fingerprint chunks, one (doc_a < doc_b,
    hamming) row per matching chunk, before the Hamming ≤ k filter."""
    chunks = fp.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("sim", 15 * i).bitwiseAND(F.lit(0x7FFF)).alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sim", "c.ci", "c.cv")

    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return a.join(
        b,
        (F.col("a.ci") == F.col("b.ci"))
        & (F.col("a.cv") == F.col("b.cv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        hamming.alias("hamming"),
    )


def dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ k.

    Pigeonhole blocking: split the 60-bit fingerprint into 4×15-bit
    chunks; any pair within distance 3 matches on ≥1 chunk, so
    candidates come from an equi-join on (chunk_idx, chunk_value) —
    same shuffle-not-crossjoin shape as MinHash-LSH. Unlike LSH the
    guarantee is EXACT (pigeonhole, not probability): the result is
    the complete set of pairs at distance ≤ 3, which is why the DuckDB
    all-pairs oracle in queries.py can hash-match it.

    Features are distinct 3-word string shingles hashed with
    md5_feature_hash — engine-independent, see that docstring."""
    # materialize the fingerprints BEFORE the self-join: the join keys
    # are (chunk_idx, chunk_value), so the two sides do NOT share an
    # exchange (verified in the physical plan — two independent
    # fingerprint aggregation subtrees), and without this the md5 pass
    # over every shingle (the dominant cost) runs twice. One (doc_id,
    # sim) row per document — tiny to checkpoint at any scale.
    fp = _simhash_document_fingerprints(
        spread_single_split_scan(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
    ).localCheckpoint()
    return (
        _chunk_pairs(fp)
        # r14 (guide §2.3 "project/filter before the exchange"): the
        # hamming bound is applied BEFORE the (doc_a, doc_b) dedup
        # shuffle — hamming is a pure function of the two fingerprints,
        # so every duplicate of a pair carries the same value and
        # filter∘dropDuplicates ≡ dropDuplicates∘filter; the dedup
        # exchange now moves only the ≤k pairs instead of every
        # chunk-collision candidate
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def cluster_labels(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_iters: int = 20,
) -> DataFrame:
    """Converged connected-component labels (doc_id, lbl) over the
    near-dup pair graph — the shared core of dedup_clusters and
    dedup_keep_canonical. Propagation runs over the EDGE-INCIDENT
    nodes only (graph-sized frames per round, not corpus-sized);
    singleton documents rejoin as lbl = doc_id after convergence. The
    node labels are localCheckpointed every round and the returned
    corpus-complete frame is checkpointed too, so
    downstream consumers never replay the propagation loop."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.localCheckpoint()

    # Propagate labels over the EDGE-INCIDENT nodes only: a document
    # with no near-dup edge keeps lbl = doc_id at every round, so it
    # rejoins after convergence (left join below) with an identical
    # result (OPTIMIZATION_r14.md). edges holds both orientations, so
    # src covers every endpoint, and the first step (every label
    # starts as doc_id) is one groupBy over the edge list.
    stepped = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("lbl"))
        .select(F.col("src").alias("doc_id"), F.col("src").alias("old_lbl"), "lbl")
    )
    for _ in range(max_iters):
        # fixpoint = zero labels changed this round, counted while the
        # round's checkpoint runs. A changed-row count (not a label-sum
        # comparison) stays overflow-free at any doc_id scale and is
        # sound under ANSI arithmetic.
        changed = Observation()
        labels = (
            stepped.observe(
                changed,
                F.count(F.when(F.col("lbl") != F.col("old_lbl"), 1)).alias("n"),
            )
            .localCheckpoint()
            .select("doc_id", "lbl")
        )
        if changed.get["n"] == 0:
            break
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(nbr_min, labels.doc_id == nbr_min.src).select(
            "doc_id",
            F.col("lbl").alias("old_lbl"),
            F.least("lbl", "nbr_lbl").alias("lbl"),
        )
    else:
        # Falling through with partial propagation would silently emit
        # SPLIT clusters (wrong reps/sizes) — fail loudly instead; the
        # caller can raise max_iters for pathologically deep chains.
        raise RuntimeError(
            f"cluster_labels: label propagation did not converge within "
            f"{max_iters} rounds — component diameter exceeds the cap; "
            f"raise max_iters"
        )
    # Reattach the singleton documents (lbl = doc_id). The node-label
    # side is converged and checkpointed (graph-sized, broadcastable),
    # so each consumer pays one corpus scan + a broadcast-shaped join
    # — never the propagation loop.
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("lbl")
        )
        .localCheckpoint(eager=False)
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every
    document gets a ``cluster_rep`` (the minimum doc_id reachable
    through Jaccard-≥-τ edges) and the component size. This is the
    step that turns pairwise near-dup DETECTION into actual dedup
    GROUPS — transitive closure matters because near-dup is not
    transitive (A~B, B~C does not imply A~C, yet all three belong to
    one "keep one of these" cluster).

    Distributed algorithm: iterative min-label propagation — each
    round every node takes the min of its own label and its
    neighbors', a join + groupBy-min per round, converging in
    O(component diameter) rounds (near-dup components are shallow; the
    ``max_iters`` cap is a safety rail that RAISES on non-convergence
    rather than emitting silently split clusters, and convergence is
    detected by a changed-label count — overflow-free at any id
    scale). Each round localCheckpoints to truncate lineage — without
    it the plan doubles every iteration.
    At 100 TB this is the standard large-graph CC shape (cf.
    Kiveris et al., "Connected Components in MapReduce"), bounded by
    the edge list, which near-dup blocking already made sparse."""
    labels = cluster_labels(spark, sf_dir, threshold, max_iters)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select("doc_id", F.col("lbl").alias("cluster_rep"), "cluster_size")
        .orderBy("doc_id")
    )


def dedup_keep_canonical(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """The deduplicated corpus itself: one canonical document per
    near-dup cluster (the minimum doc_id — deterministic, engine-
    independent), with how many documents it absorbed. This is the
    operator a training pipeline actually *consumes* — q45's clusters
    answer "what groups exist", this answers "which rows survive":
    the output IS the post-dedup keep-list to join the corpus against.

    Shape: cluster labels (see cluster_labels; converged once per
    call, checkpointed) → filter to self-representing rows
    → one equi-join back to documents for the surviving rows'
    metadata. The join is keyed on doc_id, so at 100 TB it
    co-partitions with the corpus scan; no new shuffle shape beyond
    what clustering already did. Singleton clusters pass through
    (n_merged=1) — dedup must never drop unique documents."""
    labels = cluster_labels(spark, sf_dir, threshold)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return (
        labels.filter(F.col("doc_id") == F.col("lbl"))
        .join(sizes, "lbl")
        .join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("cluster_size").cast("long").alias("n_merged"),
        )
        .orderBy("doc_id")
    )


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ τ within the same ``label``
    block (blocking bounds the pair space exactly like ``source``
    does for text). Dot products fold in double precision, in array
    order — bit-reproducible.

    Default τ=0.4 is fixture-calibrated: the synthetic embeddings are
    near-random (max within-label cosine ≈ 0.47), so a production-
    grade 0.9+ threshold would correctly-but-uninformatively return
    zero pairs. Real corpora use 0.9–0.98."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dot = lambda u, w: F.aggregate(  # noqa: E731
        F.zip_with(u, w, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # norms are PER-VECTOR: computing them once before the join (and
    # excluding zero-norm vectors — no defined direction; 0/0 cosine
    # is an ANSI runtime error and a cross-engine NULL/NaN divergence,
    # the oracle carries the same guard) leaves ONE interpreted
    # 64-dim fold per pair instead of three — measured 2.4× at sf0.1
    # (10.0 → 3.9 s), values bit-identical (same folds, same
    # division grouping)
    e = e.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v")))).filter(
        F.col("nrm") > 0
    )
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def oriented_dedup_edges(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Degree-oriented edge list of the near-dup pair graph: each
    undirected edge is directed from its LOWER-degree endpoint to its
    higher-degree endpoint (tie broken by doc_id, so the orientation
    is a total order and acyclic). Columns: src, dst, plus the
    (deg, id) orientation key of each endpoint so downstream joins
    can compare positions in the total order without re-joining
    degrees.

    Why orientation matters at 100 TB: real corpora contain
    boilerplate cliques of 10⁴–10⁶ near-identical documents; any
    un-oriented node-iterator join generates Σ deg(b)² wedge rows —
    a single 10k-clique alone yields ~10⁸ wedges through every
    member. Orientation caps out-degree at O(√E) (a vertex's
    out-edges go only to HIGHER-degree vertices, and there can be at
    most 2√E of those), so wedges joined at the source fall to
    Σ out-deg² ≤ O(E^1.5) — the classic bound (Chiba–Nishizeki;
    Suri & Vassilvitskii's MapReduce formulation)."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionAll(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("v").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("deg").alias("deg_b"))
    # doc_a < doc_b by construction, so on a degree tie doc_a wins
    a_first = F.col("deg_a") <= F.col("deg_b")
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
        )
    )


def _oriented_wedges(o: DataFrame) -> DataFrame:
    """q115's wedge join: pairs of oriented out-edges e1, e2 sharing a
    source with e1.dst ≺ e2.dst, Σ_v C(outdeg(v), 2) rows."""
    e1, e2 = o.alias("e1"), o.alias("e2")
    # e1.dst ≺ e2.dst in the orientation's (deg, id) total order: the
    # closing edge of wedge (src; y, z) is then exactly y→z
    dst_lt = (F.col("e1.deg_dst") < F.col("e2.deg_dst")) | (
        (F.col("e1.deg_dst") == F.col("e2.deg_dst"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    return e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & dst_lt)


def graph_triangles(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Triangle census of the near-dup pair graph — the graph-quality
    diagnostic for dedup clustering (a high clustering coefficient
    means clusters are dense cliques that transitive closure merges
    safely; a low one warns of chain-shaped clusters glued by weak
    links).

    DEGREE-ORIENTED node-iterator (see oriented_dedup_edges): every
    triangle x≺y≺z in (deg, id) order carries oriented edges x→y,
    x→z, y→z, so joining two OUT-edges at their shared source
    (e1.src = e2.src, e1.dst ≺ e2.dst) and probing the closing edge
    e3(e1.dst → e2.dst) counts each triangle exactly once while
    generating only Σ out-deg² ≤ O(E^1.5) wedge rows — immune to the
    giant-clique skew that makes the un-oriented join (Σ deg²)
    explode on boilerplate-heavy corpora (round-4 scale finding).

    Emits one row: vertices, edges, wedges (unordered open+closed
    2-paths, Σ C(deg,2)), triangles, the TRUE global clustering
    coefficient 3·tri/wedges (Watts–Strogatz transitivity, ≤ 1 by
    construction), and the triangles-per-edge density 3·tri/edges
    (renamed honestly — it can exceed 1 on dense graphs and is NOT a
    clustering coefficient; round-4 advisor item)."""
    o = oriented_dedup_edges(spark, sf_dir, threshold).localCheckpoint()
    e3 = o.alias("e3")
    tri = (
        _oriented_wedges(o)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        o.select(F.col("src").alias("v"))
        .unionAll(o.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    stats = deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("global_clustering"),
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_edges"), 6).alias(
            "triangles_per_edge"
        ),
    )


def dedup_semantic(
    spark: SparkSession, sf_dir: str, n_cells: int = 8, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest
    coarse-quantizer cell, then prune cosine-duplicates WITHIN each
    cell, keeping the lowest vec_id of every duplicate pair. Emits one
    row per (non-zero-norm) vector: (vec_id, cell, keep).

    Why this is the 100 TB shape: the whole point of SemDeDup is that
    clustering bounds the pair space — pair work is Σ |cell|², never
    N². Here ``n_cells`` is fixture-sized (8 cells ≈ 60 vectors each
    at sf0.01); a production run scales k ∝ N so the per-cell
    population stays constant, and ``cell`` is the shuffle/partition
    key throughout (the within-cell self-join is an equi-join on
    cell, so Catalyst hash-partitions both sides by cell — no
    cross-join ever materializes). The cell assignment reuses the
    IVF coarse quantizer (one Arrow-matmul batch per partition, see
    similarity._cell_scores); at 100 TB the trained centroids come
    from kmeans_train (q118) and the assignment is the same map-only
    pass IVF indexing already does.

    Determinism/oracle: centroids are the same seeded literals the
    q21/q118 oracles inline; cosines fold in double and are rounded
    to 6dp BEFORE the >= τ compare on both engines, and the fixture's
    minimum |cos − τ| margin (≈5e-4, pinned by a test) is ~500× the
    rounding quantum, so the keep/drop decisions cannot flip
    cross-engine. No reference analog (task.ts has no embeddings);
    north-star LLM-pipeline surface.
    """
    from etl_geonet_quakes_spark.llm.similarity import (
        _as_double,
        _cell_scores,
        _centroids,
        _nonzero,
        cosine,
    )

    cents = _centroids(n_cells)
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    ).select(
        "vec_id",
        "v",
        F.array_min(_cell_scores(F.col("v"), cents))["cell"].alias("cell"),
    )
    a, b = e.alias("a"), e.alias("b")
    dup_pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(cosine(F.col("a.v"), F.col("b.v")), 6) >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        e.join(dup_pairs.withColumn("dropped", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("dropped").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("keep"),
        )
        .orderBy("vec_id")
    )


def graph_pagerank(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    n_iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the near-dup pair graph — the canonical-document
    centrality signal (the highest-rank member of a dup cluster is the
    best keep-candidate: it is the one most-connected to the rest).
    Emits (doc_id, deg, pagerank) after exactly ``n_iters`` power
    iterations at the standard 0.85 damping.

    Distributed shape: each round is one edge-keyed equi-join
    (contribution pr/deg flows src→dst) + one dst-keyed partial+final
    sum — and NOTHING else. The pair graph is SYMMETRIC (both edge
    directions are materialized), so every vertex has in-degree =
    out-degree = deg ≥ 1 and therefore receives at least one
    contribution every round: the contribution aggregate alone covers
    the full vertex set, and the per-round verts left-join the first
    version carried (to re-attach zero-contribution vertices) is
    provably dead weight. No dangling mass either, for the same
    reason, so the teleport term is the constant (1−d)/N. The round-9
    quiet-machine paired A/B (24/24 reps, SCALE.md) measured the old
    shape's per-round lazy localCheckpoint + verts join + eager edge
    checkpoint at ~1.7× total wall: with only n_iters=5 rounds the
    whole loop compiles into ONE job whose shared subplans (``e`` is
    the same DataFrame object every round) reuse shuffle stages, so
    checkpoints bought nothing and cost a materialization each — the
    upstream ``pairs`` frame is already checkpointed inside
    dedup_pair_graph, which is the one that matters. (For an
    unbounded-iteration loop the one-round-deep checkpoint discipline
    of the q45 CC loop still applies; at a fixed 5 rounds it is
    overhead.) At 100 TB the per-round shuffles are edge/vertex-keyed;
    a boilerplate mega-clique concentrates contributions into its
    members' dst keys, which AQE skew-split handles (and unlike
    triangles, PageRank's join work is linear in E per round, so no
    orientation trick is needed).

    Fixed n_iters (not a tolerance stop) is the replay contract, and
    per-round ranks are rounded to 6dp before feeding the next round
    — both engines see identical inputs each round, so cross-engine
    float drift cannot compound (the kmeans_train/q118 convention).
    Reference capability: dedup-graph diagnostics over the upsert-key
    contract (task.ts:195-203) at corpus scale."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(deg, "src")
    verts = deg.select(F.col("src").alias("v"), "deg")
    n = verts.count()
    teleport = (1.0 - damping) / n
    pr = verts.select("v", F.lit(1.0 / n).alias("pr"))
    for _ in range(n_iters):
        contrib = (
            e.join(pr.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("m"))
        )
        # symmetric graph ⇒ every vertex appears as a dst with m > 0,
        # so contrib IS the full next rank vector — no verts re-join
        pr = contrib.select(
            F.col("dst").alias("v"),
            F.round(F.lit(teleport) + damping * F.col("m"), 6).alias("pr"),
        )
    return (
        pr.join(verts, "v")
        .select(F.col("v").alias("doc_id"), "deg", F.col("pr").alias("pagerank"))
        .orderBy("doc_id")
    )


#: Default extended-prefix match requirement (the "k" of the k-prefix
#: filter — Wang et al., SIGMOD 2012, "Can we beat the prefix
#: filtering?"): each doc's prefix is EXTENDED by k−1 elements beyond
#: the theorem-minimal length, and a candidate pair must then produce
#: at least min(k, α) prefix matches. Exact-complete for every k (see
#: ``containment_candidates``); k=2 kills the single-chance-collision
#: pairs that dominate candidate growth on dense corpora (SCALE.md
#: round-8 curve: sf0.1 containment candidates 72,662 → 511 at k=3,
#: within 1.2% of the 505 true pairs, growth now linear in corpus)
#: at the price of k−1 extra prefix rows per doc.
PREFIX_MIN_MATCHES = 3


def _prefix_index(
    s: DataFrame, tau_num: int, tau_den: int, extend: int = 0
) -> DataFrame:
    """SSJoin prefix index over ``s(doc_id, sh: array<string>, …)``:
    one row per (doc, prefix shingle) with the doc's set size ``n``
    and the shingle's 1-based position ``i`` in the global ascending-
    document-frequency order. Document frequency is computed over ALL
    rows of ``s`` — for the cross-corpus join this is the UNION of
    both corpora, which the prefix theorem requires (a single total
    order both sides rank against). Per-doc position via a
    doc-partitioned window rank (no per-doc array build — measured
    equal warm and ~3x better cold vs collect_list+sort+re-explode);
    keep the prefix i ≤ n − ⌈τn⌉ + 1 + ``extend`` (integer ceil; the
    extension feeds the k-prefix match-count filter — a true pair has
    at least 1 + extend prefix matches, capped by α). Extra columns
    of ``s`` beyond doc_id/sh (e.g. a corpus side tag) pass
    through."""
    extra = [c for c in s.columns if c not in ("doc_id", "sh")]
    tok = s.select(
        "doc_id", *extra, F.size("sh").alias("n"), F.explode("sh").alias("t")
    )
    df_tbl = tok.groupBy("t").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "t")
    ranked = tok.join(df_tbl, "t").withColumn("i", F.row_number().over(w))
    pref_len = (
        F.col("n")
        - F.floor((tau_num * F.col("n") + tau_den - 1) / tau_den).cast("int")
        + 1
        + extend
    )
    return ranked.filter(F.col("i") <= pref_len).select(
        "doc_id", *extra, "n", "i", "t"
    )


def prefix_filter_candidates(
    spark: SparkSession,
    sf_dir: str,
    tau_num: int = 7,
    tau_den: int = 10,
    positional: bool = True,
    min_matches: int = PREFIX_MIN_MATCHES,
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) of the SSJoin/PPJoin prefix
    filter — the generation stage of ``dedup_prefix_filter``, split
    out so tests can pin the positional filter's pruning
    (``positional=False`` reproduces the plain SSJoin candidates,
    k = 1 and no positional bound). ``min_matches`` = the k of the
    k-prefix extension (see dedup_prefix_filter's docstring for the
    theorems)."""
    s = spread_single_split_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
    extend = (min_matches - 1) if positional else 0
    prefix = _prefix_index(s, tau_num, tau_den, extend)
    a, b = prefix.alias("a"), prefix.alias("b")
    # size filter: τ·max ≤ min is necessary for J ≥ τ
    cond = (
        (F.col("a.t") == F.col("b.t"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            tau_num * F.greatest(F.col("a.n"), F.col("b.n"))
            <= tau_den * F.least(F.col("a.n"), F.col("b.n"))
        )
    )
    matched = a.join(b, cond)
    if not positional:
        return (
            matched.select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    # PPJoin positional filter, pair-level: J ≥ τ needs overlap
    # o ≥ α = ⌈τ(n_a+n_b)/(1+τ)⌉, and for a TRUE pair the FIRST
    # common shingle m in global order (no commons precede it, so
    # o ≤ 1 + min(n_a−i_m, n_b−j_m)) is guaranteed to be a prefix
    # match (prefix lengths ≥ n − α + 1 because α ≥ ⌈τ·n⌉ under the
    # size filter). min_i ≤ i_m and min_j ≤ j_m over a pair's
    # matches only widen that bound, so filtering on
    # 1 + min(n_a − min_i, n_b − min_j) ≥ α is complete — and it is
    # the aggregated form of the per-match test, so it prunes
    # everything the classic per-probe filter does. Same shuffle
    # shape as the plain distinct: one hash agg on (doc_a, doc_b).
    #
    # k-prefix match count (Wang et al. 2012): with both prefixes
    # extended to n − ⌈τn⌉ + k, the j-th smallest common element
    # (global order) sits at position ≤ j + n_x − o in each side, so
    # for a true pair (o ≥ α ≥ ⌈τ·n_x⌉) the first min(k, o) common
    # elements land inside BOTH prefixes — requiring
    # n_match ≥ least(k, α) is therefore exact-complete, and it kills
    # the chance-single-collision pairs that dominate candidate
    # growth on dense corpora (SCALE.md round-8 curve).
    agg = matched.groupBy(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).agg(
        F.min("a.i").alias("min_i"),
        F.min("b.i").alias("min_j"),
        F.min("a.n").alias("na"),
        F.min("b.n").alias("nb"),
        F.count("*").alias("n_match"),
    )
    alpha = F.floor(
        (tau_num * (F.col("na") + F.col("nb")) + tau_num + tau_den - 1)
        / (tau_num + tau_den)
    )
    ubound = 1 + F.least(
        F.col("na") - F.col("min_i"), F.col("nb") - F.col("min_j")
    )
    return agg.filter(
        (ubound >= alpha)
        & (F.col("n_match") >= F.least(F.lit(min_matches), alpha))
    ).select("doc_a", "doc_b")


def dedup_prefix_filter(
    spark: SparkSession, sf_dir: str, tau_num: int = 7, tau_den: int = 10,
    min_matches: int = PREFIX_MIN_MATCHES,
) -> DataFrame:
    """Exact corpus-wide Jaccard self-join via PREFIX FILTERING
    (Chaudhuri et al. SSJoin 2006; Xiao et al. PPJoin 2011) — the
    deterministic, provably-complete candidate generator that
    complements q38's probabilistic LSH: zero false negatives by
    THEOREM, not by banding odds, and no blocking key needed (q40
    blocks on ``source``; this finds cross-source near-dups too).

    The theorem: order the shingle universe by ascending document
    frequency (ties by shingle string — a total order). If
    J(A,B) ≥ τ then |A∩B| ≥ τ·|A∪B| ≥ τ·max(|A|,|B|), so each set
    can miss at most |X| − ⌈τ·|X|⌉ shared elements; therefore the
    PREFIXES (first |X| − ⌈τ·|X|⌉ + 1 shingles in global order) of A
    and B must intersect. Candidates = equi-join on prefix shingles —
    and because prefixes are the RAREST shingles, the join keys are
    precisely the most selective ones (the frequency order exists to
    minimize bucket sizes; a boilerplate shingle shared by 10⁶ docs
    sorts LAST and never enters a prefix unless τ demands it).

    All threshold arithmetic is INTEGER: ⌈τ|X|⌉ = (τ_num·|X| +
    τ_den − 1) div τ_den, the size filter is τ_num·max ≤ τ_den·min,
    and the verify compare is τ_den·|A∩B| ≥ τ_num·|A∪B| — no float
    boundary anywhere; jaccard is emitted rounded 6dp for display.

    The candidate join carries the PPJoin POSITIONAL filter (the
    100 TB tightening the SSJoin form promises): each prefix token
    keeps its 1-based position i in the doc's global shingle order,
    and a match of token t at (i, j) admits at most
    min(i−1, j−1) + 1 + min(n_a−i, n_b−j) common shingles (commons
    before t, t itself, commons after t — valid for EVERY match, not
    just the first, so filtering per match then de-duplicating pairs
    is complete: a true pair passes at all its matches). Candidates
    whose bound falls below the equivalent-overlap threshold
    α = ⌈τ(n_a+n_b)/(1+τ)⌉ (integer form) never reach the verify
    join. Completeness is a theorem; the pruning it buys on a
    boilerplate corpus is pinned by
    test_ppjoin_positional_filter_prunes_and_is_complete.

    Scale: df table = one hash agg; the doc-side frequency sort is a
    per-doc array sort (collect_list + sort_array, bounded by doc
    length); the candidate join shuffles on shingle string with
    bucket sizes capped by prefix selectivity AND the positional
    bound; verify joins sets back by doc_id — re-shingling ONLY the
    candidate docs (r14, the q38/q180/q215/q216 verify-tier
    discipline: the reattach branches previously re-shingled the
    full corpus before their inner joins dropped non-candidates)."""
    cand = prefix_filter_candidates(spark, sf_dir, tau_num, tau_den,
                                    min_matches=min_matches).localCheckpoint()
    cand_doc_ids = F.broadcast(
        cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
    )
    s = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(cand_doc_ids, "doc_id")
        .select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
        )
        .filter(tau_den * F.col("n_common") >= tau_num * F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_union"), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def graph_bfs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_hops: int = 4,
    seed_mod: int = 97,
) -> DataFrame:
    """Multi-source BFS over the near-dup pair graph: hop distance
    from a deterministic seed set (doc_id ≡ 0 mod ``seed_mod``) up to
    ``max_hops`` — 'how close is every document to a known-bad seed',
    the contamination-blast-radius / transitive-influence query the
    CC labels (q45: WHICH component) and PageRank (q122: HOW central)
    don't answer: HOW FAR.

    Distributed shape (the cluster_labels/q122 loop): symmetric edge
    list built once and locally checkpointed; each round expands only
    the CURRENT frontier (dist == round−1) through one edge-keyed
    equi-join, then folds candidates into the running minimum with a
    vertex-keyed min-agg; the distance vector is lazily checkpointed
    so lineage stays one round deep. Per-round shuffle is bounded by
    the frontier's out-edges — the standard Pregel BFS in DataFrame
    algebra. Fixed max_hops is the replay contract (distances are
    exact small ints; nothing floats)."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dist = docs.filter(F.col("doc_id") % seed_mod == 0).select(
        F.col("doc_id").alias("v"), F.lit(0).alias("dist")
    )
    for h in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == h - 1).select(
            F.col("v").alias("src")
        )
        cand = (
            edges.join(frontier, "src")
            .select(F.col("dst").alias("v"), F.lit(h).alias("dist"))
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("v").alias("doc_id"), "dist").orderBy("doc_id")


def link_prediction_common_neighbors(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    top_n: int = 20,
) -> DataFrame:
    """Link prediction over the near-dup graph: for vertex pairs NOT
    directly connected but sharing ≥1 neighbor, the common-neighbor
    count and neighborhood-Jaccard score — 'which documents are
    probably near-dups the pairwise pass missed' (transitive
    boilerplate families), the classic graph-completion score.

    Shape: symmetric edge list (built once from the checkpointed pair
    graph); wedges u–w–v enumerate via one edge⋈edge equi-join on the
    middle vertex with u < v (each unordered candidate once); a
    broadcast/key-partitioned ANTI join removes already-connected
    pairs; degrees join back for the Jaccard denominator
    |N(u) ∪ N(v)| = deg(u) + deg(v) − cn. Wedge work is Σ_w deg(w)²
    — the hub hazard; at corpus scale a deg-cap pre-filter on the
    middle vertex (drop w with deg > D, losing only scores through
    mega-hubs) bounds it, same discipline as q115's orientation.
    Ties (cn, then u, then v) are fully deterministic.

    r14 (guide §2.4, §8 "decide with small rows"): the final sort key
    (common_neighbors DESC, u, v) is computable BEFORE the two degree
    joins — nb_jaccard never participates in the ordering — so the
    top-n limit moves ahead of them: TakeOrdered selects the same
    top_n rows (the tie-break is a total order), and the degree joins
    then touch top_n rows instead of the whole candidate set, with the
    top_n side broadcast (scale-safe: the build side is ≤ top_n rows
    by construction). Inner deg joins drop nothing: every u, v in a
    wedge appears in sym, so its degree row exists. ``sym`` — bounded
    at 2·|pairs| — is localCheckpointed once for its three consumers
    (both wedge sides + deg) instead of re-unioning per reference."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    x, y = sym.alias("x"), sym.alias("y")
    wedges = x.join(
        y,
        (F.col("x.dst") == F.col("y.src"))
        & (F.col("x.src") < F.col("y.dst")),
    ).select(F.col("x.src").alias("u"), F.col("y.dst").alias("v"))
    cn = wedges.groupBy("u", "v").agg(F.count("*").alias("common_neighbors"))
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    cand = cn.join(edges, ["u", "v"], "left_anti")
    top = cand.orderBy(F.desc("common_neighbors"), "u", "v").limit(top_n)
    deg = sym.groupBy(F.col("src").alias("w")).agg(F.count("*").alias("deg"))
    with_deg_u = F.broadcast(top).join(
        deg.select(F.col("w").alias("u"), F.col("deg").alias("deg_u")), "u"
    )
    out = (
        F.broadcast(with_deg_u)
        .join(deg.select(F.col("w").alias("v"), F.col("deg").alias("deg_v")), "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors")),
                6,
            ).alias("nb_jaccard"),
        )
    )
    return out.orderBy(F.desc("common_neighbors"), "u", "v").limit(top_n)


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup, BAG-OF-WORDS form: lowercase,
    strip every non-alphanumeric-non-space character, collapse
    whitespace, tokenize, distinct + sort the token set, rejoin —
    then group byte-identical NORMALIZED keys and emit
    (canonical=min doc_id, dup) pairs. Catches case/punctuation/
    spacing variants AND word-order permutations / repetition
    variants that raw exact dedup (q41) misses, while staying fully
    deterministic (no similarity threshold — same vocabulary ⇒ same
    group, period). The strictest member of the dedup ladder after
    q41: q38/q40 ≥ τ ⊇ q175 bag-equality ⊇ q41 byte-equality.

    Shape: the normalization is regexp_replaces + split +
    array_distinct + array_sort in the scan stage (whole-stage
    codegen, no UDF); the group is one hash agg on a 64-hex digest
    of the normalized key (shuffle carries the digest, not the
    text); pairs emit via a min-per-group join back. The digest
    group-key is the same trick as q41."""
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(clean, " ")))
        ).alias("norm"),
    ).withColumn("h", F.sha2(F.col("norm"), 256))
    groups = (
        d.groupBy("h")
        .agg(F.min("doc_id").alias("canonical"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        d.join(groups, "h")
        .filter(F.col("doc_id") != F.col("canonical"))
        .select("canonical", F.col("doc_id").alias("dup_id"))
        .orderBy("canonical", "dup_id")
    )


def containment_candidates(
    spark: SparkSession,
    sf_dir: str,
    tau_num: int = 9,
    tau_den: int = 10,
    min_matches: int = PREFIX_MIN_MATCHES,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs of the containment join's
    prefix-filter stage (A-prefix ⋈ B-inverted-index on the shingle,
    with the containment-form positional bound) — the generation
    stage of ``dedup_containment``, split out so the scale-curve
    harness and tests can measure/pin candidate growth. See
    dedup_containment's docstring for the completeness argument.

    ``min_matches`` is the k of the k-PREFIX extension (Wang et al.,
    SIGMOD 2012): A's prefix is extended to |A| − ⌈τ|A|⌉ + k
    elements, and a candidate must then produce ≥ least(k, α) prefix
    ⋈ index matches, α = ⌈τ|A|⌉. Exact-complete for every k: the
    j-th smallest common element (global df order) has at most
    (j−1) commons + (|A| − |A∩B|) non-commons of A before it, so its
    A-position is ≤ j + |A| − |A∩B| ≤ j + |A| − α — inside the
    extended prefix for all j ≤ k; B is the FULL index, so each such
    common element is a match. Candidate pairs sharing only
    j < least(k, α) chance shingles — the population whose growth is
    quadratic on dense corpora — are eliminated before the verify
    join (SCALE.md round-8 curve: the measured fix for the round-7
    ×1,425 candidate blowup; capped counts pinned in
    tests/test_scale_curve.py)."""
    # No spread_single_split_scan: removed in r15 on re-measurement
    # (OPTIMIZATION_r15.md, "q180_dedup_containment: spread REMOVED").
    s = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
    tok = s.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("t"))
    df_tbl = tok.groupBy("t").agg(F.count("*").alias("df"))
    # A-side prefix via the same window-rank form as q125 (no per-doc
    # array build): keep shingles ranked ≤ n − ⌈τn⌉ + k in (df, t)
    # order
    w = Window.partitionBy("doc_id").orderBy("df", "t")
    ranked = tok.join(df_tbl, "t").withColumn("i", F.row_number().over(w))
    pref_len = (
        F.col("n")
        - F.floor((tau_num * F.col("n") + tau_den - 1) / tau_den).cast("int")
        + min_matches
    )
    prefix = ranked.filter(F.col("i") <= pref_len).select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
        F.col("i").alias("ia"), "t",
    )
    # the inverted index reuses the SAME ranked frame (positions come
    # free), so the containment-form positional filter costs nothing
    # extra: for a true pair the FIRST common shingle (no commons
    # precede it) is in A's prefix, so
    # o ≤ 1 + min(n_a − min_i, n_b − min_j) must reach ⌈τ·n_a⌉
    inv = ranked.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"),
        F.col("i").alias("ib"), "t",
    )
    alpha = F.floor(
        (tau_num * F.col("n_a") + tau_den - 1) / tau_den
    )
    return (
        prefix.join(inv, "t")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("ia").alias("min_i"),
            F.min("ib").alias("min_j"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.count("*").alias("n_match"),
        )
        .filter(
            (
                1
                + F.least(
                    F.col("n_a") - F.col("min_i"),
                    F.col("n_b") - F.col("min_j"),
                )
                >= alpha
            )
            & (F.col("n_match") >= F.least(F.lit(min_matches), alpha))
        )
        .select("doc_a", "doc_b")
    )


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    tau_num: int = 9,
    tau_den: int = 10,
    min_matches: int = PREFIX_MIN_MATCHES,
) -> DataFrame:
    """Asymmetric CONTAINMENT join: pairs where ≥ τ of A's shingles
    appear in B (|A∩B|/|A| ≥ τ, A ≠ B) — the subset-duplication
    detector Jaccard structurally misses: a document wrapped in a
    large boilerplate frame has tiny Jaccard but total containment.

    Prefix filter, containment form: if |A∩B|/|A| ≥ τ then A misses
    at most |A| − ⌈τ|A|⌉ shared shingles, so A's PREFIX (first
    |A| − ⌈τ|A|⌉ + 1 shingles in ascending-df order) must intersect
    B's FULL set — candidates = A-prefix ⋈ B-inverted-index on the
    shingle, keys being A's RAREST shingles (minimal buckets). There
    is no symmetric size filter (small A can be contained in huge B
    — that asymmetry is the point); direction matters, so both
    orientations of a pair can emit.

    The candidate stage also carries the containment-form POSITIONAL
    filter (q125's pair-level PPJoin bound): both sides reuse one
    window-ranked frame so positions are free, and a pair survives
    only if 1 + min(n_a − min_i, n_b − min_j) ≥ ⌈τ·n_a⌉ — complete
    because a true pair's first common shingle is a prefix match and
    the minima only widen its bound (measured ~25% off the verify
    tier at sf0.1; the test_containment_completeness_bruteforce
    equality pins zero loss). Verify is exact integer arithmetic:
    τ_den·|A∩B| ≥ τ_num·|A| — no float boundary. The candidate stage
    is split out as ``containment_candidates`` so the scale-curve
    harness (tools/scale_curve.py, tests/test_scale_curve.py) can
    measure candidate growth across fixture scales.

    r14 (guide §1.2): the verify tier re-shingles ONLY candidate
    docs — the two reattach branches each re-shingled the full
    corpus before their inner joins dropped the non-candidates (the
    q38/q215/q216 verify-tier discipline; identical output)."""
    cand = containment_candidates(spark, sf_dir, tau_num, tau_den,
                                  min_matches=min_matches).localCheckpoint()
    cand_doc_ids = F.broadcast(
        cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
    )
    s = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(cand_doc_ids, "doc_id")
        .select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.size("sh_a").alias("n_a"),
        )
        .filter(tau_den * F.col("n_common") >= tau_num * F.col("n_a"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            F.round(F.col("n_common").cast("double") / F.col("n_a"), 6).alias(
                "containment"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def density_outliers(
    spark: SparkSession, sf_dir: str, n_cells: int = 8, threshold: float = 0.4
) -> DataFrame:
    """Embedding density diagnostic: per vector, how many SAME-CELL
    neighbors sit at cosine ≥ τ — the local-density score behind
    noise filtering (0 close neighbors ⇒ isolated candidate junk) and
    duplicate-cluster sizing (large counts ⇒ boilerplate mass), the
    degree view of the same blocked neighbor graph q119 collapses
    into keep/drop bits.

    Same 100 TB shape and determinism contract as q119 (shared cell
    quantizer, Σ|cell|² pair bound, cosine rounded 6dp BEFORE the τ
    compare, the fixture's |cos − τ| margin pinned by the q119
    tests); the only new algebra is a per-vector count instead of a
    min-id prune."""
    from etl_geonet_quakes_spark.llm.similarity import (
        _as_double,
        _cell_scores,
        _centroids,
        _nonzero,
        cosine,
    )

    cents = _centroids(n_cells)
    e = _nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("v")
        )
    ).select(
        "vec_id",
        "v",
        F.array_min(_cell_scores(F.col("v"), cents))["cell"].alias("cell"),
    )
    a, b = e.alias("a"), e.alias("b")
    close = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .filter(F.round(cosine(F.col("a.v"), F.col("b.v")), 6) >= threshold)
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.count("*").alias("n_close"))
    )
    return (
        e.join(close, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_close", F.lit(0)).alias("n_close"),
            (F.coalesce("n_close", F.lit(0)) == 0).alias("is_isolated"),
        )
        .orderBy("vec_id")
    )


def weighted_shortest_path(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_hops: int = 4,
    seed_mod: int = 97,
) -> DataFrame:
    """Weighted shortest distance over the near-dup graph (bounded
    Bellman–Ford): like q146's BFS but edges carry the INTEGER
    dissimilarity |A∪B| − |A∩B| (the token symmetric-difference
    count), so the distance answers 'how much text actually changed
    along the chain' — 1 hop across a heavy edit can cost more than
    3 hops of near-identical copies, which hop count alone cannot
    express. Seeds: doc_id ≡ 0 mod ``seed_mod``, distance 0.

    Integer weights make every path cost exact (no float-sum
    ordering anywhere); ``max_hops`` relaxation rounds give the
    standard bounded Bellman–Ford (exact for all paths of ≤ that
    many edges — the replay contract, same as q146's fixed hops).

    Distributed shape = the q122/q146 loop: symmetric weighted edge
    list localCheckpointed once; per round one edge-keyed equi-join
    expands the CURRENT distance vector and a vertex-keyed min-agg
    folds candidates; lineage stays one round deep. Per-round
    shuffle is bounded by E."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("tk")
    )
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"))
    wedges = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_union("tk_a", "tk_b"))
                - F.size(F.array_intersect("tk_a", "tk_b"))
            ).cast("long").alias("w"),
        )
    )
    edges = wedges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"), "w"
    ).unionAll(
        wedges.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"), "w"
        )
    ).localCheckpoint()
    dist = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % seed_mod == 0)
        .select(F.col("doc_id").alias("v"), F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(max_hops):
        cand = (
            dist.join(edges, dist.v == edges.src)
            .select(F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("v").alias("doc_id"), "dist").orderBy("doc_id")


def dedup_savings_report(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Dedup ROI report: for each tier of the dedup ladder — exact
    (byte-identical), normalized (bag-of-words), near-dup (connected
    components at Jaccard ≥ τ) — how many documents and tokens that
    tier would remove from the RAW corpus, and the document share —
    the summary a data-recipe review reads before paying for the more
    expensive tier (each tier subsumes the previous, so the marginal
    rows quantify what the extra compute buys).

    Removal rule per tier: every non-canonical member of a group
    (canonical = min doc_id — exact-dedup's keeper rule, the CC rep
    for near-dup). All counts exact integers; one scan computes
    digests + token counts, the near-dup tier reuses the shared CC
    labels."""
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.md5("text").alias("fp_exact"),
        F.sha2(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(clean, " ")))),
            256,
        ).alias("fp_bag"),
    )
    labels = cluster_labels(spark, sf_dir, threshold)
    d = d.join(labels.select("doc_id", F.col("lbl").alias("rep")), "doc_id")
    w_exact = Window.partitionBy("fp_exact")
    w_bag = Window.partitionBy("fp_bag")
    flagged = d.select(
        "n_tok",
        (F.col("doc_id") != F.min("doc_id").over(w_exact)).alias("r_exact"),
        (F.col("doc_id") != F.min("doc_id").over(w_bag)).alias("r_bag"),
        (F.col("doc_id") != F.col("rep")).alias("r_near"),
    )
    tot = flagged.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(c), 1).otherwise(0)).alias(f"d_{c}")
            for c in ("r_exact", "r_bag", "r_near")
        ],
        *[
            F.sum(F.when(F.col(c), F.col("n_tok")).otherwise(0)).alias(f"t_{c}")
            for c in ("r_exact", "r_bag", "r_near")
        ],
    )
    tiers = [
        ("1_exact", "r_exact"),
        ("2_normalized_bag", "r_bag"),
        ("3_near_dup_cc", "r_near"),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("tier"),
                F.col(f"d_{c}").alias("n_docs_removed"),
                F.col(f"t_{c}").alias("n_tokens_removed"),
                F.round(F.col(f"d_{c}") / F.col("n_docs"), 6).alias(
                    "pct_docs_removed"
                ),
            )
            for name, c in tiers
        ]
    )
    return (
        tot.select(F.explode(rows).alias("r"))
        .select("r.tier", "r.n_docs_removed", "r.n_tokens_removed",
                "r.pct_docs_removed")
        .orderBy("tier")
    )


def local_clustering_coefficient(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """PER-VERTEX (local) clustering coefficient of the near-dup
    graph — the node-level complement of q115's global census: which
    documents sit in dense duplicate cliques (cc → 1, safe to
    collapse) versus chain joints gluing unrelated clusters together
    (cc → 0, the transitive-closure false-merge risk q45 inherits).

    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2, NULL below —
    exact integers in, one guarded double division out (the q183
    ANSI discipline).

    Shape: triangles ENUMERATED (not just counted) by the same
    degree-oriented wedge join as q115 (Σ out-deg² ≤ O(E^1.5),
    giant-clique immune), then exploded to their three corners for a
    per-vertex count; degrees from one edge-list agg; one left join.
    The oracle recomputes via the naive canonical a<b<c 3-way join —
    per-vertex counts are orientation-invariant, so the equivalence
    of the two enumerations is what the cross-engine hash certifies."""
    o = oriented_dedup_edges(spark, sf_dir, threshold).localCheckpoint()
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    dst_lt = (F.col("e1.deg_dst") < F.col("e2.deg_dst")) | (
        (F.col("e1.deg_dst") == F.col("e2.deg_dst"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & dst_lt)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
            "semi",
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )
    per_v = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        o.select(F.col("src").alias("v"))
        .unionAll(o.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.join(per_v, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            ).alias("local_cc"),
        )
        .orderBy("doc_id")
    )


def cross_corpus_contamination(
    spark: SparkSession,
    sf_dir: str,
    tau_num: int = 7,
    tau_den: int = 10,
    holdout_mod: int = 10,
    min_matches: int = PREFIX_MIN_MATCHES,
) -> DataFrame:
    """Train/test contamination join: exact Jaccard ≥ τ pairs ACROSS
    two disjoint corpora (train = doc_id % holdout_mod ≠ 0, test =
    the rest) via the R-S form of the SSJoin/PPJoin prefix filter —
    the eval-set-leakage audit a training pipeline runs before
    trusting its benchmark numbers. q125 certifies the self-join
    form; this certifies the two-relation form, whose one semantic
    subtlety is that the document-frequency total order MUST be
    computed over the UNION of both corpora (rank against either side
    alone and the two prefixes are cut against different orders, so
    the prefix-intersection theorem no longer holds; `_prefix_index`
    owns that invariant for both callers).

    Candidate join: prefix-shingle equality restricted to train×test
    (no doc_a < doc_b orientation — the side split already yields
    each pair exactly once), with the same integer size filter
    (τ·max ≤ τ·min form) and the pair-level PPJoin positional bound
    1 + min(n_a − min_i, n_b − min_j) ≥ α carried over unchanged —
    both theorems are side-agnostic. Verify = exact integer-compared
    set Jaccard, zero false negatives by construction.

    Scale: identical shape to q125 (df hash-agg, rank window, equi-
    join on rarest shingles), but the candidate bucket cost is
    |train ∩ bucket|·|test ∩ bucket| instead of the self-join square —
    strictly cheaper on the same corpus. Reference analog: none
    (task.ts has no dedup); north-star LLM-pipeline mandate."""
    docs = spread_single_split_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id",
        shingles_str(F.col("text"), 3).alias("sh"),
        (F.col("doc_id") % holdout_mod == 0).alias("is_test"),
    )
    prefix = _prefix_index(docs, tau_num, tau_den, min_matches - 1)
    a = prefix.filter(~F.col("is_test")).alias("a")
    b = prefix.filter(F.col("is_test")).alias("b")
    cond = (
        (F.col("a.t") == F.col("b.t"))
        & (
            tau_num * F.greatest(F.col("a.n"), F.col("b.n"))
            <= tau_den * F.least(F.col("a.n"), F.col("b.n"))
        )
    )
    matched = a.join(b, cond)
    agg = matched.groupBy(
        F.col("a.doc_id").alias("doc_train"), F.col("b.doc_id").alias("doc_test")
    ).agg(
        F.min("a.i").alias("min_i"),
        F.min("b.i").alias("min_j"),
        F.min("a.n").alias("na"),
        F.min("b.n").alias("nb"),
        F.count("*").alias("n_match"),
    )
    alpha = F.floor(
        (tau_num * (F.col("na") + F.col("nb")) + tau_num + tau_den - 1)
        / (tau_num + tau_den)
    )
    ubound = 1 + F.least(
        F.col("na") - F.col("min_i"), F.col("nb") - F.col("min_j")
    )
    # k-prefix match count — same exact-completeness argument as
    # prefix_filter_candidates (side-agnostic: positions are ranked
    # against the union-wide order both corpora share)
    # r14 (guide §1.2): materialize the bounded candidate set once and
    # re-shingle ONLY candidate docs on the verify tier — the two
    # reattach branches below each re-shingled the FULL corpus before
    # their inner join threw the non-candidates away (the q38/q216
    # verify-tier discipline; identical output, 2 full shingle passes
    # and their scans removed).
    cand = agg.filter(
        (ubound >= alpha)
        & (F.col("n_match") >= F.least(F.lit(min_matches), alpha))
    ).select("doc_train", "doc_test").localCheckpoint()
    cand_doc_ids = F.broadcast(
        cand.select(
            F.explode(F.array("doc_train", "doc_test")).alias("doc_id")
        ).distinct()
    )
    docs_small = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(cand_doc_ids, "doc_id")
        .select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
    )
    sa = docs_small.select(
        F.col("doc_id").alias("doc_train"), F.col("sh").alias("sh_a")
    )
    sb = docs_small.select(
        F.col("doc_id").alias("doc_test"), F.col("sh").alias("sh_b")
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_train")
        .join(sb, "doc_test")
        .select(
            "doc_train",
            "doc_test",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
        )
        .filter(tau_den * F.col("n_common") >= tau_num * F.col("n_union"))
        .select(
            "doc_train",
            "doc_test",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_union"), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_train", "doc_test")
    )


def minhash_estimator_audit(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = 32,
    n_bands: int = 8,
    tau_num: int = 7,
    tau_den: int = 10,
) -> DataFrame:
    """MinHash/LSH DESIGN AUDIT, exactly oracled: for every TRUE
    near-dup pair (exact Jaccard ≥ τ via the complete prefix-filter
    candidate set — never all-pairs), compute the 32-hash MinHash
    Jaccard ESTIMATE and the number of LSH bands (8 bands × 4 rows)
    the pair collides in. This turns the usually-taken-on-faith LSH
    parameters into measured columns: `n_shared_bands ≥ 1` is the
    recall event q38's banding relies on, and |jaccard_est − jaccard|
    is the estimator error the band/row trade-off is priced against.

    The production MinHash (q38) keys on xxhash64, which only Spark
    implements — fine there, because its oracle checks the VERIFIED
    output. Here the signature itself is the output, so the hash
    families are md5-based (`bigint(md5(seed‖shingle)[:15])`, the
    q43 SimHash discipline): bit-identical in DuckDB, making the
    estimator and band arithmetic cross-engine exact rather than
    statistically argued. Same structure, same min-over-set algebra;
    only the mixing function differs.

    Scale (r14 rewrite, guide §1.2 "don't compute things you throw
    away"): the audited pair set is the prefix-filter candidate
    output — a tiny fraction of the corpus — yet the old plan built
    the 32-family md5 MinHash signature and re-shingled EVERY
    document on all three reattach branches (3 full-corpus shingle
    passes + a full-corpus 32-sweep signature pass, joined down to
    candidates afterwards). Now the candidate pairs are materialized
    once (localCheckpoint — they feed four consumers), their doc ids
    broadcast, and signatures/shingles are computed ONLY for
    candidate docs (the q38 verify-tier discipline). Inner joins on
    doc_a/doc_b never matched non-candidate docs, so the output is
    identical; cost drops from O(corpus · n_hashes) to the q125
    candidate join plus O(candidates · n_hashes).

    r14 session 2 (guide §2.4 duplicated subtrees): the shingle set
    and the 32-hash signature now live in ONE bounded per-doc table,
    localCheckpointed — previously the signature subtree executed
    twice (a-side + b-side reference) and the shingle subtree twice
    more, i.e. 4 broadcast-join+shingle passes and 2×32 md5 sweeps
    per action; now everything per-doc is computed once and the pair
    reattach is two joins against the materialized table instead of
    four against live subtrees. Same expressions, same rounding —
    output identical (parity re-proven).

    r14 session 5 (guide §4.1 "prefer codegen over interpreted
    higher-order functions"): the 32 signature families were
    32 × array_min(transform(sh, md5…)) — higher-order array
    functions evaluate their lambda through the INTERPRETED
    expression evaluator, and md5+conv+substring per element is the
    heavy case where that matters (the _simhash_fingerprints lesson).
    Now the shingles explode once (explode_outer so an empty-shingle
    doc still yields its [null×32] signature row, exactly as
    array_min over an empty array did) and the 32 families are
    32 min() aggregates whose md5 expressions run inside whole-stage
    codegen with map-side partial aggregation; min over the same
    shingle set ⇒ value-identical signature. Same-process interleaved
    A/B: row-identical output, mins 7.10 s → 5.62 s full-query (the
    signature subtree ~4 s → ~2.5 s), and the cold first run 55.9 s
    → 6.6 s (the interpreted form's codegen/eval warm-up dwarfed the
    query)."""
    pairs = prefix_filter_candidates(
        spark, sf_dir, tau_num, tau_den
    ).localCheckpoint()
    cand_doc_ids = F.broadcast(
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )

    def md5_long(seed: int, col: Column) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15),
            16,
            10,
        ).cast("long")

    per_doc = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(cand_doc_ids, "doc_id")
        .select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))
        .select("doc_id", "sh", F.explode_outer("sh").alias("t"))
        .groupBy("doc_id")
        .agg(
            F.first("sh").alias("sh"),
            *[F.min(md5_long(s, F.col("t"))).alias(f"m{s}")
              for s in range(n_hashes)],
        )
        .select(
            "doc_id",
            "sh",
            F.array(*[F.col(f"m{s}") for s in range(n_hashes)]).alias("sig"),
        )
        .localCheckpoint()
    )
    rows_per_band = n_hashes // n_bands
    joined = (
        pairs.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sh_a"),
                F.col("sig").alias("sig_a"),
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sh_b"),
                F.col("sig").alias("sig_b"),
            ),
            "doc_b",
        )
    )
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    band_hit = F.array(
        *[
            F.when(
                sum(
                    (F.element_at("sig_a", b * rows_per_band + r + 1)
                     == F.element_at("sig_b", b * rows_per_band + r + 1)).cast("int")
                    for r in range(rows_per_band)
                )
                == rows_per_band,
                1,
            ).otherwise(0)
            for b in range(n_bands)
        ]
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.filter(tau_den * n_common >= tau_num * n_union)
        .select(
            "doc_a",
            "doc_b",
            F.round(n_common.cast("double") / n_union, 6).alias("jaccard"),
            F.round(
                F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double")
                / n_hashes,
                6,
            ).alias("jaccard_est"),
            F.aggregate(band_hit, F.lit(0), lambda acc, x: acc + x)
            .cast("int")
            .alias("n_shared_bands"),
        )
        .orderBy("doc_a", "doc_b")
    )


def label_propagation(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    seed_mod: int = 7,
    rounds: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation over the near-dup graph:
    seed documents (doc_id ≡ 0 mod ``seed_mod``) carry their ``lang``
    as a trusted label; each round, every still-unlabeled document
    adopts the MODE of its labeled neighbors' labels (ties broken by
    the lexicographically smallest label — deterministic), and
    once labeled a node is CLAMPED (never relabeled). The
    weak-supervision expansion step of a curation pipeline: propagate
    scarce trusted annotations through near-duplicate structure
    instead of re-annotating.

    Graph = the q40/q45 edge set (same-source token-Jaccard ≥
    ``threshold``, via the checkpointed pair graph). seed_mod
    must be COPRIME to the fixture's duplicate-cluster id stride
    (20) or every near-dup neighbor of a seed is itself a seed and
    propagation is vacuously empty — measured, not assumed: mod 7
    labels ~240 docs in round 1 and ~25 in round 2 at sf0.001. Distributed
    shape per round (the q122/q146 loop discipline): one edge-keyed
    equi-join of the CURRENT label frontier against the symmetric
    edge list, one (node, label) count agg, one per-node row_number
    for the deterministic mode, one anti-join to clamp — shuffle
    bounded by the labeled frontier's out-edges, never |V|². Rounds
    are a fixed small constant, so the oracle replays them as
    unrolled SQL layers (no recursion needed) and the result is
    hash-exact. Output: every document with its final label (NULL =
    never reached) and the round that labeled it (0 = seed)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=False)

    labels = docs.filter(F.col("doc_id") % seed_mod == 0).select(
        "doc_id",
        F.col("lang").alias("label"),
        F.lit(0).cast("long").alias("labeled_round"),
    )
    for r in range(1, rounds + 1):
        votes = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label")
                ),
                "dst",
            )
            .join(
                labels.select(F.col("doc_id").alias("src")),
                "src",
                "left_anti",
            )
            .groupBy(F.col("src").alias("doc_id"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("label"))
        new = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "doc_id",
                "label",
                F.lit(r).cast("long").alias("labeled_round"),
            )
        )
        labels = labels.unionAll(new).localCheckpoint(eager=False)
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", "label", "labeled_round")
        .orderBy("doc_id")
    )


def kcore_decomposition(
    spark: SparkSession, sf_dir: str, k: int = 2, rounds: int = 4
) -> DataFrame:
    """k-core peeling of the near-dup graph: repeatedly remove
    vertices whose CURRENT degree is < ``k`` (each removal can expose
    new sub-k vertices) for ``rounds`` fixed rounds — the coreness
    screen that separates dense boilerplate communities (which
    survive peeling) from incidental chains and stars (which unravel
    round by round). Complements q212's clustering coefficient: LCC
    is per-vertex local density; the k-core is the global
    'dense-part' certificate, and 'removed in round r' grades HOW
    peripheral a vertex was.

    The round count is FIXED (not run-to-fixpoint): a round on an
    already-stable graph removes nothing and is a no-op, so the
    result equals the exact k-core whenever the graph converges
    within ``rounds`` — and equals the oracle's identically-unrolled
    peel REGARDLESS (both engines execute the same r rounds; no
    convergence probe, no driver data decision, deterministic plan).
    The sf0.001–0.1 fixtures converge by round 3 (pinned in tests).

    Output: every vertex of the pair graph with its initial degree,
    the round that removed it (0 = survives all rounds) and its
    degree inside the surviving core (0 if removed). Per-round work:
    one degree agg + two anti joins, shuffles bounded by the live
    edge set, which only shrinks; per-round localCheckpoint truncates
    the iterative lineage (the q122/q146 loop discipline)."""
    pairs = dedup_pair_graph(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    verts = edges.select(F.col("src").alias("v")).distinct()
    deg0 = edges.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("initial_deg")
    )
    present = verts
    removed = None
    for r in range(1, rounds + 1):
        deg = edges.groupBy(F.col("src").alias("v")).agg(
            F.count("*").alias("d")
        )
        low = (
            present.join(deg, "v", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) < k)
            .select("v", F.lit(r).cast("long").alias("removed_round"))
            .localCheckpoint(eager=False)
        )
        removed = low if removed is None else removed.unionAll(low)
        present = present.join(low.select("v"), "v", "left_anti")
        edges = (
            edges.join(
                low.select(F.col("v").alias("src")), "src", "left_anti"
            )
            .join(low.select(F.col("v").alias("dst")), "dst", "left_anti")
            .localCheckpoint(eager=False)
        )
    core_deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("core_deg")
    )
    return (
        verts.join(deg0, "v")
        .join(removed, "v", "left")
        .join(core_deg, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "initial_deg",
            F.coalesce("removed_round", F.lit(0)).alias("removed_round"),
            F.coalesce("core_deg", F.lit(0)).alias("core_deg"),
        )
        .orderBy("doc_id")
    )


def degree_assortativity(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman r): the
    Pearson correlation between the degrees at the two ends of every
    edge. Positive r ⇒ high-degree documents cluster together
    (boilerplate cores — safe for transitive-closure dedup);
    negative r ⇒ hubs glued to leaves (star/chain topology, where
    closure over-merges) — the one-number companion to q212's
    per-vertex clustering diagnostic.

    Computed over the DIRECTED edge list (each undirected edge in
    both orientations, the standard formulation, so r is symmetric
    by construction). Every aggregate is an exact BIGINT (M, Σd_u,
    Σd_v, Σd_u·d_v, Σd_u², Σd_v²); r assembles in one double
    expression — deterministic, rounded 6dp; a degree-regular graph
    (zero variance) yields NULL via an explicit guard. The pair
    graph itself is the checkpointed banded build
    (dedup_pair_graph); degrees join back broadcast (vertex count
    ≪ edge count)."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    directed = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = directed.groupBy(F.col("u").alias("w")).agg(F.count("*").alias("deg"))
    e = (
        directed.join(F.broadcast(deg), F.col("u") == F.col("w"))
        .select("u", "v", F.col("deg").alias("du"))
        .join(F.broadcast(deg), F.col("v") == F.col("w"))
        .select("u", "v", "du", F.col("deg").alias("dv"))
    )
    agg = e.agg(
        F.count("*").alias("m_directed"),
        F.sum("du").alias("sdu"),
        F.sum("dv").alias("sdv"),
        F.sum(F.col("du") * F.col("dv")).alias("sdudv"),
        F.sum(F.col("du") * F.col("du")).alias("sdu2"),
        F.sum(F.col("dv") * F.col("dv")).alias("sdv2"),
    )
    nv = deg.agg(F.count("*").alias("n_vertices"))
    m = F.col("m_directed").cast("double")
    cov = m * F.col("sdudv").cast("double") - F.col("sdu").cast(
        "double"
    ) * F.col("sdv").cast("double")
    varu = m * F.col("sdu2").cast("double") - F.col("sdu").cast(
        "double"
    ) * F.col("sdu").cast("double")
    varv = m * F.col("sdv2").cast("double") - F.col("sdv").cast(
        "double"
    ) * F.col("sdv").cast("double")
    return (
        agg.join(F.broadcast(nv), F.lit(True))
        .select(
            "n_vertices",
            (F.col("m_directed") / F.lit(2)).cast("long").alias("n_edges"),
            "m_directed",
            F.when(
                (varu > 0) & (varv > 0),
                F.round(cov / (F.sqrt(varu) * F.sqrt(varv)), 6),
            ).alias("assortativity"),
        )
    )


def feature_hashing_audit(
    spark: SparkSession, sf_dir: str, n_buckets: int = 64
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009) with its collision
    audit: every corpus token is hashed into ``n_buckets`` feature
    slots via the engine-portable md5 family (md5_feature_hash —
    the same 60-bit recipe DuckDB reproduces bit-for-bit), and each
    bucket reports its load, how many DISTINCT tokens collided into
    it, and the share of the dominant token — the purity numbers
    that tell you whether 64 dims is enough before you train on the
    hashed features.

    Shape: explode tokens (scan stage), hash as a codegen'd row
    expression, ONE two-level hash agg ((bucket, token) counts →
    bucket rollup with max_by); shuffles carry (bucket, token,
    count), never text. The bucket table is tiny by construction —
    the audit output is O(n_buckets) regardless of corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    bt = (
        tok.select(
            (md5_feature_hash(F.col("token")) % n_buckets).alias("bucket"),
            "token",
        )
        .groupBy("bucket", "token")
        .agg(F.count("*").alias("c"))
    )
    return (
        bt.groupBy("bucket")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max(F.struct(F.col("c"), F.col("token"))).alias("m"),
        )
        .select(
            "bucket",
            "n_tokens",
            "n_distinct",
            F.col("m")["token"].alias("top_token"),
            F.round(
                F.col("m")["c"].cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("top_share"),
        )
        .orderBy("bucket")
    )


def graph_volume_metrics(spark: SparkSession, sf_dir: str) -> dict:
    """Join/shuffle volumes of the near-dup graph suite, read from the
    operators' own output and stages — the quantities whose growth
    decides whether the graph family's 100× claims hold:

    - ``n_pairs`` / ``n_vertices`` — pair-graph size; every consumer's
      base edge volume (q115's ``n_edges`` / ``n_vertices``).
    - ``pagerank_round_rows`` — rows entering q122's per-round dst-sum
      (= directed edges = 2·n_pairs, constant across rounds).
    - ``tri_wedge_rows`` — rows of q115's oriented wedge join,
      Σ_v C(outdeg(v), 2) under the (deg, id) orientation; the
      Chiba–Nishizeki bound says this stays ≤ O(E^1.5).
    - ``linkpred_wedge_rows`` — the UN-oriented middle-vertex wedge
      volume Σ_w C(deg(w), 2) (q115's ``n_wedges``) that q285/q201's
      joins pay; the hub hazard the deg-cap relief valve would bound
      at corpus scale.
    - ``labelprop_labeled_r1/r2`` — q222's per-round frontier growth
      (vertices labeled in round r).
    - ``kcore_removed_r1..r4`` — q244's peel-round histogram; the
      fixture converging by round 3 means r4 must be 0.

    Every value is a bounded aggregate (counts / ≤rounds-row
    histograms); nothing here collects data rows."""
    tri = graph_triangles(spark, sf_dir).first()
    wedges = _oriented_wedges(oriented_dedup_edges(spark, sf_dir))
    lp_hist = {
        int(r["labeled_round"]): r["n"]
        for r in label_propagation(spark, sf_dir)
        .filter(F.col("labeled_round") > 0)
        .groupBy("labeled_round")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kc_hist = {
        int(r["removed_round"]): r["n"]
        for r in kcore_decomposition(spark, sf_dir)
        .filter(F.col("removed_round") > 0)
        .groupBy("removed_round")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return {
        "n_pairs": tri["n_edges"],
        "n_vertices": tri["n_vertices"],
        "pagerank_round_rows": 2 * tri["n_edges"],
        "tri_wedge_rows": wedges.count(),
        "linkpred_wedge_rows": tri["n_wedges"],
        "labelprop_labeled_r1": lp_hist.get(1, 0),
        "labelprop_labeled_r2": lp_hist.get(2, 0),
        "kcore_removed_r1": kc_hist.get(1, 0),
        "kcore_removed_r2": kc_hist.get(2, 0),
        "kcore_removed_r3": kc_hist.get(3, 0),
        "kcore_removed_r4": kc_hist.get(4, 0),
    }


def lsh_volume_metrics(spark: SparkSession, sf_dir: str) -> dict:
    """Candidate volumes of the two hash-blocked near-dup generators,
    counted on the operators' own candidate stages:

    - ``minhash_candidates`` — q38's distinct band-bucket pairs (a<b)
      before the exact-Jaccard verify tier,
    - ``simhash_candidates`` — q39's distinct chunk-match pairs (a<b)
      before the Hamming ≤ k verify: the pigeonhole equi-join's
      output volume, Σ over (chunk_idx, value) buckets of C(|b|, 2).

    Both are the quantities whose growth decides the 100× claim: a
    banded/blocked join is scale-safe iff candidates track true-pair
    structure, not corpus²."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return {
        "minhash_candidates": _band_pairs(band_buckets(docs)).distinct().count(),
        "simhash_candidates": _chunk_pairs(_simhash_document_fingerprints(docs))
        .select("doc_a", "doc_b")
        .distinct()
        .count(),
    }


def harmonic_closeness(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    max_hops: int = 4,
    seed_mod: int = 97,
) -> DataFrame:
    """Pivot-sampled harmonic closeness centrality over the near-dup
    graph: C_H(v) = Σ_{s∈S, d(s,v)>0} 1/d(s,v) for the deterministic
    pivot set S (doc_id ≡ 0 mod ``seed_mod``, the q146 convention),
    distances capped at ``max_hops`` — the Eppstein–Wang estimator
    shape, completing the centrality ladder (q122 PageRank = flow
    centrality, q115/q212 = local density, this = DISTANCE
    centrality: who sits near everything). Harmonic rather than
    classic closeness because it is well-defined on disconnected
    graphs (unreached pivots contribute 0, not ∞).

    Distributed shape: the q146 multi-source BFS generalized to
    per-pivot states — the frame is (pivot, v, dist), so per-round
    state and shuffle are |S|·|reached|, linear in corpus for a
    fixed pivot sample (the estimator's point: |S| is the knob that
    buys accuracy with pivots, never corpus² work). Each round is
    one edge-keyed equi-join of the round-(h−1) frontier + one
    (pivot, v) min-agg; fixed max_hops is the replay contract.
    Reference capability: dedup-graph diagnostics over the
    upsert-key contract (task.ts:195-203) at corpus scale."""
    pairs = dedup_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dist = docs.filter(F.col("doc_id") % seed_mod == 0).select(
        F.col("doc_id").alias("s"),
        F.col("doc_id").alias("v"),
        F.lit(0).alias("dist"),
    )
    for h in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == h - 1).select(
            "s", F.col("v").alias("src")
        )
        cand = edges.join(frontier, "src").select(
            "s", F.col("dst").alias("v"), F.lit(h).alias("dist")
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("s", "v")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy(F.col("v").alias("doc_id"))
        .agg(
            F.count("*").alias("n_pivots_reached"),
            F.round(
                F.sum(F.lit(1.0) / F.col("dist").cast("double")), 6
            ).alias("harmonic_closeness"),
        )
        .orderBy("doc_id")
    )


def fuzzy_join_deletion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity self-join over customer names via
    DELETION-NEIGHBORHOOD blocking (FastSS, Bocek et al. 2007): each
    name emits its 1-deletion variants plus itself; two names within
    levenshtein ≤ 1 MUST share a variant (substitution xCy/xDy both
    yield xy; insert/delete puts the shorter string in the longer's
    neighborhood; equality shares the string itself), so the
    variant equi-join is a COMPLETE candidate generator, and sharing
    a variant implies lev ≤ 2, so candidates are already
    near-correct before the single exact ``levenshtein`` verify.
    The record-linkage primitive q217's equality blocking cannot
    express: typo-tolerant key matching.

    Scale shape: candidate volume is Σ_variant freq² — bounded by
    true near-duplicate structure, never corpus² (the q38/q180
    discipline applied to edit distance); each name emits len+1
    variants (bounded by the key-length domain), and a pathological
    hot variant takes the q170 fragment-replicate treatment. The
    verify tier is one levenshtein per candidate — both engines'
    built-in, no UDF."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    # r14 (guide §2.4): both sides of the variant self-join are the
    # SAME frame — materialize it once so the scan + len+1-way explode
    # runs once instead of twice (the name-reattach joins read the
    # base table, not this frame, so only the two self-join sides
    # consumed it)
    variants = c.select(
        "id",
        F.explode(
            F.array_union(
                F.transform(
                    F.sequence(F.lit(1), F.length("name")),
                    lambda i: F.concat(
                        F.col("name").substr(F.lit(1), i - F.lit(1)),
                        F.col("name").substr(i + F.lit(1), F.length("name")),
                    ),
                ),
                F.array(F.col("name")),
            )
        ).alias("v"),
    ).localCheckpoint(eager=False)
    a = variants.alias("a")
    b = variants.alias("b")
    # candidates carry IDS ONLY through the variant join + distinct —
    # shuffling the name strings per candidate and deduping wide rows
    # measured 2.2× slower at sf0.1 (9.1 → 4.0 s, bit-identical);
    # names re-attach via two key joins after the pair dedup
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    na = c.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    nb = c.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("id_a", "name_a", "id_b", "name_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )
