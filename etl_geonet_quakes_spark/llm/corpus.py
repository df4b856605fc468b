"""Corpus-preparation operators: the end-to-end shapes a training-data
pipeline runs over raw documents — deterministic sampling and the
dedup→quality-filter→composition pipeline — as single declarative
Spark plans.

Scale posture: every operator here is scan-bound — at most one
hash-shuffle (the exact-dup fingerprint window, the per-doc gram
aggs), broadcast-only joins (decontamination's eval side), no
unbounded self-joins, no driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.functions import knuth_mod32
from etl_geonet_quakes_spark.io import load_table
from etl_geonet_quakes_spark.llm.text import ngram_join, tokens
from etl_geonet_quakes_spark.operators.prefix import two_phase_cumsum


def _hash60(col) -> F.Column:
    """Deterministic uniform 60-bit hash of a string column — the ONE
    md5-based hash family shared across operators (delegates to
    dedup.md5_feature_hash so the bit-compatibility contract has a
    single definition)."""
    from etl_geonet_quakes_spark.llm.dedup import md5_feature_hash

    return md5_feature_hash(col)


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language sampling rates
    applied by thresholding a uniform content-independent hash of the
    key — NOT ``df.sample`` (seed-dependent, partitioning-dependent,
    and not reproducible across engines or reruns).

    ``hash60(doc_id) < rate * 2^60`` keeps each doc independently with
    probability ``rate``, the same docs every run on every engine —
    the property a training-data pipeline needs for resumable /
    auditable subsampling. Stratification is just a per-stratum rate
    expression; no shuffle at all (pure filter, pushed to the scan)."""
    d = load_table(spark, sf_dir, "documents")
    h = _hash60(F.col("doc_id").cast("string"))
    rate = (
        F.when(F.col("lang") == "en", F.lit(0.1))
        .when(F.col("lang") == "de", F.lit(0.3))
        .otherwise(F.lit(0.5))
    )
    thresh = (rate * F.lit(float(1 << 60))).cast("long")
    return (
        d.filter(h < thresh)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def corpus_dedup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    min_tokens: int = 5,
    min_uniqueness: float = 0.2,
) -> DataFrame:
    """End-to-end corpus preparation accounting, one plan:

    1. exact dedup: keep the min doc_id per md5(text) fingerprint;
    2. quality gate on survivors: ≥ ``min_tokens`` tokens and
       distinct-token ratio ≥ ``min_uniqueness``;
    3. per-language composition report: how many documents each stage
       removed and how many tokens survive.

    The per-stage attribution (removed-as-duplicate vs
    removed-as-low-quality vs kept) is what an ablation needs to audit
    a data recipe. Single window over the fingerprint (one shuffle) +
    one final aggregation; thresholds use exact int/int division so
    the gate boundary is engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    staged = d.select(
        "doc_id",
        "lang",
        F.md5("text").alias("fp"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("uniq"),
    ).withColumn(
        "keeper", F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp"))
    )
    q_ok = (F.col("n_tokens") >= min_tokens) & (F.col("uniq") >= min_uniqueness)
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        staged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            one_if(~F.col("keeper")).alias("n_exact_removed"),
            one_if(F.col("keeper") & ~q_ok).alias("n_lowq_removed"),
            one_if(F.col("keeper") & q_ok).alias("n_kept"),
            F.sum(F.when(F.col("keeper") & q_ok, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy("lang")
    )


def decontamination_scan(
    spark: SparkSession,
    sf_dir: str,
    n_eval_docs: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Benchmark decontamination: find training documents that share
    ≥ ``min_shared`` distinct 3-word shingles with any document of a
    held-out eval set (here: the first ``n_eval_docs`` doc_ids play
    the eval split; everything else is the train split). This is the
    cross-DATASET overlap scan every training corpus needs before use —
    related to near-dup detection but asymmetric: the eval side is
    tiny and fixed, the train side is the 100 TB corpus.

    Shape at scale: explode both sides to (shingle, doc) rows,
    broadcast the eval side (eval benchmarks are small by
    construction), equi-join on the shingle, then one partial+final
    count agg per (train, eval) pair — the train corpus streams once,
    nothing large shuffles."""
    from etl_geonet_quakes_spark.llm.dedup import shingles_str

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(shingles_str(F.col("text"))).alias("s")
    )
    eval_side = d.filter(F.col("doc_id") < n_eval_docs).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    train_side = d.filter(F.col("doc_id") >= n_eval_docs).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        train_side.join(F.broadcast(eval_side), "s")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_shared)
        .orderBy("train_doc", "eval_doc")
    )


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the step that turns
    documents into training sequences. Each document yields
    ceil(max(n_tokens - overlap, 1) / stride) windows of
    ``chunk_tokens`` tokens starting every ``stride`` tokens; the
    final window is allowed to be short (no padding here — padding is
    the trainer's concern), and every token lands in at least one
    chunk.

    Pure column algebra: a position sequence → slice → explode, so the
    1→N fan-out stays inside the scan stage with no shuffle until the
    caller aggregates or writes. At 100 TB chunking is scan-bound and
    embarrassingly parallel, which is why it must NOT be a
    groupBy/window (both would shuffle the full token stream)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.ceil(
        F.greatest(n - (chunk_tokens - stride), F.lit(1)).cast("double")
        / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("chunk_len"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.chunk_len").cast("long").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def pack_sequences(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = 256,
    prefix_bucket: int = 4096,
) -> DataFrame:
    """Concat-and-split sequence packing: lay every document's tokens
    end-to-end in doc_id order and cut the stream into fixed
    ``seq_len`` training sequences (documents may straddle a cut — the
    trainer's EOD token marks boundaries). Emits per-sequence packing
    stats: how many documents contribute, how many tokens it holds
    (== seq_len except the tail), and the contributing doc_id range —
    the accounting a data loader needs to address any sequence.

    The global token offset is a prefix sum, and a naive
    ``Window.orderBy(doc_id)`` cumsum is the textbook non-scalable
    plan: Spark executes an un-partitioned ordered window in ONE task.
    This runs the shared two-phase form (operators/prefix.py):

    1. bucket documents by ``doc_id // prefix_bucket``; cumsum WITHIN
       each bucket (``partitionBy(bucket)`` — parallel);
    2. per-bucket totals (tiny: n_docs/prefix_bucket rows) get their
       own exclusive cumsum — the only ordered window, over a
       broadcast-sized input;
    3. broadcast-join the bucket offsets back: global_start =
       bucket_offset + local_cumsum − n_tokens.

    Each document then fans out to the sequences its span overlaps
    (explode of a 1-or-2-element range for seq_len ≫ typical doc) and
    one hash agg per seq_id finishes — shuffle bounded by the doc
    count, never the token stream."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n")
    )
    d = d.withColumn("bkt", (F.col("doc_id") / prefix_bucket).cast("long"))
    d, _ = two_phase_cumsum(d, "bkt", ["doc_id"], "n", "global_end")
    start = F.col("global_end") - F.col("n")
    end = F.col("global_end")
    # integer DIV, not floor(double /): token offsets at 100 TB sit
    # near 2^53 where double division drops low bits
    spans = d.select("doc_id", start.alias("st"), end.alias("en")).select(
        "doc_id",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.expr(f"st DIV {seq_len}"), F.expr(f"(en - 1) DIV {seq_len}")
            )
        ).alias("seq_id"),
    )
    tok_in_seq = F.least(F.col("en"), (F.col("seq_id") + 1) * seq_len) - F.greatest(
        F.col("st"), F.col("seq_id") * seq_len
    )
    return (
        spans.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tok_in_seq).alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("seq_id")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str, pct: int = 95) -> DataFrame:
    """Vocabulary coverage curve, per language: how many distinct
    tokens are needed to cover ``pct``% of all token OCCURRENCES —
    the statistic that sizes a tokenizer's vocab and exposes
    boilerplate-dominated corpora (tiny head vocab covering nearly
    everything).

    Shape: explode → (lang, token) counts → per-lang ordered cumsum
    over the VOCABULARY (already aggregated: |vocab| ≪ |corpus|, and
    the window partitions by lang, so the ordered window never sees
    the raw token stream — the aggregation, not the window, is the
    scale-bearing stage). The coverage boundary is evaluated in exact
    integer cross-multiplication (cum·100 ≥ total·pct), never a float
    ratio, so the answer is bit-identical on any engine. Ties in
    frequency order break by token text — total order, deterministic."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    cum = counts.withColumn("cum", F.sum("c").over(w))
    tot = counts.groupBy("lang").agg(
        F.sum("c").alias("total_tokens"),
        F.count("*").alias("distinct_tokens"),
    )
    covered = (
        cum.join(F.broadcast(tot), "lang")
        # smallest k with cum_k >= pct% of total = #{rows strictly
        # below the threshold} + 1; integer cross-multiply avoids any
        # float boundary ambiguity between engines
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(F.col("cum") * 100 < F.col("total_tokens") * pct, 1).otherwise(0)
            ).alias("below")
        )
        .withColumn(f"vocab_p{pct}", (F.col("below") + 1).cast("long"))
        .drop("below")
    )
    return (
        tot.join(covered, "lang")
        .select("lang", "total_tokens", "distinct_tokens", f"vocab_p{pct}")
        .orderBy("lang")
    )


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1): the
    fraction of a document's n-gram positions occupied by its single
    most frequent 2-gram / 3-gram, plus the duplicate-token fraction
    (1 − distinct/total). Documents dominated by a repeated phrase are
    the classic degenerate web text a quality gate drops.

    Shape: explode grams → per-(doc, gram) count → per-doc max/sum —
    codegen'd partial+final hash aggs keyed on doc_id. Deliberately
    NOT the per-doc array-algebra form (count each distinct gram by
    scanning the array): that is O(doc_len²) per document through
    interpreted lambdas, catastrophic for book-length docs; the
    explode+agg form is linear and shuffle-bounded by the doc count."""
    d = load_table(spark, sf_dir, "documents")

    def gram_frac(gram_n: int, out: str) -> DataFrame:
        toks = tokens(F.col("text"))
        grams = F.when(
            F.size(toks) >= gram_n,
            ngram_join(toks, gram_n),  # zip-sliced fast form, non-distinct
        ).otherwise(F.array().cast("array<string>"))
        rows = d.select("doc_id", F.explode(grams).alias("g"))
        counts = rows.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        return counts.groupBy("doc_id").agg(
            (F.max("c").cast("double") / F.sum("c")).alias(out)
        )

    toks = tokens(F.col("text"))
    base = d.select(
        "doc_id",
        (
            F.lit(1.0)
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("dup_raw"),
    )
    out = (
        base.join(gram_frac(2, "f2"), "doc_id", "left")
        .join(gram_frac(3, "f3"), "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce("f2", F.lit(0.0)), 6).alias("top_2gram_frac"),
            F.round(F.coalesce("f3", F.lit(0.0)), 6).alias("top_3gram_frac"),
            F.round("dup_raw", 6).alias("dup_token_frac"),
        )
        .orderBy("doc_id")
    )
    return out


# PII patterns restricted to the RE2∩Java-common subset so Spark and
# any SQL oracle tokenize identically: no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_NUMBER_RUN = r"[0-9]{9,}"  # phone/SSN/account-shaped digit runs


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask email addresses and long digit runs with
    fixed placeholder tokens and report per-document redaction counts
    — the standard pre-training privacy pass. Deterministic fixed
    placeholders (not hashes) so identical inputs redact identically
    and downstream exact-dedup still collapses them.

    Pure regexp column algebra — codegen'd, scan-bound, no shuffle.
    The digit-run count is taken on the EMAIL-MASKED intermediate, so
    the two counts reconcile exactly with the placeholder tokens in
    clean_text (digits consumed by an email match are not
    double-counted as a number run)."""
    d = load_table(spark, sf_dir, "documents")
    emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0))
    email_masked = F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>")
    numbers = F.size(
        F.regexp_extract_all(email_masked, F.lit(PII_NUMBER_RUN), 0)
    )
    cleaned = F.regexp_replace(email_masked, PII_NUMBER_RUN, "<NUMBER>")
    return d.select(
        "doc_id",
        cleaned.alias("clean_text"),
        emails.cast("long").alias("n_emails"),
        numbers.cast("long").alias("n_number_runs"),
    ).orderBy("doc_id")


def weighted_sample(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each document gets rank key
    u^(1/w) with u uniform in (0,1] and w its weight (here n_chars);
    the k largest keys form an exact weighted sample — the standard
    one-pass distributed algorithm (u^(1/w) order statistics commute
    with partitioning, so a per-partition top-k + global top-k merge
    is exact; Spark's TakeOrderedAndProject IS that plan).

    Determinism: u derives from the md5 60-bit hash of doc_id (the
    engine's cross-engine-exact family, +1 so u>0), not an RNG —
    reproducible across runs, engines and partitionings, like
    stratified_sample. Ranking uses ln(u)/w (monotone in u^(1/w),
    numerically safer than the 1/w-th root); key gaps for continuous
    u dwarf the ~1-ulp libm ln() differences, so the selected SET is
    engine-stable and the oracle replays it exactly."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (_hash60(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(
        float(1 << 60)
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("k_"))
        .orderBy(F.col("k_").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def mixture_sample(
    spark: SparkSession, sf_dir: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based source mixture sampling (the multinomial
    reweighting of Lample & Conneau 2019 / XLM-R, arXiv:1911.02116
    §3): resample so source s's share follows n_s^α instead of n_s —
    α<1 upweights small sources against boilerplate-heavy giants. The
    per-row keep rate is r_s = (n_min/n_s)^(1−α) (∝ n_s^(α−1),
    normalized so the SMALLEST source keeps everything), which needs
    no cross-source sum: n_min comes from a MIN aggregate, so the
    rate is one division + one pow — bit-identical cross-engine,
    unlike a Σ n_t^α denominator whose float summation order is
    engine- and partitioning-dependent.

    Selection is a deterministic hash gate, not rand(): keep iff
    h(doc_id) < r_s with h = (doc_id·2654435761 mod 2³²)/2³² (Knuth
    multiplicative hashing — exact integer arithmetic both engines,
    BIGINT-safe for doc_id < 2³²). Deterministic sampling is the
    100 TB requirement: re-runs, retries, and the train/holdout split
    must all see the same sample (same argument as q100's A-ES
    sampling). The h-vs-rate margin is pinned >> double error by a
    test. Plan: count agg → single-row MIN cross (broadcast) →
    broadcast rate join on source → scan-side filter; the corpus
    never shuffles. No reference analog; north-star surface."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    nmin = counts.agg(F.min("n_s").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "source",
        "n_s",
        F.pow(
            F.col("n_min").cast("double") / F.col("n_s").cast("double"),
            F.lit(1.0 - alpha),
        ).alias("r_s"),
    )
    h = (
        knuth_mod32(F.col("doc_id"), 2654435761).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(h < F.col("r_s"))
        .select(
            "doc_id",
            "source",
            F.col("n_s").alias("n_source"),
            F.round("r_s", 6).alias("keep_rate"),
        )
        .orderBy("doc_id")
    )


def group_reservoir(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Deterministic per-group k-sample: for every source, keep the k
    documents that rank first under an engine-neutral multiplicative
    hash of doc_id — a seeded, replayable 'reservoir' (same corpus →
    same sample, any engine, any partitioning), the per-STRATUM
    counterpart of q46's stratified fraction sample and q100's
    weighted global sample.

    Hash-rank beats rand(): reproducible across engines and runs,
    uniform by Knuth's multiplicative scheme, and join-stable (the
    sample can be re-derived anywhere without shipping it).

    At scale: row_number over (source, hash) windows partition by
    source — parallel across groups; a heavy group is one partition's
    sort of its own rows, and the rank-k cutoff is applied before
    anything else flows downstream. For extreme group sizes the
    two-phase top-k (per-partition local top-k, then merge) is the
    drop-in; at fixture scale Spark's WindowExec + filter is optimal."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = knuth_mod32(F.col("doc_id"), 2654435761)
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= k)
        .select("source", "doc_id", "rank_in_source")
        .orderBy("source", "rank_in_source")
    )


def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting: every document
    assigned by an engine-neutral hash of its id — 80/10/10 by
    ``hash mod 10`` — with per-(split, source) document and token
    counts, the composition report a dataset card needs. Hash-based
    (not random) so the split is REPLAYABLE and join-stable: any
    engine, any partitioning, any rerun lands every doc in the same
    split — the q46/q134 sampling contract applied to the one
    decision a training pipeline must never shuffle under itself.

    One scan → narrow projection → (split, source)-keyed partial+
    final agg. Nothing else; the split column itself is free at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = knuth_mod32(F.col("doc_id"), 2654435761) % F.lit(10)
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket < 9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


def cluster_sample(spark: SparkSession, sf_dir: str, k: int = 2) -> DataFrame:
    """Diversity-preserving dedup: keep up to ``k`` documents per
    near-dup cluster by hash rank — the middle ground between keeping
    everything (q45 only labels) and keep-canonical's single survivor
    (q93): bounded duplication preserves paraphrase diversity a
    training mix may want, while still capping any boilerplate
    clique's contribution at k.

    Builds the converged CC labels (cluster_labels — the q93
    path) + the q134 hash-rank reservoir WITHIN each cluster; emits
    the kept docs with their cluster and rank. Shuffles are
    label-keyed; the rank window partitions by cluster (bounded by
    cluster size, and the giant-clique hazard is exactly what the
    cap is for)."""
    from etl_geonet_quakes_spark.llm.dedup import cluster_labels

    labels = cluster_labels(spark, sf_dir)
    h = knuth_mod32(F.col("doc_id"), 2654435761)
    w = Window.partitionBy("lbl").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        labels.withColumn("rank_in_cluster", F.row_number().over(w))
        .filter(F.col("rank_in_cluster") <= k)
        .select(
            F.col("lbl").alias("cluster_rep"),
            "doc_id",
            "rank_in_cluster",
        )
        .orderBy("cluster_rep", "rank_in_cluster", "doc_id")
    )


def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-cleanup FUNNEL: six sequential gates (Gopher
    word count → word-length band → unique-token ratio → repetition
    cap → PII-free → exact-dedup keep) with per-stage attrition
    accounting (n_in / n_pass / n_fail, n_in telescoping from the
    previous stage) — the report a corpus pipeline publishes with
    every drop, and the composition query over the individual filter
    operators (q121 Gopher, q91 repetition, q92 PII, q41 dedup).

    Every verdict is INTEGER arithmetic (the q121 discipline): word
    bands as sum_len vs 4·n/5·n, uniqueness as 5·uniq ≥ 2·n,
    repetition as 8·top_bigram ≤ n_bigrams (f ≤ 1/8), PII as a match
    count, dedup as min-doc_id-per-digest — no float boundary
    anywhere, so the stage counts are bit-certain cross-engine.

    Shape: one scan computes the five per-doc map-side flags; the
    repetition gate adds one (doc, bigram) hash agg; dedup adds one
    digest agg — both shuffles carry aggregates, never the text. The
    funnel summary is a single-row agg exploded into stage rows."""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    base = d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.size(tk).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(tk, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("sum_len"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_uniq"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(email_re), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
    )
    bg = d.select(
        "doc_id", F.explode(ngram_join(tokens(F.col("text")), 2)).alias("g")
    )
    rep = (
        bg.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("n_bg"))
    )
    keep = base.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flags = (
        base.join(rep, "doc_id", "left")
        .join(keep, "fp")
        .select(
            "doc_id",
            (F.col("n_words") >= 30).cast("int").alias("f1"),
            (
                (F.col("sum_len") >= 4 * F.col("n_words"))
                & (F.col("sum_len") <= 5 * F.col("n_words"))
            ).cast("int").alias("f2"),
            (5 * F.col("n_uniq") >= 2 * F.col("n_words")).cast("int").alias("f3"),
            F.coalesce(
                (8 * F.col("top_bg") <= F.col("n_bg")).cast("int"), F.lit(1)
            ).alias("f4"),
            (F.col("n_emails") == 0).cast("int").alias("f5"),
            (F.col("doc_id") == F.col("keep_id")).cast("int").alias("f6"),
        )
    )
    # telescoping pass prefixes: p_k = f1 AND ... AND f_k
    p = flags
    for k in range(1, 7):
        prev = F.lit(1) if k == 1 else F.col(f"p{k-1}")
        p = p.withColumn(f"p{k}", prev * F.col(f"f{k}"))
    agg = p.agg(
        F.count("*").alias("n0"),
        *[F.sum(f"p{k}").alias(f"n{k}") for k in range(1, 7)],
    )
    stages = [
        "1_gopher_word_count",
        "2_word_length_band",
        "3_unique_token_ratio",
        "4_repetition_cap",
        "5_pii_free",
        "6_exact_dedup_keep",
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(s).alias("stage"),
                F.col(f"n{k-1}").alias("n_in"),
                F.col(f"n{k}").alias("n_pass"),
                (F.col(f"n{k-1}") - F.col(f"n{k}")).alias("n_fail"),
            )
            for k, s in enumerate(stages, start=1)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.n_in", "r.n_pass", "r.n_fail")
        .orderBy("stage")
    )


def leakage_safe_folds(
    spark: SparkSession, sf_dir: str, k: int = 5, threshold: float = 0.8
) -> DataFrame:
    """Leakage-safe cross-validation folds: assign documents to k
    folds by hashing their near-dup CLUSTER representative, so two
    near-duplicates can never land in different folds — the split
    discipline (train/eval contamination guard) a naive
    hash(doc_id) % k split violates every time a template family
    straddles the cut. Complements q153 (plain deterministic split)
    and q45 (the clusters themselves).

    fold = hash60(rep) % k with the engine-wide md5 hash family, so
    the assignment is content-independent, engine-independent, and
    reproducible; the per-fold report (docs, clusters, tokens) is
    what a data-recipe audit records. By construction no near-dup
    pair crosses folds — pinned by
    test_leakage_safe_folds_never_split_a_cluster.

    Shape: CC labels from the checkpointed pair graph (q45's
    iterative min-label propagation), one md5 projection, one fold
    hash agg."""
    from etl_geonet_quakes_spark.llm.dedup import cluster_labels, md5_feature_hash

    labels = cluster_labels(spark, sf_dir, threshold)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    folds = labels.select(
        "doc_id",
        F.col("lbl").alias("rep"),
        F.pmod(
            md5_feature_hash(F.col("lbl").cast("string")), F.lit(k)
        ).alias("fold"),
    )
    return (
        folds.join(d, "doc_id")
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("fold")
    )


def temperature_mixture(
    spark: SparkSession, sf_dir: str, temperature: float = 0.5
) -> DataFrame:
    """Temperature-scaled sampling mixture: re-weight per-source (or
    per-language) corpus shares by p_i^(1/T) / Σ p_j^(1/T) — the
    standard knob (T < 1 flattens toward uniform, T > 1 sharpens)
    multilingual/multisource pretraining uses so low-resource slices
    are not drowned out. Emits, per source: exact doc/token counts,
    the raw share, the temperature share, and the per-document
    oversampling factor (temp share / raw share) a sampler applies.

    Counts are exact integers; the float tier (pow + normalize) runs
    on identical inputs in both engines and is emitted rounded 6dp.
    Shape: one hash agg per source + one broadcast single-row total —
    the corpus streams once."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_docs").alias("t_docs"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(1.0 / temperature)))
        .alias("t_pow"),
    )
    j = per.join(F.broadcast(tot))
    p_raw = F.col("n_docs") / F.col("t_docs")
    p_temp = (
        F.pow(F.col("n_docs").cast("double"), F.lit(1.0 / temperature))
        / F.col("t_pow")
    )
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 6).alias("oversample_factor"),
    ).orderBy("source")


def mixture_rebalance(
    spark: SparkSession, sf_dir: str, budget: int = 997
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a sampling
    budget across sources, proportional to each source's character
    mass, plus the deterministic per-source draw that realizes it:
    quota_s = ⌊B·chars_s/T⌋ with the leftover seats going to the
    largest integer remainders (B·chars_s mod T, ties by source
    name) — the standard way a mixture spec ("sample B docs with
    source shares ∝ bytes") becomes integer per-partition take
    counts that sum EXACTLY to B, with no float shares to disagree
    about. The draw ranks each source's docs by md5(doc_id) (a
    deterministic uniform permutation both engines compute
    identically) and takes quota_s.

    Everything is BIGINT arithmetic — floor via DIV, remainder via
    mod — so the apportionment is engine-exact by construction. The
    remainder ranking runs on the per-source frame (|sources| rows,
    broadcast-scale); the only full-data work is one groupBy(source)
    and the per-source top-quota_s window (bounded by quota ≤ B).
    Budget 997 is prime so residues actually exercise the remainder
    tier. No reference analog; §2.3 corpus-mixture design."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    tot = per_src.agg(F.sum("chars").alias("t"))
    alloc = (
        per_src.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            # pmod-subtraction form = true FLOOR division, matching
            # DuckDB // for any sign (Spark DIV truncates; identical
            # only for non-negative dividends — chars is non-negative
            # today, but the parity must not depend on that)
            F.expr(
                f"({budget} * chars - pmod({budget} * chars, t)) DIV t"
            ).alias("floor_quota"),
            F.expr(f"({budget} * chars) % t").alias("remainder"),
        )
    )
    short = alloc.agg(
        (F.lit(budget) - F.sum("floor_quota")).alias("n_extra")
    )
    wr = Window.orderBy(F.desc("remainder"), "source")
    alloc = (
        alloc.join(F.broadcast(short))
        .withColumn("rk", F.row_number().over(wr))
        .withColumn(
            "extra", (F.col("rk") <= F.col("n_extra")).cast("long")
        )
        .withColumn("quota", F.col("floor_quota") + F.col("extra"))
        .select("source", "n_docs", "chars", "floor_quota",
                "remainder", "extra", "quota")
    )
    wd = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    drawn = (
        docs.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(wd))
        .join(F.broadcast(alloc.select("source", "quota")), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        alloc.join(drawn, "source", "left")
        .select(
            "source", "n_docs", "chars", "floor_quota", "remainder",
            "extra", "quota",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        )
        .orderBy("source")
    )


def chunk_dedup_rebuild(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = 8
) -> DataFrame:
    """Exact substring (chunk-level) dedup with document REBUILD —
    the RefinedWeb/C4 "remove duplicated spans, keep the document"
    discipline, as opposed to q41's whole-document dedup: each
    document is cut into non-overlapping ``chunk_tokens``-token
    chunks, every chunk occurrence except the corpus-wide FIRST
    (ordered by doc_id, then position) is dropped, and the surviving
    chunks are stitched back into a cleaned document. Boilerplate
    that recurs across documents disappears from every copy but the
    canonical one; unique prose is untouched.

    Distributed shape: chunking is the q90 scan-stage
    sequence→slice→explode (no shuffle); first-occurrence election
    is ONE window over chunk_text — a single hash-partition shuffle
    keyed by the chunk (heavy duplicates concentrate, but a
    chunk's group is exactly its duplicate count, the quantity
    being measured); rebuild is one doc_id-keyed sort-agg using the
    q36/q188 ordered-listagg pattern. Shuffles carry chunk hashes +
    ids, never the full corpus twice. Documents whose every chunk
    was elected elsewhere survive with empty text via the left
    join back to the base table (tokens-removed accounting must
    cover them)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.ceil(n.cast("double") / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - i * chunk_tokens, F.lit(chunk_tokens))
            .cast("long")
            .alias("chunk_len"),
        ),
    )
    ex = d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_text", "c.chunk_len"
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    kept = (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("chunk_len").alias("n_tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda c: c["chunk_text"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    base = d.select(
        "doc_id",
        F.ceil(F.size(tokens(F.col("text"))).cast("double") / F.lit(chunk_tokens))
        .cast("long")
        .alias("n_chunks"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_tokens",
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
        .orderBy("doc_id")
    )


def curriculum_schedule(spark: SparkSession, sf_dir: str,
                        n_bins: int = 10,
                        n_epochs: int = 3) -> DataFrame:
    """Progressive curriculum schedule: rank documents by a
    deterministic difficulty proxy (length in chars, doc_id
    tie-break), cut into ``n_bins`` difficulty deciles by EXACT rank
    arithmetic, and expand the classic easy-first schedule — epoch e
    of ``n_epochs`` trains on the easiest ceil((e/n_epochs)·n_bins)
    deciles — emitting per-(epoch, decile) doc counts and exact char
    budgets: the table a training run's data loader is configured
    from (Bengio et al. 2009 curriculum shape, made a dataflow).

    Determinism contract: deciles come from floor(n_bins·(rank−1)/N)
    over row_number ordered by (n_chars, doc_id) — never ntile, whose
    remainder placement is engine-defined (the q50 lesson); with the
    unique doc_id tie-break both engines assign every doc the same
    decile. All outputs are exact integers.

    Scale shape: the global row_number here is a window over the
    (n_chars, doc_id) sort — at 100 TB this swaps for the q94
    two-phase rank drop-in (same contract, bucketed); the epoch
    expansion is a ≤ n_bins·n_epochs-row broadcast join against the
    decile aggregate, never against docs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_total = d.count()
    w = Window.orderBy("n_chars", "doc_id")
    binned = d.withColumn("rn", F.row_number().over(w)).withColumn(
        # exact integer arithmetic (DIV), never floor(double): the
        # engines must agree on every boundary document
        "decile",
        F.expr(f"({n_bins} * (rn - 1)) DIV {n_total}").cast("long"),
    )
    per_bin = binned.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    epochs = spark.range(1, n_epochs + 1).select(
        F.col("id").alias("epoch"),
        # ceil(e·n_bins/n_epochs) = (e·n_bins + n_epochs − 1) DIV n_epochs
        F.expr(f"(id * {n_bins} + {n_epochs - 1}) DIV {n_epochs}")
        .cast("long")
        .alias("max_bin"),
    )
    return (
        per_bin.join(
            F.broadcast(epochs), per_bin.decile < F.col("max_bin")
        )
        .select(
            "epoch",
            "decile",
            "n_docs",
            "chars",
            "min_chars",
            "max_chars",
        )
        .orderBy("epoch", "decile")
    )
