"""Text analysis operators for the training-data pipeline.

Language-ID (marker n-gram heuristic), quality scoring, token counting,
and rolling-hash document fingerprinting — each a pure column-expression
transform over the ``documents`` table (no shuffle at all; these are
map-only and scan-bound at 100 TB).

Determinism matters more than linguistic accuracy here: every function
is reproducible bit-for-bit so the DuckDB oracle can re-derive it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Marker stopwords per language for the heuristic language-ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht"),
    "en": ("the", "and", "of", "is", "not"),
    "es": ("el", "la", "de", "es", "que"),
    "fr": ("le", "la", "et", "est", "que"),
    "zh": ("的", "是", "不", "了", "在"),
}

#: Stopword list for the quality score (English analytics-domain mix).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "is", "in")

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def _tokens(col: Column) -> Column:
    """Whitespace tokens; empty/whitespace-only text is ZERO tokens.

    ``split('', pat)`` returns ``['']`` in both Spark and DuckDB, which
    silently gave every empty document one phantom token (1 counted
    token, 1 packed budget slot, a dead ``n_tokens == 0`` branch in
    length_buckets). The guard makes the empty case a true empty array;
    null text stays null. Fixture corpora contain no empty docs, so
    contract results are unchanged — the differential referees
    (``str.split()``, which is [] on empty) pin the behavior on
    adversarial inputs."""
    trimmed = F.trim(col)
    return F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def _bigram_structs(toks_col: Column) -> Column:
    """Adjacent-token bigrams as ``array<struct<w1,w2>>`` —
    ``arrays_zip(slice(t,1,n-1), slice(t,2,n-1))``, no lambda.

    r12 batch 8: twin of the previous
    ``transform(sequence(1, greatest(n-1,1)), i -> struct(t[i-1], t[i]))``
    build. Higher-order functions evaluate their lambda INTERPRETED
    (boxed elements, no codegen participation) per row, and the lambda's
    fresh variable ids also defeat the driver's codegen cache across
    rebuilds; ``slice``/``arrays_zip`` are plain codegen-supported
    expressions. Equality by cases (pinned in
    test_bigram_zip_twin_matches_hof_build): n ≥ 2 → identical (t[i],
    t[i+1]) pairs; n ∈ {0, 1} → empty here, while the HOF emitted one
    (t[0], NULL) row that every consumer filtered with ``w2 IS NOT
    NULL`` — consumers keep that filter, so results are byte-equal on
    every shape incl. NULL/empty/whitespace-only text (NULL text → NULL
    array → explode drops it, both builds)."""
    n1 = F.greatest(F.size(toks_col) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(toks_col, 1, n1).alias("w1"),
        F.slice(toks_col, 2, n1).alias("w2"),
    )


def _marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(marker_arr, t)))


def detect_language(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic language-ID: count marker-word hits per language, argmax
    with alphabetical tie-break; no hits at all → 'und' (undetermined).

    Output: id, detected_lang, marker_hits.
    """
    tokens = _tokens(F.col(text_col))
    scored = F.array(
        *[
            F.struct(
                _marker_hits(tokens, markers).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    # argmax: keep entries with max hits, take alphabetically-first lang.
    max_hits = F.array_max(F.transform(scored, lambda x: x["hits"]))
    best = F.element_at(F.filter(scored, lambda x: x["hits"] == max_hits), 1)
    return df.select(
        F.col(id_col),
        F.when(max_hits > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "detected_lang"
        ),
        max_hits.cast("long").alias("marker_hits"),
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Length/stopword/token-shape quality features + composite score.

    All per-row arithmetic (identical IEEE ops in any engine):
    n_chars, n_tokens, avg_token_len, stopword_ratio, and
    score = min(1, n_tokens/64) * 0.5 + stopword_ratio * 0.25 +
            min(1, avg_token_len/8) * 0.25
    """
    tokens = _tokens(F.col(text_col))
    n_tokens = F.size(tokens).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    # 0-token (empty/whitespace) docs have UNDEFINED ratio features:
    # null, not Infinity/NaN — the cross-engine-representable value
    # (DuckDB's x/0 is NULL; Spark's double /0 is Inf/NaN) and the
    # honest answer. Fixture corpora contain no empty docs, so contract
    # results are unchanged; the empty-doc differential test pins this.
    defined = n_tokens > 0
    avg_token_len = F.when(
        defined,
        (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double"),
    )
    stop_arr = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    stopword_ratio = F.when(
        defined,
        F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / n_tokens.cast("double"),
    )
    score = (
        F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(64.0)) * 0.5
        + stopword_ratio * 0.25
        + F.least(F.lit(1.0), avg_token_len / F.lit(8.0)) * 0.25
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        stopword_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate.

    The subword estimate counts regex word/number/punct chunks, the
    standard pre-tokenization granularity (≈ tokens before BPE merges).
    """
    ws_tokens = F.size(_tokens(F.col(text_col))).cast("long")
    chunks = F.array_size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
    ).cast("long")
    return df.select(
        F.col(id_col),
        ws_tokens.alias("ws_tokens"),
        chunks.alias("subword_chunks"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling polynomial hash of the full text (mod 1e9+7, base 31).

    fp = fold(chars, 0, acc*31 + codepoint mod p) — the classic
    Rabin-Karp document fingerprint; identical in any engine with a
    left fold.
    """
    text = F.col(text_col)
    codepoints = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(F.substring(text, i, 1)).cast("long"),
    )
    fp = F.aggregate(
        codepoints,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FINGERPRINT_BASE + x) % FINGERPRINT_MOD,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the
    context-window preparation step of a training pipeline (each chunk
    is ``chunk_size`` whitespace tokens, consecutive chunks share
    ``overlap`` tokens). Map-only + explode: no shuffle; output size is
    ~``n_tokens/stride`` rows per document.

    Deterministic: chunk boundaries are pure integer arithmetic over
    the token array, so an oracle can re-derive every chunk exactly.
    Output: id, chunk_idx, n_chunk_tokens, chunk_text.

    NULL-text quarantine (junk_check, round 10): a NULL document has
    no chunks (engines disagree on what a NULL chunk row even looks
    like — NULL vs '' chunk_text); an EMPTY document still yields its
    one empty chunk, per the sizing formula.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    df = df.where(F.col(text_col).isNotNull())
    tokens = _tokens(F.col(text_col))
    n = F.size(tokens)
    n_chunks = F.greatest(
        F.lit(1), F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
    ).cast("int")
    chunk = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    with_idx = df.select(F.col(id_col), tokens.alias("_toks"), chunk)
    piece = F.slice(
        F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_size
    )
    return with_idx.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def duplicated_window_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 16,
    materialize_windows: bool = False,
) -> DataFrame:
    """Sub-document exact dedup signal (Lee et al. 2022 "Deduplicating
    Training Data" at window granularity): split every document into
    non-overlapping ``window_tokens``-token windows, count how many
    DISTINCT documents each window occurs in, and report per document
    the fraction of its windows that are duplicated (appear in ≥ 2
    docs) — the filter signal for boilerplate-heavy documents.

    Scale shape: windows travel as 16-byte md5 keys, never as text —
    explode (map-only) → partial-aggregable distinct-doc count per
    window hash → hash-key join back → per-doc aggregate. Three
    exchanges, all on hash/id keys; a collect_set-over-window variant
    would hold one state entry per *occurrence* of a boilerplate window
    (corpus-scale for a window present in every doc) and is the shape
    to avoid.

    Output: (id, n_windows, n_dup_windows, dup_ratio).
    """
    # barrier TRADE-OFF (r12, guide §2.4): the window-hash explode
    # feeds BOTH the frequency aggregate and the join probe — without
    # it the tokenize+chunk+md5 subtree runs twice over the corpus.
    # The materialized relation is (id, 16-byte hash) per window —
    # far narrower than the text, but still corpus-scale at 100 TB.
    # r13 (VERDICT r12 #3): the DEFAULT is now the scale-safe
    # streaming shape (re-tokenize instead of persist);
    # small/bench-scale callers opt in with ``materialize_windows=True``
    # (the entry query does).
    chunks = chunk_tokens(
        df, text_col, id_col, chunk_size=window_tokens, overlap=0
    ).select(
        id_col, F.md5(F.col("chunk_text")).alias("_wh")
    )
    if materialize_windows:
        chunks = chunks.localCheckpoint(eager=False)
    freq = chunks.groupBy("_wh").agg(
        F.count_distinct(F.col(id_col)).alias("_ndocs")
    )
    flagged = chunks.join(freq, "_wh").select(
        id_col, (F.col("_ndocs") >= 2).alias("_dup")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_ratio",
            F.col("n_dup_windows").cast("double")
            / F.col("n_windows").cast("double"),
        )
    )


def pack_token_budget(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    num_shards: int = 32,
) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget training
    bins — the batch-construction step between chunking and the trainer.

    Deterministic streaming first-fit within shards: documents go to
    shard ``doc_id % num_shards``; inside a shard they are laid out in
    ``doc_id`` order and a running token total assigns
    ``bin = floor((cumsum - n_tokens) / budget)`` — i.e. each document's
    bin is decided by the tokens packed before it. (Bins can overflow by
    at most one document, the standard streaming-packing trade-off;
    oversized documents should be chunked first via ``chunk_tokens``.)

    Scale shape: ONE shuffle (the per-shard window). A single global
    window would serialize the corpus through one partition; sharding
    keeps ``num_shards`` independent windows — size shards so a shard's
    rows fit an executor (at 100 TB: thousands of shards keyed by e.g.
    ``crc32(doc_id)``), and determinism survives because the shard
    assignment and intra-shard order are pure functions of the id.

    Output: id, shard, bin_idx, n_tokens.
    """
    from pyspark.sql import Window

    n_tokens = F.size(_tokens(F.col(text_col))).cast("long")
    shard = (F.col(id_col) % num_shards).cast("int")
    base = df.select(
        F.col(id_col), shard.alias("shard"), n_tokens.alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        "shard",
        F.floor((running - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("bin_idx"),
        "n_tokens",
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition metrics (Rae et al. 2021,
    §A1.1 of the Gopher paper): fraction of duplicate tokens and the
    mass of the most-repeated unigram/bigram. Training pipelines drop
    documents whose text is dominated by repeated boilerplate.

    Map-only: every metric is per-row array arithmetic (O(n·d) in
    tokens × distinct tokens, bounded by document size), so the operator
    is scan-bound at 100 TB — no shuffle, no UDF.

    Output: id, n_tokens, n_distinct_tokens, top_token_count,
    top_bigram_count, dup_token_ratio, top_bigram_ratio.
    """
    tokens = _tokens(F.col(text_col))
    base = df.select(F.col(id_col), tokens.alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    distinct = F.array_distinct(toks)
    n_distinct = F.size(distinct)
    top_token = F.array_max(
        F.transform(distinct, lambda t: F.size(F.filter(toks, lambda x: x == t)))
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.get(toks, i - 1), F.get(toks, i)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_bigrams = base.select(F.col(id_col), toks, bigrams.alias("_bg"))
    bg = F.col("_bg")
    top_bigram = F.when(
        F.size(bg) > 0,
        F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda t: F.size(F.filter(bg, lambda x: x == t)),
            )
        ),
    ).otherwise(F.lit(0))
    return with_bigrams.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        F.coalesce(top_token, F.lit(0)).cast("long").alias("top_token_count"),
        top_bigram.cast("long").alias("top_bigram_count"),
        # empty doc (0 tokens): nothing repeated, ratio 0.0 — and the
        # guard keeps ANSI mode from raising on 0/0
        F.when(
            n > 0, (n - n_distinct).cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)).alias("dup_token_ratio"),
        F.when(F.size(bg) > 0, top_bigram.cast("double") / F.size(bg).cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_ratio"),
    )


#: Modulus/base of the portable sampling hash (same family as the dedup
#: polynomial hash — see operators.dedup._hash64).
SAMPLE_HASH_PRIME = 2147483647
SAMPLE_HASH_BASE = 131


def hash_sample(
    df: DataFrame,
    key_col: str = "doc_id",
    buckets: int = 100,
    keep: int = 10,
    salt: str = "sample:",
) -> DataFrame:
    """Deterministic reproducible sampling: keep rows whose portable
    mixed polynomial hash of ``key || salt`` lands in the first ``keep`` of
    ``buckets`` buckets (≈ keep/buckets sampling rate).

    This is how a 100 TB corpus is sampled in practice: a pure map-side
    predicate — no shuffle, no RNG state, no ``sample()``
    nondeterminism — the same rows are selected on every engine and
    every rerun, and the salt gives independent sample families. The
    filter sits directly above the scan so column pruning and partition
    pruning still apply.

    Output: the input rows (all columns) + ``sample_bucket``.
    """
    bucket = _sample_bucket(F.col(key_col), buckets, salt).cast("long")
    return df.withColumn("sample_bucket", bucket).where(
        F.col("sample_bucket") < keep
    )


def _sample_bucket(key: Column, buckets: int, salt: str) -> Column:
    """Portable salted polynomial hash of ``key`` into ``buckets``,
    with one square-mod mixing step: ``h = poly(key || salt)``, then
    ``(h² + h) mod (2³¹−1)``.

    The avalanche step is what makes salt families independent. The
    plain fold is AFFINE across salts — for fixed-length keys
    ``poly(salt₁||key) − poly(salt₂||key)`` is a constant, so two
    "independent" splits were near-exact shifted copies of each other,
    and sequential keys got sequential buckets (a systematic, not
    pseudorandom, sample). Squaring makes the cross-salt difference
    depend on the key itself (same fix as the sketches' ``_mixed_hash``
    and the r6 LSH plane family). ``h² < 2⁶²`` stays exact in int64 on
    any engine."""
    skey = F.concat(key.cast("string"), F.lit(salt))
    n = F.length(skey)
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.ascii(F.substring(skey, i, 1)).cast("long"),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * SAMPLE_HASH_BASE + c) % SAMPLE_HASH_PRIME,
    )
    return ((h * h + h) % SAMPLE_HASH_PRIME) % buckets


def stratified_sample(
    df: DataFrame,
    group_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    key_col: str = "doc_id",
    buckets: int = 1000,
    salt: str = "mix:",
) -> DataFrame:
    """Deterministic mixture resampling: repeat or drop rows so each
    group's expected multiplicity equals its rate — the
    language/domain mixture-weighting step of a training pipeline
    (rate 0.25 = keep a quarter, rate 2.0 = two epochs of the group).

    Every row gets ``floor(rate)`` guaranteed copies plus one more iff
    its salted hash bucket falls below ``frac(rate) * buckets`` — so
    the SAME rows are up/downsampled on every engine and rerun (no RNG),
    and a different ``salt`` draws an independent mixture. Map-only:
    a hash, a per-group rate lookup, and an explode — no shuffle.

    Output: input columns + ``copy_idx`` (0-based copy number).
    """
    if default_rate < 0 or any(r < 0 for r in rates.values()):
        raise ValueError("sampling rates must be >= 0")
    whole = {g: int(r) for g, r in rates.items()}
    frac_buckets = {g: round((r - int(r)) * buckets) for g, r in rates.items()}
    dflt_whole = int(default_rate)
    dflt_frac = round((default_rate - dflt_whole) * buckets)

    bucket = _sample_bucket(F.col(key_col), buckets, salt)
    group = F.col(group_col)
    n_whole: Column = F.lit(dflt_whole)
    n_frac: Column = F.lit(dflt_frac)
    for g in sorted(rates):
        n_whole = F.when(group == g, F.lit(whole[g])).otherwise(n_whole)
        n_frac = F.when(group == g, F.lit(frac_buckets[g])).otherwise(n_frac)
    n_copies = n_whole + F.when(bucket < n_frac, F.lit(1)).otherwise(F.lit(0))
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.withColumn("copy_idx", F.explode(copies))
    return exploded.withColumn("copy_idx", F.col("copy_idx").cast("long"))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    materialize_doc_term: bool = False,
) -> DataFrame:
    """Most-distinctive terms per document: rank a document's terms by
    (term frequency DESC, document frequency ASC, term ASC) and keep the
    top ``top_k`` — the integer-only core of TF-IDF (the float
    ``tf·log(N/df)`` score orders identically for fixed tf, and integer
    ranking keeps the result bit-reproducible on any engine).

    Scale shape: the doc×term counts are computed MAP-SIDE — sort the
    token array per row and run-length encode it (O(n log n) per doc,
    no corpus-scale token-row shuffle at all; a naive
    explode→groupBy(doc, term) shuffles one row per token). The only
    exchanges are over the aggregated doc×term relation: one
    partial-aggregable shuffle for the vocabulary-sized document
    frequencies (which then broadcast back) and one for the per-doc
    top-k window.

    Output: id, term, tf, df, rank.
    """
    from pyspark.sql import Window

    # run-length encode the sorted token array: run starts are positions
    # whose token differs from the previous one; tf = next start - start.
    # Materialize each intermediate array as its own projected column —
    # HOF lambdas duplicate referenced subtrees per use (see NOTES).
    sorted_toks = df.select(
        F.col(id_col), F.array_sort(_tokens(F.col(text_col))).alias("_st")
    )
    st = F.col("_st")
    n = F.size(st)
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1) | (F.get(st, i - 1) != F.get(st, i - 2)),
    )
    with_bounds = sorted_toks.select(
        F.col(id_col), st, F.concat(starts, F.array(n + 1)).alias("_bounds")
    )
    bounds = F.col("_bounds")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(bounds) - 1),
        lambda j: F.struct(
            F.get(st, F.get(bounds, j - 1) - 1).alias("term"),
            (F.get(bounds, j) - F.get(bounds, j - 1)).cast("long").alias("tf"),
        ),
    )
    doc_term = with_bounds.select(
        F.col(id_col), F.explode(pairs).alias("_p")
    ).select(F.col(id_col), F.col("_p.term").alias("term"), F.col("_p.tf").alias("tf"))
    # barrier TRADE-OFF (r12, guide §2.4 / the term_cooccurrence_pmi
    # precedent): doc_term feeds the document-frequency broadcast build
    # AND the join probe side — without the barrier the tokenize +
    # sort + RLE subtree runs twice over the corpus. The barrier is an
    # executor materialization of the doc×term relation: fine at bench
    # scale, a cluster-storage-sized persist at 100 TB. r13 (VERDICT
    # r12 #3): the DEFAULT is now the scale-safe streaming shape
    # (re-tokenize instead of persist); small/bench-scale callers opt
    # in with ``materialize_doc_term=True`` (the entry query does).
    if materialize_doc_term:
        doc_term = doc_term.localCheckpoint(eager=False)
    doc_freq = doc_term.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    joined = doc_term.join(F.broadcast(doc_freq), "term")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "rank")
    )


#: PII patterns shared by engine and oracle (RE2/Java-compatible: no
#: lookarounds). Email first so phone digits inside addresses are gone.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9 -]{6,}[0-9]"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails and phone-like digit runs (the minimum-viable PII
    scrub of a training pipeline): deterministic regex replacement with
    typed placeholders plus per-document match counts. Map-only.

    Output: id, n_emails, n_phones, redacted.
    """
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL_RE))
    no_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(no_email, F.lit(PII_PHONE_RE))
    redacted = F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


def split_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split:",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test split assignment by stable key hash.

    The split a training pipeline actually needs at 100 TB: membership
    is a pure function of the row key (portable mixed polynomial hash
    of ``key || salt`` mod 100), so the same document lands in the same
    split on every engine, every rerun, and every incremental refresh —
    no RNG state to checkpoint, no sampling drift when the corpus grows.
    Changing the salt yields an independent split family (e.g. for
    k-fold). Map-only: one projected column above the scan, pruning and
    pushdown untouched.

    Output: the input rows (all columns) + ``split`` ∈
    {train, val, test}.

    NULL-key quarantine (junk_check, round 10): a NULL key cannot be
    deterministically split — and the two engines' otherwise-identical
    salted hashes DISAGREE on NULL (Spark's concat/sequence propagate
    NULL → the otherwise-branch 'test'; a SQL twin's empty character
    fold gives h=0 → 'train'), so one junk row would silently sit in
    different splits on different engines. Dropped here and in the
    oracle (the ab_test NULL-participant posture).
    """
    df = df.where(F.col(key_col).isNotNull())
    bucket = _sample_bucket(F.col(key_col), 100, salt).cast("long")
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Power-of-two sequence-length bucketing with padding-waste
    accounting — the batching-efficiency signal for training: documents
    batched together pad to their bucket ceiling, so ``pad_waste``
    (Σ ceiling − tokens) is exactly the fraction of compute thrown away
    by the bucket granularity. Doubling buckets (bucket = bit length of
    the token count, ceiling = 2^bucket − 1) keep per-batch waste
    < 50% with a dozen buckets across any length distribution.

    Integer-only: counts and waste are exact sums, so any engine agrees
    bit for bit. One shuffle on ≤ ~60 bucket keys, fully
    partial-aggregable (map-side collapses each split to one row per
    bucket).

    Output: bucket, ceiling, n_docs, sum_tokens, pad_waste.
    """
    toks = F.size(_tokens(F.col(text_col))).cast("long")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    # bit length of the count; 0 tokens → bucket 0 with ceiling 0
    bucket = (
        F.when(F.col("_toks") == 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("_toks"))))
        .cast("int")
    )
    with_bucket = base.select(
        "_toks",
        bucket.alias("bucket"),
    )
    # F.shiftleft needs a literal shift; the SQL form takes a column
    ceiling = F.expr("CAST(shiftleft(1, bucket) AS BIGINT) - 1")
    return (
        with_bucket.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_toks").alias("sum_tokens"),
            F.sum(
                F.expr("CAST(shiftleft(1, bucket) AS BIGINT) - 1 - _toks")
            ).alias("pad_waste"),
        )
        .select(
            F.col("bucket").cast("long"),
            ceiling.alias("ceiling"),
            "n_docs",
            "sum_tokens",
            "pad_waste",
        )
    )


def pareto_frontier(
    df: DataFrame,
    group_col: str = "lang",
    cost_col: str = "n_chars",
    gain_col: str = "_toks",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group Pareto frontier (skyline): documents not dominated on
    (chars ↓ cost, tokens ↑ gain) — the densest-information documents a
    budgeted curation pass would keep at every length point.

    A doc is dominated iff another doc in its group has cost ≤, gain ≥,
    and is strictly better on at least one axis. Instead of the naive
    O(n²) dominance anti-join, two frames over ONE (group, cost)-sorted
    window do it in a single shuffle:

    - ``RANGE UNBOUNDED PRECEDING .. 1 PRECEDING`` max(gain) catches
      strictly-cheaper dominators (ties on gain dominate: ≥),
    - ``RANGE CURRENT ROW .. CURRENT ROW`` max(gain) — i.e. the cost
      PEER group — catches equal-cost dominators (strict: >).

    Both frames share the partitioning AND the sort, so Catalyst plans
    one Exchange + one Sort however large the group. Equal (cost, gain)
    duplicates survive together, matching the NOT-EXISTS semantics the
    oracle states directly.

    Junk guard (junk_check, round 10): a doc with NULL group, cost, or
    text has no place on a (cost, gain) frontier — and the two
    formulations disagree on it (NULL comparisons make the NOT-EXISTS
    dominance VACUOUSLY keep the row while the window's NULL max drops
    it), so the row is quarantined explicitly in both engines.
    """
    toks = F.size(_tokens(F.col(text_col))).cast("long")
    df = df.where(
        F.col(group_col).isNotNull()
        & F.col(cost_col).isNotNull()
        & F.col(text_col).isNotNull()
    )
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(cost_col).cast("long").alias("cost"),
        toks.alias("gain"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("cost")
    m_cheaper = F.max("gain").over(
        w.rangeBetween(Window.unboundedPreceding, -1)
    )
    m_peer = F.max("gain").over(w.rangeBetween(0, 0))
    flagged = base.select(
        group_col,
        id_col,
        "cost",
        "gain",
        m_cheaper.alias("_mc"),
        m_peer.alias("_mp"),
    )
    keep = (F.col("_mc").isNull() | (F.col("_mc") < F.col("gain"))) & (
        F.col("_mp") == F.col("gain")
    )
    return flagged.where(keep).select(group_col, id_col, "cost", "gain")


def mixture_apportion(
    df: DataFrame,
    budget: int = 1_000_000,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Largest-remainder apportionment of a token budget across sources.

    The training-mixture planner: given per-source token supplies
    ``t_i``, split an integer budget B proportionally so Σ alloc = B
    EXACTLY — floor quotas ``(B·t_i) div W`` first, then the leftover
    seats go to the largest remainders (ties → source name asc). Pure
    int64 arithmetic (headroom: B·t_i ≤ 1e6 · ~1e12 at 100 TB stays
    under 2^63), so any engine reproduces the allocation bit-for-bit —
    no float shares that "almost" sum to B.

    Plan shape: the corpus pays ONE partial-aggregable shuffle down to
    |sources| rows; every global window after that (supply total, floor
    -quota total, remainder rank) shares the SAME empty partitioning,
    so the tiny relation crosses exactly one whitelisted
    SinglePartition exchange.
    """
    toks = F.size(_tokens(F.col(text_col))).cast("long")
    per_src = (
        df.select(F.col(source_col).alias("source"), toks.alias("_t"))
        .groupBy("source")
        .agg(F.sum("_t").alias("tokens"))
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(
        F.col("_rem").desc(), F.col("source").asc()
    )
    b = F.lit(int(budget)).cast("long")
    # `div` (integral division) keeps the quota exact in int64 — a
    # double-division-then-cast would round the operands above 2^53
    staged = (
        per_src.select(
            "source",
            "tokens",
            F.sum("tokens").over(w_all).alias("_w"),
        )
        .select("source", "tokens", (b * F.col("tokens")).alias("_bt"), "_w")
        .selectExpr(
            "source",
            "tokens",
            "_bt div _w AS quota",
            "_bt % _w AS _rem",
        )
    )
    ranked = staged.select(
        "source",
        "tokens",
        "quota",
        "_rem",
        F.row_number().over(w_rank).alias("_rk"),
        F.sum("quota").over(w_all).alias("_qsum"),
    )
    extra = F.when(F.col("_rk") <= (b - F.col("_qsum")), F.lit(1)).otherwise(
        F.lit(0)
    ).cast("long")
    return ranked.select(
        "source",
        "tokens",
        "quota",
        extra.alias("extra"),
        (F.col("quota") + extra).alias("alloc"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_chars: int = 8,
    sort_chars: int = 32,
    neighbors: int = 2,
    shingle_k: int = 5,
    min_jac_milli: int = 100,
) -> DataFrame:
    """Blocked sorted-neighborhood dedup (the record-linkage classic,
    Hernández & Stolfo): sort inside prefix blocks, compare each doc
    only with its ``neighbors`` successors, verify candidates with
    exact character-shingle Jaccard. The THIRD candidate-generation
    family next to MinHash-LSH (set similarity) and SimHash (bit
    similarity): O(n·w) comparisons with no banding tables at all —
    the cheap first pass when duplicates cluster under a sort key
    (crawl URL, title, normalized prefix).

    One shuffle (the block window); each pair verifies by JVM-native
    ``array_intersect`` over distinct shingle STRINGS — not hashes, so
    a hash collision can never corrupt the exact Jaccard (the
    minhash_calibration lesson inverted: sketches estimate, verifiers
    must be exact). Jaccard reported in exact milli units (int `div`).

    Blocking bounds the window partition (prefix blocks) so one giant
    sort never materializes; cross-block duplicates are the known SNM
    blind spot — LSH covers those, which is why both families ship.
    """
    from pyspark.sql import Window

    from yandex_tracker_exporter_spark.operators.dedup import _char_shingles

    # shingle each document ONCE before the window and carry the ARRAY
    # through lead() — shingling pair sides after the explode re-runs
    # the k-gram transform ~4× per doc (as `a` of two pairs and `b` of
    # two) and measured 6.9 s vs 2 s at sf0.1
    base = df.select(
        F.col(id_col).alias("_id"),
        _char_shingles(F.col(text_col), shingle_k).alias("_sh"),
        F.substring(F.col(text_col), 1, block_chars).alias("_blk"),
        F.substring(F.col(text_col), 1, sort_chars).alias("_key"),
    )
    # all lead() distances ride ONE window projection (one Exchange, one
    # Sort); a union of per-distance windows re-shuffles the corpus per
    # neighbor (measured: 3 exchanges instead of 2)
    w = Window.partitionBy("_blk").orderBy("_key", "_id")
    led = base.select(
        F.col("_id").alias("a_id"),
        F.col("_sh").alias("_sha"),
        F.array(
            *[
                F.struct(
                    F.lead("_id", d).over(w).alias("b_id"),
                    F.lead("_sh", d).over(w).alias("b_sh"),
                )
                for d in range(1, neighbors + 1)
            ]
        ).alias("_nbrs"),
    )
    shingled = led.select(
        "a_id", "_sha", F.explode("_nbrs").alias("_n")
    ).select(
        "a_id",
        F.col("_n.b_id").alias("b_id"),
        "_sha",
        F.col("_n.b_sh").alias("_shb"),
    ).where(F.col("b_id").isNotNull())
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("long")
    union = (F.size("_sha") + F.size("_shb")).cast("long") - inter
    # integer `div`, not double-divide-then-cast: a quotient that rounds
    # up across an integer boundary would disagree with exact floor
    scored = shingled.select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        inter.alias("_i"),
        union.alias("_u"),
    ).selectExpr("a_id", "b_id", "(_i * 1000) div _u AS jac_milli")
    return (
        scored.where(F.col("jac_milli") >= min_jac_milli)
        .groupBy("a_id", "b_id")
        .agg(F.max("jac_milli").alias("jac_milli"))
    )


def bigram_lm(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Add-one-smoothed bigram language model in exact milli units:
    P(w2|w1) ≈ (c12 + 1)·1000 div (c1 + V) — the LM statistic behind
    perplexity-style quality filters, with the float log-space swapped
    for integer arithmetic so any engine reproduces every probability
    bit-for-bit.

    c1 deliberately counts w1 AS A BIGRAM PREFIX (tokens that have a
    successor), so Σ_w2 P(w2|w1) = 1 under the smoothing — counting
    raw unigrams instead breaks normalization at every document end.

    Plan: the bigram explode is map-only; two partial-aggregable
    shuffles (bigram counts, prefix counts ride the same relation);
    the vocabulary size V — one scalar — comes back via a broadcast
    single-row join. Bigram/prefix tables are vocabulary²-bounded, not
    corpus-bounded, so the rollups collapse map-side at any scale.
    """
    toks = _tokens(F.col(text_col))
    bigrams = df.select(toks.alias("_t")).select(
        F.explode(_bigram_structs(F.col("_t"))).alias("bg")
    ).where(F.col("bg.w2").isNotNull()).select("bg.w1", "bg.w2")
    # Streams into both count aggregations: a barrier would write the
    # exploded (w1, w2) strings, which outweigh the text, and measured
    # slower than tokenizing twice (r12 A/B at sf0.1).
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    return _bigram_lm_from(bigrams, vocab)


def _bigram_lm_from(bigrams: DataFrame, vocab: DataFrame) -> DataFrame:
    """The LM count/smoothing core over a pre-built (w1, w2) bigram
    relation and a single-row vocabulary count — shared by
    :func:`bigram_lm` and :func:`lm_doc_score` (which reuses its per-doc
    bigram explode as the training stream; same multiset, so every
    count and probability is bit-identical)."""
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    joined = c12.join(c1, "w1").join(F.broadcast(vocab))
    p_milli = F.expr("((c12 + 1) * 1000) div (c1 + v)")
    return joined.select(
        "w1", "w2", "c12", "c1", F.col("v").cast("long").alias("v"),
        p_milli.alias("p_milli"),
    )


def bm25_rank(
    df: DataFrame,
    query_terms: tuple[str, ...] = ("table", "join", "window"),
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> DataFrame:
    """BM25 document ranking for a fixed query — the retrieval scorer a
    training pipeline uses for quality-targeted sampling and eval-set
    mining. Classic Robertson/Sparck-Jones shape with ONE substitution:
    the idf log is replaced by its rational argument
    ``(N − df + 0.5)/(df + 0.5)`` (same ordering per term, since log is
    monotone), because ln() is the one place two engines' libm may
    disagree in the last ulp — every remaining op is +,×,÷ in a fixed
    association order, bit-identical in any IEEE-754 engine.

    Scale shape: corpus stats (N, Σdl, per-term document frequencies)
    collapse to ONE row via a partial-aggregable scan, broadcast back
    onto the corpus (the whitelisted single-row nested-loop join, as in
    ivf_topk); tf/dl are per-row expressions; the top-k plans as
    TakeOrderedAndProject — per-partition heads merged on the driver,
    never a global sort.
    """
    toks = _tokens(F.col(text_col))
    base = df.select(
        F.col(id_col), toks.alias("_t"), F.size(toks).cast("long").alias("dl")
    )
    aggs = [F.sum("dl").alias("_sum_dl"), F.count(F.lit(1)).alias("_n")]
    for i, t in enumerate(query_terms):
        aggs.append(
            F.sum(
                F.when(F.array_contains("_t", F.lit(t)), 1).otherwise(0)
            ).alias(f"_df{i}")
        )
    stats = base.agg(*aggs)
    joined = base.join(F.broadcast(stats))
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n").cast("double")
    score = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter(F.col("_t"), lambda x: x == F.lit(t))).cast("double")
        idf_r = (F.col("_n").cast("double") - F.col(f"_df{i}").cast("double") + F.lit(0.5)) / (
            F.col(f"_df{i}").cast("double") + F.lit(0.5)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
        score = score + idf_r * ((tf * F.lit(k1 + 1.0)) / denom)
    scored = joined.select(F.col(id_col), F.col("dl"), score.alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(topk)


def split_leakage_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 16,
    materialize_per_split: bool = False,
) -> DataFrame:
    """Train/val/test leakage audit at SUB-document granularity: count
    16-token windows whose exact content appears in more than one
    split — the contamination check a pipeline must run before
    reporting eval numbers. A hash-based split assigns by ID and is
    blind to content duplication BY DESIGN; whole-document fingerprints
    miss partial copies, so the audit runs on the same non-overlapping
    token windows as ``duplicated_window_ratio`` (the Lee et al. 2022
    granularity).

    Windows travel as md5 keys, never text: map-only explode, one
    partial-aggregable (key, split) count, a ≤3×3 split cross join per
    leaked key, rollup to the split-pair matrix. Output:
    split_a < split_b, n_window_keys (leaked distinct windows),
    n_window_pairs (cross-split occurrence pairs).
    """
    assigned = split_assign(df, id_col)
    toks = _tokens(F.col(text_col))
    # integer ceil-div (ADVICE r4: true `div`, not float-divide-then
    # -cast) keeps the window count exact in any engine; zero-token docs
    # are dropped BEFORE the explode so an empty doc in two splits does
    # not register a leaked md5('') window
    sized = assigned.where(F.length(F.trim(F.col(text_col))) > 0).select(
        "split", toks.alias("_t"), F.size(toks).alias("_sz")
    )
    n_windows = F.expr(f"(_sz + {window_tokens - 1}) div {window_tokens}").cast(
        "int"
    )
    # the trim-length filter above guarantees _sz >= 1 (split of a
    # non-empty string always yields at least one token), so n_windows
    # >= 1 and the sequence below is never empty
    exploded = sized.select(
        "split",
        "_t",
        F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("_w"),
    ).select(
        "split",
        F.md5(
            F.array_join(
                F.slice(F.col("_t"), F.col("_w") * window_tokens + 1, window_tokens),
                " ",
            )
        ).alias("_key"),
    )
    # barrier (r12, guide §2.4): per_split feeds BOTH sides of the
    # key self-join — without it the tokenize+window+md5 explode and
    # its aggregation ran twice over the corpus. The materialized
    # relation is (16-byte key, split, count) per DISTINCT window —
    # the aggregated, not the exploded, size; at 100 TB this is the
    # relation a leakage audit has to hold somewhere regardless, but
    # executor-memory localCheckpoint blocks are the wrong "somewhere"
    # for input >> cluster memory. r13 (VERDICT r12 #3): the DEFAULT
    # is now the streaming shape; small/bench-scale callers opt in
    # with ``materialize_per_split=True`` (the entry query does).
    per_split = exploded.groupBy("_key", "split").agg(
        F.count(F.lit(1)).alias("_n")
    )
    if materialize_per_split:
        per_split = per_split.localCheckpoint(eager=False)
    a = per_split.select(
        "_key", F.col("split").alias("split_a"), F.col("_n").alias("_na")
    )
    b = per_split.select(
        "_key", F.col("split").alias("split_b"), F.col("_n").alias("_nb")
    )
    crossed = a.join(b, "_key").where(F.col("split_a") < F.col("split_b"))
    return crossed.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_window_keys"),
        F.sum(F.col("_na") * F.col("_nb")).alias("n_window_pairs"),
    )


def term_cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Document-level co-occurrence PMI (milli-rational) for the top-k
    corpus terms — the association statistic behind phrase mining and
    collocation detection, integerized: pmi_milli = (c_ab·N·1000) div
    (c_a·c_b), the rational core of PMI = log(P(a,b)/(P(a)P(b)))
    (log is monotone, so ranking by the rational IS ranking by PMI —
    and no libm call enters the cross-engine comparison). > 1000 means
    positive association, < 1000 repulsion.

    Scale shape: doc frequencies are one partial-aggregable shuffle;
    the top-k list (TakeOrderedAndProject) collapses to a ONE-ROW
    array that broadcast-joins onto the corpus, so each document's
    PRESENT top-k subset is a map-side ``array_intersect`` — no
    per-doc explode→re-group shuffle (that second corpus exchange was
    measured ~2 s of the query at sf0.1 before this rewrite). The pair
    explode is bounded by k(k−1)/2 per doc, never a corpus self-join;
    the pair rollup lands on ≤ k² keys, and the single-row corpus
    count attaches to THAT tiny relation (broadcast nested loop over
    k² rows, not the corpus).

    Output: term_a < term_b, c_a, c_b, c_ab, n_docs, pmi_milli.
    """
    toks = F.array_sort(F.array_distinct(_tokens(F.col(text_col))))
    # barrier: the tokenized doc-set relation feeds the frequency agg
    # AND the per-doc intersect pass — without it every document is
    # tokenized twice (two full corpus scans). The cost is an executor
    # materialization of the whole tokenized corpus.
    docs = (
        df.select(F.col(id_col).alias("_rid"), toks.alias("_set"))
        .localCheckpoint(eager=False)
    )
    present = docs.select(F.explode("_set").alias("term"))
    dfreq = present.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = (
        dfreq.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(top_k)
        .localCheckpoint(eager=False)
    )
    n_row = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # collapse the top-k relation to one array row; _set is sorted and
    # distinct, and array_intersect preserves the first argument's
    # order, so _present is already sorted
    top_arr = top.agg(F.collect_list("term").alias("_top"))
    per_doc = docs.join(F.broadcast(top_arr)).select(
        "_rid", F.array_intersect("_set", "_top").alias("_present")
    )
    pairs = per_doc.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_present"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_present"),
                            i + 2,
                            F.greatest(
                                F.size("_present") - i - 1, F.lit(0)
                            ).cast("int"),
                        ),
                        lambda b: F.struct(a.alias("term_a"), b.alias("term_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.term_a", "p.term_b")
    c_ab = pairs.groupBy("term_a", "term_b").agg(F.count(F.lit(1)).alias("c_ab"))
    with_freqs = (
        c_ab.join(
            F.broadcast(top.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))),
            "term_a",
        )
        .join(
            F.broadcast(top.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))),
            "term_b",
        )
        .join(F.broadcast(n_row))
    )
    return with_freqs.selectExpr(
        "term_a",
        "term_b",
        "c_a",
        "c_b",
        "c_ab",
        "n_docs",
        "(c_ab * n_docs * 1000) div (c_a * c_b) AS pmi_milli",
    )


def source_gini(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Gini coefficient of the token supply across sources, in exact
    milli units — the one-number balance check for a training mixture
    (0 = perfectly even, →1000 = one source holds everything):

        gini_milli = ((2·Σ i·x_i − (n+1)·Σx) · 1000) div (n · Σx)

    with x sorted ascending and i the 1-based rank. Pure int64, so any
    engine reproduces it bit-for-bit. The corpus pays one
    partial-aggregable shuffle down to |sources| rows; the rank window
    and the final fold run on that tiny relation through one
    whitelisted SinglePartition exchange (the mixture_apportion
    precedent).

    Output: one row — n_sources, total_tokens, gini_milli.

    Junk guard (junk_check, round 10): a NULL source is unattributable
    supply and a NULL text is unmeasurable supply — kept, the NULL
    group's NULL token sum ranks differently across engines (Spark
    NULLS FIRST vs SQL NULLS LAST) and one junk row silently moved the
    gini for the WHOLE corpus. Both dropped; identical WHERE in the
    oracle.
    """
    from pyspark.sql import Window

    toks = F.size(_tokens(F.col(text_col))).cast("long")
    df = df.where(
        F.col(source_col).isNotNull() & F.col(text_col).isNotNull()
    )
    per_src = (
        df.select(F.col(source_col).alias("source"), toks.alias("_t"))
        .groupBy("source")
        .agg(F.sum("_t").alias("tokens"))
    )
    w_rank = Window.partitionBy().orderBy(
        F.col("tokens").asc(), F.col("source").asc()
    )
    ranked = per_src.select(
        "tokens", F.row_number().over(w_rank).cast("long").alias("_i")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("tokens").alias("total_tokens"),
        F.sum(F.col("_i") * F.col("tokens")).alias("_iwx"),
    ).selectExpr(
        "n_sources",
        "total_tokens",
        "((2 * _iwx - (n_sources + 1) * total_tokens) * 1000)"
        " div (n_sources * total_tokens) AS gini_milli",
    )


def lm_doc_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_doc_bigrams: bool = False,
) -> DataFrame:
    """LM-based quality scoring (the CCNet / perplexity-filter shape,
    integerized): train the add-one bigram LM on the corpus itself,
    then score every document by the mean smoothed probability of its
    bigrams — low scorers are the gibberish/boilerplate candidates a
    perplexity filter drops. The log/perplexity transform is monotone
    in this mean, so ranking and thresholding behave identically while
    every value stays exact int64 (milli-probabilities, integer div).

    Plan: the LM tables are vocabulary²-bounded and BROADCAST back
    onto the per-document bigram explode — the corpus pays the
    map-only explode plus one id-keyed rollup; no corpus-scale join
    shuffle. Output: doc_id, n_bigrams, mean_p_milli.
    """
    toks = _tokens(F.col(text_col))
    # barrier TRADE-OFF (r12, guide §2.4): the per-doc bigram relation
    # feeds the LM training counts AND the scoring join probe — dropping
    # id_col yields the exact bigram multiset bigram_lm() would explode
    # itself, so training from it changes no count or probability while
    # removing two whole corpus tokenize+explode passes (the contract
    # plan went from 4 corpus passes to 2: this relation + the vocab
    # count). The checkpoint materializes the exploded doc×bigram
    # stream: fine at bench scale, corpus-sized at 100 TB. r13
    # (VERDICT r12 #3): the DEFAULT is now the scale-safe streaming
    # shape (the training branch re-tokenizes instead of re-reading a
    # corpus-sized executor persist); small/bench-scale callers opt in
    # with ``materialize_doc_bigrams=True`` (the entry query does).
    # Either way training sees the identical bigram multiset, so every
    # count and probability — and therefore every result row — is the
    # same (pinned: test_lm_doc_score_barrier_twin_matches_streaming).
    doc_bigrams = df.select(F.col(id_col), toks.alias("_t")).select(
        F.col(id_col),
        F.explode(_bigram_structs(F.col("_t"))).alias("bg"),
    ).where(F.col("bg.w2").isNotNull()).select(
        id_col, "bg.w1", "bg.w2"
    )
    if materialize_doc_bigrams:
        doc_bigrams = doc_bigrams.localCheckpoint(eager=False)
    vocab = df.select(F.explode(toks).alias("w")).agg(
        F.count_distinct("w").alias("v")
    )
    # barrier: the LM table is vocabulary²-bounded but derives from a
    # full corpus aggregation, and the broadcast build is a second
    # consumer of its subtree — without it the corpus was re-scanned
    # and re-counted per reference (4 FileScans in the contract plan)
    lm = _bigram_lm_from(
        doc_bigrams.select("w1", "w2"), vocab
    ).localCheckpoint(eager=False)
    scored = doc_bigrams.join(
        F.broadcast(lm.select("w1", "w2", "p_milli")), ["w1", "w2"]
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_milli").alias("_sum_p"),
        )
        .selectExpr(
            f"{id_col}",
            "n_bigrams",
            "_sum_p div n_bigrams AS mean_p_milli",
        )
    )
