"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting. All pure built-in expressions (codegen'd; no UDFs), each
designed so an ANSI-SQL oracle can reproduce it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# bm25_topk's per-doc posting summaries live in the bounded
# session-scoped registry (operators/_cache.py) — the last few
# summaries stay persisted so lazy consumers built before a
# materialization never lose their cache
from ._cache import register_persisted
from ._index import delete_ids, pin, sync_from_cdf

# token pattern: word | number | single non-space symbol (BPE-ish split)
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword marker sets for the n-gram-free heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "les", "des", "et", "une"],
}


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokens + regex (BPE-ish) tokens per document.

    Returns: id_col, ws_tokens (int), re_tokens (int), n_chars (int).
    """
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    re_count = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0)))
    return df.select(
        F.col(id_col),
        ws.cast("int").alias("ws_tokens"),
        re_count.cast("int").alias("re_tokens"),
        F.length(text_col).cast("int").alias("n_chars"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features used by pretraining-data filters:
    token count, mean token length, distinct-token ratio, alpha ratio.

    Returns: id_col, n_tokens, mean_tok_len, uniq_ratio, alpha_ratio,
    quality (all double, rounded to 6 dp for cross-engine stability).
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # stage the token array once per row — expression references don't
    # share work across projections, so size()/array_distinct() over the
    # raw split expression would re-tokenize per reference
    staged = df.select(
        F.col(id_col),
        words.alias("__w"),
        F.length(text_col).cast("double").alias("__nc"),
        F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
        .cast("double")
        .alias("__alpha"),
    )
    n_tokens = F.size("__w").cast("double")
    # nullif: an EMPTY document states NULL ratios instead of raising
    # under ANSI mode (Spark 4 default), matching the zero-norm cosine
    # convention in similarity.py
    n_chars = F.nullif(F.col("__nc"), F.lit(0.0))
    mean_tok_len = (
        (F.col("__nc") - (n_tokens - 1)) / F.nullif(n_tokens, F.lit(0.0))
    )  # chars minus separators, per token
    uniq_ratio = F.size(F.array_distinct("__w")).cast("double") / F.nullif(
        n_tokens, F.lit(0.0)
    )
    alpha_ratio = F.col("__alpha") / n_chars
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.3
        + uniq_ratio * 0.4
        + alpha_ratio * 0.3
    )
    return staged.select(
        F.col(id_col),
        F.round(n_tokens, 6).alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def _marker_count(text_col: str, markers: list[str]) -> Column:
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), F.lit(0))
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-marker language ID: score each language by marker-word
    hits, predict the argmax (ties: alphabetical language order, then
    'und' — undetermined — when no marker hits at all).

    Returns: id_col, pred_lang, plus score_<lang> columns (int).
    """
    scores = {
        lang: _marker_count(text_col, markers).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scored = df.select(F.col(id_col), *scores.values())
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier languages win ties
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        id_col, pred.alias("pred_lang"), *[f"score_{l}" for l in langs]
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping word-window chunks — the
    standard pre-tokenization step of a training pipeline (context-window
    packing, RAG indexing).

    Chunks start every ``stride = chunk_size - overlap`` words; the last
    chunk may be short. All JVM built-ins (split/sequence/transform/
    explode) so the whole thing is codegen'd and embarrassingly parallel:
    no shuffle at all — each input row expands in place, so it scales
    linearly to any number of executors.

    Returns: id_col, chunk_id (0-based), chunk_tokens, chunk_text.
    """
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(w)
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    out = df.select(
        F.col(id_col), w.alias("_w"), F.explode(starts).alias("_s")
    )
    chunk = F.slice(F.col("_w"), F.col("_s"), chunk_size)
    return out.select(
        F.col(id_col),
        ((F.col("_s") - 1) / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    part_col: str,
    budget: int = 512,
) -> DataFrame:
    """Concat-and-split sequence packing: documents are (logically)
    concatenated in ``id_col`` order within each ``part_col`` group and
    cut every ``budget`` tokens; a document's bin is the bin in which it
    starts. This is GPT-style packing expressed relationally: an
    exclusive prefix sum over a window, no Python.

    Partitioning by ``part_col`` (e.g. source or shard) keeps the window
    per-group, so at 100 TB each group packs independently — no global
    sort, no single-partition window. Skewed groups can be pre-split by
    adding a shard key to part_col.

    Returns one row per bin: part_col, bin_id, n_docs, bin_tokens.
    """
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    w = Window.partitionBy(part_col).orderBy(id_col)
    cum = F.sum("n_tok").over(w)
    binned = (
        df.select(F.col(part_col), F.col(id_col), n_tok.alias("n_tok"))
        .withColumn("bin_id", F.floor((cum - F.col("n_tok")) / budget))
    )
    return (
        binned.groupBy(part_col, "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
        )
    )


def pack_sequences_nextfit(
    df: DataFrame,
    ntok_col: str,
    id_col: str,
    part_col: str,
    budget: int = 512,
) -> DataFrame:
    """NEXT-FIT whole-sequence packing — the packer that never SPLITS
    a sequence (concat-and-split cuts documents at window edges; many
    SFT recipes refuse that): within each ``part_col`` group,
    sequences are taken in ``id_col`` order and a new bin opens
    whenever the current one cannot hold the next sequence whole; a
    sequence longer than the budget occupies its own bin and is
    flagged ``overflow``. The fold is inherently sequential per
    group, so it runs as ONE Arrow-batched applyInPandas over the
    group — exactly the place the operator catalog reserves Python
    for (custom sequential state), never per-row UDFs. At 100 TB the
    parallelism is the group count; skewed groups pre-split by
    adding a shard key to part_col (pack_sequences' contract).
    Expects a precomputed ``ntok_col`` (any token convention — the
    caller decides what a 'token' is). Returns one row per input
    sequence: (part_col, id_col, n_tok, bin_id, overflow)."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")

    import pandas as pd

    # carry the caller's actual key dtypes (sources may be ints, ids
    # may be strings) instead of assuming string/long
    dtypes = dict(df.dtypes)
    out_schema = (
        f"{part_col} {dtypes[part_col]}, {id_col} {dtypes[id_col]}, "
        "n_tok long, bin_id long, overflow boolean"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        bins, fill, bin_id = [], 0, 0
        for n in pdf["__n"].astype("int64"):
            if fill > 0 and fill + n > budget:
                bin_id += 1
                fill = 0
            bins.append(bin_id)
            fill += int(n)
        return pd.DataFrame(
            {
                part_col: pdf[part_col],
                id_col: pdf[id_col],
                "n_tok": pdf["__n"].astype("int64"),
                "bin_id": pd.Series(bins, index=pdf.index, dtype="int64"),
                "overflow": pdf["__n"].astype("int64") > budget,
            }
        )

    return (
        df.select(
            F.col(part_col),
            F.col(id_col),
            F.col(ntok_col).cast("long").alias("__n"),
        )
        .groupBy(part_col)
        .applyInPandas(fold, schema=out_schema)
    )


FIM_PRE, FIM_SUF, FIM_MID = "<fim_prefix>", "<fim_suffix>", "<fim_middle>"


def fim_transform(
    df: DataFrame,
    text_col: str,
    id_col: str,
    spm_permille: int = 500,
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022) — the
    document rewrite code/pretraining pipelines apply to a fraction of
    the corpus so the model learns infilling: split each document at
    two DETERMINISTIC character positions derived from the id (no RNG
    — reproducible and oracle-replayable) into (prefix, middle,
    suffix), then emit the sentinel form

      PSM: <fim_prefix> P <fim_suffix> S <fim_middle> M
      SPM: <fim_suffix> S <fim_prefix> P <fim_middle> M

    choosing SPM for ``id % 1000 < spm_permille`` (the paper's 50/50
    default). Documents shorter than 3 chars pass through untouched
    with mode 'raw'. Pure substring/length built-ins — map-only, zero
    Python. Returns (id_col, mode, prefix_chars, middle_chars,
    suffix_chars, transformed)."""
    if not 0 <= spm_permille <= 1000:
        raise ValueError(f"spm_permille must be in [0, 1000], got {spm_permille}")
    t = F.col(text_col)
    i = F.col(id_col)
    L = F.length(t)
    # split points: a in [1, L-2] and b in [a+1, L-1], so all three
    # parts are non-empty on any document of >= 3 chars
    a = (F.lit(1) + F.pmod(i * 13, F.greatest(L - 2, F.lit(1)))).cast(
        "int"
    )
    staged = df.withColumn("__a", a)
    b = (
        F.col("__a")
        + F.lit(1)
        + F.pmod(i * 7, F.greatest(L - F.col("__a") - 1, F.lit(1)))
    ).cast("int")
    staged = staged.withColumn("__b", b)
    prefix = F.substring(t, F.lit(1), F.col("__a"))
    middle = F.substring(
        t, F.col("__a") + F.lit(1), F.col("__b") - F.col("__a")
    )
    suffix = F.substring(
        t, F.col("__b") + F.lit(1), L - F.col("__b")
    )
    spm = F.pmod(i, F.lit(1000)) < spm_permille
    psm_form = F.concat(
        F.lit(FIM_PRE), prefix, F.lit(FIM_SUF), suffix, F.lit(FIM_MID),
        middle,
    )
    spm_form = F.concat(
        F.lit(FIM_SUF), suffix, F.lit(FIM_PRE), prefix, F.lit(FIM_MID),
        middle,
    )
    raw = L < 3
    return staged.select(
        F.col(id_col),
        F.when(raw, F.lit("raw"))
        .when(spm, F.lit("spm"))
        .otherwise(F.lit("psm"))
        .alias("mode"),
        F.when(raw, F.lit(None)).otherwise(F.col("__a"))
        .cast("long")
        .alias("prefix_chars"),
        F.when(raw, F.lit(None))
        .otherwise(F.col("__b") - F.col("__a"))
        .cast("long")
        .alias("middle_chars"),
        F.when(raw, F.lit(None))
        .otherwise(L - F.col("__b"))
        .cast("long")
        .alias("suffix_chars"),
        F.when(raw, t)
        .when(spm, spm_form)
        .otherwise(psm_form)
        .alias("transformed"),
    )


# PII patterns shared by the Spark and oracle sides (RE2/Java compatible)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9]{4,}"


def redact_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact email addresses and long digit runs (card/phone/SSN-like)
    from document text, keeping per-document counts — the scrub step of a
    compliance-aware training pipeline. Pure regexp built-ins, row-local
    (no shuffle), codegen'd.

    Returns: id_col, n_emails, n_longnums, redacted (text with <EMAIL> /
    <NUM> placeholders).
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_longnums = F.size(
        F.regexp_extract_all(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), F.lit(LONGNUM_RE), F.lit(0)
        )
    )
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), LONGNUM_RE, "<NUM>"
    )
    return df.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_longnums.cast("long").alias("n_longnums"),
        redacted.alias("redacted"),
    )


def repetition_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Within-document repetition: fraction of duplicate word 3-grams,
    a standard pretraining quality filter (high ratio = boilerplate /
    degenerate text). Row-local array built-ins only — no shuffle, no
    UDF; scales linearly.

    Returns: id_col, n_grams, rep_ratio (= 1 - distinct/total, 0 when
    the document has fewer than 3 words).
    """
    # stage the token array FIRST: element_at(<split expr>, i) inside the
    # transform lambda re-evaluates the whole split per element (no CSE
    # into lambda bodies), turning shingling O(words^2) per document —
    # a column reference to a materialized array is O(1) per access
    tokens = df.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__w"),
    )
    w = F.col("__w")
    n = F.size(w)
    # sequence(1, 0) would run DESCENDING in Spark, and the staged
    # projection evaluates unconditionally, so short docs must get an
    # EMPTY index array (not a clamped one that would index past the end)
    idx = F.when(
        n >= 3, F.sequence(F.lit(1), F.greatest(n - F.lit(2), F.lit(1)))
    ).otherwise(F.expr("array()").cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(w, i),
            F.element_at(w, i + F.lit(1)),
            F.element_at(w, i + F.lit(2)),
        ),
    )
    # materialize the shingle array ONCE per row in a staging projection:
    # referencing the `sh` expression from size/array_distinct/division
    # directly would re-run the whole tokenize+transform per reference
    # (no cross-expression CSE) — measured 2.6x slower
    staged = tokens.select(F.col(id_col), n.alias("__n"), sh.alias("__sh"))
    total = F.size("__sh")
    rep = F.when(
        F.col("__n") >= 3,
        F.lit(1.0) - F.size(F.array_distinct("__sh")).cast("double") / total,
    ).otherwise(F.lit(0.0))
    return staged.select(
        F.col(id_col),
        F.when(F.col("__n") >= 3, total).otherwise(F.lit(0)).cast("long").alias("n_grams"),
        F.round(rep, 6).alias("rep_ratio"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document (keyword extraction). Fully
    relational: explode -> two hash aggregations (term frequency per doc,
    document frequency per term) -> broadcast the tiny per-term IDF side
    back onto the tf side -> per-doc top-k window. The only shuffles are
    the two aggregations on (doc, term) / (term); the IDF join is a
    broadcast at any corpus size because the vocabulary is orders of
    magnitude smaller than the corpus.

    idf = ln(N / df); ties broken by term for determinism.
    Returns: id_col, term, tf (long), tfidf (double, 6dp), rnk (long).
    """
    from pyspark.sql import Window

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = df.select(F.col(id_col), F.explode(words).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    docfreq = tok.select(id_col, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n_docs = df.select(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def build_vocabulary(
    df: DataFrame, text_col: str, min_freq: int = 1
) -> DataFrame:
    """Corpus vocabulary with deterministic ids: terms ranked by
    (frequency desc, term asc) — the standard tokenizer-training
    pre-step. The global row_number is a single ordered window, which is
    acceptable for a vocabulary (vastly smaller than the corpus); the
    heavy part — the term count — is an ordinary partial+final hash
    aggregation over the exploded corpus.

    Returns: term, freq (long), vocab_id (long, 1-based).
    """
    from pyspark.sql import Window

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    counts = (
        df.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_freq)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return counts.select(
        "term",
        F.col("freq").cast("long").alias("freq"),
        F.row_number().over(w).cast("long").alias("vocab_id"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed). Identical fingerprints <=> exact
    duplicates under normalization.

    Returns: id_col, fp (32-char hex string).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


# Gopher rule-filter stopwords (Rae et al. 2021 appendix A1.1 uses a
# small English function-word list; this is the published set)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021, arXiv:2112.11446
    appendix A1.1): per-document boolean verdicts for each repetition-free
    quality rule plus the conjunction, so a pipeline can both filter and
    audit WHY a document failed. Unlike ``quality_score`` (a soft scalar
    for threshold sweeps), this is the hard keep/drop gate production
    corpora apply first.

    Rules (each its own ok_* column):
      - word count within [min_words, max_words]
      - mean word length within [min_mean_word_len, max_mean_word_len]
      - '#'/'...' symbol-to-word ratio <= max_symbol_ratio
      - fraction of words containing an alphabetic char >= min_alpha_word_ratio
      - at least min_stopwords DISTINCT stopwords from the Gopher list

    100 TB design: map-only — a single projection over the corpus scan,
    whole-stage codegen end to end, no shuffle, no UDF. The word array is
    staged once per row (expression references don't share work across
    projections).

    Returns: id_col, n_words (int), mean_word_len / symbol_ratio /
    alpha_word_ratio (double, 6 dp), n_stopwords (int), ok_word_count,
    ok_mean_word_len, ok_symbol_ratio, ok_alpha_words, ok_stopwords,
    passes (boolean).
    """
    return _gopher_metrics_frame(
        df,
        text_col,
        id_col,
        (),
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_symbol_ratio,
        min_alpha_word_ratio,
        min_stopwords,
    )


def _gopher_metrics_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra_cols: tuple,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """gopher_quality_filter's body with optional passthrough columns
    (``extra_cols``, carried unchanged after ``id_col``). The funnel
    composition uses it to keep the document text alongside the
    verdict, so quality filtering and exact dedup fuse into ONE corpus
    pass — sharing this builder (not re-deriving the predicate) is
    what guarantees the verdicts can never drift between the public
    operator and the fused path."""
    # NULL text is normalized to '' BEFORE tokenizing: Spark's legacy
    # size(split(NULL)) = -1 would otherwise produce n_words=-1 and
    # non-null ratios while a SQL oracle yields NULLs — coalescing makes
    # the NULL-document verdict deterministic (and a fail) on any engine
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.trim(F.lower(text)), r"\s+")
    symbol_hits = F.size(
        F.regexp_extract_all(text, F.lit(r"#|\.\.\."), F.lit(0))
    )
    passthrough = [F.col(c) for c in extra_cols]
    staged = df.select(
        F.col(id_col),
        *passthrough,
        words.alias("__w"),
        symbol_hits.cast("double").alias("__sym"),
    )
    n_words = F.size("__w")
    nw_d = n_words.cast("double")
    # sum of word lengths == length of the delimiter-less join — one
    # codegen-friendly built-in instead of an interpreted
    # aggregate(transform(...)) pair. The remaining higher-order
    # expressions are parsed JVM-side from SQL strings: building the
    # same trees from Python lambdas costs ~0.7 s of py4j round-trips
    # per invocation (driver-side, paid before any task runs).
    mean_word_len = (
        F.expr("length(array_join(__w, ''))").cast("double") / nw_d
    )
    alpha_word_ratio = (
        F.expr("size(filter(__w, w -> w rlike '[a-z]'))").cast("double")
        / nw_d
    )
    symbol_ratio = F.col("__sym") / nw_d
    # literal array built from F.lit, never interpolated into a SQL
    # string — a stopword containing a quote (or any other SQL
    # metacharacter) can't break the parse. Unlike the HOF lambdas
    # above (whole expression trees, ~0.7 s of py4j round-trips), one
    # flat 8-literal array costs a handful of calls.
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stopwords = F.size(
        F.array_intersect(F.array_distinct(F.col("__w")), stop_arr)
    )
    staged2 = staged.select(
        F.col(id_col),
        *passthrough,
        n_words.cast("int").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_word_ratio, 6).alias("alpha_word_ratio"),
        n_stopwords.cast("int").alias("n_stopwords"),
    )
    ok_wc = F.col("n_words").between(min_words, max_words)
    ok_mwl = F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
    ok_sym = F.col("symbol_ratio") <= max_symbol_ratio
    ok_alpha = F.col("alpha_word_ratio") >= min_alpha_word_ratio
    ok_stop = F.col("n_stopwords") >= min_stopwords
    return staged2.select(
        "*",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("passes"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark-decontamination check: for each corpus document, count
    word n-gram collisions with an evaluation set (the standard 13-gram
    overlap test run before training on scraped corpora).

    The eval set is SMALL by definition (benchmarks are thousands of
    rows, the corpus is billions), so its distinct shingles broadcast:
    the corpus side is a map-only shingle explode + broadcast semi-join
    + per-doc count — no corpus-sized shuffle at any point.

    Both sides join on xxhash64 of the shingle, not the string: an
    n=13 shingle is ~80 bytes and the corpus side explodes ~n_words of
    them per document, so carrying strings into the join is pure GC
    pressure (the funnel scale bench read 14x instead of 10x going
    1M -> 10M docs on this stage before the change). A 64-bit collision
    adding a phantom hit needs an eval shingle and a corpus shingle
    hashing equal — P ~ |corpus grams| x |eval grams| / 2^64, vanishing
    at any realistic eval-set size (and the same trade the LSH
    signature index already makes in _hash_shingles).

    Returns: id_col, n_hits (long) — documents with >= 1 colliding
    n-gram, with how many of their distinct shingles collide.
    """
    from .dedup import word_shingles

    corpus_sh = word_shingles(corpus, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("__h")
    )
    eval_sh = (
        word_shingles(eval_df, text_col, id_col, n)
        .select(F.xxhash64("shingle").alias("__h"))
        .distinct()
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "__h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def char_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shannon entropy (nats) of the character distribution per document
    — a cheap perplexity proxy: machine-generated or repetitive text
    scores low, natural prose high. Two hash aggregations keyed by the
    doc id (map-side partials both times); no window, no Python.

    Returns: id_col, n_chars (long), entropy (double, rounded 1e-9).
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_chars"),
        # H = ln(N) - (1/N) * sum(c * ln c)
        (
            F.log(F.sum("cnt"))
            - F.sum(F.col("cnt") * F.log("cnt")) / F.sum("cnt")
        ).alias("entropy"),
    )
    return totals.select(
        F.col(id_col),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round("entropy", 9).alias("entropy"),
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Out-of-vocabulary rate per document against a vocabulary relation
    with a ``term`` column (e.g. build_vocabulary's output): the
    tokenizer-coverage check run when retargeting a corpus. The
    vocabulary broadcasts (it is orders of magnitude smaller than the
    corpus); the corpus side is explode + broadcast left join + one
    aggregation keyed by doc id.

    Returns: id_col, n_tokens, n_oov (long), oov_rate (double).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    )
    marked = toks.join(
        F.broadcast(vocab.select("term", F.lit(1).alias("__in_vocab"))),
        "term",
        "left",
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 9).alias("oov_rate"),
        )
    )


def unigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: DataFrame | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Unigram language-model scoring — the cheap perplexity proxy used
    to rank pretraining documents (e.g. CCNet-style filtering, with a
    unigram model standing in for the KenLM 5-gram; CCNet itself scores
    against a BOUNDED reference model, Wenzek et al. 2020).

    ``model`` is a (term, freq) relation; when None the model is built
    from the corpus itself and pruned to ``min_count`` (terms seen fewer
    times fold into the out-of-vocabulary mass — the standard vocabulary
    cap, and the scale bound: a raw web corpus has an UNBOUNDED distinct-
    token count, so an unpruned corpus-derived model cannot be assumed
    executor-memory-sized). Tokens absent from the model (external or
    pruned) get an absolute-discount floor count of 0.5; the model total
    is the sum over the model actually used, so pruning keeps every
    in-vocab probability an honest corpus frequency.

    Scale shape: the model join carries NO forced-broadcast hint —
    Catalyst/AQE broadcasts a model under the autoBroadcastJoinThreshold
    and falls back to a shuffled hash join above it, so an
    unexpectedly-huge vocabulary degrades to a shuffle instead of an
    executor OOM (same auto-strategy philosophy as ngram_jaccard_pairs).
    The corpus side is explode + join + one hash aggregation keyed by
    doc id. (A top-K cap is deliberately NOT offered: deterministic
    top-K over the vocabulary needs a global sort; min_count is a plain
    distributed filter with the same bounding effect.)

    avg ln p(t) is computed as avg(ln freq) - ln total (algebraically
    identical, but keeps the per-token work to one ln on an integer).

    Returns: id_col, n_tokens (long), avg_logprob (double, 1e-9).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    )
    if model is None:
        # Self-trained model: the token relation feeds BOTH the model
        # aggregation and the probe join — without pinning it, each
        # branch re-derives the full upstream plan (scan + any semi-join
        # chain + tokenize). Pinned via the bounded session registry
        # (spills to disk above memory; cf. the BM25 summaries).
        from ._cache import register_persisted

        toks = register_persisted(toks.persist(), "lm_staged_tokens")
        model = toks.groupBy("term").agg(F.count("*").alias("freq"))
        if min_count > 1:
            model = model.filter(F.col("freq") >= min_count)
    total = model.agg(F.sum("freq").cast("double").alias("__total"))
    scored = toks.join(model.select("term", "freq"), "term", "left")
    ln_freq = F.log(F.coalesce(F.col("freq").cast("double"), F.lit(0.5)))
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg(ln_freq).alias("__avg_ln_freq"),
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("__avg_ln_freq") - F.log("__total"), 9).alias(
            "avg_logprob"
        ),
    )


def duplicate_span_rate(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Exact-substring duplication statistic (the per-document fraction
    of token n-gram positions whose n-gram also occurs in ANOTHER
    document) — the measurement behind suffix-style exact-substring
    dedup: a high rate means the document is largely assembled from
    text that exists elsewhere in the corpus.

    Spans keep their positions (NO per-doc distinct — a span repeated
    inside one doc counts once per occurrence). Cross-doc span counts
    are one hash aggregation on the span text; marking is a shuffled
    equi-join back on the span (the duplicated-span relation is
    corpus-sized, so it is NOT broadcast), then one aggregation keyed by
    doc id. Three shuffles total, all on hashable keys — and NONE
    before the explode: the source is consumed map-only into the span
    relation (plan-tested). An earlier revision staged a
    repartition(id) here hoping both consumers of the span relation
    would reuse the exchange, but Catalyst's per-branch column pruning
    defeats ReuseExchange for this shape (0 reused exchanges measured),
    so the shuffle was pure cost — the q144 precedent, deleted the
    same way.

    Returns: id_col, n_spans, n_dup_spans (long), dup_rate (double).
    Documents with fewer than n tokens have no spans and are absent.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    # size<n guard: sequence(1, 0) evaluates DESCENDING in Spark
    span_arr = F.expr(
        f"CASE WHEN size(__words) >= {n} THEN "
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> concat_ws(' ', "
        f"{', '.join(f'element_at(__words, i + {j})' for j in range(n))}))"
        f" ELSE array() END"
    )
    spans = (
        df.select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.explode(span_arr).alias("span"))
    )
    dup = (
        spans.groupBy("span")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("span", F.lit(1).alias("__dup"))
    )
    marked = spans.join(dup, "span", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_dup_spans"),
        )
        .select(
            F.col(id_col),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 9).alias(
                "dup_rate"
            ),
        )
    )


# markup patterns kept RE2-safe so the DuckDB oracle runs them verbatim
MARKUP_TAG_RE = r"<[^>]*>"
MARKUP_ENTITY_RE = r"&[A-Za-z]+;|&#[0-9]+;"


def strip_markup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """HTML/boilerplate stripping: drop tags and character entities,
    collapse whitespace, and report how much of the raw text was markup
    (the scraped-web cleanup step before any quality scoring). Pure
    regexp_replace projection — map-only, codegen'd, no shuffle.

    Returns: id_col, clean_text, n_raw, n_clean (long),
    markup_ratio (double, 1e-9) = 1 - n_clean/n_raw.
    """
    no_tags = F.regexp_replace(F.col(text_col), MARKUP_TAG_RE, " ")
    no_entities = F.regexp_replace(no_tags, MARKUP_ENTITY_RE, " ")
    clean = F.trim(F.regexp_replace(no_entities, r"\s+", " "))
    staged = df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.length(text_col).cast("long").alias("n_raw"),
    )
    return staged.select(
        F.col(id_col),
        "clean_text",
        "n_raw",
        F.length("clean_text").cast("long").alias("n_clean"),
        # nullif: zero-length raw text states a NULL ratio instead of
        # raising under ANSI mode
        F.round(
            F.lit(1.0)
            - F.length("clean_text")
            / F.nullif(F.col("n_raw"), F.lit(0)).cast("double"),
            9,
        ).alias("markup_ratio"),
    )


def bigram_counts(
    df: DataFrame, text_col: str, top_n: int = 100
) -> DataFrame:
    """Top-N corpus bigrams (the co-occurrence statistic behind phrase
    mining / tokenizer merges). The count is an ordinary partial+final
    hash aggregation over the exploded bigram relation; the top-N is
    orderBy+limit, which Spark executes as TakeOrdered (per-partition
    heaps, no global sort).

    Returns: bigram, freq (long) — deterministic ties by bigram asc.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # size<2 guard: sequence(1, 0) evaluates DESCENDING in Spark
    bigrams = F.expr(
        "CASE WHEN size(__w) >= 2 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "i -> concat_ws(' ', element_at(__w, i), element_at(__w, i + 1)))"
        " ELSE array() END"
    )
    return (
        df.select(words.alias("__w"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(top_n)
    )


def remove_duplicate_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Exact-substring deduplication with REMOVAL (the companion of
    duplicate_span_rate): every token n-gram that occurs in 2+ documents
    keeps all its occurrences in ONE canonical document (the smallest
    ``id_col`` containing the span) and is scrubbed everywhere else —
    covered token positions are dropped and the text reassembled from
    the survivors.

    Shuffle shape: span hash-agg (dup detection + keeper election),
    shuffled mark-back join (dup spans are corpus-sized, never
    broadcast), coverage explode (n positions per covered span), one
    anti-join on (doc, position), one final doc-keyed aggregation to
    reassemble. All keys hashable; no window over the corpus; the
    source reaches both explodes map-only (the staged repartition(id)
    an earlier revision used bought no ReuseExchange under per-branch
    column pruning — measured, then deleted per the q144 precedent).

    Returns: id_col, clean_text, n_tokens, n_removed. Documents with no
    duplicated spans come back verbatim (modulo whitespace collapse).
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    span_arr = F.expr(
        f"CASE WHEN size(__words) >= {n} THEN "
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> concat_ws(' ', "
        f"{', '.join(f'element_at(__words, i + {j})' for j in range(n))}))"
        f" ELSE array() END"
    )
    based = df.select(F.col(id_col), words.alias("__words"))
    toks = based.select(
        F.col(id_col), F.posexplode("__words").alias("__p0", "token")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("tpos"), "token")
    spans = based.select(
        F.col(id_col), F.posexplode(span_arr).alias("__i0", "span")
    ).select(F.col(id_col), (F.col("__i0") + 1).alias("spos"), "span")

    dup = (
        spans.select(id_col, "span")
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("__nd"), F.min(id_col).alias("__keeper"))
        .filter(F.col("__nd") >= 2)
        .select("span", "__keeper")
    )
    covered = (
        spans.join(dup, "span")
        .filter(F.col(id_col) != F.col("__keeper"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("spos"), F.col("spos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    base = based.select(
        F.col(id_col), F.size("__words").cast("long").alias("n_tokens")
    )
    return base.join(reassembled, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def top_terms_per_group(
    df: DataFrame,
    text_col: str,
    group_col: str,
    id_col: str,
    k: int = 10,
    n_salts: int = 32,
) -> DataFrame:
    """Top-k most frequent whitespace tokens per group (heavy hitters
    per domain/language — the corpus-drift monitor).

    One hash aggregation on (group, token) with map-side partials, then
    a TWO-LEVEL top-k: per-(group, token-salt) ranking bounds every
    window task to its salt slice, and the final per-group ranking sees
    at most n_salts * k rows per group — no task ever materializes a
    group's full vocabulary, whatever the corpus size.

    Ordering is deterministic: count desc, then token asc.

    Returns: group_col, term, cnt (long), rank (long).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = toks.groupBy(group_col, "term").agg(
        F.count("*").cast("long").alias("cnt")
    )
    salt = F.pmod(F.xxhash64(F.col("term")), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    stage1 = (
        counts.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        stage1.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select(group_col, "term", "cnt", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    max_literal_terms: int = 512,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson et al., TREC-3 Okapi): top-k
    documents per query string — the keyword-search half of corpus
    curation (finding documents about X to audit, upsample, or
    decontaminate) that embedding ANN does not cover.

    score(q, d) = sum over query terms t of
        ln((N - df_t + 0.5) / (df_t + 0.5) + 1)          [idf, Lucene form]
        * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    100 TB design — ONE corpus scan for SMALL term batches: the
    distinct query terms are collected and folded into the scan as an
    IN-list membership probe, so per-doc length AND per-doc query-term
    frequencies are computed in a single map-side projection (tf via
    array expressions over the matched tokens — no corpus token
    explode ever leaves the map side). The cap is deliberately small
    (512): membership against a literal term list is LINEAR in the
    term count however it is phrased — array_contains, In (Catalyst's
    InSet rewrite does not reach inside lambda scopes), and even
    array_intersect all re-walk the literal per row/token (measured:
    20k terms x 13M tokens = 15-90 s map-side vs a FLAT 0.7 s for the
    broadcast-join fallback; crossover ~500 terms) — so above the cap
    the fallback's two extra scans are the cheaper trade. That
    per-doc summary — one tiny row per doc: (id, length, matched-term
    tfs), a sliver of the text it summarizes — is PERSISTED in the
    bounded session-scoped registry (``operators/_cache.py``; the last
    few summaries stay alive so building several retrieval plans
    before materializing any — two hybrid_search_rrf compositions,
    say — cannot silently drop a cache a lazy plan still needs)
    because three plan branches consume it (N/avgdl, document
    frequencies, scoring) and Catalyst's per-branch column pruning
    defeats exchange reuse for subtrees this shape: without the cache
    each branch would re-scan and re-tokenize the full corpus text.
    df_t comes from one aggregation of the postings (exact: every doc
    containing t contributes); N and avgdl are a 1-row broadcast
    aggregate. No UDFs — one codegen'd pipeline. Above
    ``max_literal_terms`` distinct query terms the operator falls back
    to the broadcast-term-set plan: a hash-probe join filters the
    token explode before any aggregation, flat in the term count, at
    the cost of a second map-side text scan for N/avgdl.

    Determinism: the summed score is rounded to 1e-6 before ranking
    (ln/avg differ across engine libms only in final ulps, which the
    rounding absorbs) and ties break on ascending doc id, so an ANSI
    SQL oracle reproduces the ranking exactly.

    Returns: query_id_col, id_col, rank (1..k), score (double, 6 dp).
    """
    # NULL text coalesces to '' BEFORE tokenizing (cf. gopher_quality_
    # filter): size(split(NULL)) is -1 under legacy sizeOfNull and would
    # otherwise poison avgdl with -1 instead of being skipped
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(query_text_col)), r"\s+"))
        ).alias("__term"),
    )
    terms = sorted(
        r["__term"] for r in qterms.select("__term").distinct().collect()
    )
    if not terms:
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        return docs.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField(
                        query_id_col, queries.schema[query_id_col].dataType
                    ),
                    StructField(id_col, docs.schema[id_col].dataType),
                    StructField("rank", IntegerType()),
                    StructField("score", DoubleType()),
                ]
            ),
        )
    if len(terms) <= max_literal_terms:
        # single-scan path: IN-list term filter (linear in the SMALL
        # bounded term count) + per-doc tf expression
        matched = F.filter(F.col("__toks"), lambda t: t.isin(terms))
        post = F.transform(
            F.array_distinct(F.col("__mt")),
            lambda t: F.struct(
                t.alias("term"),
                F.size(F.filter(F.col("__mt"), lambda x: x == t))
                .cast("double")
                .alias("tf"),
            ),
        )
        staged = (
            docs.select(F.col(id_col), toks.alias("__toks"))
            .select(
                F.col(id_col),
                F.size("__toks").cast("double").alias("__dl"),
                matched.alias("__mt"),
            )
            .select(F.col(id_col), "__dl", post.alias("__post"))
            .persist()  # per-doc summary: scanned once, consumed thrice
        )
        register_persisted(staged, "bm25")
        stats = staged.agg(
            F.count("*").cast("double").alias("__n"),
            F.avg("__dl").alias("__avgdl"),
        )
        postings = staged.select(
            F.col(id_col), "__dl", F.explode("__post").alias("__e")
        ).select(
            F.col(id_col),
            "__dl",
            F.col("__e.term").alias("__term"),
            F.col("__e.tf").alias("__tf"),
        )
    else:
        # fallback: broadcast term set filters the token explode before
        # any aggregation (shuffles carry postings only); N/avgdl cost a
        # second map-side, text-column-only scan
        d = docs.select(
            F.col(id_col),
            F.size(toks).cast("double").alias("__dl"),
            F.explode(toks).alias("__term"),
        )
        stats = docs.agg(
            F.count("*").cast("double").alias("__n"),
            F.avg(F.size(toks)).alias("__avgdl"),
        )
        term_set = qterms.select("__term").distinct()
        postings = (
            d.join(F.broadcast(term_set), "__term")
            .groupBy(id_col, "__dl", "__term")
            .agg(F.count("*").cast("double").alias("__tf"))
        )
    return _bm25_score_tail(
        postings, stats, qterms, k, k1, b, id_col, query_id_col
    )


def _bm25_score_tail(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail over a (id, __dl, __term, __tf) posting
    relation, a 1-row (__n, __avgdl) stats relation, and the
    (query_id, __term) query-term relation — used by both the ad-hoc
    bm25_topk paths and the persistent text index (query_text_index),
    so served scores can never drift from ad-hoc ones. df_t is derived
    from the postings themselves (exact); the summed score rounds to
    1e-6 with ties on ascending doc id (the oracle contract)."""
    dfreq = postings.groupBy("__term").agg(
        F.count("*").cast("double").alias("__df")
    )
    idf = F.log(
        (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    weight = (
        idf
        * (F.col("__tf") * F.lit(k1 + 1.0))
        / (
            F.col("__tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("__dl") / F.col("__avgdl")
            )
        )
    )
    scored_terms = (
        postings.join(F.broadcast(dfreq), "__term")
        .join(F.broadcast(stats))
        .select(id_col, "__term", weight.alias("__w"))
    )
    per_query = (
        scored_terms.join(F.broadcast(qterms), "__term")
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("__w"), 6).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "score")
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lam: float = 0.5,
    min_count: int = 1,
) -> DataFrame:
    """Interpolated bigram language-model scoring — the step up from
    ``unigram_lm_score`` toward CCNet-style perplexity filtering
    (Wenzek et al. 2020), with a Jelinek-Mercer-interpolated bigram
    model standing in for the KenLM 5-gram:

        p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i) / c(w_{i-1})
                         + (1 - lam) * c(w_i) / total

    trained on the corpus itself; a document scores the average
    ln p over its bigram positions (docs under two tokens emit no row).

    ``min_count`` prunes the unigram model (cf. unigram_lm_score —
    CCNet scores against a bounded model): an out-of-vocabulary history
    token contributes NO bigram mass (there is no reliable c(prev) to
    condition on — standard back-off to the unigram term), and an
    out-of-vocabulary current token takes the 0.5-count floor over the
    pruned model's total.

    Scale shape: the probability is a function of the DISTINCT bigram
    alone, so the MODEL is assembled at distinct-(prev, cur)
    granularity — bigram counts joined with the two unigram legs and
    the 1-row total, all vocabulary-sized relations — and the
    data-sized occurrence relation is touched by exactly ONE
    unhinted equi-join (AQE broadcasts the model while it fits under
    the autoBroadcastJoinThreshold and degrades to a shuffled join
    above — a raw-web vocabulary is unbounded, so forcing the
    broadcast would be the one OOM in the operator); the finale is one
    hash aggregation keyed by doc id. The tokenized source is pinned
    once via the bounded session registry and re-exploded per branch
    (three consumers). All built-ins, no UDFs. Use ``lam`` values
    whose complement is exactly representable (0.5, 0.75, 0.25) when
    an external oracle must reproduce scores bit-for-bit. Returns:
    id_col, n_bigrams (long), avg_logprob (double, 1e-9-rounded).
    """
    from ._cache import register_persisted

    words = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    # The tokenized relation feeds three consumers (bigram occurrences
    # — twice, for the model counts and the probe side — and the
    # unigram vocabulary); pin it once via the bounded session registry
    # so each branch re-explodes a cached narrow array column instead
    # of re-running the upstream scan/join chain + tokenize per branch.
    staged = register_persisted(
        df.select(F.col(id_col), words.alias("__w")).persist(),
        "lm_staged_tokens",
    )
    # positional bigrams (every occurrence counts once per position)
    bigram_arr = F.expr(
        "CASE WHEN size(__w) >= 2 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "i -> struct(element_at(__w, i) AS prev, "
        "element_at(__w, i + 1) AS cur)) "
        "ELSE array() END"
    )
    pairs = staged.select(
        F.col(id_col), F.explode(bigram_arr).alias("__bg")
    ).select(id_col, "__bg.prev", "__bg.cur")
    toks = staged.select(F.explode("__w").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c1"))
    if min_count > 1:
        uni = uni.filter(F.col("c1") >= min_count)
    total = uni.agg(F.sum("c1").cast("double").alias("__total"))
    big = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    # The interpolated probability is a function of the DISTINCT bigram
    # alone, so the model is assembled at distinct-(prev, cur)
    # granularity — vocabulary-sized, not occurrence-sized — and the
    # data-sized occurrence relation is touched by exactly ONE join
    # (AQE broadcasts the model while it fits, shuffles above). The
    # earlier shape joined uni/total onto every occurrence row: three
    # extra passes over the biggest relation in the plan.
    p = (
        F.when(
            F.col("__c1p").isNotNull(),
            F.lit(lam)
            * F.col("c2").cast("double")
            / F.col("__c1p").cast("double"),
        ).otherwise(F.lit(0.0))
        + F.lit(1.0 - lam)
        * F.coalesce(F.col("__c1c").cast("double"), F.lit(0.5))
        / F.col("__total")
    )
    model = (
        big.join(
            uni.select(F.col("term").alias("prev"), F.col("c1").alias("__c1p")),
            "prev",
            "left",
        )
        .join(
            uni.select(F.col("term").alias("cur"), F.col("c1").alias("__c1c")),
            "cur",
            "left",
        )
        .join(F.broadcast(total))
        .select("prev", "cur", F.log(p).alias("__lnp"))
    )
    return (
        pairs.join(model, ["prev", "cur"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("__lnp"), 9).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Persistent BM25 text index: the keyword-retrieval third of the
# persistent corpus-state story (LSH signature index for dedup,
# IVFPQ index for ANN, THIS for lexical search) — the inverted index
# is computed once and maintained incrementally (lifecycle:
# operators/_index.py), so every query batch touches stored posting
# rows instead of re-tokenizing 100 TB of text.
# --------------------------------------------------------------------------

_TXT_PROP = "dls.textIndex."  # table-property prefix on the postings table
_TXT_TOKENIZER = "ws_lower_v1"  # whitespace-split over lower(coalesce(text,''))


def _text_index_tables(index_path: str) -> tuple[str, str]:
    return (
        f"{index_path}/postings",  # (term, doc_id, tf double)
        f"{index_path}/lengths",   # (doc_id, dl double) — the known-id set
    )


def _text_index_relations(docs: DataFrame, text_col: str, id_col: str):
    """(postings, lengths) for ``docs`` under the pinned tokenizer —
    the ONE tokenization convention every build/update shares (pinned
    as a table property so a version bump can refuse mixed indexes)."""
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    postings = (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count("*").cast("double").alias("tf"))
    )
    lengths = docs.select(
        F.col(id_col), F.size(toks).cast("double").alias("dl")
    )
    return postings, lengths


def build_text_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    corpus_version: int = 0,
) -> None:
    """Build the persistent inverted index: two versioned Delta tables
    under ``index_path`` — per-(term, doc) term frequencies and per-doc
    token lengths — with the tokenizer convention and the corpus
    baseline version (``corpus_version``, see operators/_index.py)
    pinned as table properties.

    The postings table is range-partitioned AND sorted by term at
    write, so every file carries a tight term min/max — a query's
    ``term IN (...)`` predicate prunes to the files whose range
    intersects the query vocabulary instead of scanning the corpus's
    whole posting set. Build cost is one tokenize pass + one (term,
    doc) aggregation — what a single ad-hoc bm25_topk call spends on
    the corpus side, amortized over every future query batch."""
    from ..writer import write_delta

    t_postings, t_lengths = _text_index_tables(index_path)
    postings, lengths = _text_index_relations(corpus, text_col, id_col)
    write_delta(
        postings.repartitionByRange(F.col("term")).sortWithinPartitions(
            "term"
        ),
        t_postings,
        mode="overwrite",
        properties=pin(
            _TXT_PROP, {"tokenizer": _TXT_TOKENIZER}, corpus_version
        ),
    )
    write_delta(lengths, t_lengths, mode="overwrite")


def update_text_index(
    new_docs: DataFrame, text_col: str, id_col: str, index_path: str
) -> None:
    """Incrementally index newly-appended documents: ids already in the
    lengths table are skipped, so replaying an update is a no-op.
    Append ordering — postings FIRST, lengths second (the mirror of the
    LSH index's buckets-first): a crash between the appends leaves the
    new ids UNKNOWN (no lengths row — queries simply don't see them,
    and they are invisible anyway because scoring inner-joins lengths),
    and the replay re-appends their postings, whose duplicates the
    query side absorbs exactly (max(tf) over identical rows). The
    reverse order would strand a crash as known-but-postingless: a doc
    the known-id skip makes permanently unfindable."""
    from ..reader import read_delta
    from ..writer import write_delta

    spark = new_docs.sparkSession
    t_postings, t_lengths = _text_index_tables(index_path)
    known = read_delta(spark, t_lengths).select(id_col)
    fresh = new_docs.join(known, id_col, "left_anti")
    postings, lengths = _text_index_relations(fresh, text_col, id_col)
    write_delta(postings, t_postings, mode="append")
    write_delta(lengths, t_lengths, mode="append")


def delete_from_text_index(
    ids: DataFrame, index_path: str, id_col: str = "doc_id"
) -> None:
    """GDPR delete propagation: MERGE-delete the ids' ``lengths`` rows,
    then their ``postings`` rows (ordering: operators/_index.py). Ghost
    postings from a torn delete are invisible: scoring inner-joins the
    lengths table, so results, document frequencies and N/avgdl are
    already exactly the surviving corpus's."""
    t_postings, t_lengths = _text_index_tables(index_path)
    delete_ids(ids, id_col, t_lengths, t_postings)


def sync_text_index_from_cdf(
    spark,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Maintain the inverted index from the corpus Delta table's change
    feed (``_index.sync_from_cdf``): re-tokenize only the touched docs,
    so maintenance cost scales with the mutations, never the corpus.
    Returns the number of touched ids."""

    def reindex(touched: DataFrame, docs: DataFrame) -> None:
        delete_from_text_index(touched, index_path, id_col)
        update_text_index(docs, text_col, id_col, index_path)

    return sync_from_cdf(
        spark, corpus_path, _text_index_tables(index_path)[0], _TXT_PROP,
        id_col, reindex,
    )


def query_text_index(
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    max_df_frac: float | None = None,
    max_literal_terms: int = 4096,
) -> DataFrame:
    """BM25 top-k served FROM the stored index: the corpus text is
    never touched — candidates come from the postings table pruned to
    the query vocabulary (``term IN (...)`` reaches the scan, and the
    build's term-sorted layout lets file min/max skipping drop every
    file outside the query's term ranges), liveness + document length
    come from one inner join against the narrow lengths table (ghost
    postings from torn deletes vanish here, so df_t, scores, and
    N/avgdl are exactly the surviving corpus's), and at-least-once
    update replays are absorbed by max(tf) over identical rows. The
    scoring tail is SHARED with bm25_topk (_bm25_score_tail), so served
    rankings provably cannot drift from ad-hoc ones (pytest-pinned).

    ``max_df_frac`` is the stop-term guard (the hot-shingle analogue
    from the LSH index): a stopword query term matches ~every document,
    so its posting pull is corpus-sized; when set, terms whose stored
    document frequency exceeds ``max_df_frac * N`` are DROPPED before
    the candidate pull (a bounded |terms|-row probe against the pruned
    postings scan). BM25's idf already scores such terms near zero, so
    the ranking loss is tiny while the candidate volume bound is the
    difference between a selective pull and a corpus scan per stop
    term. Default None = exact (what the q148 oracle replays).

    ``max_literal_terms`` caps the IN-list branch: a term IN-list
    serializes into every task, and the file-skipping benefit of a
    scan-reachable predicate saturates far below the old 200k default
    (postings files hold term RANGES — a few thousand literals already
    touch every range a vocab-sized list would). Beyond the cap the
    term set broadcast-joins instead (same rows, no plan bloat). This
    is the same analysis that capped bm25_topk's literal fold at 512;
    the cap differs because InSet here is a scan predicate (hash-set
    probe + min/max skipping), not the linear HOF-lambda membership
    walk that bit bm25_topk.

    Returns: query_id_col, id_col, rank (1..k), score (double, 6 dp)."""
    from ..reader import read_delta

    spark = queries.sparkSession
    t_postings, t_lengths = _text_index_tables(index_path)
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(query_text_col)), r"\s+"))
        ).alias("__term"),
    )
    terms = sorted(
        r["__term"] for r in qterms.select("__term").distinct().collect()
    )
    lengths = read_delta(spark, t_lengths)

    def _typed_empty() -> DataFrame:
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(
                        query_id_col, queries.schema[query_id_col].dataType
                    ),
                    StructField(id_col, lengths.schema[id_col].dataType),
                    StructField("rank", IntegerType()),
                    StructField("score", DoubleType()),
                ]
            ),
        )

    if not terms:
        return _typed_empty()
    if max_df_frac is not None:
        # stop-term probe: |terms| rows collect, bounded by the query
        # contract; dup posting rows inflate a df estimate only UP, so
        # a dropped term is at worst dropped slightly early
        n_docs = lengths.count()
        df_rows = (
            read_delta(spark, t_postings)
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.count_distinct(F.col(id_col)).alias("__df"))
            .collect()
        )
        cap = max_df_frac * n_docs
        terms = sorted(r["term"] for r in df_rows if r["__df"] <= cap)
        if not terms:
            return _typed_empty()
    post = read_delta(spark, t_postings)
    if len(terms) <= max_literal_terms:
        # literal IN-list: the predicate reaches the scan, so the
        # build's term-sorted layout prunes files by min/max
        post = post.filter(F.col("term").isin(terms))
    else:
        # degenerate vocab-sized query batch: a literal that size
        # would bloat the plan — broadcast-join the term set instead
        # (no file skipping, but the filter still precedes every
        # aggregation)
        post = post.join(
            F.broadcast(
                qterms.select(F.col("__term").alias("term")).distinct()
            ),
            "term",
        )
    cand = (
        post
        # absorb duplicate posting rows from at-least-once update
        # replays (identical (term, doc, tf) rows -> max is exact)
        .groupBy("term", id_col)
        .agg(F.max("tf").alias("__tf"))
        .join(lengths, id_col)  # liveness + dl in one inner join
        .select(
            F.col(id_col),
            F.col("dl").alias("__dl"),
            F.col("term").alias("__term"),
            "__tf",
        )
    )
    stats = lengths.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg("dl").alias("__avgdl"),
    )
    return _bm25_score_tail(
        cand, stats, qterms, k, k1, b, id_col, query_id_col
    )


def hashed_linear_weights(
    spark, n_buckets: int = 4096, seed: str = "qclf-v1"
) -> DataFrame:
    """Deterministic placeholder weight table for
    :func:`hashed_linear_score` — (bucket, weight_milli) with weights
    uniform in [-1.000, +1.000] derived from md5 of the bucket id. In
    production the table is the TRAINED model loaded from storage;
    this generator stands in with the exact same schema and plan
    shape (model-sized relation, broadcast at scoring time), and its
    md5 arithmetic replays verbatim in the SQL oracle."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + "-w"), F.col("id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (F.pmod(h, F.lit(2001)) - F.lit(1000)).cast("long").alias(
            "weight_milli"
        ),
    )


def hashed_linear_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame | None = None,
    n_buckets: int = 4096,
    seed: str = "qclf-v1",
) -> DataFrame:
    """fastText-style model-based quality filter: a linear classifier
    over hashed bag-of-words features — the 'quality classifier' stage
    of CCNet/LLaMA-class curation pipelines, distinct from the LM
    scorers (supervised-model shape: fixed weight vector, hashing
    trick, sigmoid decision).

    Each token hashes to one of ``n_buckets`` feature buckets
    (engine-portable md5 arithmetic); the document score is the MEAN
    bucket weight. Weights are integer millis, so the distributed sum
    is exact and order-independent; the keep decision compares the
    integer sum against zero (sign(mean) == sign(sum)), so no
    float-boundary case exists anywhere in the decision. The reported
    score and sigmoid probability round at 1e-9 (module convention for
    libm-adjacent doubles).

    Scale shape: explode -> broadcast join against the model-sized
    weight relation -> ONE doc-keyed aggregation. At 100 TB the only
    corpus-wide exchange is the per-doc groupBy; the model never
    shuffles."""
    spark = docs.sparkSession
    if weights is None:
        weights = hashed_linear_weights(spark, n_buckets, seed)
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"filter(split(lower(trim({text_col})), '\\\\s+'),"
                " x -> x != '')"
            )
        ).alias("__tok"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), F.col("__tok"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    scored = (
        toks.withColumn("__b", bucket)
        .join(F.broadcast(weights), F.col("__b") == weights.bucket)
        .groupBy(id_col)
        .agg(
            F.sum("weight_milli").alias("__sum"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )
    score = F.col("__sum") / (F.col("n_tokens") * F.lit(1000.0))
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round(score, 9).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 9).alias("prob"),
        (F.col("__sum") >= 0).alias("keep"),
    )


def dedup_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequency segment dedup (the CCNet / RefinedWeb "line
    dedup" pass, Wenzek et al. 2020 §3.1): split each document into
    NON-overlapping ``seg_words``-word segments, count each segment's
    corpus-wide document frequency, and drop EVERY occurrence of any
    segment appearing in >= ``min_docs`` distinct documents (unlike
    remove_duplicate_spans' keep-first overlapping 5-grams, this is
    the boilerplate-killer: headers/footers/licence blocks vanish from
    all copies, including the first). Text is reassembled from the
    surviving segments in original order.

    Returns: id_col, n_segments, n_removed, removed_ratio (9 dp),
    kept_text ('' when everything was boilerplate).

    Scale shape: segment extraction is one codegen'd map-only
    projection; the doc-frequency aggregate groups on md5(segment) (a
    32-hex join key instead of shuffling raw segment strings); the
    flag join is hash-partitioned on the same key (AQE handles the
    skewed boilerplate buckets); reassembly is ONE doc-keyed
    aggregation. Three exchanges total, none corpus-cartesian.
    """
    if seg_words < 1:
        raise ValueError(f"seg_words must be >= 1, got {seg_words}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    words = F.expr(
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    # CASE guards the sequence() descending-on-empty trap
    segs_expr = (
        f"CASE WHEN size(__w) >= 1 THEN "
        f"transform(sequence(1, cast(ceil(size(__w) / {seg_words}.0) as int)), "
        f"i -> concat_ws(' ', slice(__w, (i - 1) * {seg_words} + 1, {seg_words})))"
        f" ELSE cast(array() as array<string>) END"
    )
    segs = (
        df.select(F.col(id_col), words.alias("__w"))
        .select(F.col(id_col), F.posexplode(F.expr(segs_expr)).alias("__p", "__seg"))
        .select(F.col(id_col), (F.col("__p") + 1).alias("__pos"),
                F.col("__seg"), F.md5("__seg").alias("__h"))
    )
    freq = (
        segs.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .select("__h", (F.col("__nd") >= min_docs).alias("__dup"))
        .withColumnRenamed("__h", "__fh")
    )
    flagged = segs.join(freq, segs["__h"] == freq["__fh"]).drop("__fh")
    kept = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(~F.col("__dup"), F.struct("__pos", "__seg"))
            )
        ),
        lambda s: s["__seg"],
    )
    out = flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_segments"),
        F.coalesce(
            F.sum(F.when(F.col("__dup"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("kept_text"),
    )
    return out.select(
        F.col(id_col), "n_segments", "n_removed",
        F.round(F.col("n_removed") / F.col("n_segments"), 9).alias("removed_ratio"),
        "kept_text",
    )


def dsir_importance(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR data-selection weights (Xie et al., NeurIPS 2023): score
    every document by the log likelihood ratio of a hashed-bigram
    unigram model fit on a TARGET slice vs the RAW corpus,

        log w(x) = sum over bigram occurrences g of
                   ln p_target(h(g)) - ln p_raw(h(g)),

    with add-1 smoothing over ``n_buckets`` md5 buckets (the
    engine-portable hash). ``is_target`` is any boolean Column over
    ``df``'s rows (e.g. lang == 'en').

    Two corpus passes, DSIR's natural shape: pass 1 estimates both
    bucket distributions in ONE aggregation (conditional count for the
    target slice); pass 2 re-explodes and broadcast-joins the
    model-sized (n_buckets-row) log-ratio relation, then reduces to
    one doc-keyed sum. Nothing corpus-sized is cached or collected.

    Returns: id_col, n_bigrams (long), log_weight (double, 9 dp) —
    documents with < 2 words carry no bigram evidence and are omitted
    (inner semantics, mirrored by the oracle).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    words = F.expr(
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    grams = (
        "CASE WHEN size(__w) >= 2 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "i -> concat(element_at(__w, i), ' ', element_at(__w, i + 1)))"
        " ELSE cast(array() as array<string>) END"
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("__g"), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).alias("__b")
    exploded = (
        df.select(F.col(id_col), is_target.alias("__t"), words.alias("__w"))
        .select(F.col(id_col), "__t", F.explode(F.expr(grams)).alias("__g"))
        .select(F.col(id_col), "__t", bucket)
    )
    counts = exploded.groupBy("__b").agg(
        F.count("*").alias("__raw"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__tgt"),
    )
    totals = exploded.agg(
        F.count("*").alias("__raw_total"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__tgt_total"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        F.col("__b").alias("__mb"),
        (
            F.log((F.col("__tgt") + 1) / (F.col("__tgt_total") + n_buckets))
            - F.log((F.col("__raw") + 1) / (F.col("__raw_total") + n_buckets))
        ).alias("__lr"),
    )
    return (
        exploded.join(F.broadcast(model), F.col("__b") == F.col("__mb"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.sum("__lr"), 9).alias("log_weight"),
        )
    )


def hashed_text_embedding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 32,
) -> DataFrame:
    """Feature-hashed text embeddings (Weinberger et al. 2009 "hashing
    trick", the signed variant): every token adds +-1 (sign from an
    independent md5 nibble) to bucket md5(token) % dim; the bucket
    vector is L2-normalized. The cheap, model-free embedding that
    makes the dense-ANN family (cosine top-k, LSH, IVF/PQ) applicable
    to raw text — inner products approximate token-multiset overlap
    in expectation.

    Scale shape: ONE doc-keyed aggregation with ``dim`` conditional
    map-side-combined sums (no explode-side join, no pivot shuffle);
    normalization is a per-row expression. All-cancelled (zero-norm)
    vectors stay all-zero rather than dividing by zero.

    Returns: (id_col, embedding array<double> of length ``dim``).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"filter(split(lower(trim({text_col})), '\\\\s+'),"
                " x -> x != '')"
            )
        ).alias("__tok"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )
    sign = F.when(
        F.conv(F.substring(F.md5("__tok"), 9, 1), 16, 10).cast("long") % 2
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    # SQL-string construction for the dim-wide aggregate and the array
    # assembly (see similarity._dot_sql): identical parsed plan, py4j
    # round trips independent of ``dim``
    bucket_sums = [
        f"sum(CASE WHEN __b = {j} THEN __s ELSE 0.0D END) as __v{j}"
        for j in range(dim)
    ]
    comps = toks.select(
        F.col(id_col), bucket.alias("__b"), sign.alias("__s")
    ).groupBy(id_col).agg(
        F.expr(bucket_sums[0]), *[F.expr(e) for e in bucket_sums[1:]]
    )
    arr = F.expr(
        "array({})".format(", ".join(f"__v{j}" for j in range(dim)))
    )
    norm = F.sqrt(
        F.aggregate(
            arr, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    emb = F.transform(
        arr,
        lambda x: F.when(norm > 0, x / norm).otherwise(F.lit(0.0)),
    )
    return comps.select(F.col(id_col), emb.alias("embedding"))


def zipf_slope(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Zipf rank-frequency diagnostics: least-squares slope of
    ln(frequency) on ln(rank) over the corpus vocabulary — natural
    text sits near -1; a slope collapsing toward 0 flags synthetic or
    template-heavy data, one of the quick corpus-health checks run
    before training. Ranks tie-break by token so the fit is
    deterministic.

    Scale shape: one vocab aggregation (map-side combined), one
    row_number window over the VOCABULARY-sized relation (bounded by
    distinct tokens, not corpus rows), one 1-row moment aggregate.

    Returns one row: (slope, intercept double 9 dp, n_types,
    n_tokens long). Null slope when fewer than 2 types.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.expr(
                f"filter(split(lower(trim({text_col})), '\\\\s+'),"
                " x -> x != '')"
            )
        ).alias("__tok")
    )
    vocab = (
        toks.groupBy("__tok")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
    )
    w = Window.orderBy(F.col("__c").desc(), F.col("__tok").asc())
    xy = vocab.select(
        F.log(F.row_number().over(w).cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
        F.col("__c").alias("__cnt"),
    )
    m = xy.agg(
        F.count("*").cast("double").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum("__cnt").cast("long").alias("n_tokens"),
    )
    denom = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        (F.col("__n") >= 2) & (denom != 0),
        (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        / denom,
    )
    intercept = (F.col("__sy") - slope * F.col("__sx")) / F.col("__n")
    return m.select(
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.col("__n").cast("long").alias("n_types"),
        F.col("n_tokens"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-document novelty: the fraction of a document's DISTINCT
    word ``n``-grams that appear in no other document — the
    memorization-risk / boilerplate-burden diagnostic (a doc scoring
    near 0 is assembled from corpus-common phrasing; near 1 it is the
    sole source of its content). Complements repetition_ratio
    (within-doc) and dedup_segments (removal): this one only scores.

    One shingle doc-frequency aggregation + one doc rollup, both
    map-side combined; ratios are exact integers. Documents shorter
    than ``n`` words carry no n-gram evidence and are omitted.

    Returns: (id_col, n_shingles long, n_unique long,
    novelty double 9 dp).
    """
    from .dedup import word_shingles

    sh = word_shingles(df, text_col, id_col, n=n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    flagged = sh.join(freq, "shingle")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), 9).alias(
                "novelty"
            ),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 4,
    min_count: int = 20,
    k: int = 40,
) -> DataFrame:
    """Collocation mining by pointwise mutual information over a
    sliding co-occurrence window (Church & Hanks 1990):

        pmi(x, y) = ln( (c_xy / n_pairs) / ((c_x/n_tok) * (c_y/n_tok)) )

    with c_xy counting UNORDERED occurrences of x and y within
    ``window`` positions, a ``min_count`` support floor (PMI's
    low-frequency pathology), and the top ``k`` by rounded PMI with a
    pair tiebreak.

    Scale shape: pair generation is MAP-ONLY (two shallow nested
    transforms per row — never a positional self-join, which would
    shuffle corpus x window rows); then one pair aggregation, two
    broadcast unigram joins, 1-row totals, TakeOrdered.

    Returns: (word_a, word_b, n_pair long, pmi double 9 dp).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    words = F.expr(
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    pair_expr = (
        "CASE WHEN size(__w) >= 2 THEN "
        "flatten(transform(sequence(1, size(__w) - 1), "
        f"i -> transform(sequence(1, least({window}, size(__w) - i)), "
        "k -> concat(least(element_at(__w, i), element_at(__w, i + k)), ' ', "
        "greatest(element_at(__w, i), element_at(__w, i + k))))))"
        " ELSE cast(array() as array<string>) END"
    )
    staged = df.select(words.alias("__w"))
    # ONE pass over the exploded pairs: the unfiltered (pair, count)
    # relation is vocabulary^2-bounded, so totals and the floored set
    # both derive from it without a second corpus scan
    pairs_all = register_persisted(
        staged.select(F.explode(F.expr(pair_expr)).alias("__pair"))
        .groupBy("__pair")
        .agg(F.count("*").alias("__cxy"))
        .persist(),
        "pmi",
    )
    pairs = pairs_all.filter(F.col("__cxy") >= min_count)
    toks = staged.select(F.explode("__w").alias("__tok"))
    uni = register_persisted(
        toks.groupBy("__tok").agg(F.count("*").alias("__c")).persist(),
        "pmi",
    )
    totals = pairs_all.agg(F.sum("__cxy").alias("__n_pairs")).crossJoin(
        uni.agg(F.sum("__c").alias("__n_tok"))
    )
    split = pairs.select(
        F.split(F.col("__pair"), " ")[0].alias("word_a"),
        F.split(F.col("__pair"), " ")[1].alias("word_b"),
        "__cxy",
    )
    ua = uni.select(F.col("__tok").alias("word_a"), F.col("__c").alias("__ca"))
    ub = uni.select(F.col("__tok").alias("word_b"), F.col("__c").alias("__cb"))
    scored = (
        split.join(F.broadcast(ua), "word_a")
        .join(F.broadcast(ub), "word_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "word_a",
            "word_b",
            F.col("__cxy").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("__cxy") / F.col("__n_pairs"))
                    / (
                        (F.col("__ca") / F.col("__n_tok"))
                        * (F.col("__cb") / F.col("__n_tok"))
                    )
                ),
                9,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "word_a", "word_b"
    ).limit(k)


def blocklist_matches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    patterns,
    pattern_col: str = "pattern",
) -> DataFrame:
    """Multi-phrase blocklist screening — the policy/compliance filter
    a training pipeline runs against thousands of banned phrases:
    count every POSITIONAL occurrence of every blocklist phrase in
    every document (token-exact, same lowercased whitespace tokens as
    the rest of the text family) and report
    (id_col, n_matches long, n_patterns long, blocked boolean) for
    EVERY input document.

    The Aho-Corasick-equivalent relational shape: phrases group by
    token length L; ONE corpus pass emits each document's md5-keyed
    L-grams for exactly the lengths the blocklist uses (|lengths| is
    tiny for real blocklists), a broadcast join against the md5-keyed
    phrase relation finds the hits, and one doc-keyed aggregation
    rolls them up. Corpus-linear, zero UDFs; the phrase list is
    model-sized by contract (collected when given as a DataFrame).

    ``patterns``: list[str] or a DataFrame with ``pattern_col``.
    Phrases tokenize like documents; empty phrases raise.
    """
    import hashlib

    spark = df.sparkSession
    if isinstance(patterns, DataFrame):
        raw = [r[pattern_col] for r in patterns.select(pattern_col).collect()]
    else:
        raw = list(patterns)
    if not raw:
        raise ValueError("patterns must be non-empty")
    toks = []
    for p in raw:
        t = tuple(x for x in str(p).lower().strip().split() if x)
        if not t:
            raise ValueError(f"pattern tokenizes to nothing: {p!r}")
        toks.append(t)
    keyed = sorted(
        {
            (
                " ".join(t),
                len(t),
                hashlib.md5(" ".join(t).encode("utf-8")).hexdigest(),
            )
            for t in toks
        }
    )
    lengths = sorted({l for _, l, _ in keyed})
    pat = spark.createDataFrame(
        [(p, k) for p, _, k in keyed], "pattern string, __k string"
    )
    words = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    parts = [
        f"CASE WHEN size(__ws) >= {L} THEN "
        f"transform(sequence(1, size(__ws) - {L - 1}), "
        f"i -> md5(array_join(slice(__ws, i, {L}), ' ')))"
        f" ELSE CAST(array() AS array<string>) END"
        for L in lengths
    ]
    grams = (
        df.select(F.col(id_col), F.expr(words).alias("__ws"))
        .select(
            F.col(id_col),
            F.explode(F.expr("concat(" + ", ".join(parts) + ")")).alias(
                "__k"
            ),
        )
    )
    hits = (
        grams.join(F.broadcast(pat), "__k")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("__m"),
            F.countDistinct("pattern").alias("__p"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__m"), F.lit(0)).cast("long").alias(
                "n_matches"
            ),
            F.coalesce(F.col("__p"), F.lit(0)).cast("long").alias(
                "n_patterns"
            ),
            (F.coalesce(F.col("__m"), F.lit(0)) > 0).alias("blocked"),
        )
    )


def kneser_ney_bigram_model(
    df: DataFrame, text_col: str, discount: float = 0.75
) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1998) with a fixed discount — the smoothing every serious
    n-gram LM data filter uses:

      P(w|v) = max(c(v,w) - d, 0)/c(v)
             + (d * N1+(v,.)/c(v)) * (N1+(.,w) / N1+(.,.))

    All count relations are exact-integer aggregations of ONE bigram
    extraction pass (adjacent lowercased whitespace tokens); the
    probability is a fixed tree of IEEE divisions/multiplications of
    those integers, so any engine reproduces it bit-for-bit — no
    logarithm anywhere (the same determinism contract as the unigram
    tokenizer's product scores).

    Returns (v, w, c_vw long, p_kn double unrounded) for every seen
    bigram. Scale shape: one corpus bigram shuffle (map-side
    combined), then vocabulary-sized joins (context totals and
    continuation counts are aggregations of the bigram relation, not
    new corpus passes) and one 1-row broadcast for N1+(.,.).
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0,1), got {discount}")
    words = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    bg = (
        f"CASE WHEN size(__ws) >= 2 THEN "
        f"transform(sequence(1, size(__ws) - 1), "
        f"i -> struct(element_at(__ws, i) AS v, element_at(__ws, i + 1) AS w))"
        f" ELSE CAST(array() AS array<struct<v:string,w:string>>) END"
    )
    bigrams = (
        df.select(F.expr(words).alias("__ws"))
        .select(F.explode(F.expr(bg)).alias("__b"))
        .select(F.col("__b.v").alias("v"), F.col("__b.w").alias("w"))
        .groupBy("v", "w")
        .agg(F.count("*").alias("c_vw"))
    )
    ctx = bigrams.groupBy("v").agg(
        F.sum("c_vw").alias("__cv"), F.count("*").alias("__n1v")
    )
    cont = bigrams.groupBy("w").agg(F.count("*").alias("__n1w"))
    total = bigrams.agg(F.count("*").alias("__n1all"))
    d = float(discount)
    term1 = (
        F.greatest(F.col("c_vw").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("__cv")
    )
    term2 = (
        (F.lit(d) * F.col("__n1v")) / F.col("__cv")
    ) * (F.col("__n1w").cast("double") / F.col("__n1all"))
    return (
        bigrams.join(ctx, "v")
        .join(cont, "w")
        .crossJoin(F.broadcast(total))
        .select(
            "v",
            "w",
            F.col("c_vw").cast("long").alias("c_vw"),
            (term1 + term2).alias("p_kn"),
        )
    )


def kneser_ney_surprise(
    df: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Max-surprise LM filter without logarithms: score every document
    by its LEAST-probable bigram under the self-trained Kneser-Ney
    model — the outlier lens an LM-perplexity filter approximates,
    exact instead of libm-dependent (a product/avg-log of 100 bigrams
    would underflow or need ln; the min is a single comparison chain
    over bit-exact doubles). Ties break on the lexicographically
    smallest bigram text.

    Returns (id_col, n_bigrams long, min_p double 9 dp,
    argmin_bigram string); documents with < 2 tokens report
    n_bigrams = 0 and NULLs.
    """
    model = kneser_ney_bigram_model(df, text_col, discount)
    words = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    bg = (
        f"CASE WHEN size(__ws) >= 2 THEN "
        f"transform(sequence(1, size(__ws) - 1), "
        f"i -> struct(element_at(__ws, i) AS v, element_at(__ws, i + 1) AS w))"
        f" ELSE CAST(array() AS array<struct<v:string,w:string>>) END"
    )
    doc_bg = (
        df.select(F.col(id_col), F.expr(words).alias("__ws"))
        .select(F.col(id_col), F.explode(F.expr(bg)).alias("__b"))
        .select(
            F.col(id_col),
            F.col("__b.v").alias("v"),
            F.col("__b.w").alias("w"),
        )
    )
    scored = doc_bg.join(model, ["v", "w"])
    mins = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.min("p_kn"), 9).alias("min_p"),
        F.min_by(
            F.concat_ws(" ", "v", "w"),
            F.struct(
                F.col("p_kn"), F.concat_ws(" ", "v", "w").alias("__t")
            ),
        ).alias("argmin_bigram"),
    )
    return (
        df.select(F.col(id_col))
        .join(mins, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            "min_p",
            "argmin_bigram",
        )
    )


def rouge_n_recall_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
) -> DataFrame:
    """ROUGE-N recall for candidate document pairs — the overlap audit
    a curation owner runs on a near-dup pair set before trusting it
    (Lin 2004): multiset n-gram recall of the candidate (id_2) against
    the reference (id_1), overlap = sum over grams of
    min(count_ref, count_cand), recall = overlap / |reference grams|.
    Exact integer multiset arithmetic; the single division is reported
    at 9 dp.

    Scale shape: one corpus n-gram COUNT pass (md5-keyed, map-side
    combined), then gram-keyed joins confined to the pair set's
    documents — the candidate relation is |pairs|-bounded, never
    all-pairs. Returns (id_1, id_2, overlap long, ref_grams long,
    rouge double) for EVERY input pair (zero-overlap pairs included;
    a reference shorter than n grams reports NULL rouge).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    grams = (
        f"CASE WHEN size(__ws) >= {n} THEN "
        f"transform(sequence(1, size(__ws) - {n - 1}), "
        f"i -> md5(array_join(slice(__ws, i, {n}), ' ')))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    bgc = (
        docs.select(F.col(id_col), F.expr(words).alias("__ws"))
        .select(F.col(id_col), F.explode(F.expr(grams)).alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("__c"))
    )
    tot = bgc.groupBy(id_col).agg(F.sum("__c").alias("__t"))
    a = bgc.select(
        F.col(id_col).alias("id_1"), "__g", F.col("__c").alias("__ca")
    )
    b = bgc.select(
        F.col(id_col).alias("id_2"), "__g", F.col("__c").alias("__cb")
    )
    ov = (
        pairs.select("id_1", "id_2")
        .join(a, "id_1")
        .join(b, ["id_2", "__g"])
        .groupBy("id_1", "id_2")
        .agg(F.sum(F.least("__ca", "__cb")).alias("__o"))
    )
    ref = tot.select(F.col(id_col).alias("id_1"), F.col("__t"))
    return (
        pairs.select("id_1", "id_2")
        .join(ov, ["id_1", "id_2"], "left")
        .join(ref, "id_1", "left")
        .select(
            "id_1",
            "id_2",
            F.coalesce(F.col("__o"), F.lit(0)).cast("long").alias(
                "overlap"
            ),
            F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias(
                "ref_grams"
            ),
            F.when(
                F.coalesce(F.col("__t"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("__o"), F.lit(0)).cast("double")
                    / F.col("__t"),
                    9,
                ),
            ).alias("rouge"),
        )
    )


def chi2_keywords(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Per-group chi-squared keyword extraction: for every (group,
    token) the 2x2 contingency statistic over token occurrences
    (token-in-group vs token-elsewhere vs other-tokens), keeping the
    ``top_k`` most over-represented tokens per group — the
    domain-signature report a pipeline reads beside TF-IDF keywords
    (chi2 favors tokens DISTINCTIVE to a source, however common
    globally; TF-IDF favors rare ones).

    Exactness: the four contingency cells derive from three exact
    long aggregates (cell, token marginal, group marginal) plus the
    1-row total; chi2 = N*(ad-bc)^2 / (Ct*(N-Ct)*Ng*(N-Ng)) is then a
    fixed IEEE expression of those integers (products computed in
    double — ad alone can exceed long range at petabyte scale, and
    IEEE multiply is engine-exact either way). Only positively
    associated tokens qualify (observed > expected, the exact test
    a*N > Ng*Ct computed in decimal(38,0) so the products cannot wrap
    past 2^63 however large the corpus), so the output is keywords,
    not anti-keywords; ties break on token.

    Scale shape: one (group, token) aggregation (THE shuffle — keyed
    on the pair, map-side combined), a vocabulary-sized token-marginal
    relation joined on token, the group marginal and corpus total as
    broadcasts, and a per-group top-k window over the candidate
    relation. No corpus-wide window, no cartesian.

    Returns (group_col, token, a, chi2) — ``a`` the exact in-group
    count, chi2 rounded to 9 dp.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    from pyspark.sql import Window

    words = (
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )
    cells = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(F.expr(words)).alias("token"),
        )
        .groupBy("__g", "token")
        .agg(F.count("*").cast("long").alias("a"))
    )
    tok_marg = cells.groupBy("token").agg(
        F.sum("a").cast("long").alias("__ct")
    )
    grp_marg = cells.groupBy("__g").agg(
        F.sum("a").cast("long").alias("__ng")
    )
    total = cells.agg(F.sum("a").cast("long").alias("__n"))
    j = (
        cells.join(tok_marg, "token")
        .join(F.broadcast(grp_marg), "__g")
        .crossJoin(F.broadcast(total))
        # positive association, integer-exact: observed > expected.
        # decimal(38,0) products — a*N at petabyte token counts exceeds
        # 2^63 and would silently wrap as long under non-ANSI Spark.
        .filter(
            F.col("a").cast("decimal(38,0)")
            * F.col("__n").cast("decimal(38,0)")
            > F.col("__ng").cast("decimal(38,0)")
            * F.col("__ct").cast("decimal(38,0)")
        )
    )
    n_d = F.col("__n").cast("double")
    ct_d = F.col("__ct").cast("double")
    ng_d = F.col("__ng").cast("double")
    a_d = F.col("a").cast("double")
    # cells b, c, d in double from the exact longs
    b_d = ct_d - a_d
    c_d = ng_d - a_d
    d_d = n_d - ct_d - c_d
    diff = a_d * d_d - b_d * c_d
    den = ct_d * (n_d - ct_d) * ng_d * (n_d - ng_d)
    scored = j.select(
        F.col("__g"),
        "token",
        "a",
        F.when(den != 0, n_d * diff * diff / den).alias("__chi2"),
    ).filter(F.col("__chi2").isNotNull())
    w = Window.partitionBy("__g").orderBy(
        F.col("__chi2").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .select(
            F.col("__g").alias(group_col),
            "token",
            "a",
            F.round("__chi2", 9).alias("chi2"),
        )
    )
