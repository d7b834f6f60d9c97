"""BPE tokenizer training and encoding over a document corpus.

The missing member of the tokenizer tool-chain (bigram mining lives in
``text.bigram_counts``): learn the top-N byte-pair-encoding merges from
the corpus word histogram (Sennrich et al. 2016 — BPE trains on DISTINCT
words weighted by frequency, never on raw running text), then encode
documents with the learned merge table.

Scale shape (the 100-TB contract):
  - ONE corpus-wide shuffle total: the word histogram. Everything
    iterative happens on the vocabulary relation (distinct words —
    millions of rows at web scale, not billions). When that histogram
    fits the documented driver bound, ``strategy="auto"`` collects it
    and runs the classic greedy loop driver-side (one Spark job
    total); above the bound the rounds run distributed on the
    persisted vocabulary relation.
  - Each merge round is: a vocab-sized pair aggregation, a single-ROW
    argmax collect (bounded by contract — one (a, b, weight) row per
    round), and a map-only higher-order-function rewrite of the symbol
    arrays. No Python UDFs anywhere; the merge rewrite is a codegen'd
    SQL expression.
  - Encoding is map-only: the learned merge table (n_merges rows —
    model-sized, same contract as a broadcast codebook) unrolls into
    one projection per merge, each a shallow HOF rewrite of the
    per-word symbol arrays; zero shuffles, zero Python.

Determinism contract (what makes the DuckDB oracle value-exact):
  - candidate pairs are restricted to a != b. With distinct symbols,
    adjacent matches can never overlap, so "replace all matches" is
    well-defined and order-independent — the greedy left-to-right scan
    of classic BPE and a relational replace-all agree exactly. (Classic
    BPE's identical-pair merges are order-dependent inside runs like
    "aaa"; real tokenizers hit them rarely and late.)
  - argmax ties break lexicographically on (left, right).
  - symbols are characters of the lowercased, whitespace-split words;
    no end-of-word marker (word-internal merges only).

For production merge counts (32k+), drive this loop from a batch-greedy
variant (take the top-k non-conflicting pairs per round) to cut round
count; the per-round dataflow is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._cache import register_persisted

MERGE_SCHEMA = StructType(
    [
        StructField("rank", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("weight", LongType(), False),
    ]
)


def _esc(sym: str) -> str:
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def _chars_expr(word: str) -> str:
    """SQL expression splitting a (bound lambda variable) word into its
    character array."""
    return f"transform(sequence(1, length({word})), i -> substring({word}, i, 1))"


def _byte_syms_expr(word: str) -> str:
    """SQL expression splitting a (bound lambda variable) word into the
    lowercase-hex symbols of its UTF-8 BYTES ('byte' alphabet, the
    GPT-2 convention): every word is representable from the 256-entry
    seed alphabet, multi-byte characters split across symbols, and NO
    unknown token can ever occur (byte fallback). The hex string is
    let-bound through a single-element-array transform so encode+hex
    run once per word."""
    return (
        f"element_at(transform(array(lower(hex(encode({word}, 'UTF-8')))),"
        f" h -> transform(sequence(1, length(h) div 2),"
        f" i -> substring(h, 2 * i - 1, 2))), 1)"
    )


def _byte_syms_py(word: str) -> tuple:
    """Driver-path mirror of _byte_syms_expr."""
    hx = word.encode("utf-8").hex()
    return tuple(hx[i : i + 2] for i in range(0, len(hx), 2))


def _words_expr(text_col: str) -> str:
    """Lowercased whitespace tokenization, empties dropped — matches the
    corpus tokenization used across text.py oracles."""
    return (
        f"filter(split(lower(trim({text_col})), '\\\\s+'), x -> x != '')"
    )


# ---------------------------------------------------------------------------
# GPT-2 pre-tokenization (Radford et al. 2019; the published pattern in
# openai/gpt-2 src/encoder.py): contraction suffixes, then optionally-
# space-prefixed letter / number / punctuation runs, then whitespace.
# The original ends ``\s+(?!\S)|\s+`` — "a whitespace run keeps its last
# char for the next token's optional leading space". RE2 (DuckDB's
# engine) has no lookahead, so both engines state the EXACT same
# segmentation lookahead-free: one regexp_replace first inserts an
# \x01 sentinel BEFORE the last whitespace char of every
# whitespace-then-non-space boundary ('(\s)(\S)' -> '\x01$1$2'), which
# (a) terminates the greedy \s+ one char early exactly where the
# lookahead would and (b) leaves that char for the ' ?' prefix (a
# space) or a single \s+ match (tab/newline — GPT-2's ' ?' only ever
# binds a literal space). The sentinel is excluded from the
# punctuation class and never matched, so tokens concatenate back to
# the original text exactly (the GPT-2 partition property). Contract:
# input must not contain \x01 (a control char no text corpus carries —
# same contract as web._decode_numeric_entities). Case is PRESERVED
# (byte-level BPE needs no case folding to stay open-vocabulary).
# ---------------------------------------------------------------------------

GPT2_SPLIT_SENTINEL = "\x01"

# the regex itself (single-backslash level)
GPT2_PRETOKEN_REGEX = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+"
    "| ?[^\\s\\p{L}\\p{N}" + GPT2_SPLIT_SENTINEL + "]+|\\s+"
)


def _gpt2_words_expr(text_col: str) -> str:
    """Spark SQL expression: GPT-2 pre-token array of ``text_col``.
    Pure built-ins (one regexp_replace + one regexp_extract_all), so
    the whole pre-tokenization runs JVM-side inside codegen."""
    pat = GPT2_PRETOKEN_REGEX.replace("\\", "\\\\").replace("'", "''")
    return (
        f"regexp_extract_all(regexp_replace({text_col},"
        f" '(\\\\s)(\\\\S)', '{GPT2_SPLIT_SENTINEL}$1$2'), '{pat}', 0)"
    )


def gpt2_words_duck_expr(text_col: str) -> str:
    """DuckDB statement of the SAME segmentation (RE2: no lookahead
    needed thanks to the sentinel construction; no backslash
    processing in standard SQL literals)."""
    pat = GPT2_PRETOKEN_REGEX.replace("'", "''")
    return (
        f"regexp_extract_all(regexp_replace({text_col},"
        f" '(\\s)(\\S)', '{GPT2_SPLIT_SENTINEL}\\1\\2', 'g'), '{pat}')"
    )


def _resolve_pretokenize(pretokenize: str | None, alphabet: str) -> str:
    """'gpt2' is the byte-alphabet default (the GPT-2 convention the
    byte seed symbols come from); char-level BPE keeps the corpus-wide
    lowercased whitespace convention."""
    if pretokenize is None:
        return "gpt2" if alphabet == "byte" else "whitespace"
    if pretokenize not in ("whitespace", "gpt2"):
        raise ValueError(
            f"pretokenize must be 'whitespace' or 'gpt2', got {pretokenize!r}"
        )
    return pretokenize


def _rewrite_body(
    s: str, lhs: str, rhs: str, merged_sym: str | None = None
) -> str:
    """Rewrite body over a symbol-array term ``s`` (a column name or an
    in-scope lambda variable — referenced several times, so it must be
    cheap): replace every adjacent (lhs, rhs) pair with the merged
    symbol (defaults to their concatenation; WordPiece passes the
    continuation-prefix-stripped form). The match-position array is
    let-bound through a single-element-array transform so it is
    computed once."""
    a, b = _esc(lhs), _esc(rhs)
    merged = _esc(lhs + rhs if merged_sym is None else merged_sym)
    return f"""element_at(transform(array(
      filter(sequence(1, greatest(size({s}) - 1, 1)),
             i -> i + 1 <= size({s})
                  AND element_at({s}, i) = '{a}'
                  AND element_at({s}, i + 1) = '{b}')
    ), p ->
    transform(
      filter(sequence(1, size({s})), i -> NOT array_contains(p, i - 1)),
      i -> IF(array_contains(p, i), '{merged}', element_at({s}, i))
    )
  ), 1)"""


def apply_merge_expr(s_expr: str, lhs: str, rhs: str) -> str:
    """SQL expression rewriting symbol array ``s_expr`` by replacing
    every adjacent (lhs, rhs) pair with the concatenated symbol.

    ``s_expr`` is textually referenced ONCE: it is let-bound through a
    single-element-array transform (``transform(array(e), s -> ...)``),
    so textual chaining grows linearly. NOTE: the analyzer's resolution
    fixed point still scales with LAMBDA NESTING depth — chain at most
    a handful of layers inside one expression; for long merge chains
    use the one-projection-per-merge shape of :func:`bpe_encode`.
    Requires lhs != rhs (matches cannot overlap, replace-all is
    well-defined); ``train_bpe_merges`` only emits such pairs."""
    if lhs == rhs:
        raise ValueError("apply_merge_expr requires lhs != rhs")
    return (
        f"element_at(transform(array({s_expr}), s ->\n"
        + _rewrite_body("s", lhs, rhs)
        + "\n), 1)"
    )


def _word_pairs(s, c):
    """Per-word (a != b) adjacent-pair weight contributions."""
    d: dict = {}
    for i in range(len(s) - 1):
        if s[i] != s[i + 1]:
            p = (s[i], s[i + 1])
            d[p] = d.get(p, 0) + c
    return d


def _train_driver(hist: list, n_merges: int) -> list:
    """Classic greedy BPE over a collected word histogram — the
    small-vocabulary fast path. Identical semantics to the distributed
    rounds: a != b candidates only (so greedy replace-all is
    order-independent), argmax ties by lexicographic (lhs, rhs).

    INCREMENTAL pair maintenance (r13 optimization): a round only
    re-counts the words that actually CONTAIN the chosen pair (exact
    integer deltas against the global pair-count table, so every
    round's counts equal a full recount bit for bit), and the argmax
    pops from a lazily-invalidated heap keyed (-count, lhs, rhs) —
    the same tie-break as the full min(). The previous shape rescanned
    the whole histogram every round: O(rounds x corpus symbol
    positions) — measured 20.8 s at 1024 merges on a 15k-type
    histogram, where this shape is sub-second."""
    import heapq

    vocab = [[tuple(w), int(c)] for w, c in hist]
    counts: dict = {}
    occ: dict = {}  # pair -> set of vocab indices containing it
    for idx, (s, c) in enumerate(vocab):
        for p, w in _word_pairs(s, c).items():
            counts[p] = counts.get(p, 0) + w
            occ.setdefault(p, set()).add(idx)
    heap = [(-w, p) for p, w in counts.items()]
    heapq.heapify(heap)
    merges = []
    for rank in range(1, n_merges + 1):
        # pop stale entries until one matches the live count table
        best = None
        while heap:
            negw, p = heap[0]
            if counts.get(p, 0) == -negw:
                best = (p, -negw)
                break
            heapq.heappop(heap)
        if best is None:
            break
        (a, b), wgt = best
        merges.append((rank, a, b, a + b, wgt))
        if rank == n_merges:
            break
        ab = a + b
        touched: set = set()
        for idx in sorted(occ.get((a, b), ())):
            s, c = vocab[idx]
            old = _word_pairs(s, c)
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s2 = tuple(out)
            vocab[idx][0] = s2
            new = _word_pairs(s2, c)
            for p in old.keys() | new.keys():
                delta = new.get(p, 0) - old.get(p, 0)
                if delta:
                    counts[p] = counts.get(p, 0) + delta
                    if counts[p] <= 0:
                        del counts[p]
                    touched.add(p)
                if p in new:
                    occ.setdefault(p, set()).add(idx)
                elif p in occ:
                    occ[p].discard(idx)
        occ.pop((a, b), None)
        for p in touched:
            if p in counts:
                heapq.heappush(heap, (-counts[p], p))
    return merges


def train_bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 8,
    strategy: str = "auto",
    driver_max_vocab: int = 100_000,
    alphabet: str = "char",
    pretokenize: str | None = None,
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merges from the corpus.

    Returns an ``n_merges``-row DataFrame (rank, lhs, rhs, merged,
    weight) — weight is the frequency-weighted count of adjacent
    occurrences the pair had when it was chosen. Stops early if no
    two-distinct-symbol pair remains.

    ``alphabet`` selects the seed symbols; everything downstream of
    the seed (pair counting, argmax, rewrite) is the SAME loop:

    - ``"char"`` — characters of the lowercased whitespace-split words
      (Sennrich et al. 2016).
    - ``"byte"`` — lowercase-hex symbols of each word's UTF-8 bytes
      (the GPT-2 byte-level convention): the seed alphabet is at most
      256 symbols, multi-byte characters split across symbols, merged
      tokens concatenate hex pairs, and unhex(concat(tokens of word))
      always round-trips the word's exact bytes — no unknown token is
      possible at any vocabulary size.

    ``pretokenize`` selects the word segmentation the merge statistics
    run over: ``"whitespace"`` (lowercased split, the corpus-oracle
    convention, char default) or ``"gpt2"`` (the published GPT-2
    contraction/category regex, case-preserving, byte default — see
    GPT2_PRETOKEN_REGEX; tokens then PARTITION the text, whitespace
    included, so merges can learn the leading-space word forms real
    byte-level vocabularies carry).

    Strategy (same auto convention as the dedup operators): the merge
    loop only ever touches the DISTINCT-WORD histogram, so when that
    vocabulary fits the ``driver_max_vocab`` contract (default 100k
    rows — natural-language corpora at any size rarely exceed a few
    million) ``auto`` collects it in ONE corpus scan and runs the
    classic greedy loop driver-side: one Spark job total instead of
    two per merge round. Above the bound — or with
    ``strategy="distributed"`` — each round runs on the persisted
    vocabulary relation and collects exactly one row (the argmax)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if alphabet not in ("char", "byte"):
        raise ValueError(f"alphabet must be 'char' or 'byte', got {alphabet!r}")
    pretokenize = _resolve_pretokenize(pretokenize, alphabet)
    spark = docs.sparkSession
    words_expr = (
        _gpt2_words_expr(text_col)
        if pretokenize == "gpt2"
        else _words_expr(text_col)
    )
    words = (
        docs.select(F.explode(F.expr(words_expr)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if strategy == "auto":
        # bounded probe-and-collect: one scan; the +1 row detects
        # overflow without a separate count job
        hist = [
            (r.w, r.cnt) for r in words.limit(driver_max_vocab + 1).collect()
        ]
        if len(hist) <= driver_max_vocab:
            if alphabet == "byte":
                hist = [(_byte_syms_py(w), c) for w, c in hist]
            return spark.createDataFrame(
                _train_driver(hist, n_merges), MERGE_SCHEMA
            )
    # eager localCheckpoint, not persist: caching alone keeps the full
    # logical plan, so round r's analysis replays r stacked HOF layers
    # and the DRIVER becomes the bottleneck as rounds accumulate
    # (measured 13 s/round by round 16 on a 14k-word vocab vs ~0.5 s
    # with truncation). Checkpointing each round's vocabulary is the
    # MLlib convention for iterative algorithms; on a real cluster
    # prefer reliable checkpoints if executor loss matters.
    seed = _chars_expr("w") if alphabet == "char" else _byte_syms_expr("w")
    vocab = words.select("cnt", F.expr(seed).alias("s")).localCheckpoint()
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        best = (
            vocab.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform("
                        "  filter(sequence(1, greatest(size(s) - 1, 1)),"
                        "         i -> i + 1 <= size(s)),"
                        "  i -> struct(element_at(s, i) AS a,"
                        "              element_at(s, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.a", "p.b")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("weight"))
            .orderBy(F.col("weight").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: exactly one row per round
        )
        if not best:
            break
        a, b, wgt = best[0].a, best[0].b, int(best[0].weight)
        merges.append((rank, a, b, a + b, wgt))
        if rank == n_merges:
            break  # the last rewrite would never be read
        # eager: materializes AND truncates lineage; the previous
        # round's blocks are released by the context cleaner
        vocab = vocab.select(
            "cnt", F.expr(apply_merge_expr("s", a, b)).alias("s")
        ).localCheckpoint()
    return spark.createDataFrame(merges, MERGE_SCHEMA)


# strategy="auto" switches bpe_encode (and the chat token-mask chain
# riding it) from the zero-shuffle per-OCCURRENCE chain to the
# per-DISTINCT-word path once the merge table reaches this size: below
# it the doc-keyed reassembly shuffle costs more than it saves; at
# production merge counts (1k-50k+) the per-type path bounds encode
# cost by types x merges instead of corpus tokens x merges (the
# unigram/wordpiece vocab-strategy precedent, ~type/token-ratio gain)
VOCAB_AUTO_MIN_MERGES = 32

# the per-type merge chain truncates lineage every K layers: analysis
# and optimization cost grow superlinearly with stacked HOF projection
# depth, and the checkpointed relation is vocabulary-sized (distinct
# pre-tokens), so the cut is cheap at any corpus size
MERGE_CHAIN_CHECKPOINT_EVERY = 64

# past this many merges the vocab strategy applies the chain to the
# DISTINCT types with one Arrow-batched mapInPandas instead of stacked
# HOF projections: per-layer plan/analysis/eval overhead is paid per
# MERGE in the expression shape (measured: 64 layers ~ 8 s on a
# 15k-type relation; 1024 layers did not finish inside 9 minutes),
# while the Python scan applies only the merges actually PRESENT in
# each word (sub-second for the same table; at 100k docs and 1024
# merges the vocab strategy encoded 454k tokens/s against 818 for the
# inline chain, SCALING.md). The relation crossing the Python
# boundary is the vocabulary, never the corpus, which is exactly
# where the operator catalog reserves Python (cf.
# pack_sequences_nextfit). Both shapes
# are value-identical (rank-order replace-all; property-tested)
MERGE_CHAIN_PY_MIN_MERGES = 129

# vocab-strategy reassembly gate: at or below this many DISTINCT
# pre-token types the per-type encodings fold into ONE broadcast map
# row and encoding is a map-only projection over the corpus — no
# posexplode, no type join, no doc-keyed reassembly shuffle. Above it
# the join path keeps working at any vocabulary size. 4M entries of a
# ~16-char word + a handful of short tokens is roughly 0.5-1 GB framed
# — inside Spark's broadcast cap (8 GB / 512M rows) with headroom for
# wide outliers; natural-language vocabularies (even byte-level ones)
# sit orders of magnitude below it. Tune per deployment if executor
# memory is tight.
ENCODE_BROADCAST_MAX_TYPES = 4_000_000


def _apply_merges_py(sym: list, pairs: list, rank_of: dict) -> list:
    """Python twin of the rank-ordered merge chain: apply each merge
    at most once, in rank order, replace-all per application (equal to
    the classic left scan because lhs != rhs). Instead of scanning all
    K merges per word, each step finds the LOWEST rank above the last
    applied one whose pair is currently adjacent — identical result
    (a rank skipped in the ordered scan is exactly one whose pair was
    not adjacent when its turn came), O(applications x |word|) work."""
    last = -1
    while True:
        best = None
        for i in range(len(sym) - 1):
            r = rank_of.get((sym[i], sym[i + 1]))
            if r is not None and r > last and (best is None or r < best):
                best = r
        if best is None:
            return sym
        a, b = pairs[best]
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
        last = best


def _apply_merge_chain(
    df: DataFrame,
    col: str,
    pairs,
    checkpoint_every: int = MERGE_CHAIN_CHECKPOINT_EVERY,
) -> DataFrame:
    """Apply a rank-ordered merge chain to symbol-array column ``col``,
    one shallow HOF rewrite projection per merge, lazily
    localCheckpoint-ing every ``checkpoint_every`` layers so plan
    depth stays bounded at real merge counts. The relation must be
    small enough to materialize per cut (vocabulary-sized by the
    vocab-strategy contract)."""
    for i, (a, b) in enumerate(pairs, 1):
        if a == b:
            raise ValueError("merge chains require lhs != rhs merges")
        df = df.withColumn(col, F.expr(_rewrite_body(col, a, b)))
        if (
            checkpoint_every
            and i % checkpoint_every == 0
            and i < len(pairs)
        ):
            df = df.localCheckpoint(eager=False)
    return df


def _resolve_merge_pairs(merges) -> list:
    if isinstance(merges, DataFrame):
        return [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]
    return [(a, b) for a, b in merges]


def bpe_encode(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    merges,
    alphabet: str = "char",
    pretokenize: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Encode every document with a learned merge table.

    ``merges`` is the DataFrame from :func:`train_bpe_merges` (collected
    here — model-sized by contract, like a broadcast codebook) or a
    rank-ordered list of (lhs, rhs) pairs. ``alphabet`` and
    ``pretokenize`` must match the training configuration ('char' or
    'byte'; 'whitespace' or 'gpt2', defaulting like train_bpe_merges —
    byte tokens are lowercase-hex strings whose per-word concatenation
    always unhexes back to the word's exact UTF-8 bytes; under the
    gpt2 pre-tokenizer the pre-tokens PARTITION the text, so
    unhex(concat(ALL tokens)) reproduces the whole document).
    Returns (id_col, tokens, n_tokens).

    Three value-identical strategies (the unigram/wordpiece
    convention):

    - ``"inline"``: zero shuffles — one projection per merge, each a
      single shallow HOF rewrite layer over the per-word symbol
      arrays of every word OCCURRENCE (Catalyst collapses the
      projections; one giant nested expression instead would blow
      the analyzer's resolution fixed point at real merge counts).
      Cost scales with corpus tokens x merges — right for small
      merge tables or mostly-unique-string corpora.
    - ``"vocab"``: run the merge chain once per DISTINCT pre-token,
      then posexplode the corpus to (doc, position, word), join the
      per-type encodings back (AQE broadcasts the vocabulary relation
      when small) and reassemble position-sorted. Costs one
      doc-keyed shuffle, but encode work is bounded by word TYPES x
      merges — the production shape at real (1k-50k) merge counts,
      where per-occurrence cost would be orders of magnitude larger.
      Lineage of the type relation truncates every
      MERGE_CHAIN_CHECKPOINT_EVERY layers; past
      MERGE_CHAIN_PY_MIN_MERGES merges the chain applies to the types
      with one Arrow-batched mapInPandas instead (per-merge plan
      layers stop scaling past a few hundred merges — the boundary
      crossing is the VOCABULARY, never the corpus, and the Python
      scan is value-identical, property-tested).
    - ``"auto"`` (default): vocab once len(merges) >=
      VOCAB_AUTO_MIN_MERGES, else inline.
    """
    if alphabet not in ("char", "byte"):
        raise ValueError(f"alphabet must be 'char' or 'byte', got {alphabet!r}")
    if strategy not in ("auto", "vocab", "inline"):
        raise ValueError(f"unknown strategy {strategy!r}")
    pretokenize = _resolve_pretokenize(pretokenize, alphabet)
    pairs = _resolve_merge_pairs(merges)
    if strategy == "auto":
        strategy = (
            "vocab" if len(pairs) >= VOCAB_AUTO_MIN_MERGES else "inline"
        )
    seed = _chars_expr("x") if alphabet == "char" else _byte_syms_expr("x")
    words_expr = (
        _gpt2_words_expr(text_col)
        if pretokenize == "gpt2"
        else _words_expr(text_col)
    )
    if strategy == "inline":
        out = docs.select(
            F.col(id_col),
            F.expr(
                f"transform({words_expr}, x -> {seed})"
            ).alias("__sym"),
        )
        for a, b in pairs:
            if a == b:
                raise ValueError("bpe_encode requires lhs != rhs merges")
            out = out.withColumn(
                "__sym",
                F.expr(f"transform(__sym, s -> {_rewrite_body('s', a, b)})"),
            )
        return out.select(
            F.col(id_col),
            F.expr("flatten(__sym)").alias("tokens"),
        ).withColumn("n_tokens", F.size("tokens").cast("long"))
    # DISTINCT pre-token types, persisted: the relation feeds the gate
    # probe below AND the merge chain, and it is vocabulary-sized by
    # construction (the registry + bench memo-clearing bound its
    # lifetime; a repeat run re-pays the distinct)
    types = register_persisted(
        docs.select(F.explode(F.expr(words_expr)).alias("w"))
        .distinct()
        .select(
            "w",
            F.expr(
                f"element_at(transform(array(w), x -> {seed}), 1)"
            ).alias("toks"),
        )
        .persist(),
        "bpe_types",
    )
    # one vocabulary-sized count: decides whether the per-type
    # encodings can ride a broadcast map (zero corpus shuffles) or must
    # take the doc-keyed reassembly join. The count also fills the
    # types cache the merge chain consumes, so it adds no extra pass.
    n_types = types.count()
    if len(pairs) >= MERGE_CHAIN_PY_MIN_MERGES:
        # realistic-vocab tier: one Arrow pass over the DISTINCT types
        # (see MERGE_CHAIN_PY_MIN_MERGES); the expression chain below
        # pays per-merge plan layers and cannot reach 1k+ merges
        for a, b in pairs:
            if a == b:
                raise ValueError("merge chains require lhs != rhs merges")
        rank_of = {tuple(p): i for i, p in enumerate(pairs)}
        pair_list = [tuple(p) for p in pairs]

        def _chain(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["toks"] = [
                    _apply_merges_py(list(t), pair_list, rank_of)
                    for t in pdf["toks"]
                ]
                yield pdf

        seg = types.mapInPandas(_chain, schema="w string, toks array<string>")
    else:
        seg = _apply_merge_chain(types, "toks", pairs)
    if n_types <= ENCODE_BROADCAST_MAX_TYPES:
        # vocabulary fits a broadcast: fold the per-type encodings into
        # ONE map row and encode as a map-only projection over the
        # corpus — per-word map lookups in document order replace the
        # posexplode + type join + doc-keyed collect_list reassembly,
        # so the corpus is never exploded OR shuffled (the reassembly
        # exchange was corpus-sized; the map is vocabulary-sized).
        # Every word is a key by construction (the map is built from
        # the same words_expr over the same docs), so element_at never
        # misses. NULL text: words_expr yields NULL, transform/flatten
        # propagate it — identical to the join path's __tnull branch.
        vmap = seg.groupBy().agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "toks"))
            ).alias("__vmap")
        )
        return (
            docs.join(F.broadcast(vmap))
            .select(
                F.col(id_col),
                F.expr(
                    f"flatten(transform({words_expr},"
                    f" w -> element_at(__vmap, w)))"
                ).alias("tokens"),
            )
            .withColumn("n_tokens", F.size("tokens").cast("long"))
        )
    wpos = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(words_expr)).alias("__pos", "w"),
    )
    regrouped = (
        wpos.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
    )
    # wordless documents still get an (empty-tokens) row; a NULL text
    # stays NULL, exactly as the inline path's flatten(NULL) states
    return (
        docs.select(
            F.col(id_col), F.expr(f"{text_col} IS NULL").alias("__tnull")
        )
        .join(regrouped, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__tnull"), F.lit(None))
            .otherwise(
                F.coalesce(
                    F.col("tokens"),
                    F.expr("CAST(array() AS array<string>)"),
                )
            )
            .alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) — the second
# member of the tokenizer family. Training is Viterbi-EM (hard EM): a
# frequency-weighted substring seed vocabulary, then rounds of
# (Viterbi-segment every distinct word under the current model ->
# re-count pieces from the segmentations -> drop zero-count pieces),
# finishing with a size cap that always retains every corpus character
# (count floored at 1 — the character-coverage analogue that keeps the
# encoder open-vocabulary).
#
# Determinism contract (what makes the DuckDB oracle value-exact): the
# Viterbi score is a PRODUCT of piece probabilities, each an IEEE
# double division count/total of exact integers, multiplied in DP
# order — no logarithm anywhere, so there is no libm call whose last
# ulp could differ between engines; every double op is individually
# correctly rounded and both engines evaluate the identical expression
# tree. Ties break by (score, fewer pieces, longer last piece) via a
# struct comparison both engines define lexicographically. Scores
# stay normal-range for words under ~150 pieces even at web-scale
# totals (prob >= 1/2^53 each), far beyond real word lengths.
#
# Scale shape: ONE corpus shuffle (the word histogram); seeding is one
# substring explode + piece aggregation over the DISTINCT-WORD
# relation; each EM round is a model-sized 1-row broadcast (map +
# total) cross-joined onto the word relation, a map-only DP
# projection, and one piece-count aggregation; encoding is map-only
# (broadcast model, per-word DP inside a words transform, zero
# shuffles at any corpus size). Same auto driver/distributed strategy
# as BPE: below the vocabulary bound the histogram collects once and
# the identical loop runs in Python.
# ---------------------------------------------------------------------------

from pyspark.sql.types import DoubleType

UNIGRAM_SCHEMA = StructType(
    [
        StructField("piece", StringType(), False),
        StructField("count", LongType(), False),
        StructField("prob", DoubleType(), False),
    ]
)


def _unigram_dp_expr(w: str, L: int) -> str:
    """SQL expression computing the Viterbi DP array for word column/
    lambda var ``w`` against the in-scope 1-row model columns ``__m``
    (piece -> count map) and ``__T`` (double total). Entry j+1 is the
    best state for prefix length j: struct(s = best score as a product
    of count/total probabilities, n = -pieces, b = -start of the best
    last piece); (s, n, b) sort lexicographically, so array_max picks
    (max score, fewer pieces, longer last piece) deterministically —
    candidates within a position differ in b, so there is never a
    residual tie. Unreachable prefixes carry the s = -1 sentinel."""
    return f"""aggregate(
  sequence(1, length({w})),
  array(named_struct('s', CAST(1.0 AS DOUBLE), 'n', 0, 'b', 0)),
  (acc, j) -> array_append(acc,
    coalesce(
      array_max(filter(
        transform(sequence(greatest(j - {L}, 0), j - 1),
          i -> named_struct(
            's', element_at(acc, i + 1).s *
                 (CAST(element_at(__m, substring({w}, i + 1, j - i)) AS DOUBLE) / __T),
            'n', element_at(acc, i + 1).n - 1,
            'b', -i)),
        c -> c.s IS NOT NULL AND c.s >= CAST(0.0 AS DOUBLE))),
      named_struct('s', CAST(-1.0 AS DOUBLE), 'n', 0, 'b', 0))))"""


def _unigram_tokens_expr(w: str, dp: str) -> str:
    """SQL expression backtracing DP array ``dp`` into the token array
    for word ``w`` (best segmentation, left to right). A word whose
    final position is unreachable under the model degrades to the
    whole word as a single token — total by construction, though the
    char-floored final model never hits it."""
    return f"""CASE WHEN element_at({dp}, length({w}) + 1).s < CAST(0.0 AS DOUBLE)
  THEN array({w})
ELSE reverse(aggregate(
  sequence(1, length({w})),
  named_struct('p', length({w}), 't', CAST(array() AS array<string>)),
  (st, x) -> IF(st.p <= 0, st,
    named_struct(
      'p', -element_at({dp}, st.p + 1).b,
      't', array_append(st.t, substring({w}, -element_at({dp}, st.p + 1).b + 1,
                                        st.p + element_at({dp}, st.p + 1).b)))),
  st -> st.t)) END"""


def _fold_model(model: DataFrame):
    """1-row (map<piece,count>, double total) broadcast relation —
    model-sized by contract, the same shape as a broadcast codebook."""
    return model.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "c"))
        ).alias("__m"),
        F.sum("c").cast("double").alias("__T"),
    )


def _viterbi_segment(vocab: DataFrame, model: DataFrame, L: int) -> DataFrame:
    """Segment every (w, cnt) row under ``model`` (piece, c): returns
    (w, cnt, toks array<string>). Two projections (DP, then backtrace)
    so the DP array is bound once, never re-inlined."""
    staged = vocab.crossJoin(F.broadcast(_fold_model(model))).select(
        "w", "cnt", F.expr(_unigram_dp_expr("w", L)).alias("__dp")
    )
    return staged.select(
        "w", "cnt", F.expr(_unigram_tokens_expr("w", "__dp")).alias("toks")
    )


def _unigram_seed_pieces(vocab: DataFrame, L: int) -> DataFrame:
    """Occurrence-weighted counts of every substring of length <= L of
    the distinct words: (piece, c) — the seed-candidate relation."""
    subs = (
        f"flatten(transform(sequence(1, length(w)), i -> "
        f"transform(sequence(1, least({L}, length(w) - i + 1)), "
        f"l -> substring(w, i, l))))"
    )
    return (
        vocab.select("cnt", F.explode(F.expr(subs)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    )


def train_unigram(
    docs: DataFrame,
    text_col: str,
    vocab_size: int = 4096,
    n_iters: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 16384,
    strategy: str = "auto",
    driver_max_vocab: int = 100_000,
) -> DataFrame:
    """Train a unigram-LM subword vocabulary (piece, count, prob).

    ``count`` is the piece's frequency-weighted occurrence count in
    the final EM round's Viterbi segmentations (characters floored at
    1 so the model always covers the corpus alphabet); ``prob`` is
    count / sum(count) over the returned vocabulary, rounded to 9 dp
    for reporting. Words are the same lowercased whitespace tokens as
    BPE training. ``strategy`` follows :func:`train_bpe_merges`: auto
    collects the word histogram when it fits ``driver_max_vocab`` and
    runs the identical loop in Python (one Spark job total)."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if max_piece_len < 1:
        raise ValueError(
            f"max_piece_len must be >= 1, got {max_piece_len}"
        )
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.expr(_words_expr(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if strategy == "auto":
        hist = [
            (r.w, r.cnt)
            for r in words.limit(driver_max_vocab + 1).collect()
        ]
        if len(hist) <= driver_max_vocab:
            return spark.createDataFrame(
                _train_unigram_driver(
                    hist, vocab_size, n_iters, max_piece_len, seed_size
                ),
                UNIGRAM_SCHEMA,
            )
    vocab = words.localCheckpoint()
    pieces = _unigram_seed_pieces(vocab, max_piece_len).localCheckpoint()
    # the alphabet relation is bounded by the charset; its size is the
    # one extra driver scalar (the multi-piece quota needs it), and it
    # is reused for the final character floor
    chars = pieces.filter(F.length("piece") == 1).localCheckpoint()
    n_chars = chars.count()
    model = chars.union(
        pieces.filter(F.length("piece") > 1)
        .orderBy(F.col("c").desc(), "piece")
        .limit(max(seed_size - n_chars, 0))
    ).localCheckpoint()
    for _ in range(n_iters):
        seg = _viterbi_segment(vocab, model, max_piece_len)
        model = (
            seg.select("cnt", F.explode("toks").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
        ).localCheckpoint()
    # final cap: every character (count floored at 1) + top multi-char
    # pieces by (count DESC, piece ASC)
    kept_chars = (
        chars.select("piece")
        .join(model, "piece", "left")
        .select(
            "piece", F.coalesce(F.col("c"), F.lit(1)).cast("long").alias("c")
        )
    )
    kept_multi = (
        model.filter(F.length("piece") > 1)
        .orderBy(F.col("c").desc(), "piece")
        .limit(max(vocab_size - n_chars, 0))
    )
    final = kept_chars.union(kept_multi.select("piece", F.col("c")))
    total = final.agg(F.sum("c").cast("double").alias("__T"))
    return final.crossJoin(F.broadcast(total)).select(
        F.col("piece"),
        F.col("c").alias("count"),
        F.round(F.col("c").cast("double") / F.col("__T"), 9).alias("prob"),
    )


def _viterbi_py(w: str, model: dict, total: float, L: int) -> list:
    """Python replica of the DP expression — identical IEEE double
    products and the same (s, -pieces, -start) tie-break, so the
    driver strategy is bit-equal to the distributed one."""
    n = len(w)
    dp = [(1.0, 0, 0)] + [None] * n  # (s, n=-pieces, b=-start)
    for j in range(1, n + 1):
        best = None
        for i in range(max(j - L, 0), j):
            prev = dp[i]
            if prev[0] < 0.0:
                continue
            c = model.get(w[i:j])
            if c is None:
                continue
            cand = (prev[0] * (c / total), prev[1] - 1, -i)
            if best is None or cand > best:
                best = cand
        dp[j] = best if best is not None else (-1.0, 0, 0)
    if dp[n][0] < 0.0:
        return [w]
    toks, pos = [], n
    while pos > 0:
        start = -dp[pos][2]
        toks.append(w[start:pos])
        pos = start
    return toks[::-1]


def _train_unigram_driver(
    hist: list, vocab_size: int, n_iters: int, L: int, seed_size: int
) -> list:
    """Driver-side unigram training over a collected word histogram —
    semantics identical to the distributed rounds (property-tested)."""
    seed: dict = {}
    for w, cnt in hist:
        for i in range(len(w)):
            for l in range(1, min(L, len(w) - i) + 1):
                p = w[i : i + l]
                seed[p] = seed.get(p, 0) + int(cnt)
    chars = sorted(p for p in seed if len(p) == 1)
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(seed_size - len(chars), 0)]
    model = {p: seed[p] for p in chars}
    model.update(dict(multi))
    for _ in range(n_iters):
        total = float(sum(model.values()))
        counts: dict = {}
        for w, cnt in hist:
            for t in _viterbi_py(w, model, total, L):
                counts[t] = counts.get(t, 0) + int(cnt)
        model = counts
    kept = {c: max(model.get(c, 0), 1) for c in chars}
    for p, c in sorted(
        ((p, c) for p, c in model.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(vocab_size - len(chars), 0)]:
        kept[p] = c
    total = float(sum(kept.values()))
    return [
        (p, int(c), round(c / total, 9)) for p, c in sorted(kept.items())
    ]


def unigram_encode(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    model,
    max_piece_len: int = 4,
    strategy: str = "vocab",
) -> DataFrame:
    """Encode every document with a trained unigram model. ``model``
    is the DataFrame from :func:`train_unigram` or a list of
    (piece, count) pairs. Returns (id_col, tokens, n_tokens).

    Two identical-value strategies:

    - ``"vocab"`` (default, the Zipfian-text production shape): run
      the Viterbi DP once per DISTINCT word, then posexplode the
      corpus to (doc, position, word), join the per-word segmentations
      (AQE broadcasts the vocabulary relation when it is small), and
      reassemble each document with a position-sorted flatten. Costs
      one doc-keyed shuffle, but the DP work drops from one run per
      word OCCURRENCE to one per word TYPE — a ~300x cut on natural
      text (measured 122k -> multi-M tokens/s at 100k docs).
    - ``"inline"``: zero shuffles — the model rides a 1-row broadcast
      and every word occurrence's DP runs inside a words transform
      (the DP array let-bound through a single-element-array
      transform). The right call when the corpus is one pass of
      mostly-unique strings (ids, URLs) where the vocabulary relation
      would be corpus-sized anyway.
    """
    if strategy not in ("vocab", "inline"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = docs.sparkSession
    if isinstance(model, DataFrame):
        mdf = model.select(F.col("piece"), F.col("count").alias("c"))
    else:
        mdf = spark.createDataFrame(
            [(p, int(c)) for p, c in model], "piece string, c long"
        )
    if strategy == "inline":
        dp = _unigram_dp_expr("w", max_piece_len)
        toks = _unigram_tokens_expr("w", "__dp")
        per_doc = (
            f"flatten(transform({_words_expr(text_col)}, w -> "
            f"element_at(transform(array({dp}), __dp -> {toks}), 1)))"
        )
        return (
            docs.crossJoin(F.broadcast(_fold_model(mdf)))
            .select(F.col(id_col), F.expr(per_doc).alias("tokens"))
            .withColumn("n_tokens", F.size("tokens").cast("long"))
        )
    wpos = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(_words_expr(text_col))).alias("__pos", "w"),
    )
    seg = _viterbi_segment(
        wpos.select("w").distinct().withColumn("cnt", F.lit(1)),
        mdf,
        max_piece_len,
    ).select("w", "toks")
    regrouped = (
        wpos.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
    )
    # documents with no words still get an (empty) row — the inline
    # path emits them, so the strategies must agree
    return (
        docs.select(F.col(id_col))
        .join(regrouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("tokens"), F.expr("CAST(array() AS array<string>)")
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT vocabulary) —
# the third member of the tokenizer family. Training is the BPE loop
# with TWO changes: (1) symbols carry the '##' continuation prefix from
# the start (a word splits into [c0, ##c1, ##c2, ...]), so every
# learned piece is position-marked exactly like the BERT vocab; (2) the
# merge argmax maximizes the LIKELIHOOD score
# count(ab) / (count(a) * count(b)) instead of raw pair frequency — the
# pair whose merge most increases a unigram LM's corpus likelihood.
# Encoding is NOT merge-replay: WordPiece encodes by greedy
# longest-match-first against the final vocabulary (word-initial form
# at position 1, '##' form after), with whole-word [UNK] fallback —
# the MaxMatch algorithm of the BERT tokenizer.
#
# Determinism contract (what makes the DuckDB oracle value-exact): the
# score is ONE IEEE division of two exact longs (the pair weight and
# the product of the two symbol counts), so both engines compute the
# identical double; argmax ties break lexicographically on (lhs, rhs).
# Greedy encoding is integer-only (substring membership probes against
# a piece set), so it is bit-exact by construction.
#
# Scale shape: identical to BPE training — ONE corpus shuffle (the
# word histogram); each round adds one vocab-sized symbol-count
# aggregation (the score's denominators) beside the pair aggregation,
# both over the DISTINCT-WORD relation, argmax collected as a single
# bounded row. Encoding is map-only: the vocabulary rides a 1-row
# broadcast map and each word's greedy scan runs inside a words
# transform — zero shuffles at any corpus size. Same auto
# driver/distributed strategy as BPE below the histogram bound.
#
# Prefix caveat (shared verbatim by the oracle, so cross-engine
# agreement is unaffected): a corpus word that literally starts with
# '##' collides with the continuation form of its suffix; real BERT
# vocabularies accept the same ambiguity.
# ---------------------------------------------------------------------------

WORDPIECE_SCHEMA = StructType(
    [
        StructField("rank", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("weight", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def _wp_symbols_expr(word: str) -> str:
    """SQL expression splitting a word term into its WordPiece symbol
    array: first character bare, every later character '##'-prefixed."""
    return (
        f"transform(sequence(1, length({word})), i -> "
        f"IF(i = 1, substring({word}, 1, 1), "
        f"'##' || substring({word}, i, 1)))"
    )


def _wp_merged(a: str, b: str) -> str:
    """The merged symbol: right side's continuation prefix is absorbed
    (the merged piece keeps only the LEFT side's position marker). The
    right symbol always sits at position >= 2, so it always carries
    '##'."""
    if not b.startswith("##"):
        raise ValueError(
            f"WordPiece right-hand symbol must be a continuation: {b!r}"
        )
    return a + b[2:]


def _train_wp_driver(hist: list, n_merges: int) -> list:
    """Greedy likelihood-scored WordPiece training over a collected
    word histogram — semantics identical to the distributed rounds
    (property-tested). Scores are float(weight) / float(ca * cb): the
    exact-int-to-double conversions and single division match the SQL
    CAST(... AS DOUBLE) arithmetic bit-for-bit."""
    vocab = [
        (tuple([w[0]] + ["##" + ch for ch in w[1:]]), int(c))
        for w, c in hist
        if w
    ]
    merges = []
    for rank in range(1, n_merges + 1):
        ucnt: dict = {}
        pcnt: dict = {}
        for s, c in vocab:
            for sym in s:
                ucnt[sym] = ucnt.get(sym, 0) + c
            for i in range(len(s) - 1):
                if s[i] != s[i + 1]:
                    p = (s[i], s[i + 1])
                    pcnt[p] = pcnt.get(p, 0) + c
        if not pcnt:
            break
        (a, b), wgt = min(
            pcnt.items(),
            key=lambda kv: (
                -(float(kv[1]) / float(ucnt[kv[0][0]] * ucnt[kv[0][1]])),
                kv[0][0],
                kv[0][1],
            ),
        )
        score = float(wgt) / float(ucnt[a] * ucnt[b])
        ab = _wp_merged(a, b)
        merges.append((rank, a, b, ab, int(wgt), score))
        nxt = []
        for s, c in vocab:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            nxt.append((tuple(out), c))
        vocab = nxt
    return merges


def train_wordpiece_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 8,
    strategy: str = "auto",
    driver_max_vocab: int = 100_000,
) -> DataFrame:
    """Learn the top-``n_merges`` WordPiece merges from the corpus.

    Returns an ``n_merges``-row DataFrame (rank, lhs, rhs, merged,
    weight, score) — ``score`` is the UNROUNDED likelihood ratio
    weight / (count(lhs) * count(rhs)) at selection time. Stops early
    if no two-distinct-symbol pair remains. Strategy contract is
    :func:`train_bpe_merges`'s."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.expr(_words_expr(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if strategy == "auto":
        hist = [
            (r.w, r.cnt) for r in words.limit(driver_max_vocab + 1).collect()
        ]
        if len(hist) <= driver_max_vocab:
            return spark.createDataFrame(
                _train_wp_driver(hist, n_merges), WORDPIECE_SCHEMA
            )
    # same eager-localCheckpoint iteration discipline as train_bpe_merges
    # (lineage truncation per round; persist alone leaves the analyzer
    # replaying r stacked HOF layers by round r)
    vocab = words.select(
        "cnt", F.expr(_wp_symbols_expr("w")).alias("s")
    ).localCheckpoint()
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        # symbol counts: the score's denominators — alphabet+merges
        # sized, broadcast onto the pair relation twice
        u = (
            vocab.select("cnt", F.explode("s").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("cnt").alias("c"))
        )
        pairs = (
            vocab.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform("
                        "  filter(sequence(1, greatest(size(s) - 1, 1)),"
                        "         i -> i + 1 <= size(s)),"
                        "  i -> struct(element_at(s, i) AS a,"
                        "              element_at(s, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.a", "p.b")
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("cnt").alias("weight"))
        )
        best = (
            pairs.join(
                F.broadcast(u.select(F.col("sym"), F.col("c").alias("__ca"))),
                F.col("a") == F.col("sym"),
            )
            .drop("sym")
            .join(
                F.broadcast(u.select(F.col("sym"), F.col("c").alias("__cb"))),
                F.col("b") == F.col("sym"),
            )
            .select(
                "a",
                "b",
                "weight",
                (
                    F.col("weight").cast("double")
                    / (F.col("__ca") * F.col("__cb")).cast("double")
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: exactly one row per round
        )
        if not best:
            break
        a, b = best[0].a, best[0].b
        wgt, score = int(best[0].weight), float(best[0].score)
        ab = _wp_merged(a, b)
        merges.append((rank, a, b, ab, wgt, score))
        if rank == n_merges:
            break  # the last rewrite would never be read
        vocab = vocab.select(
            "cnt",
            F.expr(
                f"element_at(transform(array(s), s ->\n"
                f"{_rewrite_body('s', a, b, ab)}\n), 1)"
            ).alias("s"),
        ).localCheckpoint()
    return spark.createDataFrame(merges, WORDPIECE_SCHEMA)


def _wp_greedy_expr(w: str, max_word_len: int, unk: str) -> str:
    """SQL expression greedily segmenting word term ``w`` against the
    in-scope 1-row vocab columns ``__m`` (piece -> 1 map) and ``__L``
    (max piece core length, int). MaxMatch: at each position take the
    LONGEST piece whose positional form (bare at position 1, '##'
    after) is in the vocabulary; any dead position — or a word longer
    than ``max_word_len`` (BERT's max_input_chars_per_word) — degrades
    the whole word to the [UNK] token. At most one piece per
    character, so the fold runs min(length, max_word_len) steps."""
    u = _esc(unk)
    probe = (
        f"IF(st.p = 1, substring({w}, st.p, l), "
        f"'##' || substring({w}, st.p, l))"
    )
    take = (
        f"IF(st.p = 1, substring({w}, st.p, best), "
        f"'##' || substring({w}, st.p, best))"
    )
    return f"""aggregate(
  sequence(1, least(length({w}), {max_word_len})),
  named_struct('p', 1,
               't', CAST(array() AS array<string>),
               'd', length({w}) > {max_word_len} OR length({w}) = 0),
  (st, _x) -> IF(st.d OR st.p > length({w}), st,
    element_at(transform(array(
      array_max(filter(
        transform(sequence(1, least(length({w}) - st.p + 1, __L)),
                  l -> IF(element_at(__m, {probe}) IS NOT NULL, l, -1)),
        v -> v >= 0))
    ), best -> IF(best IS NULL,
      named_struct('p', st.p, 't', st.t, 'd', true),
      named_struct('p', st.p + best,
                   't', array_append(st.t, {take}),
                   'd', false))), 1)),
  st -> IF(st.d, array('{u}'), st.t))"""


def wordpiece_encode(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    vocab,
    unk: str = "[UNK]",
    max_word_len: int = 24,
    strategy: str = "vocab",
) -> DataFrame:
    """Encode every document by greedy longest-match (MaxMatch) against
    a WordPiece vocabulary. ``vocab`` is a DataFrame with a ``piece``
    column or a list of piece strings (word-initial pieces bare,
    continuation pieces '##'-prefixed). Returns
    (id_col, tokens, n_tokens).

    Two value-identical strategies (the unigram_encode convention —
    HOF folds run interpreted per element, so per-TYPE work wins by
    the corpus' type/token ratio on natural text; measured 12k ->
    ~1M tokens/s at 100k docs on a Zipfian vocabulary, SCALING.md):

    - ``"vocab"`` (default): run the greedy scan once per DISTINCT
      word, then posexplode the corpus, join the per-word
      segmentations, and reassemble each document position-sorted.
      Costs one doc-keyed shuffle.
    - ``"inline"``: zero shuffles — the vocabulary rides a 1-row
      broadcast (membership map + max core length) and every word
      occurrence's greedy fold runs inside a words transform. For
      mostly-unique-string corpora.
    """
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    if strategy not in ("vocab", "inline"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = docs.sparkSession
    if isinstance(vocab, DataFrame):
        vdf = vocab.select("piece")
    else:
        vdf = spark.createDataFrame(
            [(p,) for p in vocab], "piece string"
        )
    folded = vdf.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.lit(1)))
        ).alias("__m"),
        F.max(
            F.length("piece")
            - F.when(F.col("piece").startswith("##"), 2).otherwise(0)
        ).alias("__L"),
    )
    if strategy == "inline":
        per_doc = (
            f"flatten(transform({_words_expr(text_col)}, w -> "
            f"{_wp_greedy_expr('w', max_word_len, unk)}))"
        )
        return (
            docs.crossJoin(F.broadcast(folded))
            .select(F.col(id_col), F.expr(per_doc).alias("tokens"))
            .withColumn("n_tokens", F.size("tokens").cast("long"))
        )
    wpos = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(_words_expr(text_col))).alias("__pos", "w"),
    )
    seg = (
        wpos.select("w")
        .distinct()
        .crossJoin(F.broadcast(folded))
        .select(
            "w",
            F.expr(_wp_greedy_expr("w", max_word_len, unk)).alias("toks"),
        )
    )
    regrouped = (
        wpos.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(regrouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("tokens"), F.expr("CAST(array() AS array<string>)")
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )
