"""BPE tokenizer training/encoding (operators/tokenizer.py): driver and
distributed strategies must agree exactly, encoding must match a pure-
Python greedy replay, and the encode plan must stay map-only."""

import random

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.operators.tokenizer import (
    MERGE_SCHEMA,
    _train_driver,
    apply_merge_expr,
    bpe_encode,
    train_bpe_merges,
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_encode(word, pairs):
    """Reference greedy encoder (the classic scan; equals replace-all
    because every learned pair has lhs != rhs)."""
    s = list(word)
    for a, b in pairs:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_hand_computed_merges(spark):
    docs = _docs_df(spark, ["ab ab abc b a", "abc abc cab"])
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.weight)
        for r in train_bpe_merges(docs, "text", n_merges=3).collect()
    ]
    # histogram: ab:2 abc:3 b:1 a:1 cab:1
    # r1: (a,b) = 2+3+1 = 6; r2: (ab,c) = 3; r3: (c,ab) = 1
    assert got == [
        (1, "a", "b", "ab", 6),
        (2, "ab", "c", "abc", 3),
        (3, "c", "ab", "cab", 1),
    ]


def test_driver_and_distributed_strategies_agree(spark):
    rng = random.Random(7)
    texts = [
        " ".join(
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            for _ in range(30)
        )
        for _ in range(20)
    ]
    docs = _docs_df(spark, texts)
    fast = train_bpe_merges(docs, "text", n_merges=5).collect()
    dist = train_bpe_merges(
        docs, "text", n_merges=5, strategy="distributed"
    ).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in dist]
    # forced-overflow auto: bound smaller than the vocab falls back to
    # the distributed rounds and still agrees
    tiny_bound = train_bpe_merges(
        docs, "text", n_merges=5, driver_max_vocab=2
    ).collect()
    assert [tuple(r) for r in tiny_bound] == [tuple(r) for r in fast]


def test_identical_symbol_pairs_never_merge(spark):
    docs = _docs_df(spark, ["aaaa aa bb"])
    got = train_bpe_merges(docs, "text", n_merges=4).collect()
    assert got == []  # only (a,a)/(b,b) adjacencies exist
    # mixed corpus: merges appear but none with lhs == rhs
    docs2 = _docs_df(spark, ["aab aab bba"])
    for r in train_bpe_merges(docs2, "text", n_merges=4).collect():
        assert r.lhs != r.rhs


def test_encode_matches_python_replay(spark):
    rng = random.Random(13)
    texts = [
        " ".join(
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
            for _ in range(25)
        )
        for _ in range(10)
    ]
    docs = _docs_df(spark, texts)
    merges = train_bpe_merges(docs, "text", n_merges=6)
    pairs = [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]
    got = {
        r.doc_id: r.tokens
        for r in bpe_encode(docs, "text", "doc_id", merges).collect()
    }
    for i, t in enumerate(texts):
        expect = [
            tok for w in t.split() for tok in _py_encode(w, pairs)
        ]
        assert got[i] == expect, f"doc {i}"


def test_encode_plan_is_map_only(spark):
    docs = _docs_df(spark, ["ab ab abc"])
    enc = bpe_encode(docs, "text", "doc_id", [("a", "b"), ("ab", "c")])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffles at any corpus size
    assert "EvalPython" not in plan  # no Python UDFs, HOFs only


def test_contract_errors(spark):
    docs = _docs_df(spark, ["ab"])
    with pytest.raises(ValueError, match="n_merges"):
        train_bpe_merges(docs, "text", n_merges=0)
    with pytest.raises(ValueError, match="strategy"):
        train_bpe_merges(docs, "text", strategy="magic")
    with pytest.raises(ValueError, match="lhs != rhs"):
        apply_merge_expr("s", "a", "a")
    with pytest.raises(ValueError, match="strategy"):
        bpe_encode(docs, "text", "doc_id", [("a", "b")], strategy="nope")


def test_bpe_encode_vocab_strategy_plan_and_parity(spark):
    """The per-DISTINCT-word strategy: the merge chain runs on the
    type relation, every hash exchange keys on the word or the doc id
    (the regroup) — never a corpus-wide catch-all, no cartesian
    product — and values match the inline chain exactly."""
    import re

    docs = _docs_df(spark, ["ab ba abc", "aba ab", "cab abc ab"])
    pairs = [("a", "b"), ("ab", "c")]
    inline = bpe_encode(
        docs, "text", "doc_id", pairs, strategy="inline"
    )
    plan = inline._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    voc = bpe_encode(docs, "text", "doc_id", pairs, strategy="vocab")
    vplan = voc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in vplan
    assert "EvalPython" not in vplan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", vplan)
    assert shuffles, vplan
    for cols in shuffles:
        assert cols.strip().startswith(("w", "doc_id")), shuffles
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, voc.collect())
    )


def test_bpe_encode_vocab_strategy_long_chain_and_auto(spark):
    """A merge table past VOCAB_AUTO_MIN_MERGES routes auto to the
    per-type path, the chain's periodic lineage truncation engages
    (> MERGE_CHAIN_CHECKPOINT_EVERY layers), and the result still
    replays the classic greedy loop word for word."""
    from delta_lake_spark.operators.tokenizer import (
        MERGE_CHAIN_CHECKPOINT_EVERY,
        VOCAB_AUTO_MIN_MERGES,
    )

    rng = random.Random(7)
    letters = "abcdefgh"
    texts = [
        " ".join(
            "".join(rng.choice(letters) for _ in range(rng.randint(2, 9)))
            for _ in range(20)
        )
        for _ in range(6)
    ]
    docs = _docs_df(spark, texts)
    # 56 distinct-letter pairs + chained multi-symbol merges: enough
    # to cross both the auto threshold and one checkpoint cut
    pairs = [
        (a, b) for a in letters for b in letters if a != b
    ]
    pairs += [("ab", "cd"), ("ef", "gh"), ("abcd", "efgh"),
              ("ba", "dc"), ("fe", "hg"), ("badc", "fehg"),
              ("c", "abcdefgh"), ("abcdefgh", "d"), ("e", "badcfehg"),
              ("badcfehg", "f"), ("gh", "ab"), ("ghab", "cd")]
    assert len(pairs) >= VOCAB_AUTO_MIN_MERGES
    assert len(pairs) > MERGE_CHAIN_CHECKPOINT_EVERY
    got = {
        r.doc_id: r.tokens
        for r in bpe_encode(docs, "text", "doc_id", pairs).collect()
    }
    for i, t in enumerate(texts):
        expect = [
            tok for w in t.split() for tok in _py_encode(w, pairs)
        ]
        assert got[i] == expect, f"doc {i}"


def test_bpe_encode_python_chain_tier_parity(spark):
    """Past MERGE_CHAIN_PY_MIN_MERGES the vocab strategy applies the
    merge chain to the distinct types via one Arrow mapInPandas (the
    expression chain's per-merge plan layers stop scaling there). The
    result must replay the classic rank-order greedy scan word for
    word, including merges that only become applicable after later
    context changes (the chain NEVER revisits an earlier rank)."""
    from delta_lake_spark.operators.tokenizer import (
        MERGE_CHAIN_PY_MIN_MERGES,
        _apply_merges_py,
    )

    rng = random.Random(11)
    letters = "abcdef"
    texts = [
        " ".join(
            "".join(rng.choice(letters) for _ in range(rng.randint(2, 10)))
            for _ in range(15)
        )
        for _ in range(5)
    ]
    docs = _docs_df(spark, texts)
    pairs = [(a, b) for a in letters for b in letters if a != b]
    pairs += [("ab", "cd"), ("cd", "ab"), ("abcd", "ef"),
              ("ba", "dc"), ("fe", "ab"), ("a", "bcdef"),
              ("ef", "abcd")]
    # pad with chained multi-symbol merges to cross the Python tier
    syms = [a + b for a in letters for b in letters if a != b]
    pairs += [(s, t) for s in syms[:12] for t in syms[:12] if s != t][
        : MERGE_CHAIN_PY_MIN_MERGES - len(pairs) + 5
    ]
    assert len(pairs) >= MERGE_CHAIN_PY_MIN_MERGES
    got = {
        r.doc_id: r.tokens
        for r in bpe_encode(
            docs, "text", "doc_id", pairs, strategy="vocab"
        ).collect()
    }
    for i, t in enumerate(texts):
        expect = [
            tok for w in t.split() for tok in _py_encode(w, pairs)
        ]
        assert got[i] == expect, f"doc {i}"
    # the fast scan's skip rule equals the full rank-order scan on a
    # case where a low-rank pair becomes adjacent only AFTER its turn:
    # merge 0 (c,d) never re-applies when merge 2 creates a new c|d
    tricky = [("c", "d"), ("a", "b"), ("ab", "c")]
    rank_of = {p: i for i, p in enumerate(tricky)}
    for word in ("abcd", "abcdcd", "cdabcd", "ababcd"):
        assert _apply_merges_py(list(word), tricky, rank_of) == _py_encode(
            word, tricky
        ), word


def test_early_stop_and_quote_safety(spark):
    # vocabulary exhausts after one merge; quote-bearing symbols must
    # escape cleanly into the generated expressions
    docs = _docs_df(spark, ["a'b a'b"])
    merges = train_bpe_merges(docs, "text", n_merges=5)
    rows = merges.collect()
    # round 1 ties (a,')=2 vs (',b)=2 break lexicographically: ' < a
    assert [(r.lhs, r.rhs) for r in rows] == [("'", "b"), ("a", "'b")]
    enc = bpe_encode(
        docs, "text", "doc_id", [(r.lhs, r.rhs) for r in rows]
    ).collect()
    assert enc[0].tokens == ["a'b", "a'b"]


def test_driver_reference_is_pure(spark):
    # _train_driver over an explicit histogram equals the DataFrame path
    hist = [("ab", 2), ("abc", 3), ("b", 1), ("a", 1), ("cab", 1)]
    got = _train_driver(hist, 3)
    assert got == [
        (1, "a", "b", "ab", 6),
        (2, "ab", "c", "abc", 3),
        (3, "c", "ab", "cab", 1),
    ]
    assert MERGE_SCHEMA.fieldNames() == [
        "rank", "lhs", "rhs", "merged", "weight",
    ]


@pytest.mark.parametrize(
    "fn, module, trainer",
    [
        ("_bpe_merges", "tokenizer", "train_bpe_merges"),
        ("_byte_bpe_merges", "tokenizer", "train_bpe_merges"),
        ("_unigram_model", "tokenizer", "train_unigram"),
        ("_wp_merges", "tokenizer", "train_wordpiece_merges"),
        ("_perceptron_weights", "stats", "perceptron_train"),
    ],
    ids=["bpe", "byte_bpe", "unigram", "wordpiece", "perceptron"],
)
def test_model_memo_lifecycle(spark, monkeypatch, fn, module, trainer):
    """Each query-side model trains once per (session, sf_dir), is served
    from the session memo on repeat, is dropped by
    clear_funnel_memo(spark), and another session's entry survives that
    clear."""
    import importlib

    from delta_lake_spark.queries import llm
    from tests.conftest import SF_DIR

    mod = importlib.import_module(f"delta_lake_spark.operators.{module}")
    real = getattr(mod, trainer)
    trained = []

    def counting(*args, **kwargs):
        trained.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, trainer, counting)
    model = getattr(llm, fn)
    sf = SF_DIR
    other = spark.newSession()
    llm.clear_funnel_memo(spark)
    try:
        first = model(spark, sf)
        assert model(spark, sf) is first  # served from the memo
        assert len(trained) == 1
        kept = model(other, sf)
        assert len(trained) == 2  # one entry per session
        llm.clear_funnel_memo(spark)
        assert model(other, sf) is kept  # the other session's entry stays
        again = model(spark, sf)
        assert len(trained) == 3 and again is not first  # dropped, retrained
        assert again == first
    finally:
        llm.clear_funnel_memo(spark)
        llm.clear_funnel_memo(other)


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: train_unigram /
# unigram_encode. The Viterbi score is a product of count/total double
# divisions (no logarithm), so driver, distributed, and a pure-Python
# replay must agree BIT-FOR-BIT, and encoding must pick the
# max-probability segmentation.
# ---------------------------------------------------------------------------


def test_unigram_hand_computed(spark):
    from delta_lake_spark.operators.tokenizer import (
        train_unigram,
        unigram_encode,
    )

    # one word corpus: 'abab' x3. Seed pieces (L=4): a b ab ba aba bab
    # abab + counts; the EM keeps what Viterbi uses.
    docs = _docs_df(spark, ["abab abab", "abab"])
    model = train_unigram(
        docs, "text", vocab_size=8, n_iters=2, seed_size=8
    )
    rows = {r.piece: r["count"] for r in model.collect()}
    # chars always survive (floored), and the whole word dominates:
    # p(abab) as one piece beats any split at equal seed weights
    assert "a" in rows and "b" in rows
    assert "abab" in rows
    enc = unigram_encode(docs, "text", "doc_id", model)
    got = {r.doc_id: r.tokens for r in enc.collect()}
    assert got[0] == ["abab", "abab"] and got[1] == ["abab"]


def test_unigram_driver_and_distributed_agree(spark):
    from delta_lake_spark.operators.tokenizer import train_unigram

    rng = random.Random(11)
    texts = [
        " ".join(
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(3, 15))
        )
        for _ in range(30)
    ]
    docs = _docs_df(spark, texts)
    auto = sorted(
        map(
            tuple,
            train_unigram(
                docs, "text", vocab_size=24, n_iters=2, seed_size=48
            ).collect(),
        )
    )
    dist = sorted(
        map(
            tuple,
            train_unigram(
                docs,
                "text",
                vocab_size=24,
                n_iters=2,
                seed_size=48,
                strategy="distributed",
            ).collect(),
        )
    )
    assert auto == dist and len(auto) > 0


def test_unigram_encode_is_optimal_and_total(spark):
    """The emitted segmentation reaches the brute-force max product
    score (left-associated, same multiply order as the DP) with the
    fewest pieces among max-score segmentations; a word containing a
    character outside the model degrades to itself as one token."""
    from delta_lake_spark.operators.tokenizer import unigram_encode

    model = [("a", 5), ("b", 4), ("ab", 6), ("ba", 2), ("aba", 3)]
    total = float(sum(c for _, c in model))
    probs = {p: c / total for p, c in model}

    def brute(word):
        best = None
        def rec(i, score, toks):
            nonlocal best
            if i == len(word):
                cand = (score, -len(toks), tuple(toks))
                if best is None or cand[:2] > best[:2]:
                    best = cand
                return
            for j in range(i + 1, min(i + 4, len(word)) + 1):
                p = probs.get(word[i:j])
                if p is not None:
                    rec(j, score * p, toks + [word[i:j]])
        rec(0, 1.0, [])
        return best

    words = ["abab", "aba", "baba", "aabb", "b", "abba"]
    docs = _docs_df(spark, [" ".join(words)])
    enc = unigram_encode(docs, "text", "doc_id", model).collect()[0]
    toks = enc.tokens
    # re-split the flat token stream back into per-word segmentations
    i = 0
    for w in words:
        seg = []
        while "".join(seg) != w:
            seg.append(toks[i])
            i += 1
        got_score = 1.0
        for t in seg:
            got_score = got_score * probs[t]
        exp = brute(w)
        assert got_score == exp[0], (w, seg, exp)
        assert len(seg) == -exp[1], (w, seg, exp)
    assert i == len(toks)
    # totality: 'x' appears in no piece -> whole word single token
    docs2 = _docs_df(spark, ["ax ab"])
    enc2 = unigram_encode(docs2, "text", "doc_id", model).collect()[0]
    assert enc2.tokens == ["ax", "ab"]


def test_unigram_encode_plan_shuffle_discipline(spark):
    import re

    from delta_lake_spark.operators.tokenizer import unigram_encode

    docs = _docs_df(spark, ["ab ba", "aba"])
    model = [("a", 2), ("b", 1)]
    # inline strategy: zero shuffles — only the 1-row model broadcast
    inline = unigram_encode(
        docs, "text", "doc_id", model, strategy="inline"
    )
    plan = inline._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    # vocab strategy: the DP runs on the distinct-word relation; every
    # hash exchange keys on the word or the doc id (the regroup),
    # never a corpus-wide catch-all
    voc = unigram_encode(docs, "text", "doc_id", model, strategy="vocab")
    vplan = voc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in vplan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", vplan)
    assert shuffles, vplan
    for cols in shuffles:
        assert cols.strip().startswith(("w", "doc_id")), shuffles
    # strategies agree value-for-value
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, voc.collect())
    )
    with pytest.raises(ValueError, match="strategy"):
        unigram_encode(docs, "text", "doc_id", model, strategy="nope")


def test_unigram_contract_errors(spark):
    from delta_lake_spark.operators.tokenizer import train_unigram

    docs = _docs_df(spark, ["ab"])
    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram(docs, "text", vocab_size=0)
    with pytest.raises(ValueError, match="n_iters"):
        train_unigram(docs, "text", n_iters=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        train_unigram(docs, "text", max_piece_len=0)
    with pytest.raises(ValueError, match="strategy"):
        train_unigram(docs, "text", strategy="magic")


# ---------------------------------------------------------------------------
# WordPiece (likelihood-scored merges + greedy MaxMatch encode)
# ---------------------------------------------------------------------------


def _py_wordpiece(word, vocab, L, maxw=24, unk="[UNK]"):
    """Reference greedy MaxMatch encoder."""
    if not word or len(word) > maxw:
        return [unk]
    p, toks = 0, []
    while p < len(word):
        best = None
        for l in range(min(len(word) - p, L), 0, -1):
            key = word[p : p + l] if p == 0 else "##" + word[p : p + l]
            if key in vocab:
                best = l
                break
        if best is None:
            return [unk]
        toks.append(
            word[p : p + best] if p == 0 else "##" + word[p : p + best]
        )
        p += best
    return toks


def test_wordpiece_hand_computed(spark):
    from delta_lake_spark.operators.tokenizer import train_wordpiece_merges

    # hist: ab:2 b:1 a:1 -> symbols ab=(a,##b); counts a:3, ##b:2, b:1
    # round 1: only pair (a,##b) weight 2, score 2/(3*2)
    docs = _docs_df(spark, ["ab ab b", "a"])
    rows = train_wordpiece_merges(docs, "text", n_merges=3).collect()
    assert [
        (r.rank, r.lhs, r.rhs, r.merged, r.weight) for r in rows
    ] == [(1, "a", "##b", "ab", 2)]  # early stop: no pair remains
    assert rows[0].score == 2.0 / 6.0


def test_wordpiece_likelihood_beats_frequency(spark):
    from delta_lake_spark.operators.tokenizer import (
        train_bpe_merges,
        train_wordpiece_merges,
    )

    # (x,y) is the most FREQUENT pair but both symbols are common;
    # (q,u) is rarer as a pair but its symbols are exclusive to it, so
    # the likelihood score must pick (q,u) first while BPE picks (x,y)
    docs = _docs_df(spark, ["xy xy xy xa ya qu qu"])
    wp = train_wordpiece_merges(docs, "text", n_merges=1).collect()[0]
    assert (wp.lhs, wp.rhs, wp.merged) == ("q", "##u", "qu")
    bpe = train_bpe_merges(docs, "text", n_merges=1).collect()[0]
    assert (bpe.lhs, bpe.rhs) == ("x", "##y") or (bpe.lhs, bpe.rhs) == (
        "x",
        "y",
    )


def test_wordpiece_strategies_agree(spark):
    import random

    from delta_lake_spark.operators.tokenizer import train_wordpiece_merges

    rng = random.Random(11)
    texts = [
        " ".join(
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 7)))
            for _ in range(12)
        )
        for _ in range(8)
    ]
    docs = _docs_df(spark, texts)
    drv = train_wordpiece_merges(docs, "text", n_merges=5).collect()
    dist = train_wordpiece_merges(
        docs, "text", n_merges=5, strategy="distributed"
    ).collect()
    # bit-equal including the IEEE score
    assert [tuple(r) for r in drv] == [tuple(r) for r in dist]
    for r in drv:
        assert r.rhs.startswith("##")
        assert r.merged == r.lhs + r.rhs[2:]


def test_wordpiece_encode_semantics(spark):
    from delta_lake_spark.operators.tokenizer import wordpiece_encode

    vocab = ["a", "b", "c", "##a", "##b", "##c", "ab", "##bc", "abc"]
    docs = _docs_df(
        spark,
        [
            "abc ab a",       # longest-match-first: abc whole
            "abcc cab",       # abc + ##c; c + ##a + ##b
            "abq",            # q not in vocab -> whole-word UNK
            "a" * 25,         # over max_word_len -> UNK
        ],
    )
    got = {
        r.doc_id: r.tokens
        for r in wordpiece_encode(
            docs, "text", "doc_id", vocab, max_word_len=24
        ).collect()
    }
    assert got[0] == ["abc", "ab", "a"]
    assert got[1] == ["abc", "##c", "c", "##a", "##b"]
    assert got[2] == ["[UNK]"]
    assert got[3] == ["[UNK]"]
    vset = set(vocab)
    for i, t in enumerate(["abc ab a", "abcc cab", "abq", "a" * 25]):
        expect = [
            tok for w in t.split() for tok in _py_wordpiece(w, vset, 3)
        ]
        assert got[i] == expect, f"doc {i}"


def test_wordpiece_encode_plan_shuffle_discipline(spark):
    import re

    from delta_lake_spark.operators.tokenizer import wordpiece_encode

    docs = _docs_df(spark, ["ab ab abc", "ba ab"])
    vocab = ["a", "b", "##a", "##b"]
    # inline strategy: zero shuffles — only the 1-row vocab broadcast
    inline = wordpiece_encode(
        docs, "text", "doc_id", vocab, strategy="inline"
    )
    plan = inline._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # zero shuffles
    assert "EvalPython" not in plan  # no Python UDFs, HOFs only
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row vocab broadcast
    # vocab strategy (default): the greedy fold runs on the
    # distinct-word relation; every hash exchange keys on the word or
    # the doc id (the regroup), never a corpus-wide catch-all
    voc = wordpiece_encode(docs, "text", "doc_id", vocab)
    vplan = voc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in vplan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,#]+)", vplan)
    assert shuffles, vplan
    for cols in shuffles:
        assert cols.strip().startswith(("w", "doc_id")), shuffles
    # strategies agree value-for-value
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, voc.collect())
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        wordpiece_encode(docs, "text", "doc_id", vocab, strategy="nope")


def test_wordpiece_contract_errors(spark):
    from delta_lake_spark.operators.tokenizer import (
        _wp_merged,
        train_wordpiece_merges,
        wordpiece_encode,
    )

    docs = _docs_df(spark, ["ab"])
    with pytest.raises(ValueError, match="n_merges"):
        train_wordpiece_merges(docs, "text", n_merges=0)
    with pytest.raises(ValueError, match="strategy"):
        train_wordpiece_merges(docs, "text", strategy="magic")
    with pytest.raises(ValueError, match="max_word_len"):
        wordpiece_encode(docs, "text", "doc_id", ["a"], max_word_len=0)
    with pytest.raises(ValueError, match="continuation"):
        _wp_merged("a", "b")
