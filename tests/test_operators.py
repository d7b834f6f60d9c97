"""Operator-level tests: dedup family cross-validation, similarity
recall, text analysis edge cases, multimodal plumbing shapes."""

import pytest
from pyspark.sql import functions as F

from delta_lake_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)
from delta_lake_spark.operators.multimodal import (
    decode_image_features,
    documents_as_media,
    frame_sample,
)
from delta_lake_spark.operators.similarity import cosine_topk, ivf_topk
from delta_lake_spark.operators.text import lang_id, token_stats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_dedup_idempotent(spark, docs):
    kept = exact_dedup(docs, "text", "doc_id")
    assert kept.count() == docs.select(F.lower("text")).distinct().count()


def test_word_shingles_count(spark, docs):
    sh = word_shingles(docs, "text", "doc_id", n=3)
    one = docs.filter("doc_id = 0").select("text").collect()[0].text
    n_words = len(one.split())
    got = sh.filter("doc_id = 0").count()
    assert got <= n_words - 2  # distinct shingles <= positions


def test_minhash_lsh_equals_exact(spark, docs):
    """The LSH-accelerated pairs must equal the exact inverted-index
    result at this threshold (recall calibration guard)."""
    exact = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.6).collect()
    }
    lsh = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.6).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_finds_near_dups(spark, docs):
    """SimHash pairs should substantially overlap the jaccard near-dups
    (different signal, same injected duplicates)."""
    jac = {
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    }
    sim = {
        (r.id_1, r.id_2)
        for r in simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    assert len(jac) > 0
    assert len(jac & sim) / len(jac) >= 0.5  # recall of simhash vs jaccard dups
    assert all(h.hamming <= 3 for h in simhash_pairs(
        docs, "text", "doc_id", max_hamming=3
    ).collect())


def test_cosine_topk_is_exact_and_ranked(spark, emb):
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=5).collect()
    assert len(out) == 5
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(r.neighbor_id != 0 for r in out)
    # brute-force ground truth via pandas
    import numpy as np

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    q = mat[pdf.vec_id == 0][0]
    sims_np = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = [
        int(pdf.vec_id.iloc[i])
        for i in np.argsort(-sims_np)
        if int(pdf.vec_id.iloc[i]) != 0
    ][:5]
    assert [r.neighbor_id for r in out] == order


def test_ivf_topk_recall(spark, emb):
    """IVF with nprobe=4/16 cells should recover most of the exact top-k."""
    exact = cosine_topk(emb, emb.filter("vec_id < 3"), k=10).collect()
    approx = ivf_topk(emb, emb.filter("vec_id < 3"), k=10, n_cells=16, nprobe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_full_probe_is_exact(spark, emb):
    exact = cosine_topk(emb, emb.filter("vec_id = 1"), k=5).collect()
    full = ivf_topk(emb, emb.filter("vec_id = 1"), k=5, n_cells=8, nprobe=8).collect()
    assert [(r.neighbor_id) for r in exact] == [(r.neighbor_id) for r in full]


def test_token_stats_edges(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "  padded  "), (3, "a-b c_d 42!")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in token_stats(df, "text", "doc_id").collect()}
    assert rows[1].ws_tokens == 2
    assert rows[2].ws_tokens == 1
    assert rows[3].re_tokens == 8  # a,-,b,c,_,d,42,!


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "el gato y la casa de los perros"),
            (3, "der hund und die katze ist ein tier"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.pred_lang for r in lang_id(df, "text", "doc_id").collect()}
    assert rows == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_multimodal_plumbing(spark, docs):
    media = documents_as_media(docs)
    feats = decode_image_features(media)
    joined = feats.join(docs, feats.media_id == docs.doc_id)
    # n_bytes of utf-8 == n_chars for ASCII corpus
    assert joined.filter(F.col("n_bytes") != F.col("n_chars")).count() == 0
    # the REAL decode path must fail loudly on non-image payloads
    # (these are utf-8 text bytes) — never silently emit fake features
    with pytest.raises(Exception, match="PNG|cannot identify"):
        decode_image_features(media, real_decode=True).collect()


def test_frame_sample_explodes(spark, docs):
    media = documents_as_media(docs.limit(10))
    frames = frame_sample(media, every_n_bytes=64)
    counts = {r.media_id: r.n for r in frames.groupBy("media_id").agg(
        F.count("*").alias("n")).collect()}
    lens = {r.media_id: r.n_bytes for r in decode_image_features(media).collect()}
    for mid, n in counts.items():
        assert n == -(-lens[mid] // 64)  # ceil(len/64) frames


def test_deterministic_sampling_operators(spark):
    """Split/sample must be stable across partitionings and reruns, and
    stratified fractions must land near their targets per stratum."""
    from delta_lake_spark.operators.sampling import (
        deterministic_sample,
        deterministic_split,
        stratified_sample,
    )

    df = spark.range(10_000).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN 'web' WHEN id % 3 = 1 THEN 'book' ELSE 'code' END AS src"
    )
    s1 = deterministic_split(df, "id", 0.8)
    frac = s1.filter("split = 'train'").count() / 10_000
    assert 0.77 < frac < 0.83  # uniform hash, 10k keys

    # stability: different partitioning, same assignment
    s2 = deterministic_split(df.repartition(17), "id", 0.8)
    diff = (
        s1.select("id", "split")
        .join(s2.select("id", F.col("split").alias("split2")), "id")
        .filter("split != split2")
        .count()
    )
    assert diff == 0

    # sample ~10%
    n = deterministic_sample(df, "id", 0.1).count()
    assert 800 < n < 1200

    # stratified: keep all books, 10% of web, drop code
    st = stratified_sample(
        df, "id", "src", {"book": 1.0, "web": 0.1}, default_frac=0.0
    )
    got = {r.src: r.n for r in st.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert got.get("book") == df.filter("src = 'book'").count()
    assert "code" not in got
    assert 200 < got.get("web", 0) < 500  # ~10% of ~3333


def test_prefix_filter_equals_full_index(spark):
    """Prefix-filtered all-pairs must produce exactly the full-index
    result (the verification step is exact; prefix filtering only
    shrinks the candidate set)."""
    from delta_lake_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r.id_1, r.id_2, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", prefix_filter=False
        ).collect()
    }
    pref = {
        (r.id_1, r.id_2, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", prefix_filter=True
        ).collect()
    }
    assert full == pref and len(full) > 0


def test_chunk_documents_coverage(spark):
    from delta_lake_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, "a b"), (3, "solo")],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, "text", "doc_id", chunk_size=10, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 100 words, stride 8, starts 1..97 step 8 -> ceil(98/8)=13 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert len(c1) == 13 and c1[0].chunk_tokens == 10
    # every word index covered; consecutive chunks overlap by 2
    assert c1[0].chunk_text.startswith("w0 w1")
    assert c1[1].chunk_text.startswith("w8 w9")
    # last chunk is the tail, possibly short
    assert c1[-1].chunk_text.endswith("w99")
    # short docs produce exactly one chunk containing the whole text
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b"
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_tokens == 1


def test_pack_sequences_budget(spark):
    from delta_lake_spark.operators.text import pack_sequences

    rows = [(i, "s", " ".join(["t"] * 100)) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = pack_sequences(df, "text", "doc_id", part_col="source", budget=250).collect()
    # 10 docs x 100 tokens, cut every 250: doc bins 0,0,0(starts 200),1,...
    assert sum(r.n_docs for r in out) == 10
    assert sum(r.bin_tokens for r in out) == 1000
    bins = {r.bin_id: r.n_docs for r in out}
    # concat-split: docs starting at 0,100,200 -> bin 0; 300,400 -> bin1...
    assert bins[0] == 3 and bins[1] == 2


def test_redact_pii_counts(spark):
    from delta_lake_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@example.org or x@y.io, card 4111111111111111"),
            (2, "no pii here, just 123 small numbers"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_pii(df, "text", "doc_id").collect()}
    assert out[1].n_emails == 2 and out[1].n_longnums == 1
    assert "<EMAIL>" in out[1].redacted and "<NUM>" in out[1].redacted
    assert "example.org" not in out[1].redacted
    assert out[2].n_emails == 0 and out[2].n_longnums == 0
    assert out[2].redacted == "no pii here, just 123 small numbers"


def test_repetition_ratio_edges(spark):
    from delta_lake_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 grams, 3 distinct
            (2, "all words unique here now"),
            (3, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_ratio(df, "text", "doc_id").collect()}
    assert out[1].n_grams == 7 and abs(out[1].rep_ratio - (1 - 3 / 7)) < 1e-6
    assert out[2].rep_ratio == 0.0
    assert out[3].n_grams == 0 and out[3].rep_ratio == 0.0


def test_approx_count_distinct_calibration(spark):
    """HLL approx_count_distinct stays within its documented relative
    error (default rsd 5%) of the exact distinct count on real keys —
    the sketch path for COUNT(DISTINCT) at 100 TB where exactness would
    force a full shuffle of every key."""
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    # rsd is a STANDARD DEVIATION, not a bound: allow 3 sigma
    row = orders.select(
        F.approx_count_distinct("o_custkey").alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 3 * 0.05
    row2 = orders.select(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row2.approx - row2.exact) / row2.exact < 3 * 0.01


def test_cluster_resolution_transitivity(spark):
    """A-B and B-C pairs must land A, B, C in one cluster labeled by the
    smallest id, even though A-C was never a pair (transitivity); nodes
    without pairs stay singletons."""
    from delta_lake_spark.operators.dedup import resolve_duplicate_clusters

    pairs = spark.createDataFrame([(2, 3), (3, 5), (8, 9)], "id_1 long, id_2 long")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 8, 9]], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in resolve_duplicate_clusters(pairs, ids, "doc_id").collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 5: 2, 8: 8, 9: 8}


def test_audio_chunk_plan_covers_payload(spark, docs):
    """Chunk plan covers every payload byte exactly once."""
    from delta_lake_spark.operators.multimodal import (
        audio_chunk_plan,
        documents_as_media,
    )

    media = documents_as_media(docs).cache()
    plan = audio_chunk_plan(media, chunk_bytes=100)
    per_media = plan.groupBy("media_id").agg(
        F.sum("n_bytes").alias("covered"), F.count("*").alias("chunks")
    )
    joined = per_media.join(
        media.select("media_id", F.octet_length("content").alias("n")), "media_id"
    )
    assert joined.filter("covered <> n").count() == 0


def test_segment_wav_energy_recovers_spans(spark):
    """The REAL energy segmenter recovers exactly the loud spans the
    synthesized corpus planted — boundaries in samples and RMS == the
    planted amplitude (square wave, so every window RMS is exact)."""
    from delta_lake_spark.operators.multimodal import (
        segment_wav_energy,
        synthesize_speech_wav_corpus,
    )

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = segment_wav_energy(
        synthesize_speech_wav_corpus(ids), frame_samples=4, threshold=1.0
    ).collect()
    got = {
        (r.media_id, r.seg_id): (r.start_sample, r.n_samples, r.rms)
        for r in out
    }
    expected = {}
    for i in range(12):
        span = 4 * (2 + i % 4)
        amp = float(2000 + (i % 7) * 1000)
        for seg, s in enumerate(range(1, 4 + i % 3, 2)):
            expected[(i, seg)] = (s * span, span, amp)
    assert got == expected


def test_segment_wav_energy_rejects_malformed(spark):
    """A non-RIFF payload raises with the media id, not silent zeros."""
    from delta_lake_spark.operators.multimodal import segment_wav_energy

    media = spark.createDataFrame(
        [(7, bytearray(b"not a wav at all"))],
        "media_id long, content binary",
    )
    with pytest.raises(Exception, match="media 7"):
        segment_wav_energy(media).collect()


def test_minhash_stop_shingle_guard_bounds_hot_buckets(spark):
    """Boilerplate shingles shared by every doc must not bucket the whole
    corpus together: with the default max_doc_freq guard the candidate
    set stays near-empty, without it candidate generation goes quadratic."""
    from delta_lake_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta u{i}") for i in range(200)],
        "doc_id long, text string",
    )
    sh = word_shingles(docs, "text", "doc_id", n=3).cache()
    guarded = minhash_lsh_candidates(sh, "doc_id").count()
    unguarded = minhash_lsh_candidates(sh, "doc_id", max_doc_freq=None).count()
    sh.unpersist()
    assert unguarded > 500  # two shared shingles of three -> quadratic buckets
    assert guarded < 50  # stop-shingle guard keeps candidates bounded


def test_minhash_guard_does_not_change_real_pairs(spark, docs):
    """Guard ON (default) and OFF produce the same verified pairs on the
    real corpus — the guard prunes candidate generation only."""
    on = {(r.id_1, r.id_2) for r in minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.6).collect()}
    off = {(r.id_1, r.id_2) for r in minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.6, max_doc_freq=None).collect()}
    assert on == off and len(on) > 0


def test_lsh_ann_bucket_cap(spark):
    """All-identical vectors land in one bucket per band; a cap below the
    bucket size must drop the bucket (bounded work), the default cap must
    keep the pairs."""
    from delta_lake_spark.operators.similarity import lsh_ann_pairs

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    capped = lsh_ann_pairs(
        emb, dim=8, n_planes=8, bands=4, threshold=0.9, max_bucket_size=10
    )
    assert capped.count() == 0
    uncapped = lsh_ann_pairs(emb, dim=8, n_planes=8, bands=4, threshold=0.9)
    assert uncapped.count() == 40 * 39 // 2


def test_simhash_portable_matches_default_semantics(spark, docs):
    """The portable (md5-digit) simhash finds a similar near-dup set to
    the xxhash64 path — both are valid simhash instantiations."""
    fast = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    port = simhash_pairs(
        docs, "text", "doc_id", bits=60, max_hamming=3, portable=True
    )
    assert fast.count() > 0 and port.count() > 0
    assert port.filter("hamming > 3").count() == 0


def test_tiny_png_fixture_is_structurally_valid():
    """The hand-assembled PNG must be independently verifiable without
    an image library: correct signature, IHDR geometry, chunk CRCs,
    and an IDAT whose zlib payload inflates to the filter-prefixed
    scanlines — so the fixture can't silently rot while PIL is absent."""
    import struct
    import zlib

    from delta_lake_spark.operators.multimodal import tiny_png_bytes

    rows = [[0, 85, 170], [255, 128, 64]]
    png = tiny_png_bytes(rows)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    off, chunks = 8, {}
    while off < len(png):
        (length,) = struct.unpack(">I", png[off : off + 4])
        tag = png[off + 4 : off + 8]
        data = png[off + 8 : off + 8 + length]
        (crc,) = struct.unpack(
            ">I", png[off + 8 + length : off + 12 + length]
        )
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF, tag
        chunks[tag] = data
        off += 12 + length
    w, h, depth, ctype = struct.unpack(">IIBB", chunks[b"IHDR"][:10])
    assert (w, h, depth, ctype) == (3, 2, 8, 0)
    raw = zlib.decompress(chunks[b"IDAT"])
    assert raw == b"\x00\x00\x55\xaa\x00\xff\x80\x40"
    assert chunks[b"IEND"] == b""


def test_real_decode_on_tiny_png(spark):
    """Drive the REAL decode branch end to end over the in-repo PNG
    fixture — unconditionally: with PIL importable it exercises the
    PIL path, without it the stdlib PNG pipeline (decode_png_features)
    takes over, so the real branch decodes in every environment.
    Dimensions, mode, and mean luminance must come from actual pixel
    decode, with every filter type represented in the fixture."""
    from delta_lake_spark.operators.multimodal import (
        decode_image_features,
        tiny_png_bytes,
    )

    rows = [
        [0, 85, 170, 7, 9],
        [255, 128, 64, 3, 200],
        [1, 2, 3, 4, 5],
        [250, 0, 250, 0, 250],
        [13, 99, 180, 222, 31],
    ]
    png = tiny_png_bytes(rows, filters=[0, 1, 2, 3, 4])
    media = spark.createDataFrame(
        [(1, bytearray(png))], "media_id long, content binary"
    )
    out = decode_image_features(media, real_decode=True).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.width, r.height) == (5, 5)
    assert r.mode == "L"
    expected_luma = sum(sum(row) for row in rows) / 25.0
    assert abs(r.mean_luma - expected_luma) < 1e-9
    assert r.n_bytes == len(png)


def test_stdlib_png_decoder_matches_pil_when_available(spark):
    """The stdlib decoder and PIL must agree byte-for-byte on the
    fixture; when PIL is absent this still pins the stdlib path
    against the arithmetic expectation (no skip either way)."""
    from delta_lake_spark.operators.multimodal import (
        _probe_image_decoder,
        decode_png_features,
        tiny_png_bytes,
    )

    rows = [[(r * 31 + c * 7) % 256 for c in range(7)] for r in range(6)]
    png = tiny_png_bytes(rows, filters=[(r + 2) % 5 for r in range(6)])
    media = spark.createDataFrame(
        [(3, bytearray(png))], "media_id long, content binary"
    )
    r = decode_png_features(media).collect()[0]
    expected_luma = sum(sum(row) for row in rows) / 42.0
    assert (r.width, r.height, r.mode) == (7, 6, "L")
    assert abs(r.mean_luma - expected_luma) < 1e-9
    image_mod = _probe_image_decoder()
    if image_mod is not None:
        import io

        img = image_mod.open(io.BytesIO(png)).convert("L")
        assert list(img.getdata()) == [v for row in rows for v in row]


def test_png_decoder_rejects_malformed(spark):
    """Corrupt payloads raise with the media id: bad signature, a
    flipped CRC byte, and an unsupported color type are all named
    failures, never silent features."""
    from delta_lake_spark.operators.multimodal import (
        decode_png_features,
        tiny_png_bytes,
    )

    png = bytearray(tiny_png_bytes([[1, 2], [3, 4]]))
    # flip a CRC byte of the IHDR chunk (sig 8 + len 4 + tag 4 +
    # data 13 -> CRC at offsets 29..32)
    bad_crc = bytearray(png)
    bad_crc[29] ^= 0xFF
    for payload, pattern in [
        (b"GIF89a not a png", "not a PNG"),
        (bytes(bad_crc), "CRC mismatch"),
    ]:
        media = spark.createDataFrame(
            [(9, bytearray(payload))], "media_id long, content binary"
        )
        with pytest.raises(Exception, match=pattern):
            decode_png_features(media).collect()


def test_decontaminate_finds_overlap(spark):
    from delta_lake_spark.operators.text import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text the quick brown fox jumps over everything else"),
            (2, "completely unrelated words about spark partitions and joins"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits for r in decontaminate(
        corpus, eval_df, "text", "doc_id", n=5).collect()}
    assert hits == {1: 2}  # two colliding 5-grams, doc 2 clean


def test_char_entropy_known_values(spark):
    import math

    from delta_lake_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in char_entropy(df, "text", "doc_id").collect()}
    assert rows[1].entropy == 0.0
    assert abs(rows[2].entropy - math.log(2)) < 1e-9
    assert abs(rows[3].entropy - math.log(4)) < 1e-9
    assert rows[1].n_chars == 4


def test_oov_rate_counts(spark):
    from delta_lake_spark.operators.text import oov_rate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("alpha",), ("beta",)], "term string")
    rows = {r.doc_id: r for r in oov_rate(docs, vocab, "text", "doc_id").collect()}
    assert (rows[1].n_tokens, rows[1].n_oov) == (3, 1)  # gamma
    assert (rows[2].n_tokens, rows[2].n_oov) == (3, 1)  # delta
    assert abs(rows[1].oov_rate - 1 / 3) < 1e-8


def test_kmeans_clusters_partition_all_vectors(spark, emb):
    from delta_lake_spark.operators.similarity import kmeans_clusters

    out = kmeans_clusters(emb, n_cells=8, iterations=2, dim=64).collect()
    assert sum(r.n_members for r in out) == emb.count()
    assert 1 <= len(out) <= 8


def test_bigram_counts_deterministic(spark):
    from delta_lake_spark.operators.text import bigram_counts

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], "doc_id long, text string"
    )
    rows = bigram_counts(df, "text", top_n=10).collect()
    assert (rows[0].bigram, rows[0].freq) == ("a b", 3)
    assert {r.bigram for r in rows} == {"a b", "b a", "b c"}  # "x" has none


def test_unigram_lm_score_known_values(spark):
    """3-doc corpus with hand-computed unigram logprobs."""
    import math

    from delta_lake_spark.operators.text import unigram_lm_score

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "c")], ["doc_id", "text"]
    )
    # corpus counts: a=3, b=2, c=1, total=6
    got = {r.doc_id: r for r in unigram_lm_score(df, "text", "doc_id").collect()}
    t = 6.0
    exp1 = (2 * math.log(3) + math.log(2)) / 3 - math.log(t)
    exp3 = math.log(1) - math.log(t)
    assert got[1].n_tokens == 3
    assert abs(got[1].avg_logprob - exp1) < 1e-8
    assert abs(got[3].avg_logprob - exp3) < 1e-8
    # external model with OOV: unseen token gets the 0.5-count floor
    model = spark.createDataFrame([("a", 3), ("b", 2)], ["term", "freq"])
    scored = {
        r.doc_id: r
        for r in unigram_lm_score(df, "text", "doc_id", model=model).collect()
    }
    assert abs(scored[3].avg_logprob - (math.log(0.5) - math.log(5.0))) < 1e-8


def test_mixture_sample_hits_target_shares(spark):
    """Binding stratum keeps 100%; kept shares track the weights; the
    sample is deterministic (same keys kept on rerun)."""
    from delta_lake_spark.operators.sampling import mixture_sample

    rows = [(i, "big" if i < 4000 else "small") for i in range(5000)]
    df = spark.createDataFrame(rows, ["k", "dom"])
    kept = mixture_sample(df, "k", "dom", {"big": 1.0, "small": 1.0})
    by_dom = {r.dom: r.n for r in kept.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    # small (1000 rows) binds: T = 2000, each stratum targets 1000
    assert by_dom["small"] == 1000  # rate >= 1 -> keep all
    assert abs(by_dom["big"] - 1000) < 120  # md5-threshold sampling noise
    again = mixture_sample(df, "k", "dom", {"big": 1.0, "small": 1.0})
    assert sorted(r.k for r in kept.collect()) == sorted(r.k for r in again.collect())


def test_duplicate_span_rate_crafted(spark):
    """Two docs sharing one 3-gram; a third disjoint doc scores zero."""
    from delta_lake_spark.operators.text import duplicate_span_rate

    df = spark.createDataFrame(
        [
            (1, "x y z p q"),  # spans: 'x y z','y z p','z p q'
            (2, "x y z r s"),  # shares only 'x y z'
            (3, "m n o t u"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in duplicate_span_rate(df, "text", "doc_id", n=3).collect()}
    assert got[1].n_spans == 3 and got[1].n_dup_spans == 1
    assert got[2].n_dup_spans == 1
    assert got[3].n_dup_spans == 0 and got[3].dup_rate == 0.0


def test_strip_markup_removes_tags_and_entities(spark):
    from delta_lake_spark.operators.text import strip_markup

    df = spark.createDataFrame(
        [
            (1, '<div class="x">hello <b>world</b> &amp; friends</div>'),
            (2, "plain text"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in strip_markup(df, "text", "doc_id").collect()}
    assert got[1].clean_text == "hello world friends"
    assert got[1].markup_ratio > 0.3
    assert got[2].clean_text == "plain text" and got[2].markup_ratio == 0.0


def test_asof_join_semantics_and_plan(spark):
    """Backward as-of: latest right at-or-before each left row; exactly
    |L| rows out; no BroadcastNestedLoopJoin in the plan."""
    from delta_lake_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (1, 25, 250.0), (3, 1, 999.0)],
        ["k", "ts", "v"],
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    rows = {r.tag: r for r in out.collect()}
    assert out.count() == 3
    assert rows["l1"].v_asof == 100.0 and rows["l1"].ts_asof == 10  # inclusive
    assert rows["l2"].v_asof == 150.0  # latest <= 20, not 25
    assert rows["l3"].v_asof is None and rows["l3"].ts_asof is None  # no match
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan


def test_semantic_dedup_semantics(spark):
    """Min-id representative survives; near-dup (cosine >= threshold,
    same cluster) is dropped; distinct vectors all kept."""
    from delta_lake_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (8, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0 (cos ~ 0.9999)
        (16, [0.0, 1.0, 0.0, 0.0]),     # orthogonal: kept
        (24, [0.0, 0.0, 1.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_dedup(
        vecs, n_cells=1, threshold=0.9, iterations=1, dim=4
    )
    got = {r.vec_id: r.kept for r in out.collect()}
    assert got == {0: True, 8: False, 16: True, 24: True}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep must be"):
        semantic_dedup(vecs, n_cells=1, keep="best")


def test_semantic_dedup_centroid_far_keep_rule(spark):
    """keep='centroid_far' (the SemDeDup paper rule): the group member
    FARTHEST from the cluster centroid survives, not the min-id one.
    Single cluster of three near-identical vectors plus one outlier:
    the centroid sits between them, the outlier-most member has the
    lowest centroid cosine and must be the survivor."""
    from delta_lake_spark.operators.similarity import semantic_dedup

    # one cell: 0/8/16 are a tight near-dup group along e1 with slight
    # e2 tilts; 24 is orthogonal-ish (kept either way). Centroid leans
    # toward the group + a bit of 24's direction, so within the group
    # the member tilted AWAY from 24 (id 16, negative e2) has the
    # lowest centroid cosine -> survives under centroid_far.
    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (8, [1.0, 0.01, 0.0, 0.0]),
        (16, [1.0, -0.30, 0.0, 0.0]),
        (24, [0.0, 1.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    far = semantic_dedup(
        vecs, n_cells=1, threshold=0.9, iterations=1, dim=4,
        keep="centroid_far",
    )
    got = {r.vec_id: r.kept for r in far.collect()}
    assert got == {0: False, 8: False, 16: True, 24: True}
    # min_id on the same input keeps 0 instead — the rules differ
    mid = semantic_dedup(
        vecs, n_cells=1, threshold=0.9, iterations=1, dim=4, keep="min_id"
    )
    got2 = {r.vec_id: r.kept for r in mid.collect()}
    assert got2 == {0: True, 8: False, 16: False, 24: True}


def test_semantic_dedup_arrow_engine_agrees(spark):
    """The per-cell BLAS engine must reproduce the builtin self-join's
    verdicts (both keep rules) away from rounding boundaries, and must
    raise loudly when a cell exceeds max_cell."""
    from delta_lake_spark.operators.similarity import semantic_dedup

    rows = [
        (i, [1.0 + 0.001 * (i % 5), 0.02 * (i % 7) - 0.06, 0.5, 0.0])
        for i in range(40)
    ] + [(100 + i, [0.0, 1.0, 0.01 * i, 0.0]) for i in range(10)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for keep in ("min_id", "centroid_far"):
        built = {
            r.vec_id: (r.cell_id, r.kept)
            for r in semantic_dedup(
                vecs, n_cells=2, threshold=0.95, iterations=2, dim=4,
                keep=keep,
            ).collect()
        }
        arrow = {
            r.vec_id: (r.cell_id, r.kept)
            for r in semantic_dedup(
                vecs, n_cells=2, threshold=0.95, iterations=2, dim=4,
                keep=keep, engine="arrow",
            ).collect()
        }
        assert arrow == built, keep
    # the GEMM assignment path must agree too (ulp-tie cases aside,
    # which this spread-out data cannot hit)
    ga = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(
            vecs, n_cells=2, threshold=0.95, iterations=2, dim=4,
            keep="centroid_far", engine="arrow", assign="arrow",
        ).collect()
    }
    gb = {
        r.vec_id: (r.cell_id, r.kept)
        for r in semantic_dedup(
            vecs, n_cells=2, threshold=0.95, iterations=2, dim=4,
            keep="centroid_far", engine="arrow", assign="builtin",
        ).collect()
    }
    assert ga == gb
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_cell"):
        semantic_dedup(
            vecs, n_cells=1, threshold=0.95, iterations=1, dim=4,
            engine="arrow", max_cell=10,
        ).collect()
    with _pytest.raises(ValueError, match="engine must be"):
        semantic_dedup(vecs, n_cells=1, engine="gpu")
    with _pytest.raises(ValueError, match="assign must be"):
        semantic_dedup(vecs, n_cells=1, assign="gpu")


def test_semantic_dedup_zero_vectors_all_engines_agree(spark):
    """Degenerate (all-zero) vectors: the builtin path's cosine is NULL
    — a zero vector lands on the lowest cell id (NULLS LAST in the
    desc ranking), is always kept, and never shields anyone. The GEMM
    paths must reproduce that instead of NaN-poisoning argmax. Vector
    id 0 seeds cell 0 with a ZERO centroid, so the zero-centroid
    column is exercised too (id 9's best real cosine is NEGATIVE — a
    zero-centroid column scored 0.0 instead of -inf would steal it)."""
    from delta_lake_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (7, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),
        (3, [1.0, 0.012, 0.0, 0.0]),  # near-dup of 1
        (5, [0.0, 1.0, 0.0, 0.0]),
        (9, [-1.0, -0.01, 0.2, 0.0]),  # negative cosine to every centroid
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    expect = {0: True, 7: True, 1: True, 3: False, 5: True, 9: True}
    got = {}
    for engine in ("builtin", "arrow"):
        for assign in ("builtin", "arrow"):
            got[(engine, assign)] = {
                r.vec_id: (r.cell_id, r.kept)
                for r in semantic_dedup(
                    vecs, n_cells=2, threshold=0.95, iterations=2,
                    dim=4, engine=engine, assign=assign,
                ).collect()
            }
    base = got[("builtin", "builtin")]
    assert {k: v[1] for k, v in base.items()} == expect
    for key, verdicts in got.items():
        assert verdicts == base, key


def test_dedup_against_corpus_exact_and_bloom_agree(spark, docs):
    """Bloom pre-filter must never change the result: bloom path ==
    plain anti-join path == the expected survivor set."""
    from delta_lake_spark.operators.dedup import dedup_against_corpus

    batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" unique x")))
        .alias("text"),
    )
    with_bloom = dedup_against_corpus(batch, docs, "text", "doc_id")
    without = dedup_against_corpus(
        batch, docs, "text", "doc_id", use_bloom=False
    )
    a = {r.doc_id for r in with_bloom.collect()}
    b = {r.doc_id for r in without.collect()}
    assert a == b
    # survivors are exactly the suffixed (genuinely new) half
    expected = {
        r.doc_id + 100000
        for r in docs.filter(
            (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 4 != 0)
        ).collect()
    }
    assert a == expected
    # original batch columns come back unchanged
    assert set(with_bloom.columns) == {"doc_id", "text"}


def test_dedup_against_corpus_bloom_prunes_join_input(spark, docs):
    """The bloom is a real pre-filter: with a disjoint batch (nothing in
    the corpus), the maybe-set that reaches the join is a small fraction
    at fpp=0.01 — assert the join path sees < 20% of rows (fpp 0.01
    leaves ~1%, generous margin for bitmap quantization)."""
    from delta_lake_spark.operators.dedup import dedup_against_corpus

    batch = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" novel")).alias("text")
    )
    out = dedup_against_corpus(batch, docs, "text", "doc_id", fpp=0.01)
    assert out.count() == docs.count()  # all survive (disjoint)


def test_cap_per_domain_equals_single_window(spark, docs):
    """The salted two-level top-k must equal the naive one-window cap."""
    from pyspark.sql import Window

    from delta_lake_spark.operators.sampling import cap_per_domain

    got = cap_per_domain(docs, "source", "doc_id", cap=3)
    w = Window.partitionBy("source").orderBy("doc_id")
    want = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )
    assert {(r.source, r.doc_id) for r in got.collect()} == {
        (r.source, r.doc_id) for r in want.collect()
    }
    # per-domain counts never exceed the cap
    over = got.groupBy("source").count().filter(F.col("count") > 3).count()
    assert over == 0


def test_centroid_outliers_shape_and_ranking(spark, emb):
    from delta_lake_spark.operators.similarity import centroid_outliers

    out = centroid_outliers(emb, "embedding", "label", "vec_id", k_outliers=4)
    rows = out.collect()
    labels = {r.label for r in rows}
    per = {}
    for r in rows:
        per.setdefault(r.label, []).append(r.sim)
    assert all(len(v) <= 4 for v in per.values())
    assert labels == {r.label for r in emb.select("label").distinct().collect()}
    # outliers are the LOWEST-similarity vectors: every returned sim must
    # be <= the label's median similarity to centroid (sanity direction)
    for lab, sims in per.items():
        assert max(sims) <= 1.0 and min(sims) >= -1.0


def test_remove_duplicate_spans_keeper_semantics(spark):
    """The smallest-id doc containing a duplicated span keeps it; every
    other doc loses exactly the covered tokens; untouched docs come
    back verbatim."""
    from delta_lake_spark.operators.text import remove_duplicate_spans

    shared = "one two three four five"
    # distinct suffixes so the ONLY cross-doc span is `shared` itself
    rows = [
        (1, f"{shared} aftera x"),          # keeper: keeps everything
        (2, f"head b {shared} afterb y"),   # loses the 5 shared tokens
        (3, "totally different words here entirely unrelated"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicate_spans(
        df, "text", "doc_id", n=5
    ).collect()}
    assert out[1].clean_text == f"{shared} aftera x"
    assert out[1].n_removed == 0
    assert out[2].clean_text == "head b afterb y"
    assert out[2].n_removed == 5
    assert out[3].clean_text == rows[2][1]
    assert out[3].n_removed == 0
    assert out[2].n_tokens == 9


def test_minhash_permutations_are_independent(spark):
    """Regression for the degenerate affine family: with a monotone
    'permutation', two docs agree on ALL k positions or NONE (recall
    collapses to ~j). A real family must agree on roughly j*k positions
    for a pair with jaccard j — strictly between the extremes."""
    from delta_lake_spark.operators.dedup import (
        _hash_shingles,
        _signatures_from_hashed,
        word_shingles,
    )

    words = [f"w{i}" for i in range(12)]
    t1 = " ".join(words)
    t2 = " ".join(words[:-1] + ["zzz"])  # differs in the final trigram
    df = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    sh = word_shingles(df, "text", "doc_id", n=3)
    sig = {
        r.doc_id: list(r.sig)
        for r in _signatures_from_hashed(
            _hash_shingles(sh, "doc_id"), "doc_id", k=64, seed=42
        ).collect()
    }
    agree = sum(1 for a, b in zip(sig[1], sig[2]) if a == b)
    # 10 shingles, 7 shared -> j = 7/13 ~ 0.54; E[agree] ~ 34/64.
    # All-or-nothing (the bug) would put agree at 0 or 64.
    assert 10 < agree < 60, f"agreement {agree}/64 looks degenerate"


def test_funnel_counts_ordering_semantics(spark):
    """A user advances only via events AT-OR-AFTER their first event of
    the previous step — out-of-order completions don't count."""
    from datetime import datetime

    from delta_lake_spark.operators.events import funnel_counts

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes in order: view@1 click@2 purchase@3
        (1, "view", t(1)), (1, "click", t(2)), (1, "purchase", t(3)),
        # u2: purchase BEFORE click -> reaches click only
        (2, "view", t(1)), (2, "purchase", t(2)), (2, "click", t(3)),
        # u3: click before view -> reaches view only
        (3, "click", t(1)), (3, "view", t(2)),
        # u4: never views -> not in the funnel at all
        (4, "click", t(1)), (4, "purchase", t(2)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r.step: r.n_users for r in funnel_counts(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_numeric_histogram_edges_and_clamping(spark):
    from delta_lake_spark.operators.stats import numeric_histogram

    df = spark.createDataFrame(
        [
            (float(v) if v is not None else None,)
            for v in [-5, 0, 9.99, 10, 55, 99.9, 100, 250, None]
        ],
        "v double",
    )
    out = {r.bucket: r for r in numeric_histogram(
        df, "v", n_buckets=10, lo=0.0, hi=100.0
    ).collect()}
    assert out[0].n == 3      # -5 (clamped), 0, 9.99
    assert out[1].n == 1      # 10
    assert out[5].n == 1      # 55
    assert out[9].n == 3      # 99.9, 100 (clamped), 250 (clamped)
    assert sum(r.n for r in out.values()) == 8  # null dropped
    assert out[5].lo == 50.0 and out[5].hi == 60.0


def test_retention_cohorts_crafted(spark):
    from datetime import datetime

    from delta_lake_spark.operators.events import retention_cohorts

    rows = [
        (1, datetime(2024, 1, 1)),   # Monday, cohort week 0
        (1, datetime(2024, 1, 10)),  # week 1
        (1, datetime(2024, 1, 22)),  # week 3
        (2, datetime(2024, 1, 3)),   # same cohort week
        (2, datetime(2024, 1, 4)),   # same week: one active row
        (3, datetime(2024, 1, 9)),   # cohort week of Jan 8
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(str(r.cohort), r.period_n): r.n_active for r in retention_cohorts(
        df, "user_id", "ts", "week"
    ).collect()}
    assert out[("2024-01-01", 0)] == 2   # u1, u2
    assert out[("2024-01-01", 1)] == 1   # u1
    assert out[("2024-01-01", 3)] == 1   # u1
    assert out[("2024-01-08", 0)] == 1   # u3
    assert len(out) == 4


def test_top_terms_equals_single_window(spark, docs):
    """Two-level salted top-k must equal the naive one-window ranking."""
    from pyspark.sql import Window

    from delta_lake_spark.operators.text import top_terms_per_group

    got = {
        (r.source, r.term, r.cnt, r.rank)
        for r in top_terms_per_group(
            docs, "text", "source", "doc_id", k=3
        ).collect()
    }
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term"),
    ).filter("term <> ''")
    counts = toks.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    want = {
        (r.source, r.term, r.cnt, r.rank)
        for r in counts.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter("rank <= 3").collect()
    }
    assert got == want and len(got) > 0


def test_cross_corpus_near_dups_finds_perturbed_docs(spark, docs):
    """Every lightly-perturbed batch doc must pair with its original
    (high jaccard), and the LSH-joined result must equal the exact
    cross inverted-index at the threshold."""
    from delta_lake_spark.operators.dedup import (
        cross_corpus_near_dups,
        word_shingles,
    )

    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    got = cross_corpus_near_dups(batch, docs, "text", "doc_id", threshold=0.6)
    pairs = {(r.batch_id, r.corpus_id) for r in got.collect()}
    originals = {
        (r.doc_id + 200000, r.doc_id)
        for r in docs.filter(F.col("doc_id") % 5 == 0).collect()
    }
    assert originals <= pairs  # each perturbed doc matched its source

    # exact cross inverted-index reference
    sb = word_shingles(batch, "text", "doc_id", 3)
    sc = word_shingles(docs, "text", "doc_id", 3)
    b1 = sb.selectExpr("doc_id AS batch_id", "shingle")
    c1 = sc.selectExpr("doc_id AS corpus_id", "shingle")
    nb = sb.groupBy("doc_id").count().selectExpr("doc_id AS batch_id", "count AS n_b")
    nc = sc.groupBy("doc_id").count().selectExpr("doc_id AS corpus_id", "count AS n_c")
    inter = b1.join(c1, "shingle").groupBy("batch_id", "corpus_id").count()
    exact = (
        inter.join(nb, "batch_id").join(nc, "corpus_id")
        .filter("count / (n_b + n_c - count) >= 0.6")
    )
    want = {(r.batch_id, r.corpus_id) for r in exact.collect()}
    assert pairs == want


def test_signature_index_incremental_equals_rebuilt(spark, tmp_path):
    """Persistent LSH index: (build on day-1 corpus, then incremental
    update with day-2 docs) must serve exactly the same near-dup pairs
    as an index REBUILT from scratch over the full corpus — and
    replaying the update must be a no-op (idempotent appends)."""
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators.dedup import (
        build_signature_index,
        near_dups_against_index,
        update_signature_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    day2 = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = docs.unionByName(day2)
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )

    def pairs(df):
        return {
            (r.batch_id, r.corpus_id, round(r.jaccard, 9)) for r in df.collect()
        }

    # incremental: build on day-1, update with day-2.
    # NOTE: the stop-shingle set freezes at build time by design, so the
    # rebuilt comparison uses max_doc_freq=None to make the two index
    # construction orders literally identical (the equivalence under a
    # frozen guard is what production relies on; candidate recall under
    # the guard is covered by the q129 oracle at sf0.01/0.1)
    inc = str(tmp_path / "inc_idx")
    build_signature_index(docs, "text", "doc_id", inc, max_doc_freq=None)
    update_signature_index(day2, "text", "doc_id", inc)
    got_inc = pairs(near_dups_against_index(probe, corpus, "text", "doc_id", inc))

    # replaying the same update: no new rows in either index table
    v_buckets = DeltaLog(f"{inc}/buckets").latest_version()
    update_signature_index(day2, "text", "doc_id", inc)
    from delta_lake_spark import read_delta

    n_after = read_delta(spark, f"{inc}/buckets").count()
    assert (
        read_delta(spark, f"{inc}/buckets", version=v_buckets).count() == n_after
    )
    got_replay = pairs(
        near_dups_against_index(probe, corpus, "text", "doc_id", inc)
    )
    assert got_replay == got_inc

    # rebuilt from scratch over the full corpus
    full = str(tmp_path / "full_idx")
    build_signature_index(corpus, "text", "doc_id", full, max_doc_freq=None)
    got_full = pairs(
        near_dups_against_index(probe, corpus, "text", "doc_id", full)
    )
    assert got_inc == got_full and len(got_inc) > 0


def test_signature_index_gdpr_delete_propagation(spark, tmp_path):
    """GDPR delete propagation: after delete_from_signature_index, a
    probe that previously matched a corpus doc returns NO pair for it
    (and loses nothing else); the delete is idempotent under replay;
    and a deleted id can be RE-appended and found again (the sizes-first
    ordering contract)."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.operators.dedup import (
        build_signature_index,
        delete_from_signature_index,
        near_dups_against_index,
        update_signature_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    idx = str(tmp_path / "gdpr_idx")
    build_signature_index(docs, "text", "doc_id", idx, max_doc_freq=None)

    def pairs(corpus_df):
        return {
            (r.batch_id, r.corpus_id)
            for r in near_dups_against_index(
                probe, corpus_df, "text", "doc_id", idx
            ).collect()
        }

    before = pairs(docs)
    assert before, "fixture must produce at least one near-dup pair"
    victim = sorted({c for _, c in before})[0]
    doomed = spark.createDataFrame([(victim,)], "doc_id long")

    # corpus-side GDPR delete + index propagation
    survivors = docs.filter(F.col("doc_id") != victim)
    delete_from_signature_index(doomed, idx)
    after = pairs(survivors)
    assert all(c != victim for _, c in after)
    assert after == {p for p in before if p[1] != victim}
    # the index tables themselves hold no rows for the victim
    assert read_delta(spark, f"{idx}/buckets").filter(
        F.col("doc_id") == victim
    ).count() == 0
    assert read_delta(spark, f"{idx}/sizes").filter(
        F.col("doc_id") == victim
    ).count() == 0

    # idempotent under replay
    delete_from_signature_index(doomed, idx)
    assert pairs(survivors) == after

    # re-append the deleted doc: update must re-sign it (the sizes row
    # is gone, so the id is unknown again) and probes find it once more
    victim_doc = docs.filter(F.col("doc_id") == victim)
    update_signature_index(victim_doc, "text", "doc_id", idx)
    assert pairs(docs) == before


def test_signature_index_cdf_sync_idempotent_and_versioned(spark, tmp_path):
    """sync_signature_index_from_cdf: applies exactly the changed docs
    (insert + update + delete), pins syncedVersion transactionally, and
    a second sync with no new corpus commits touches nothing (returns
    0). After sync, the index equals one rebuilt from the final corpus
    state (same frozen-guard caveat as the incremental test)."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators.dedup import (
        _IDX_PROP,
        build_signature_index,
        near_dups_against_index,
        sync_signature_index_from_cdf,
    )
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "corpus")
    write_delta(docs, path)  # v0
    idx = str(tmp_path / "idx")
    build_signature_index(
        read_delta(spark, path), "text", "doc_id", idx,
        max_doc_freq=None, corpus_version=0,
    )

    day2 = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    write_delta(day2, path, mode="append")  # v1
    DeltaTable.forPath(spark, path).delete("doc_id % 10 = 0")  # v2

    n = sync_signature_index_from_cdf(spark, path, idx)
    assert n > 0
    conf = DeltaLog(f"{idx}/buckets").snapshot().metadata.configuration
    assert conf[_IDX_PROP + "syncedVersion"] == "2"
    # nothing new -> no-op
    assert sync_signature_index_from_cdf(spark, path, idx) == 0

    corpus = read_delta(spark, path)
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )

    def pairs(index_path):
        return {
            (r.batch_id, r.corpus_id, round(r.jaccard, 9))
            for r in near_dups_against_index(
                probe, corpus, "text", "doc_id", index_path
            ).collect()
        }

    rebuilt = str(tmp_path / "rebuilt")
    build_signature_index(corpus, "text", "doc_id", rebuilt, max_doc_freq=None)
    got, want = pairs(idx), pairs(rebuilt)
    assert got == want and len(got) > 0
    # no ghost: deleted ids serve no pairs and hold no index rows
    assert all(c % 10 != 0 for _, c, _ in got)
    assert read_delta(spark, f"{idx}/buckets").filter(
        "doc_id % 10 = 0"
    ).count() == 0


def test_bench_tracked_names_are_registered():
    """Every headline and secondary bench name must exist in the query
    registry — a rename that silently dropped a tracked query would
    make the driver's BENCH artifact fail (or worse, quietly shrink)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    from delta_lake_spark.queries import ORACLE_SQL, QUERIES

    for name in bench.HEADLINE + bench.SECONDARY:
        assert name in QUERIES, name
    # every registered query carries an oracle (the driver's gate
    # contract: 137/137 value-checked)
    assert set(QUERIES) == set(ORACLE_SQL)


def test_bigram_lm_score_known_values(spark):
    """Interpolated bigram LM on a hand-computable corpus: with
    uni(a)=uni(b)=3, uni(z)=1, total=7, big(a,b)=big(b,a)=2, every
    a/b bigram occurrence scores p = 0.5*2/3 + 0.5*3/7 = 23/42."""
    import math

    from delta_lake_spark.operators.text import bigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_score(docs, "text", "doc_id").collect()}
    want = round(math.log(23.0 / 42.0), 9)
    assert rows[1].n_bigrams == 3 and abs(rows[1].avg_logprob - want) < 1e-9
    assert rows[2].n_bigrams == 1 and abs(rows[2].avg_logprob - want) < 1e-9
    assert 3 not in rows  # single-token doc has no bigram positions


def test_lm_min_count_prunes_vocab_to_oov_floor(spark):
    """min_count vocabulary pruning (the 100 TB bound on a corpus-
    derived model): pruned tokens take the 0.5-count OOV floor over the
    PRUNED model's total (unigram), and in the bigram scorer an
    out-of-vocabulary HISTORY token contributes no bigram mass (back-off
    to the unigram term). Corpus counts: a=5, b=2, z=2; min_count=3
    prunes b and z, leaving model {a:5}, total=5."""
    import math

    from delta_lake_spark.operators.text import bigram_lm_score, unigram_lm_score

    docs = spark.createDataFrame(
        [(1, "a a a z"), (2, "a b b"), (3, "z a")],
        "doc_id long, text string",
    )
    uni = {
        r.doc_id: r
        for r in unigram_lm_score(docs, "text", "doc_id", min_count=3).collect()
    }
    ln5, lnh = math.log(5.0), math.log(0.5)
    want = {
        1: (3 * ln5 + lnh) / 4 - ln5,
        2: (ln5 + 2 * lnh) / 3 - ln5,
        3: (lnh + ln5) / 2 - ln5,
    }
    for d, w in want.items():
        assert abs(uni[d].avg_logprob - w) < 1e-8, (d, uni[d])

    big = {
        r.doc_id: r
        for r in bigram_lm_score(docs, "text", "doc_id", min_count=3).collect()
    }
    p_aa = 0.5 * 2 / 5 + 0.5 * 5 / 5        # both in vocab
    p_az = 0.5 * 1 / 5 + 0.5 * 0.5 / 5      # cur OOV -> floor
    p_ab = p_az
    p_bb = 0.5 * 0.5 / 5                    # prev OOV -> no bigram mass
    p_za = 0.5 * 5 / 5
    bwant = {
        1: (2 * math.log(p_aa) + math.log(p_az)) / 3,
        2: (math.log(p_ab) + math.log(p_bb)) / 2,
        3: math.log(p_za),
    }
    for d, w in bwant.items():
        assert abs(big[d].avg_logprob - w) < 1e-8, (d, big[d])
    # min_count=1 (the default) is a no-op: identical to the unpruned op
    base = bigram_lm_score(docs, "text", "doc_id").collect()
    again = bigram_lm_score(docs, "text", "doc_id", min_count=1).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


def test_semantic_decontaminate_map_only_and_flags(spark):
    """semantic_decontaminate: a corpus vector identical to an eval
    vector flags at sim 1.0, an orthogonal one does not; and the plan
    is MAP-ONLY over the corpus — the only exchanges are the eval-set
    1-row broadcast build (SinglePartition), never a hashpartitioning
    of corpus rows."""
    import re

    from delta_lake_spark.operators.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),   # exact copy -> 1.0
            (11, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> 0.0
            (12, [1.0, 1.0, 0.0, 0.0]),   # 45 degrees -> ~0.707
        ],
        "vec_id long, embedding array<double>",
    )
    out = semantic_decontaminate(corpus, ev, threshold=0.95)
    rows = {r.vec_id: (r.max_eval_sim, r.contaminated) for r in out.collect()}
    assert rows[10] == (1.0, True)
    assert rows[11] == (0.0, False)
    assert abs(rows[12][0] - 0.707106781) < 1e-6 and not rows[12][1]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert not re.search(r"Exchange hashpartitioning", plan), plan


def test_bm25_ranking_semantics(spark):
    """BM25: a doc matching more query terms (and higher tf) outranks
    partial matches; docs sharing no term never appear; deterministic
    across runs; the plan broadcasts the tiny sides and has no
    cartesian beyond the 1-row stats broadcast."""
    from delta_lake_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple kiwi"),
            (2, "apple cherry kiwi melon"),
            (3, "durian durian durian fig"),
            (4, "banana banana apple plum"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple banana")], "query_id long, qtext string"
    )
    rows = bm25_topk(docs, queries, "text", "doc_id", k=10).collect()
    got = {r.doc_id: (r.rank, r.score) for r in rows}
    assert 3 not in got  # no shared term
    # docs 1 and 4 match both terms (tf 2+1); doc 2 matches one
    assert got[1][0] < got[2][0] and got[4][0] < got[2][0]
    assert all(r.score > 0 for r in rows)
    again = bm25_topk(docs, queries, "text", "doc_id", k=10).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bm25_single_scan_summary_and_fallback_parity(spark):
    """The literal-term single-scan path: (a) the per-doc posting
    summary is cached (three plan branches consume it; without the
    cache each would re-scan the text) and is NARROW — id, length, and
    matched-term tfs only, never the text; (b) summaries are held in a
    BOUNDED LRU (recent calls stay cached — a lazy plan built before a
    later call must keep its cache — but entries beyond the capacity
    are unpersisted oldest-first, so the steady state is bounded);
    (c) the broadcast-term-set fallback path (forced via
    max_literal_terms=0) returns EXACTLY the same rows; (d) empty
    queries produce a typed empty result."""
    from delta_lake_spark.operators._cache import _REGISTRY
    from delta_lake_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple kiwi"),
            (2, "apple cherry kiwi melon"),
            (3, "durian durian durian fig"),
            (4, "banana banana apple plum"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple banana"), (2, "kiwi fig")], "query_id long, qtext string"
    )
    slot = _REGISTRY.setdefault(
        id(spark), {"session": spark, "groups": {}, "memo": {}}
    )
    slot["groups"]["bm25"] = []  # isolate this test
    out = bm25_topk(docs, queries, "text", "doc_id", k=10)
    cached = slot["groups"]["bm25"][0]
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    assert set(cached.columns) == {"doc_id", "__dl", "__post"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    rows = out.collect()

    fallback = bm25_topk(
        docs, queries, "text", "doc_id", k=10, max_literal_terms=0
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fallback))
    # the fallback registers no summary, and the LRU must NOT have
    # dropped the first call's cache (its plan may not have run yet)
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    # ...but the registry stays bounded: 4 more single-scan calls push
    # the first summary past capacity and it is evicted oldest-first.
    # Each call has its own query terms, so its summary has its own
    # plan: an evicted summary whose plan a live one shares stays
    # cached (one cache entry serves both)
    for i in range(4):
        other_terms = spark.createDataFrame(
            [(1, f"apple term{i}")], "query_id long, qtext string"
        )
        bm25_topk(docs, other_terms, "text", "doc_id", k=2)
    assert len(slot["groups"]["bm25"]) == 4
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)

    empty_q = spark.createDataFrame([], "query_id long, qtext string")
    e = bm25_topk(docs, empty_q, "text", "doc_id", k=3)
    assert e.count() == 0
    assert [f.name for f in e.schema.fields] == [
        "query_id", "doc_id", "rank", "score",
    ]


def test_persistent_text_index_matches_adhoc_and_mutates_safely(spark, docs, tmp_path):
    """The persistent BM25 inverted index: (a) a fresh index serves
    EXACTLY bm25_topk's ranking (shared scoring tail); (b) replaying an
    update is a no-op (known-id skip); (c) GDPR delete makes scores
    equal a recompute over the survivors (df_t/N/avgdl ghost-free, the
    crash-ordering contract) and a re-append restores the original
    ranking; (d) duplicate posting rows — what an at-least-once update
    replay leaves after a torn append — are absorbed exactly by the
    query-side max(tf)."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.operators.text import (
        _text_index_tables,
        bm25_topk,
        build_text_index,
        delete_from_text_index,
        query_text_index,
        update_text_index,
    )

    d = docs.select("doc_id", "text")
    queries = spark.createDataFrame(
        [(1, "hash join merge"), (2, "stream window agg")],
        "query_id long, qtext string",
    )
    idx = str(tmp_path / "txt_idx")
    build_text_index(d, "text", "doc_id", idx)
    served = sorted(map(tuple, query_text_index(queries, idx, k=10).collect()))
    adhoc = sorted(
        map(tuple, bm25_topk(d, queries, "text", "doc_id", k=10).collect())
    )
    assert served == adhoc and len(served) == 20

    update_text_index(d, "text", "doc_id", idx)  # replay: no-op
    assert sorted(
        map(tuple, query_text_index(queries, idx, k=10).collect())
    ) == served

    victim = served[0][1]
    delete_from_text_index(
        spark.createDataFrame([(int(victim),)], "doc_id long"), idx
    )
    survivors = d.filter(F.col("doc_id") != victim)
    after = sorted(map(tuple, query_text_index(queries, idx, k=10).collect()))
    assert after == sorted(
        map(
            tuple,
            bm25_topk(survivors, queries, "text", "doc_id", k=10).collect(),
        )
    )
    update_text_index(
        d.filter(F.col("doc_id") == victim), "text", "doc_id", idx
    )
    assert sorted(
        map(tuple, query_text_index(queries, idx, k=10).collect())
    ) == served

    # duplicate posting rows absorbed exactly
    t_postings, _ = _text_index_tables(idx)
    write_delta(read_delta(spark, t_postings).limit(50), t_postings, mode="append")
    assert sorted(
        map(tuple, query_text_index(queries, idx, k=10).collect())
    ) == served

    # empty queries produce a typed empty result
    empty_q = spark.createDataFrame([], "query_id long, qtext string")
    e = query_text_index(empty_q, idx, k=3)
    assert e.count() == 0
    assert [f.name for f in e.schema.fields] == [
        "query_id", "doc_id", "rank", "score",
    ]


def test_text_index_stop_term_guard_drops_corpus_wide_terms(spark, tmp_path):
    """max_df_frac (the LSH hot-shingle analogue): a term present in
    ~every document is dropped before the candidate pull, so a stopword
    query can't pull a corpus-sized posting set; selective terms keep
    ranking, and an all-stopword query returns a typed empty result."""
    from delta_lake_spark.operators.text import (
        build_text_index,
        query_text_index,
    )

    d = spark.createDataFrame(
        [(i, f"the common word{'x' if i % 2 else ''} tail{i}") for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "stop_idx")
    build_text_index(d, "text", "doc_id", idx)
    # 'the'/'common' are in every doc; 'wordx' in half
    guarded = query_text_index(
        spark.createDataFrame([(1, "the wordx")], "query_id long, qtext string"),
        idx, k=5, max_df_frac=0.9,
    ).collect()
    assert len(guarded) == 5
    # scores must equal a query for the surviving term alone
    alone = query_text_index(
        spark.createDataFrame([(1, "wordx")], "query_id long, qtext string"),
        idx, k=5,
    ).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, alone))
    all_stop = query_text_index(
        spark.createDataFrame([(1, "the common")], "query_id long, qtext string"),
        idx, k=5, max_df_frac=0.9,
    )
    assert all_stop.count() == 0
    assert [f.name for f in all_stop.schema.fields] == [
        "query_id", "doc_id", "rank", "score",
    ]


def test_text_index_postings_scan_prunes_by_term(spark, docs, tmp_path):
    """The postings table is term-sorted at write, so a query's term
    filter must reach the scan as pushed predicates (file min/max
    skipping does the rest at scale); the scan must read only the
    postings columns, never document text."""
    import re

    from delta_lake_spark.operators.text import (
        build_text_index,
        query_text_index,
    )

    idx = str(tmp_path / "txt_idx_scan")
    build_text_index(docs.select("doc_id", "text"), "text", "doc_id", idx)
    queries = spark.createDataFrame(
        [(1, "hash join")], "query_id long, qtext string"
    )
    plan = (
        query_text_index(queries, idx, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(term" in plan.replace("\n", ""), plan
    assert "text" not in re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_hybrid_search_rrf_fusion_semantics(spark):
    """RRF fusion: a document retrieved by BOTH rankings outscores one
    retrieved by a single side at the same rank (1/(60+r) sums), fused
    scores are the exact rank arithmetic, and a doc missing from one
    side carries a NULL rank there."""
    from delta_lake_spark.operators.retrieval import hybrid_search_rrf

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "durian fig"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.9, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(7, "apple banana", [1.0, 0.05])],
        "query_id long, qtext string, qvec array<double>",
    )
    rows = {
        r.doc_id: r
        for r in hybrid_search_rrf(docs, emb, queries, k=3, k_each=3).collect()
    }
    # doc 1 matches both terms AND is the closest vector -> both sides
    assert rows[1].lex_rank == 1 and rows[1].dense_rank == 1
    assert rows[1].rank == 1
    assert abs(rows[1].rrf_score - round(2 / 61, 9)) < 1e-12
    # doc 3 shares no query term: lexical side NULL, dense side ranked
    assert rows[3].lex_rank is None and rows[3].dense_rank is not None
    # fused ordering: both-sides doc 1 > single-side docs
    assert rows[1].rrf_score > rows[3].rrf_score


def test_resolve_clusters_driver_equals_distributed(spark):
    """The size-gated driver union-find branch of
    resolve_duplicate_clusters must produce EXACTLY the distributed
    min-label propagation's fixpoint (cluster_id = min member id,
    singletons label themselves) — forced onto each path via the
    threshold."""
    from delta_lake_spark.operators.dedup import resolve_duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 2), (20, 21), (40, 41), (41, 40)],
        "id_1 long, id_2 long",
    )
    ids = spark.createDataFrame(
        [(x,) for x in [1, 2, 5, 9, 20, 21, 40, 41, 99]], "doc_id long"
    )
    via_driver = {
        (r.doc_id, r.cluster_id)
        for r in resolve_duplicate_clusters(
            pairs, ids, driver_union_find_max_edges=1_000_000
        ).collect()
    }
    via_dist = {
        (r.doc_id, r.cluster_id)
        for r in resolve_duplicate_clusters(
            pairs, ids, driver_union_find_max_edges=0
        ).collect()
    }
    want = {
        (1, 1), (2, 1), (5, 1), (9, 1),
        (20, 20), (21, 20), (40, 40), (41, 40), (99, 99),
    }
    assert via_driver == want and via_dist == want


DOC_WORDS = 30
VOCAB = 50_000
NEAR_DUP_EVERY = 97


def synthetic_corpus(spark, n: int):
    """(doc_id, text) relation of ``n`` documents of DOC_WORDS words
    drawn deterministically from a VOCAB-word vocabulary (xxhash64
    seeded, so independent of shard order); every NEAR_DUP_EVERY-th
    document copies its predecessor's words plus one extra word, a
    planted near-dup pair. Built from codegen'd expressions only, no
    driver-side text."""
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    # every NEAR_DUP_EVERY-th doc copies its predecessor's words
    content_id = F.when(
        (F.pmod(F.col("doc_id"), F.lit(NEAR_DUP_EVERY)) == 0)
        & (F.col("doc_id") > 0),
        F.col("doc_id") - 1,
    ).otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(DOC_WORDS)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("__cid"), i), F.lit(VOCAB))
        ),
    )
    extra = F.when(
        (F.pmod(F.col("doc_id"), F.lit(NEAR_DUP_EVERY)) == 0)
        & (F.col("doc_id") > 0),
        F.concat(F.lit(" x"), F.col("doc_id")),
    ).otherwise(F.lit(""))
    return base.withColumn("__cid", content_id).select(
        "doc_id",
        F.concat(F.concat_ws(" ", words), extra).alias("text"),
    )


def test_minhash_candidate_count_stays_linear(spark):
    """Scale guard (SCALING.md, MinHash-LSH linearity): on the
    synthetic corpus with ~n/97 planted near-dup pairs, MinHash-LSH
    candidate generation must produce O(planted) candidates — a
    quadratic bucket blowup (broken stop-shingle guard or bucket cap)
    would multiply this by orders of magnitude. Verified pairs must
    contain every planted pair (the 28/29-shingle overlap is far above
    threshold, and k=64/b=16 recall there is ~1)."""
    from delta_lake_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_pairs,
        word_shingles,
    )

    n = 10_000
    corpus = synthetic_corpus(spark, n)
    planted = (n - 1) // NEAR_DUP_EVERY
    sh = word_shingles(corpus, "text", "doc_id")
    n_cand = minhash_lsh_candidates(sh, "doc_id", n_docs=n).count()
    # linear bound: a handful of hash-collision extras at most — the
    # quadratic failure mode would be ~n^2/buckets >> 4x planted
    assert planted <= n_cand <= 4 * planted, (planted, n_cand)
    n_pairs = minhash_lsh_pairs(corpus, "text", "doc_id").count()
    assert planted <= n_pairs <= n_cand


def test_mixture_resample_quotas_and_determinism(spark):
    """Temperature resampling: per-domain output sizes equal the
    floor-quota formula; t=0 equalizes domains; selection is stable
    across partitionings."""
    from delta_lake_spark.operators.sampling import mixture_resample

    df = spark.range(10_000).selectExpr(
        "id",
        "CASE WHEN id % 10 < 7 THEN 'web' WHEN id % 10 < 9 THEN 'book' "
        "ELSE 'code' END AS src",
    )
    counts = {"web": 7000, "book": 2000, "code": 1000}
    t, target = 0.7, 3000
    z = sum(n**t for n in counts.values())
    expect = {d: int(target * (n**t) / z + 1e-6) for d, n in counts.items()}

    out = mixture_resample(df, "src", "id", temperature=t, target_rows=target)
    got = {
        r.src: r.n
        for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert got == expect
    # flattening: web's share drops below its 70% corpus share
    assert got["web"] / sum(got.values()) < 0.7
    assert got["code"] / sum(got.values()) > 0.1

    # determinism across partitionings
    out2 = mixture_resample(
        df.repartition(13), "src", "id", temperature=t, target_rows=target
    )
    ids1 = {r.id for r in out.select("id").collect()}
    ids2 = {r.id for r in out2.select("id").collect()}
    assert ids1 == ids2

    # t=0 equalizes: every domain gets target/3 (all have >= that many)
    eq = mixture_resample(df, "src", "id", temperature=0.0, target_rows=target)
    got_eq = {
        r.src: r.n
        for r in eq.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert set(got_eq.values()) == {target // 3}


def test_quantize_embeddings_error_bound_and_recall(spark, emb):
    """int8 quantization: reconstruction error is bounded by scale/2
    per element, values stay in [-127, 127], and quantized cosine
    top-10 substantially agrees with exact float top-10."""
    from delta_lake_spark.operators.similarity import (
        quantize_embeddings,
        quantized_cosine_topk,
    )

    q = quantize_embeddings(emb)
    joined = q.join(emb, "vec_id").select(
        "vec_id",
        "q_scale",
        F.array_max(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("qvec"),
                lambda x, qi: F.abs(x - qi.cast("double") * F.col("q_scale")),
            )
        ).alias("max_err"),
        F.array_max(F.transform("qvec", lambda x: F.abs(x))).alias("max_q"),
    )
    bad = joined.filter(
        (F.col("max_err") > F.col("q_scale") / 2 + 1e-12)
        | (F.col("max_q") > 127)
    ).count()
    assert bad == 0

    exact = cosine_topk(emb, emb.filter("vec_id < 10"), k=10).collect()
    quant = quantized_cosine_topk(emb, emb.filter("vec_id < 10"), k=10).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    s = {(r.query_id, r.neighbor_id) for r in quant}
    assert len(e & s) / len(e) >= 0.8  # int8 keeps the neighborhood


def test_mixture_resample_empty_input(spark):
    from delta_lake_spark.operators.sampling import mixture_resample

    empty = spark.createDataFrame([], "id long, src string")
    out = mixture_resample(empty, "src", "id", target_rows=100)
    assert out.count() == 0
    assert out.columns == ["id", "src"]


def test_length_bucket_stats_edges(spark):
    """Bucket assignment is smallest-fit, overflow lands in -1, and the
    padding-waste arithmetic checks out exactly."""
    from delta_lake_spark.operators.stats import length_bucket_stats

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 10)),     # 10 tokens  -> bucket 64
            (2, " ".join(["w"] * 64)),     # exactly 64 -> bucket 64
            (3, " ".join(["w"] * 65)),     # 65         -> bucket 128
            (4, " ".join(["w"] * 2000)),   # overflow   -> bucket -1
        ],
        "doc_id long, text string",
    )
    rows = {
        r.bucket: r
        for r in length_bucket_stats(docs, "text", (64, 128, 256, 512, 1024)).collect()
    }
    assert set(rows) == {64, 128, -1}
    assert rows[64].n_docs == 2 and rows[64].total_tokens == 74
    assert rows[64].padded_tokens == 128
    assert abs(rows[64].pad_waste_pct - round((1 - 74 / 128) * 100, 4)) < 1e-9
    assert rows[128].n_docs == 1 and rows[128].padded_tokens == 128
    assert rows[-1].n_docs == 1
    assert rows[-1].padded_tokens == 2000  # overflow: no padding model
    assert rows[-1].pad_waste_pct == 0.0


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule fires independently on crafted documents and the
    audit flags explain every failure."""
    from delta_lake_spark.operators.text import gopher_quality_filter

    good = "the quick brown fox jumps over the lazy dog and that " * 4
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes everything
            (2, "the of and " * 3),                      # too few words (9)
            (3, "a b c " + "the of and that be " * 10),  # short words -> low mean len
            (4, good + " ###### ##### ####"),            # symbol-heavy tail
            (5, "the " + "12 34 56 78 90 " * 12),        # numeric words -> low alpha
            (6, " ".join(f"w{i}" for i in range(40))),   # no stopwords at all
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in gopher_quality_filter(
            docs, "text", "doc_id", min_words=30, min_stopwords=2
        ).collect()
    }
    assert rows[1].passes
    assert not rows[2].passes and not rows[2].ok_word_count
    assert not rows[3].passes and not rows[3].ok_mean_word_len
    assert not rows[4].passes and not rows[4].ok_symbol_ratio
    assert not rows[5].passes and not rows[5].ok_alpha_words
    assert not rows[6].passes and not rows[6].ok_stopwords
    # flags explain the verdict: passes == AND of the five rules
    for r in rows.values():
        assert r.passes == (
            r.ok_word_count and r.ok_mean_word_len and r.ok_symbol_ratio
            and r.ok_alpha_words and r.ok_stopwords
        )
    # stopword count is DISTINCT stopwords, not occurrences
    assert rows[2].n_stopwords == 3


def _exact_l2_topk(vectors, queries, k):
    """Brute-force squared-L2 top-k reference with pq_topk's exact
    rounding (1e-9) and tie-break (ascending neighbor id) conventions —
    the single source of truth both PQ tests compare against."""
    from pyspark.sql import Window

    from delta_lake_spark.operators.similarity import _sqdist

    v = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qq = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    return (
        v.crossJoin(qq)
        .filter("vec_id != qid")
        .select(
            "qid", "vec_id",
            F.round(_sqdist(F.col("qv"), F.col("v")), 9).alias("d"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .collect()
    )


def test_pq_topk_recall_and_rerank(spark, emb):
    """PQ/ADC: the reranked result must (a) contain only exact distances
    for its reported rows, (b) beat pure-ADC ranking on recall vs the
    exact L2 top-10, and (c) clear an absolute recall floor on this
    corpus. Also pins determinism: two runs return identical rows."""
    from delta_lake_spark.operators.similarity import pq_topk

    qs = emb.filter("vec_id < 5")
    exact = _exact_l2_topk(emb, qs, 10)
    truth = {}
    exact_d = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.vec_id)
        exact_d[(r.qid, r.vec_id)] = r.d

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got[q] & truth[q]) for q in truth) / (10 * len(truth))

    adc = pq_topk(emb, qs, k=10, rerank=1).collect()
    rer = pq_topk(emb, qs, k=10, rerank=4).collect()
    assert recall(rer) >= recall(adc)  # rerank never hurts
    assert recall(rer) >= 0.4  # absolute floor on this corpus (0.52 measured)
    # reranked distances are the exact ones
    for r in rer:
        if (r.query_id, r.neighbor_id) in exact_d:
            assert abs(r.dist - exact_d[(r.query_id, r.neighbor_id)]) < 1e-9
    # determinism
    again = pq_topk(emb, qs, k=10, rerank=4).collect()
    assert sorted(map(tuple, rer)) == sorted(map(tuple, again))


def test_pq_full_shortlist_equals_exact(spark):
    """With rerank*k >= |corpus|-1 the ADC shortlist covers every
    vector, so the exact re-rank must reproduce brute-force L2 top-k
    EXACTLY (ids, ranks, distances) — the PQ pipeline then differs from
    exact search only by its pruning, which is disabled. Also checks
    the m-divides-dim guard raises."""
    from delta_lake_spark.operators.similarity import pq_topk

    vecs = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: F.sin(F.col("id") * 7 + i).cast("double"),
        ).alias("embedding"),
    )
    qs = vecs.filter("vec_id < 3")
    got = pq_topk(vecs, qs, k=5, m=4, k_codes=8, rerank=6).collect()  # 30 >= 29

    exact = _exact_l2_topk(vecs, qs, 5)
    want = sorted((r.qid, r.vec_id, r.r, r.d) for r in exact)
    have = sorted((r.query_id, r.neighbor_id, r.rank, r.dist) for r in got)
    assert have == want

    with pytest.raises(ValueError, match="evenly divide"):
        pq_topk(vecs, qs, m=5)  # 16 % 5 != 0


def test_ivfpq_topk_recall_and_degenerate_equivalence(spark, emb):
    """IVFPQ: (a) with nprobe = n_cells the routing prunes nothing, so
    the result must equal pq_topk's EXACTLY (same codebooks, same ADC,
    same rerank); (b) with nprobe < n_cells recall vs the exact L2
    top-10 clears a floor on this corpus; (c) deterministic across
    runs; (d) returned neighbors all lie in the query's probed cells
    (confinement holds semantically, not just in the plan)."""
    from delta_lake_spark.operators.similarity import (
        _sqdist,
        ivfpq_topk,
        pq_topk,
    )

    qs = emb.filter("vec_id < 5")
    full = ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=8, rerank=4).collect()
    flat = pq_topk(emb, qs, k=10, rerank=4).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, flat))

    pruned = ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=3, rerank=4)
    rows = pruned.collect()
    exact = _exact_l2_topk(emb, qs, 10)
    truth = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.vec_id)
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(got.get(q, set()) & truth[q]) for q in truth) / (
        10 * len(truth)
    )
    assert recall >= 0.3  # nprobe=3/8 floor on this corpus

    again = pruned.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # (d) confinement: recompute assignment + routing relationally and
    # check every returned neighbor's cell was probed by its query
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cells = v.groupBy(
        F.pmod("vec_id", F.lit(8)).cast("int").alias("cell")
    ).agg(F.min_by("v", F.col("vec_id")).alias("cv"))
    scored = v.crossJoin(cells).select(
        "vec_id", "cell", F.round(_sqdist(F.col("v"), F.col("cv")), 9).alias("d")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cell").asc())
    ranked = scored.withColumn("r", F.row_number().over(w))
    assign = {
        r.vec_id: r.cell for r in ranked.filter("r = 1").collect()
    }
    probes = {}
    for r in ranked.filter("r <= 3").join(
        qs.select(F.col("vec_id")), "vec_id", "left_semi"
    ).collect():
        probes.setdefault(r.vec_id, set()).add(r.cell)
    for r in rows:
        assert assign[r.neighbor_id] in probes[r.query_id], r


def test_persistent_pq_index_matches_adhoc_and_mutates_safely(spark, emb, tmp_path):
    """Persistent IVFPQ index: (a) a fresh index over the full corpus
    serves EXACTLY ivfpq_topk's output (stored codes can't drift from
    ad-hoc encoding); (b) replaying an update appends nothing
    (idempotent); (c) delete removes the id from results and the codes
    table, and a re-append makes it findable again."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        delete_from_pq_index,
        ivfpq_topk,
        query_pq_index,
        update_pq_index,
    )

    from delta_lake_spark import read_delta

    qs = emb.filter("vec_id < 3")
    idx = str(tmp_path / "pq_idx")
    build_pq_index(emb, idx, n_cells=8, m=4, k_codes=16, dim=64)

    served = query_pq_index(qs, emb, idx, k=10, nprobe=3).collect()
    adhoc = ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=3, dim=64).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, adhoc))

    # the arrow (default) and expr encode paths produce IDENTICAL codes
    # rows on real embeddings (ordered-fold parity)
    idx2 = str(tmp_path / "pq_idx_expr")
    build_pq_index(emb, idx2, n_cells=8, m=4, k_codes=16, dim=64, method="expr")
    arrow_rows = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in read_delta(spark, f"{idx}/codes").collect()
    }
    expr_rows = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in read_delta(spark, f"{idx2}/codes").collect()
    }
    assert arrow_rows == expr_rows and len(arrow_rows) > 0

    # idempotent update: re-encoding known ids appends no rows
    v_before = DeltaLog(f"{idx}/codes").latest_version()
    n_before = read_delta(spark, f"{idx}/codes").count()
    update_pq_index(emb, idx)
    assert read_delta(spark, f"{idx}/codes").count() == n_before
    assert (
        read_delta(spark, f"{idx}/codes", version=v_before).count() == n_before
    )

    # GDPR delete: the victim disappears from results and the table...
    victim = served[0].neighbor_id
    doomed = spark.createDataFrame([(int(victim),)], "vec_id long")
    delete_from_pq_index(doomed, idx)
    survivors = emb.filter(F.col("vec_id") != victim)
    after = query_pq_index(qs, survivors, idx, k=10, nprobe=3).collect()
    assert all(r.neighbor_id != victim for r in after)
    assert read_delta(spark, f"{idx}/codes").filter(
        F.col("vec_id") == victim
    ).count() == 0
    # ...and a re-append under the frozen quantizers restores it
    update_pq_index(emb.filter(F.col("vec_id") == victim), idx)
    restored = query_pq_index(qs, emb, idx, k=10, nprobe=3).collect()
    assert sorted(map(tuple, restored)) == sorted(map(tuple, served))


def test_persistent_pq_index_empty_corpus_builds(spark, tmp_path):
    """Building the PQ index over an EMPTY corpus must not crash (the
    arrow encode has no quantizers to stack) and must leave a typed,
    queryable codes table; a later update populates it."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        update_pq_index,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    idx = str(tmp_path / "empty_pq")
    build_pq_index(empty, idx, n_cells=4, m=4, k_codes=4, dim=16)
    codes = read_delta(spark, f"{idx}/codes")
    assert codes.count() == 0
    assert dict(codes.dtypes)["codes"] == "array<int>"
    # frozen (empty) quantizers: an update of real vectors still appends
    # rows only if centroids exist — with none, nothing can encode, and
    # the call must not crash either
    vecs = spark.createDataFrame(
        [(1, [1.0] * 16)], "vec_id long, embedding array<double>"
    )
    update_pq_index(vecs, idx)
    assert read_delta(spark, f"{idx}/codes").count() == 0


def test_persistent_pq_query_scans_codes_not_vectors(spark, emb, tmp_path):
    """query_pq_index's candidate path must read ONLY the stored codes
    table (m bytes + a cell id per vector) — the float embedding column
    appears in exactly the scans that feed the rerank/routing sides,
    never the candidate scan. A plan that reads embeddings for the
    candidate side would re-ship the corpus payload the index exists to
    avoid."""
    import re

    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        query_pq_index,
    )

    idx = str(tmp_path / "pq_scan_idx")
    build_pq_index(emb, idx, n_cells=8, m=4, k_codes=16, dim=64)
    qs = emb.filter("vec_id < 3")
    plan = query_pq_index(qs, emb, idx, k=10, nprobe=3)._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    code_scans = [s for s in scans if "codes" in s]
    assert code_scans, scans  # the codes table is scanned...
    for s in code_scans:
        assert "embedding" not in s, s  # ...and carries no float payload
    assert "CartesianProduct" not in plan


def test_pq_topk_ragged_dims_rejected_and_empty_typed(spark):
    """The dim probe REJECTS ragged vector dims (F.slice would silently
    truncate/misalign subvectors), and the empty-corpus result derives
    its id types from the input schema instead of hardcoding long."""
    from delta_lake_spark.operators.similarity import pq_topk

    ragged = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 12)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        pq_topk(ragged, ragged, k=2, m=4)

    empty_int = spark.createDataFrame(
        [], "vec_id int, embedding array<double>"
    )
    out = pq_topk(empty_int, empty_int, k=2, m=4)
    assert out.count() == 0
    assert dict(out.dtypes)["query_id"] == "int"
    assert dict(out.dtypes)["neighbor_id"] == "int"

    # explicit dim skips the probe job AND the ragged check is the
    # caller's contract then — the lazy path must still plan
    lazy = pq_topk(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        k=2, m=4, dim=16,
    )
    assert lazy.count() == 0


def test_ivfpq_residual_recall_and_candidate_set(spark, emb):
    """Residual encoding (IVFADC proper): (a) with every cell probed,
    the residual variant scores EXACTLY the candidate set pq_topk
    scores (routing prunes nothing; only the per-cell tables differ);
    (b) at a pruning nprobe its recall@10 against exact L2 is at least
    the raw-vector variant's — residuals cluster around the origin, so
    the codebook resolution goes to displacement, not position."""
    from delta_lake_spark.operators.similarity import ivfpq_topk, pq_topk

    qs = emb.filter("vec_id < 5")
    full_res = ivfpq_topk(
        emb, qs, k=10, n_cells=8, nprobe=8, m=4, dim=64, rerank=1,
        residual=True,
    )
    full_pq = pq_topk(emb, qs, k=10, m=4, dim=64, rerank=1)
    # same corpus coverage: every (query, neighbor) the exhaustive PQ
    # scan ranks is reachable by the all-cells residual scan and vice
    # versa (ranks differ — the distances are per-cell)
    a = {(r.query_id, r.neighbor_id) for r in full_res.collect()}
    b = {(r.query_id, r.neighbor_id) for r in full_pq.collect()}
    assert len(a) == len(b) == 50

    # exact L2 ground truth via the rerank path: ivfpq with every cell
    # probed and a corpus-wide rerank IS exact for the top-k
    truth = {}
    gt = ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=8, m=4, dim=64,
                    rerank=50, residual=True)
    for r in gt.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    r_res = recall(
        ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=2, m=4, dim=64,
                   residual=True)
    )
    r_raw = recall(
        ivfpq_topk(emb, qs, k=10, n_cells=8, nprobe=2, m=4, dim=64)
    )
    assert r_res >= r_raw, (r_res, r_raw)


def test_persistent_pq_index_residual_roundtrip(spark, emb, tmp_path):
    """A residual-built index pins its convention as a table property:
    queries serve EXACTLY ivfpq_topk(residual=True), incremental
    updates encode under the same convention (re-appending a deleted id
    restores identical results), and the arrow/expr encode twins agree
    bit-for-bit on residual codes."""
    from delta_lake_spark import read_delta
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        delete_from_pq_index,
        ivfpq_topk,
        query_pq_index,
        update_pq_index,
    )

    qs = emb.filter("vec_id < 3")
    idx = str(tmp_path / "res_idx")
    build_pq_index(emb, idx, n_cells=8, m=4, k_codes=16, dim=64,
                   residual=True)
    served = query_pq_index(qs, emb, idx, k=10, nprobe=3).collect()
    adhoc = ivfpq_topk(
        emb, qs, k=10, n_cells=8, nprobe=3, dim=64, residual=True
    ).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, adhoc))

    idx2 = str(tmp_path / "res_idx_expr")
    build_pq_index(emb, idx2, n_cells=8, m=4, k_codes=16, dim=64,
                   residual=True, method="expr")
    a = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in read_delta(spark, f"{idx}/codes").collect()
    }
    b = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in read_delta(spark, f"{idx2}/codes").collect()
    }
    assert a == b and len(a) > 0

    victim = served[0].neighbor_id
    doomed = spark.createDataFrame([(int(victim),)], "vec_id long")
    delete_from_pq_index(doomed, idx)
    update_pq_index(emb.filter(F.col("vec_id") == victim), idx)
    restored = query_pq_index(qs, emb, idx, k=10, nprobe=3).collect()
    assert sorted(map(tuple, restored)) == sorted(map(tuple, served))


def test_query_pq_index_adaptive_multiprobe_fills_shortlist(spark, tmp_path):
    """Adaptive probing: nprobe becomes a floor and each query keeps
    probing routing-ordered cells until the probed cells' stored-code
    counts cover rerank*k. On a skewed index (one near-empty cell that
    a query routes into first), fixed nprobe=1 starves the shortlist
    while adaptive=True fills the full top-k; with every cell probed
    the two modes agree exactly."""
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        query_pq_index,
    )

    # ids 0..49 cluster near the origin; id 5 is a far outlier — and
    # because coarse centroids are the min-id member of each id % 8
    # bucket, cell 5's centroid IS the outlier, so that cell holds one
    # single code
    rows = [
        (i, [50.0] * 16 if i == 5 else [0.001 * i] * 16) for i in range(50)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(999, [50.5] * 16)], "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "skew_idx")
    build_pq_index(vecs, idx, n_cells=8, m=4, k_codes=4, dim=16)

    fixed = query_pq_index(qs, vecs, idx, k=5, nprobe=1).collect()
    assert len(fixed) < 5, fixed  # the outlier cell alone can't fill k
    adapt = query_pq_index(qs, vecs, idx, k=5, nprobe=1, adaptive=True).collect()
    assert len(adapt) == 5, adapt
    # with ample fixed probing the adaptive floor changes nothing
    full_f = query_pq_index(qs, vecs, idx, k=5, nprobe=8).collect()
    full_a = query_pq_index(qs, vecs, idx, k=5, nprobe=8, adaptive=True).collect()
    assert sorted(map(tuple, full_f)) == sorted(map(tuple, full_a))

    # the adaptive extension composes with residual indexes (per-cell
    # ADC maps ride the same probe relation)
    ridx = str(tmp_path / "skew_res_idx")
    build_pq_index(vecs, ridx, n_cells=8, m=4, k_codes=4, dim=16,
                   residual=True)
    r_fixed = query_pq_index(qs, vecs, ridx, k=5, nprobe=1).collect()
    assert len(r_fixed) < 5
    r_adapt = query_pq_index(
        qs, vecs, ridx, k=5, nprobe=1, adaptive=True
    ).collect()
    assert len(r_adapt) == 5


def test_sync_pq_index_from_cdf_tracks_mutations_idempotently(spark, emb, tmp_path):
    """PQ-index CDF sync (the ANN twin of the LSH index's q140 loop):
    after append + update + GDPR delete on the corpus, one sync leaves
    the codes table holding EXACTLY the surviving ids (stale codes of
    updated rows re-encoded under the frozen quantizers, deleted ids
    gone); a second sync is a no-op (version pin); replaying the sync
    after the pin is 0-touched."""
    from delta_lake_spark import read_delta, write_delta
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        sync_pq_index_from_cdf,
    )
    from delta_lake_spark.table import DeltaTable

    corpus = str(tmp_path / "pq_cdf_corpus")
    write_delta(emb.select("vec_id", "embedding"), corpus)  # v0
    idx = str(tmp_path / "pq_cdf_idx")
    build_pq_index(
        read_delta(spark, corpus), idx, n_cells=8, m=4, k_codes=16, dim=64,
        corpus_version=0,
    )

    day2 = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    write_delta(day2, corpus, mode="append")  # v1
    DeltaTable.forPath(spark, corpus).delete("vec_id % 4 = 0")  # v2

    n = sync_pq_index_from_cdf(spark, corpus, idx)
    assert n > 0
    code_ids = {
        r.vec_id for r in read_delta(spark, f"{idx}/codes").select("vec_id").collect()
    }
    corpus_ids = {
        r.vec_id for r in read_delta(spark, corpus).select("vec_id").collect()
    }
    assert code_ids == corpus_ids
    assert sync_pq_index_from_cdf(spark, corpus, idx) == 0  # pinned


def test_persistent_pq_index_rejects_bad_dims_and_string_ids(spark, tmp_path):
    """The persistent paths validate what the ad-hoc paths already do:
    (a) build/update REFUSE wrong-dim or ragged vectors instead of
    durably committing silently mis-encoded codes (F.slice would
    NULL-pad/truncate; the arrow path would fold partial dot products);
    (b) a string-keyed corpus is rejected up front — pmod(id, k) bucket
    seeding cannot honor non-integral ids."""
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        ivfpq_topk,
        pq_topk,
        update_pq_index,
    )

    wrong = spark.createDataFrame(
        [(1, [1.0] * 12)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="mis-encoded"):
        build_pq_index(wrong, str(tmp_path / "bad"), n_cells=2, m=4, dim=16)

    ok = spark.createDataFrame(
        [(i, [float(i)] * 16) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ok_idx")
    build_pq_index(ok, idx, n_cells=2, m=4, k_codes=4, dim=16)
    ragged = spark.createDataFrame(
        [(100, [1.0] * 16), (101, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="mis-encoded"):
        update_pq_index(ragged, idx)

    strid = spark.createDataFrame(
        [("a", [1.0] * 16)], "vec_id string, embedding array<double>"
    )
    for op in (
        lambda: pq_topk(strid, strid, k=2, m=4, dim=16),
        lambda: ivfpq_topk(strid, strid, k=2, m=4, dim=16),
        lambda: build_pq_index(strid, str(tmp_path / "s"), m=4, dim=16),
    ):
        with pytest.raises(TypeError, match="integral id"):
            op()


def test_semantic_decontaminate_empty_eval_set_reads_clean(spark):
    """An empty eval set means nothing can leak: every corpus row keeps
    contaminated=FALSE (not NULL — a NULL flag would pass any
    downstream `NOT contaminated` filter as unknown)."""
    from delta_lake_spark.operators.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    empty_ev = spark.createDataFrame([], "vec_id long, embedding array<double>")
    rows = semantic_decontaminate(corpus, empty_ev).collect()
    assert len(rows) == 2
    assert all(r.contaminated is False for r in rows)
    assert all(r.max_eval_sim is None for r in rows)


def test_shingle_and_funnel_caches_are_session_scoped(spark, docs):
    """Two concurrent SparkSessions in one process must not evict each
    other's shingle caches: the registry is keyed by session, so a
    second pipeline's dedup call leaves the first session's cached
    shingle relation pinned."""
    from delta_lake_spark.operators import dedup

    s2 = spark.newSession()
    docs2 = s2.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )

    # prefix_filter=True is the path that caches the shingle relation
    # (the full-index path consumes it exactly once and skips the
    # cache); outputs are identical either way
    dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", prefix_filter=True
    ).count()
    cache1 = dedup._last_shingle_cache[spark]
    assert cache1.is_cached

    dedup.ngram_jaccard_pairs(
        docs2, "text", "doc_id", prefix_filter=True
    ).count()
    # session 2's call registered its own entry without evicting s1's
    assert dedup._last_shingle_cache[s2].is_cached
    assert cache1.is_cached
    assert dedup._last_shingle_cache[spark] is cache1

    # a SECOND call in s1 evicts only s1's previous cache
    dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", prefix_filter=True
    ).count()
    assert not cache1.is_cached
    assert dedup._last_shingle_cache[s2].is_cached


def test_shard_shuffle_partition_and_order(spark, docs):
    """Every row lands in exactly one shard, positions are contiguous
    1..n per shard, and the assignment is stable across partition
    layouts (content-derived, not RNG)."""
    from delta_lake_spark.operators.sampling import shard_shuffle

    out = shard_shuffle(docs.select("doc_id"), "doc_id", n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    per = {}
    for r in rows:
        assert 0 <= r.shard_id < 8
        per.setdefault(r.shard_id, []).append(r.pos)
    for shard, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    again = shard_shuffle(
        docs.select("doc_id").repartition(13), "doc_id", n_shards=8
    ).collect()
    assert {(r.doc_id, r.shard_id, r.pos) for r in again} == {
        (r.doc_id, r.shard_id, r.pos) for r in rows
    }


# the shuffle-discipline plan test for shard_shuffle lives in
# tests/test_plans.py (test_q153_shard_shuffle_single_exchange), per
# the repo convention that plan assertions are centralized there


def _flat_budget_select(rows, budget, n_bins=1000):
    """Driver replica of the flat running-sum semantics — the single
    reference implementation, shared with test_sampling_property."""
    import hashlib
    import math

    def key(r):
        h = hashlib.md5(f"budget-v1{r[0]}".encode()).hexdigest()[:8]
        return (-math.floor(r[1] * n_bins), h, r[0])

    keep, run = set(), 0
    for rid, score, tok in sorted(rows, key=key):
        if tok <= 0:  # mirrors the operator's up-front exclusion
            continue
        run += tok
        if run <= budget:
            keep.add(rid)
    return keep


def test_token_budget_select_equals_flat_prefix(spark):
    """The binned two-level selection must equal the flat running-sum
    prefix in (bin DESC, md5, id) order — boundary cut included."""
    from delta_lake_spark.operators.sampling import select_by_token_budget

    rows = [(i, ((i * 37) % 100) / 100.0, 10 + (i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "score", "tok"])
    for budget in (0, 500, 1997, 10**9):
        got = {
            r.id
            for r in select_by_token_budget(
                df, "score", "tok", "id", budget=budget
            ).collect()
        }
        assert got == _flat_budget_select(rows, budget), budget


def test_token_budget_select_degenerate_single_bin(spark):
    """A constant-score corpus puts every row in the boundary bin; the
    256-range prefix sum must still produce the exact hash-order
    prefix."""
    from delta_lake_spark.operators.sampling import select_by_token_budget

    rows = [(i, 0.5, 5) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "score", "tok"])
    got = {
        r.id
        for r in select_by_token_budget(
            df, "score", "tok", "id", budget=1000
        ).collect()
    }
    want = _flat_budget_select(rows, 1000)
    assert got == want
    assert len(got) == 200  # 1000 / 5 tokens each


def test_token_budget_select_null_rows_excluded(spark):
    """NULL scores/token counts can be neither ordered nor budgeted —
    they must be excluded on BOTH the cut path and the everything-fits
    path (a NULL bin would otherwise crash the driver's bin walk)."""
    from delta_lake_spark.operators.sampling import select_by_token_budget

    rows = [(1, 0.9, 10), (2, None, 10), (3, 0.8, None), (4, 0.1, 10)]
    df = spark.createDataFrame(rows, "id long, score double, tok long")
    fits = select_by_token_budget(df, "score", "tok", "id", budget=10**6)
    assert {r.id for r in fits.collect()} == {1, 4}
    cut = select_by_token_budget(df, "score", "tok", "id", budget=10)
    assert {r.id for r in cut.collect()} == {1}


def test_weighted_sample_equals_driver_replica(spark):
    """The salted two-level top-k must reproduce the exact A-Res draw:
    priority = round(u^(1/w), 9) with u = (md5hex8+1)/2^32, top-k by
    (priority DESC, id)."""
    import hashlib

    from delta_lake_spark.operators.sampling import weighted_sample

    rows = [(i, 0.1 + ((i * 13) % 10) / 10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")

    def pri(rid, w):
        u = (
            int(hashlib.md5(f"wsample-v1{rid}".encode()).hexdigest()[:8], 16)
            + 1
        ) / 2**32
        return round(u ** (1.0 / w), 9)

    want = sorted(rows, key=lambda r: (-pri(r[0], r[1]), r[0]))[:50]
    got = weighted_sample(df, "w", "id", k=50).collect()
    assert {(r.id, r.priority) for r in got} == {
        (rid, pri(rid, w)) for rid, w in want
    }


def test_weighted_sample_edge_weights(spark):
    """NULL / zero / negative weights are excluded; k above the corpus
    size returns every weighted row."""
    from delta_lake_spark.operators.sampling import weighted_sample

    rows = [(1, 2.0), (2, None), (3, 0.0), (4, -1.0), (5, 0.5)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample(df, "w", "id", k=10).collect()
    assert {r.id for r in got} == {1, 5}


def test_exact_dedup_keep_best_election(spark):
    """Highest score wins its duplicate group; score ties elect the
    smallest id; normalization (case/whitespace) defines the groups."""
    from delta_lake_spark.operators.dedup import exact_dedup_keep_best

    rows = [
        (1, "Hello  World", 0.2),
        (2, "hello world", 0.9),   # same group, best score -> kept
        (3, "HELLO WORLD ", 0.9),  # ties 2 on score -> loses on id
        (4, "other text", 0.1),    # singleton group
        (5, "other  TEXT", 0.1),   # ties 4 -> loses on id
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    got = {
        (r.doc_id, r.q)
        for r in exact_dedup_keep_best(df, "text", "doc_id", "q").collect()
    }
    assert got == {(2, 0.9), (4, 0.1)}


def test_weighted_sample_nan_weight_excluded(spark):
    """A NaN weight yields a NaN priority that would sort ABOVE every
    real priority — it must be excluded like NULL/non-positive."""
    from delta_lake_spark.operators.sampling import weighted_sample

    rows = [(1, 2.0), (2, float("nan")), (3, 0.5)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample(df, "w", "id", k=2).collect()
    assert {r.id for r in got} == {1, 3}


def test_token_budget_select_nan_and_nonpositive_excluded(spark):
    """NaN scores (which would silently bin as 0) and non-positive
    token counts (which break running-sum monotonicity) are excluded."""
    from delta_lake_spark.operators.sampling import select_by_token_budget

    rows = [
        (1, 0.9, 10),
        (2, float("nan"), 10),
        (3, 0.8, 0),
        (4, 0.7, -5),
        (5, 0.1, 10),
    ]
    df = spark.createDataFrame(rows, "id long, score double, tok long")
    fits = select_by_token_budget(df, "score", "tok", "id", budget=10**6)
    assert {r.id for r in fits.collect()} == {1, 5}
    cut = select_by_token_budget(df, "score", "tok", "id", budget=10)
    assert {r.id for r in cut.collect()} == {1}


def test_exact_dedup_keep_best_rejects_string_ids(spark):
    """The deterministic tie-break negates the id, so string keys must
    be rejected up front rather than silently NULL-ordered."""
    import pytest as _pytest

    from delta_lake_spark.operators.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [("a", "text", 0.5)], "doc_id string, text string, q double"
    )
    with _pytest.raises(TypeError, match="numeric id"):
        exact_dedup_keep_best(df, "text", "doc_id", "q")


def test_score_percentiles_matches_driver_replica(spark):
    """Bin-level CDF: pct = |rows in strictly lower bins| / N, exact
    ratio of integers; NaN/NULL scores excluded; within-bin ties share
    a percentile; monotone in the bin."""
    import math

    from delta_lake_spark.operators.sampling import score_percentiles

    rows = [(i, ((i * 17) % 50) / 50.0) for i in range(200)]
    rows += [(900, float("nan")), (901, None)]
    df = spark.createDataFrame(rows, "id long, score double")
    got = {r.id: r.score_pct for r in score_percentiles(df, "score").collect()}
    clean = [(i, s) for i, s in rows if s is not None and s == s]
    bins = {i: math.floor(s * 1000) for i, s in clean}
    n = len(clean)
    for i, s in clean:
        below = sum(1 for j, _ in clean if bins[j] < bins[i])
        assert got[i] == round(below / n, 9), i
    assert 900 not in got and 901 not in got


def test_shard_manifest_order_independent(spark, docs):
    """The checksum must be identical for any partitioning/arrival
    order, change when a row is dropped, and count tokens when asked."""
    from delta_lake_spark.operators.sampling import (
        shard_manifest,
        shard_shuffle,
    )

    sharded = shard_shuffle(docs.select("doc_id"), "doc_id", n_shards=4)
    m1 = {
        r.shard_id: (r.n_docs, r.checksum)
        for r in shard_manifest(sharded, "doc_id").collect()
    }
    m2 = {
        r.shard_id: (r.n_docs, r.checksum)
        for r in shard_manifest(sharded.repartition(9), "doc_id").collect()
    }
    assert m1 == m2 and len(m1) == 4
    one = sharded.limit(1).collect()[0]
    dropped = shard_manifest(
        sharded.filter(F.col("doc_id") != one.doc_id), "doc_id"
    ).collect()
    d = {r.shard_id: (r.n_docs, r.checksum) for r in dropped}
    assert d[one.shard_id] != m1[one.shard_id]
    with_tok = shard_manifest(
        sharded.withColumn("tok", F.lit(3)), "doc_id", tokens_col="tok"
    ).collect()
    assert all(r.n_tokens == 3 * r.n_docs for r in with_tok)


def test_exact_dedup_keep_best_nan_never_elected(spark):
    """NaN discipline: Spark sorts NaN above every double, so without
    the nanvl demotion a NaN-scored copy would always win the keeper
    election and propagate NaN. A NaN copy must lose to any real score;
    an all-NaN group falls back to the smallest id (matching an oracle
    whose NULL scores sort last)."""
    import math

    from delta_lake_spark.operators.dedup import exact_dedup_keep_best

    df = spark.createDataFrame(
        [
            (1, "same text", float("nan")),
            (2, "same text", 0.2),
            (3, "same text", 0.9),
            (4, "other", float("nan")),
            (5, "other", float("nan")),
        ],
        "doc_id long, text string, q double",
    )
    rows = {
        r.doc_id: r.q
        for r in exact_dedup_keep_best(df, "text", "doc_id", "q").collect()
    }
    assert set(rows) == {3, 4}
    assert rows[3] == 0.9
    assert math.isnan(rows[4])


def test_score_range_contract_raises_on_raw_scores(spark):
    """The [0, 1] score contract: floor(score * n_bins) binning only
    bounds the driver-side collect (token budget) and the broadcast
    bins relation (percentiles) when scores are in range — a raw-scale
    column (logprobs, token counts) would yield one bin per distinct
    value and a corpus-cardinality driver structure, so both operators
    refuse it up front."""
    import pytest as _pytest

    from delta_lake_spark.operators.sampling import (
        score_percentiles,
        select_by_token_budget,
    )

    df = spark.createDataFrame(
        [(1, 523.0, 10), (2, 0.5, 10), (3, -3.0, 10)],
        "doc_id long, score double, tok long",
    )
    with _pytest.raises(ValueError, match=r"\[0, 1\]"):
        select_by_token_budget(df, "score", "tok", "doc_id", budget=10)
    with _pytest.raises(ValueError, match=r"\[0, 1\]"):
        score_percentiles(df, "score")


def test_asof_join_chunked_skew_guard_matches_single_window(spark):
    """The built-in asof skew guard: chunk=W must return EXACTLY the
    single-window rows (same-ts inclusivity, left-only chunks pulling
    their carry from arbitrarily far back, no-match rows null) while
    bounding every running-window task to one (key, chunk) slice —
    the two-level device, so a hot key's corpus-scale timeline never
    lands in one task."""
    from delta_lake_spark.operators.joins import asof_join

    # hot key: dense timeline; cold keys: sparse, with right rows only
    # in early chunks (forces long-range carries over left-only chunks)
    left_rows = [("hot", float(t)) for t in range(0, 2000)] + [
        (f"k{i}", float(100 * i + 7)) for i in range(5)
    ]
    right_rows = [("hot", float(t), t * 10) for t in range(0, 2000, 7)] + [
        ("k3", 3.0, 999),
        ("kX", 1.0, 111),  # right-only key: no output rows
    ]
    left = spark.createDataFrame(left_rows, "user string, ts double")
    right = spark.createDataFrame(right_rows, "user string, ts double, v long")

    base = asof_join(left, right, "user", "ts", "ts").collect()
    chunked_df = asof_join(left, right, "user", "ts", "ts", chunk=50.0)
    chunked = chunked_df.collect()
    key = lambda r: (r.user, r.ts)
    assert sorted(map(tuple, base), key=lambda t: t[:2]) == sorted(
        map(tuple, chunked), key=lambda t: t[:2]
    )
    assert len(chunked) == len(left_rows)  # exactly |L|, never a fanout

    # the running window must partition on (key, chunk) — the per-task
    # bound — and the plan must stay nested-loop-free
    plan = chunked_df._jdf.queryExecution().executedPlan().toString()
    assert "__chunk" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    first_window = plan.find("windowspecdefinition")
    spec = plan[first_window : first_window + 120]
    assert "__chunk" in spec, spec


def test_trained_pq_production_budget_recall_and_parity(spark, tmp_path):
    """Production code budgets (train_iters > 0): k-means-trained
    quantizers at m=8 / k_codes=256 — the standard 8-bit IVFADC
    codebooks — must (a) decisively beat the toy member-vector
    codebooks' recall on a clustered corpus at identical
    nprobe/rerank, (b) keep the arrow/expr encode twins bit-identical
    (the parity argument is quantizer-agnostic: both encode against
    whatever centroids are STORED), and (c) be deterministic — two
    trained builds over the same corpus produce identical codes."""
    import numpy as np

    from delta_lake_spark import read_delta
    from delta_lake_spark.operators.similarity import (
        build_pq_index,
        query_pq_index,
    )

    n, dim, n_clusters = 2000, 32, 16
    cluster = F.pmod(F.col("id"), F.lit(n_clusters))
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.pmod(F.xxhash64(cluster, i, F.lit(3)), F.lit(2001))
                - F.lit(1000)
            )
            / F.lit(1000.0)
            + F.lit(0.15)
            * (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2001)) - F.lit(1000))
            / F.lit(1000.0),
        ).alias("embedding"),
    )
    qs = vecs.filter("vec_id < 5")

    rows = vecs.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows])
    truth = {}
    for r in qs.collect():
        d = ((X - np.array(r.embedding)) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        truth[r.vec_id] = set(
            int(i) for i in ids[order] if i != r.vec_id
        ).__class__(
            int(i) for i in ids[order][: 11] if i != r.vec_id
        )

    def recall(idx):
        got = {}
        for r in query_pq_index(
            qs, vecs, idx, k=10, nprobe=4, rerank=16
        ).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(q, set()) & nn) for q, nn in truth.items()
        ) / (10 * len(truth))

    toy = str(tmp_path / "toy")
    build_pq_index(vecs, toy, n_cells=32, m=4, k_codes=16, dim=dim)
    trained = str(tmp_path / "trained")
    build_pq_index(
        vecs, trained, n_cells=32, m=8, k_codes=256, dim=dim,
        residual=True, train_iters=8,
    )
    r_toy, r_trained = recall(toy), recall(trained)
    # at this fixture size both can saturate; the decisive gap (0.07
    # vs >=0.9 at 1M clustered vectors) is SCALING.md's ANN row —
    # here we pin the trained path's absolute recall + no regression
    assert r_trained >= 0.9, (r_toy, r_trained)
    assert r_trained >= r_toy

    # (b) arrow/expr parity and (c) determinism of the trained build
    twin = str(tmp_path / "trained_expr")
    build_pq_index(
        vecs, twin, n_cells=32, m=8, k_codes=256, dim=dim,
        residual=True, train_iters=8, method="expr",
    )
    again = str(tmp_path / "trained_again")
    build_pq_index(
        vecs, again, n_cells=32, m=8, k_codes=256, dim=dim,
        residual=True, train_iters=8,
    )
    def codes(p):
        return {
            (r.vec_id, r.cell_id, tuple(r.codes))
            for r in read_delta(spark, f"{p}/codes").collect()
        }
    c = codes(trained)
    assert c == codes(twin) and len(c) == n
    assert c == codes(again)


def test_hll_distinct_accuracy_and_multiplicity_invariance(spark):
    from delta_lake_spark.operators.sketches import hll_distinct

    base = spark.range(20_000).select(
        F.concat(F.lit("tok-"), F.col("id")).alias("v")
    )
    est = hll_distinct(base, "v").collect()[0].est_distinct
    assert abs(est - 20_000) / 20_000 < 0.1, est
    # a sketch counts VALUES, not rows: duplicating the input must not
    # move the estimate at all (same registers -> identical doubles)
    est_dup = hll_distinct(base.union(base), "v").collect()[0].est_distinct
    assert est_dup == est
    # and the estimate is partitioning-independent (deterministic hash)
    est_rep = (
        hll_distinct(base.repartition(13), "v").collect()[0].est_distinct
    )
    assert est_rep == est


def test_hll_distinct_grouped_tracks_group_cardinalities(spark):
    from delta_lake_spark.operators.sketches import hll_distinct

    df = spark.range(11_000).select(
        F.when(F.col("id") < 10_000, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("g"),
        F.concat(
            F.lit("v"),
            F.when(F.col("id") < 10_000, F.col("id")).otherwise(
                F.pmod(F.col("id"), 100)
            ),
        ).alias("v"),
    )
    got = {r.g: r.est_distinct for r in hll_distinct(df, "v", ["g"]).collect()}
    assert abs(got["big"] - 10_000) / 10_000 < 0.1, got
    assert abs(got["small"] - 100) / 100 < 0.15, got


def test_countmin_never_underestimates_and_is_partition_stable(spark):
    from delta_lake_spark.operators.sketches import countmin_counts

    tokens = (
        spark.range(1_000).select(F.lit("alpha").alias("v"))
        .union(spark.range(500).select(F.lit("beta").alias("v")))
        .union(
            spark.range(3_000).select(
                F.concat(F.lit("noise-"), F.col("id")).alias("v")
            )
        )
    )
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("absent",)], "v string"
    )
    got = {
        r.v: r.est_count
        for r in countmin_counts(tokens, "v", probes).collect()
    }
    # the count-min guarantee: estimates only ever OVERcount
    assert got["alpha"] >= 1_000 and got["beta"] >= 500
    # collisions with 3.5k distinct values in 4x2048 cells stay tiny
    assert got["alpha"] <= 1_050 and got["beta"] <= 550, got
    assert 0 <= got["absent"] <= 50, got
    rep = {
        r.v: r.est_count
        for r in countmin_counts(tokens.repartition(7), "v", probes).collect()
    }
    assert rep == got


def test_hll_state_merge_equals_full_corpus_and_replay_noop(spark, tmp_path):
    import pytest as _pytest

    from delta_lake_spark.operators.sketches import (
        build_hll_state,
        estimate_hll_state,
        hll_distinct,
        update_hll_state,
    )

    df = spark.range(30_000).select(
        F.concat(F.lit("g"), F.pmod(F.col("id"), 2)).alias("g"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    day1 = df.filter(F.col("id") % 3 != 0)
    day2 = df.filter(F.col("id") % 3 == 0)
    state = str(tmp_path / "hll_state")
    build_hll_state(day1, state, "v", ["g"], p=10)
    update_hll_state(day2, state, "v", ["g"], p=10)
    served = {
        r.g: r.est_distinct
        for r in estimate_hll_state(spark, state, ["g"], p=10).collect()
    }
    full = {
        r.g: r.est_distinct for r in hll_distinct(df, "v", ["g"]).collect()
    }
    # the merge property, bit for bit: max-merged slice registers must
    # reproduce the whole-corpus estimate exactly
    assert served == full
    # replaying a slice (crash recovery) is a no-op
    update_hll_state(day2, state, "v", ["g"], p=10)
    again = {
        r.g: r.est_distinct
        for r in estimate_hll_state(spark, state, ["g"], p=10).collect()
    }
    assert again == served
    # the pinned contract survives the update overwrites and a
    # mismatched p / grouping fails loudly
    with _pytest.raises(ValueError, match="p="):
        update_hll_state(day2, state, "v", ["g"], p=12)
    with _pytest.raises(ValueError, match="groups by"):
        estimate_hll_state(spark, state, ["g", "v"], p=10)


def test_cm_state_add_delete_equals_surviving_sketch(spark, tmp_path):
    from delta_lake_spark.operators.sketches import (
        build_cm_state,
        countmin_counts,
        delete_cm_state,
        estimate_cm_state,
        update_cm_state,
    )

    df = spark.range(8_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v"), F.pmod(F.col("id"), 500)).alias("v"),
    )
    day1 = df.filter(F.col("doc_id") % 3 != 0)
    day2 = df.filter(F.col("doc_id") % 3 == 0)
    gone = df.filter(F.col("doc_id") % 7 == 0)
    state = str(tmp_path / "cm_state")
    build_cm_state(day1, state, "v", d=4, w=256)
    update_cm_state(day2, state, "v")
    delete_cm_state(gone, state, "v")

    probes = spark.range(20).select(
        F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    served = {
        r.v: r.est_count
        for r in estimate_cm_state(spark, state, probes, "v").collect()
    }
    # linearity: the surviving state must equal a fresh sketch of the
    # surviving corpus, estimate for estimate
    fresh = {
        r.v: r.est_count
        for r in countmin_counts(
            df.filter(F.col("doc_id") % 7 != 0), "v", probes, d=4, w=256
        ).collect()
    }
    assert served == fresh


def test_hll_set_estimates_tracks_known_overlap(spark):
    from delta_lake_spark.operators.sketches import hll_set_estimates

    a = spark.range(0, 10_000).select(
        F.concat(F.lit("t"), F.col("id")).alias("v")
    )
    b = spark.range(5_000, 15_000).select(
        F.concat(F.lit("t"), F.col("id")).alias("v")
    )
    r = hll_set_estimates(a, b, "v").collect()[0]
    assert abs(r.est_a - 10_000) / 10_000 < 0.1
    assert abs(r.est_b - 10_000) / 10_000 < 0.1
    assert abs(r.est_union - 15_000) / 15_000 < 0.1
    # inclusion-exclusion compounds errors — looser band, same signal
    assert abs(r.est_intersect - 5_000) / 5_000 < 0.25, r
    assert abs(r.jaccard - 1 / 3) < 0.1, r
    # disjoint sets: the clamp keeps the estimate at/near zero
    c = spark.range(20_000, 30_000).select(
        F.concat(F.lit("t"), F.col("id")).alias("v")
    )
    rd = hll_set_estimates(a, c, "v").collect()[0]
    assert rd.est_intersect < 1_500, rd


def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    from delta_lake_spark.operators.sketches import bloom_probe, build_bloom

    items = spark.range(10_000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("v")
    )
    bloom = build_bloom(items, "v", m_bits=1 << 17, k=4)
    # every inserted value answers maybe (no false negatives, ever)
    present = bloom_probe(bloom, items, "v", m_bits=1 << 17, k=4)
    assert present.filter(~F.col("maybe_present")).count() == 0
    # absent values: "false" is certain; the "maybe" rate stays near
    # the (1 - e^(-kn/m))^k theory bound (~0.56% here; allow 3x)
    absent = spark.range(10_000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("v")
    )
    fp = (
        bloom_probe(bloom, absent, "v", m_bits=1 << 17, k=4)
        .filter(F.col("maybe_present"))
        .count()
    )
    assert fp / 10_000 < 0.017, fp
    # partitioning-independent (deterministic hashing end to end)
    again = bloom_probe(
        build_bloom(items.repartition(13), "v", m_bits=1 << 17, k=4),
        absent, "v", m_bits=1 << 17, k=4,
    ).filter(F.col("maybe_present")).count()
    assert again == fp


def test_countmin_null_probes_dropped_not_zeroed(spark):
    from delta_lake_spark.operators.sketches import countmin_counts

    tokens = spark.range(100).select(F.lit("x").alias("v"))
    probes = spark.createDataFrame(
        [("x",), (None,)], "v string"
    )
    got = countmin_counts(tokens, "v", probes).collect()
    # the NULL probe yields NO row (mirrors the SQL replica's filter),
    # not an est_count=0 row
    assert len(got) == 1 and got[0].v == "x" and got[0].est_count >= 100


def test_asof_join_rejects_nonpositive_chunk(spark):
    """A negative chunk makes floor(ts/chunk) non-monotonic (carry
    pulls from FUTURE chunks) and chunk=0 degenerates via inf — both
    must fail loudly, not return silently wrong matches."""
    from delta_lake_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 5, "a")], "k long, ts long, v string")
    for bad in (0, -3, -0.5):
        with pytest.raises(ValueError, match="chunk"):
            asof_join(left, right, "k", "ts", "ts", chunk=bad)


def test_bloom_params_pinned_and_validated(spark):
    """build_bloom pins (m_bits, k) as column metadata; bloom_probe
    derives them when not passed, validates them when passed, and a
    mismatch raises instead of silently producing false negatives.
    The pin survives a parquet round-trip."""
    from delta_lake_spark.operators.sketches import bloom_probe, build_bloom

    items = spark.range(500).select(F.concat(F.lit("v-"), "id").alias("v"))
    bloom = build_bloom(items, "v", m_bits=1 << 16, k=3)

    # derive-from-pin: no explicit params needed, all members found
    hits = bloom_probe(bloom, items, "v").filter("maybe_present").count()
    assert hits == 500

    # explicit matching params validate fine
    assert (
        bloom_probe(bloom, items, "v", m_bits=1 << 16, k=3)
        .filter("maybe_present").count() == 500
    )

    # mismatched params raise (either dimension)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_probe(bloom, items, "v", m_bits=1 << 20, k=3)
    with pytest.raises(ValueError, match="k="):
        bloom_probe(bloom, items, "v", m_bits=1 << 16, k=4)

    # a bitmap with the metadata stripped demands explicit params
    stripped = bloom.select(
        F.col("word"), F.col("bits").alias("bits", metadata={})
    )
    with pytest.raises(ValueError, match="pass m_bits"):
        bloom_probe(stripped, items, "v")

    # parquet round-trip keeps the pin
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        bloom.write.mode("overwrite").parquet(f"{d}/bloom")
        reread = spark.read.parquet(f"{d}/bloom")
        assert (
            bloom_probe(reread, items, "v")
            .filter("maybe_present").count() == 500
        )
        with pytest.raises(ValueError, match="m_bits"):
            bloom_probe(reread, items, "v", m_bits=1 << 20)


def test_mixture_domain_cardinality_guard(spark):
    """mixture_sample / mixture_resample collect one row per distinct
    domain; above max_domains they must raise (bounded probe), not
    attempt an unbounded driver collect."""
    from delta_lake_spark.operators.sampling import (
        mixture_resample,
        mixture_sample,
    )

    fine = spark.createDataFrame(
        [(i, "web" if i % 2 else "books") for i in range(20)],
        "doc_id long, domain string",
    )
    assert (
        mixture_sample(fine, "doc_id", "domain", {"books": 2, "web": 1})
        .count() > 0
    )
    assert (
        mixture_resample(
            fine, "domain", "doc_id", temperature=0.5, target_rows=10
        ).count() > 0
    )

    hosts = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("host-"), "id").alias("domain"),
    )
    with pytest.raises(ValueError, match="distinct domains"):
        mixture_sample(
            hosts, "doc_id", "domain", {"host-1": 2}, max_domains=50
        )
    with pytest.raises(ValueError, match="cap_per_domain"):
        mixture_resample(
            hosts, "domain", "doc_id", target_rows=10, max_domains=50
        )


def test_cache_registry_sweeps_stopped_sessions(spark):
    """Entries whose session is stopped are dropped (and best-effort
    unpersisted) on the next registry access — the WeakKeyDictionary
    could never reclaim them because the cached DataFrames strongly
    reference their session. That covers memo entries too, so a reused
    ``id(session)`` can never be served a dead session's model."""
    from delta_lake_spark.operators import _cache

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    class StoppedSession:
        _sc = None

    def stopped_slot(dead, memo_frame):
        return {
            "session": StoppedSession,
            "groups": {"g": [dead]},
            "memo": {
                ("model", "sf"): {"value": ("model", [memo_frame])},
            },
        }

    dead, dead_memo = FakeDF(), FakeDF()
    _cache._REGISTRY[id(StoppedSession)] = stopped_slot(dead, dead_memo)
    live = spark.range(3).persist()
    try:
        _cache.register_persisted(live, "sweep-test", capacity=2)
        assert id(StoppedSession) not in _cache._REGISTRY
        assert dead.unpersisted and dead_memo.unpersisted
        assert live in _cache._REGISTRY[id(spark)]["groups"]["sweep-test"]

        # the memo call sweeps as well
        _cache._REGISTRY[id(StoppedSession)] = stopped_slot(
            FakeDF(), FakeDF()
        )
        assert _cache.memo(spark, "sweep-test", lambda: (7, [])) == 7
        assert id(StoppedSession) not in _cache._REGISTRY
    finally:
        live.unpersist()
        _cache._REGISTRY[id(spark)]["groups"].pop("sweep-test", None)
        _cache._REGISTRY[id(spark)]["memo"].pop("sweep-test", None)


def test_cache_registry_eviction_keeps_plan_identical_live_frame(spark):
    """Evicting a frame whose plan equals a live registered frame's must
    not unpersist it: Spark keeps one cache entry per plan, so that
    unpersist would also uncache the live frame (a repeat call registers
    exactly such a frame)."""
    from delta_lake_spark.operators import _cache

    capacity = 2
    frames = [
        spark.range(7).selectExpr("id * 3 AS x").persist()
        for _ in range(capacity + 1)
    ]
    try:
        for df in frames:
            _cache.register_persisted(df, "plan-equal-test", capacity)
        newest = frames[-1]
        newest.count()
        level = newest.storageLevel
        assert level.useMemory or level.useDisk, level
        held = _cache._REGISTRY[id(spark)]["groups"]["plan-equal-test"]
        assert held == frames[1:]
    finally:
        _cache._REGISTRY[id(spark)]["groups"].pop("plan-equal-test", None)
        frames[-1].unpersist()


def test_query_registry_hard_fails_on_broken_submodule():
    """A broken registry submodule must fail the package import loudly,
    not silently shrink queries() (the driver would sample from the
    smaller pool and read it as all-green)."""
    import subprocess
    import sys

    code = (
        "import sys, types\n"
        "sys.modules['delta_lake_spark.queries.llm'] = "
        "types.ModuleType('delta_lake_spark.queries.llm')\n"
        "try:\n"
        "    import delta_lake_spark.queries\n"
        "except ImportError:\n"
        "    sys.exit(42)\n"
        "sys.exit(1)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd="/root/repo", capture_output=True
    )
    assert proc.returncode == 42, proc.stderr.decode()[-2000:]


def test_query_registry_complete():
    from delta_lake_spark.queries import ORACLE_SQL, QUERIES

    assert len(QUERIES) >= 164
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_funnel_report_matches_bruteforce_on_random_stages(spark):
    """The depth-collapse report (one membership join + deepest-stage
    integer + reverse cumsum) must equal the definitionally-computed
    funnel — per-stage survivor sets derived by literal semi/anti set
    algebra in Python — on an arbitrary semi/anti stage mix, including
    a stage that empties the funnel midway."""
    from delta_lake_spark.queries.llm import _funnel_report

    docs = [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)]
    raw = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {
        "a": {i for i in range(40) if i % 2 == 0},          # semi
        "b": {i for i in range(40) if i % 3 == 0},          # anti
        "c": {i for i in range(40) if i < 30},              # semi
        "d": set(range(40)),                                # anti: empties
        "e": {1, 2, 3},                                     # semi after empty
    }
    hows = {"a": "semi", "b": "anti", "c": "semi", "d": "anti", "e": "semi"}
    stages = [("raw", None, "semi")] + [
        (
            k,
            spark.createDataFrame(
                [(i,) for i in sorted(sets[k])], "doc_id long"
            ),
            hows[k],
        )
        for k in ["a", "b", "c", "d", "e"]
    ]
    got = {
        r.stage: (r.stage_id, r.n_docs, r.n_tokens)
        for r in _funnel_report(raw, stages).collect()
    }
    surv = {i for i, _ in docs}
    toks = {i: i % 5 + 1 for i, _ in docs}
    expected = {"raw": (0, len(surv), sum(toks[i] for i in surv))}
    for sid, k in enumerate(["a", "b", "c", "d", "e"], start=1):
        surv = (
            surv & sets[k] if hows[k] == "semi" else surv - sets[k]
        )
        expected[k] = (sid, len(surv), sum(toks[i] for i in surv))
    assert got == expected


def test_funnel_memo_reuses_and_clears(spark):
    """_funnel_core must return the SAME stage frames on a second call
    (session memo hit — the gate-rotation speedup contract) and drop
    them after clear_session_caches, so bench repeats measure real
    work."""
    from delta_lake_spark.operators._cache import clear_session_caches
    from delta_lake_spark.queries.llm import _funnel_core

    sf = "/root/testdata/sf0.001"
    clear_session_caches(spark)
    try:
        _, _, _, stages1, caches1 = _funnel_core(spark, sf)
        _, _, _, stages2, caches2 = _funnel_core(spark, sf)
        assert [id(df) for df in caches1] == [id(df) for df in caches2]

        # the quality/exact-dedup sets are now lazy filters over the
        # ONE persisted base frame, so "cached" means either the frame
        # itself is persisted (canon/hits) or its executed plan reads
        # an InMemoryRelation (passes/keepers)
        def _served_from_cache(df):
            if df.storageLevel.useMemory:
                return True
            plan = df._jdf.queryExecution().executedPlan().toString()
            return "InMemoryTableScan" in plan

        assert all(_served_from_cache(df) for df in caches1)
        clear_session_caches(spark)
        assert not any(df.storageLevel.useMemory for df in caches1)
        _, _, _, _, caches3 = _funnel_core(spark, sf)
        assert [id(a) for a in caches3] != [id(a) for a in caches1]
    finally:
        clear_session_caches(spark)


def test_tiny_wav_matches_stdlib_wave_writer():
    """The hand-assembled WAV must be byte-identical to what the
    stdlib ``wave`` writer emits for the same params/samples — the
    parser is then tested against an independent implementation of
    the format, not against its own assembler."""
    import io
    import struct
    import wave

    from delta_lake_spark.operators.multimodal import tiny_wav_bytes

    for channels, bits, rate, n, seed in [
        (1, 16, 8000, 20, 3),
        (2, 16, 16000, 33, 7),
        (1, 8, 24000, 25, 0),
    ]:
        ours = tiny_wav_bytes(n, rate, channels=channels, bits=bits, seed=seed)
        frames = bytearray()
        for i in range(n):
            for c in range(channels):
                v = (seed * 7 + i * 31 + c * 13) % 251
                if bits == 8:
                    frames.append(v)
                else:
                    frames += struct.pack("<h", (v - 125) * 200)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(bits // 8)
            w.setframerate(rate)
            w.writeframes(bytes(frames))
        assert ours == buf.getvalue(), (channels, bits, rate)


def test_decode_wav_meta_real_parse_and_malformed_raise(spark):
    """decode_wav_meta must recover the exact PCM params from real
    RIFF payloads (including a stdlib-wave-written one) and FAIL — not
    emit zeros — on a non-WAV payload."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import (
        decode_wav_meta,
        tiny_wav_bytes,
    )

    media = spark.createDataFrame(
        [
            (1, bytearray(tiny_wav_bytes(24, 8000, channels=1, bits=16))),
            (2, bytearray(tiny_wav_bytes(50, 16000, channels=2, bits=8))),
        ],
        "media_id long, content binary",
    )
    rows = {r.media_id: r for r in decode_wav_meta(media).collect()}
    assert (rows[1].channels, rows[1].sample_rate, rows[1].bits) == (1, 8000, 16)
    assert (rows[1].n_frames, rows[1].duration_ms) == (24, 3)
    assert (rows[2].channels, rows[2].sample_rate, rows[2].bits) == (2, 16000, 8)
    assert (rows[2].n_frames, rows[2].duration_ms) == (50, 3)
    bad = spark.createDataFrame(
        [(9, bytearray(b"definitely not a wav"))],
        "media_id long, content binary",
    )
    with _pytest.raises(Exception, match="RIFF"):
        decode_wav_meta(bad).collect()


def test_funnel_report_vocab_column_consistency(spark):
    """vocab=True must agree with hll_distinct computed directly over
    each stage's surviving token multiset (register-merge down the
    depth axis is just a factoring of the same registers), and emit
    0.0 — not NULL — for stages past one that empties the funnel."""
    from delta_lake_spark.operators.sketches import hll_distinct
    from delta_lake_spark.queries.llm import _funnel_report
    from pyspark.sql import functions as F

    docs = [(i, f"tok{i % 7} tok{i % 11} shared") for i in range(30)]
    raw = spark.createDataFrame(docs, "doc_id long, text string")
    a = {i for i in range(30) if i % 2 == 0}
    stages = [
        ("raw", None, "semi"),
        ("a", spark.createDataFrame([(i,) for i in sorted(a)], "doc_id long"), "semi"),
        ("kill", spark.createDataFrame([(i,) for i in range(30)], "doc_id long"), "anti"),
    ]
    got = {
        r.stage: (r.n_docs, r.est_vocab)
        for r in _funnel_report(raw, stages, vocab=True).collect()
    }
    assert got["kill"] == (0, 0.0)
    for name, surv in [("raw", set(range(30))), ("a", a)]:
        toks = (
            raw.filter(F.col("doc_id").isin([int(x) for x in surv]))
            .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        )
        expected = hll_distinct(toks, "t").collect()[0].est_distinct
        assert got[name][1] == expected, name


def test_tiny_gif_lzw_stream_decodes_to_solid_frames():
    """Independent verification of the GIF fixture: a from-scratch LZW
    decoder (written here, sharing no code with the encoder) must
    inflate each frame's data stream back to the expected solid-color
    pixel run — so the fixture is a DECODABLE image, not just a
    walkable container."""
    import struct

    from delta_lake_spark.operators.multimodal import tiny_gif_bytes

    frames = [(0, 1, 3, 2), (2, 0, 4, 1)]
    gif = tiny_gif_bytes(frames, seed=5)
    assert gif[:6] == b"GIF89a" and gif[-1] == 0x3B

    def lzw_decode(data: bytes, min_code_size: int) -> list:
        clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
        table = {i: [i] for i in range(1 << min_code_size)}
        width, next_code = min_code_size + 1, eoi + 1
        acc = n_acc = pos = 0
        out, prev = [], None
        while True:
            while n_acc < width:
                acc |= data[pos] << n_acc
                pos += 1
                n_acc += 8
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_acc -= width
            if code == clear:
                table = {i: [i] for i in range(1 << min_code_size)}
                width, next_code, prev = min_code_size + 1, eoi + 1, None
                continue
            if code == eoi:
                return out
            entry = table[code] if code in table else prev + [prev[0]]
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + [entry[0]]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry

    # walk to each image block, reassemble its sub-blocks, decode
    off = 13 + 3 * (2 << (gif[10] & 0x07))
    seen = 0
    while gif[off] != 0x3B:
        assert gif[off] == 0x2C
        _, _, fw, fh, _ = struct.unpack("<HHHHB", gif[off + 1 : off + 10])
        off += 10
        mcs = gif[off]
        off += 1
        data = bytearray()
        while gif[off] != 0:
            data += gif[off + 1 : off + 1 + gif[off]]
            off += 1 + gif[off]
        off += 1
        pixels = lzw_decode(bytes(data), mcs)
        assert pixels == [(5 + seen) % 4] * (fw * fh), seen
        seen += 1
    assert seen == len(frames)


def test_gif_frame_index_parses_and_rejects(spark):
    """gif_frame_index must recover exact frame geometry (including
    payloads with extension blocks riding ahead of frames) and FAIL on
    a non-GIF payload."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import (
        gif_frame_index,
        tiny_gif_bytes,
    )

    base = tiny_gif_bytes([(1, 2, 3, 4), (0, 0, 2, 2)], seed=1)
    # splice a graphics-control extension before the first frame
    first_img = base.index(b"\x2C")
    with_ext = (
        base[:first_img]
        + b"\x21\xF9\x04\x00\x0A\x00\x00\x00"
        + base[first_img:]
    )
    media = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(with_ext))],
        "media_id long, content binary",
    )
    rows = gif_frame_index(media).collect()
    by_key = {(r.media_id, r.frame_id): r for r in rows}
    assert len(rows) == 4
    for mid in (1, 2):
        assert (
            by_key[(mid, 0)].left,
            by_key[(mid, 0)].top,
            by_key[(mid, 0)].width,
            by_key[(mid, 0)].height,
        ) == (1, 2, 3, 4)
        assert by_key[(mid, 1)].width == 2
        assert by_key[(mid, 0)].n_data_bytes > 0
    bad = spark.createDataFrame(
        [(9, bytearray(b"GIF:not really"))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="GIF"):
        gif_frame_index(bad).collect()


def test_media_parsers_name_truncation(spark):
    """Truncated (but correctly-magic'd) payloads must raise a NAMED
    ValueError, not a bare IndexError/struct.error from inside the
    walk — the error is the operator's contract surface."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import (
        decode_wav_meta,
        gif_frame_index,
        tiny_gif_bytes,
        tiny_wav_bytes,
    )

    cut_gif = tiny_gif_bytes([(0, 0, 2, 2)], seed=1)[:-4]
    df = spark.createDataFrame(
        [(1, bytearray(cut_gif))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="truncated GIF|missing GIF"):
        gif_frame_index(df).collect()
    cut_wav = tiny_wav_bytes(10, 8000)[:20]  # RIFF/WAVE magic intact
    df2 = spark.createDataFrame(
        [(2, bytearray(cut_wav))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="truncated WAVE|missing fmt"):
        decode_wav_meta(df2).collect()


def test_gif_frame_pixels_nonsolid_raster(spark):
    """gif_frame_pixels must recover features of an ARBITRARY raster,
    not just the corpus fixture's solid fills: explicit pixel lists
    ride through tiny_gif_bytes(pixels=...) and the decoded mode /
    distinct-count / checksum match the hand-computed values."""
    from delta_lake_spark.operators.multimodal import (
        gif_frame_pixels,
        tiny_gif_bytes,
    )

    px0 = [0, 1, 2, 3, 1, 1]           # 3x2: mode 1 (x3)
    px1 = [2, 2, 3, 3]                 # 2x2: tie 2/3 -> smallest = 2
    gif = tiny_gif_bytes(
        [(0, 0, 3, 2), (0, 0, 2, 2)], seed=4, pixels=[px0, px1]
    )
    df = spark.createDataFrame(
        [(9, bytearray(gif))], "media_id long, content binary"
    )
    rows = {r.frame_id: r for r in gif_frame_pixels(df).collect()}
    assert rows[0].n_pixels == 6 and rows[0].n_colors == 4
    assert rows[0].top_color == 1 and rows[0].checksum == sum(px0)
    assert rows[0].mode_gray == (4 * 17 + 1 * 73) % 256
    assert rows[1].n_colors == 2 and rows[1].top_color == 2
    assert rows[1].checksum == sum(px1)


def test_lzw_decoder_dictionary_and_komega_paths():
    """_lzw_decode_gif must handle genuinely COMPRESSED streams — the
    fixture encoder only emits literals, so the dictionary-reference
    and k-omega-k paths are pinned with hand-packed code streams."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import _lzw_decode_gif

    def pack(codes, mcs=2):
        # LSB-first packing with canonical width growth, mirroring a
        # real encoder's dictionary bookkeeping
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        width, next_code = mcs + 1, eoi + 1
        out, acc, n_acc = bytearray(), 0, 0
        first = True
        for c in codes:
            acc |= c << n_acc
            n_acc += width
            while n_acc >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                n_acc -= 8
            if c == clear:
                width, next_code, first = mcs + 1, eoi + 1, True
                continue
            if c == eoi:
                continue
            if first:
                first = False
            elif next_code < 4096:
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        if n_acc:
            out.append(acc & 0xFF)
        return bytes(out)

    # dictionary reference: 0,1 defines code 6=[0,1]; emitting 6 then
    # replays it -> [0,1,0,1]
    assert _lzw_decode_gif(pack([4, 0, 1, 6, 5]), 2) == [0, 1, 0, 1]
    # k-omega-k: code == next_code right after one literal -> [0,0,0]
    assert _lzw_decode_gif(pack([4, 0, 6, 5]), 2) == [0, 0, 0]
    # mid-stream CLEAR resets the table
    assert _lzw_decode_gif(pack([4, 0, 1, 4, 2, 3, 5]), 2) == [0, 1, 2, 3]
    # out-of-sequence code and truncation raise
    with _pytest.raises(ValueError, match="out of sequence"):
        _lzw_decode_gif(pack([4, 0, 7, 5]), 2)
    with _pytest.raises(ValueError, match="truncated"):
        _lzw_decode_gif(pack([4, 0, 1]), 2)


def test_gif_frame_pixels_raster_size_mismatch_raises(spark):
    """A stream that decodes to the wrong pixel count (declared 2x2,
    payload carries 3 pixels) must raise with the media id — silent
    truncation would poison downstream features."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import (
        gif_frame_pixels,
        tiny_gif_bytes,
    )

    bad = tiny_gif_bytes([(0, 0, 2, 2)], seed=0, pixels=[[1, 2, 3]])
    df = spark.createDataFrame(
        [(7, bytearray(bad))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="media 7.*3 pixels.*2x2"):
        gif_frame_pixels(df).collect()


def test_winnow_guarantee_and_density(spark):
    """The winnowing contract (Schleimer et al.): two documents sharing
    a run of >= w + k - 1 words MUST share at least one fingerprint,
    and the winnowed sketch must be materially smaller than the full
    gram set."""
    import random

    from delta_lake_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    shared_run = " ".join(rng.choice(vocab) for _ in range(8))  # w+k-1 = 8
    doc_a = " ".join(rng.choice(vocab) for _ in range(40))
    doc_b = " ".join(rng.choice(vocab) for _ in range(40))
    docs = spark.createDataFrame(
        [(1, f"{doc_a} {shared_run} {doc_b}"),
         (2, f"{doc_b} {shared_run} {doc_a}")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", k=5, w=4)
    rows = fps.collect()
    s1 = {r.fp for r in rows if r.doc_id == 1}
    s2 = {r.fp for r in rows if r.doc_id == 2}
    assert s1 & s2, "shared 8-word run must produce a shared fingerprint"
    # density: sketch carries well under the full gram count (~2/(w+1))
    n_grams = 88 - 5 + 1  # each doc has 40+8+40 = 88 words
    assert len(s1) < 0.75 * n_grams


def test_winnow_fingerprints_map_only_and_edges(spark):
    """Extraction must be one map-only projection (no Exchange besides
    the explicit doc repartition); docs shorter than k words emit no
    fingerprints; k <= len < k+w-1 docs still emit one."""
    import pytest as _pytest

    from delta_lake_spark.operators.dedup import (
        winnow_dup_pairs,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f")],  # 3 words; 6 words -> 2 grams
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(docs, "text", "doc_id", k=5, w=4).collect()
    assert not any(r.doc_id == 1 for r in rows)  # < k words: none
    assert sum(1 for r in rows if r.doc_id == 2) == 1  # short tail: one
    plan = (
        winnow_fingerprints(docs, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the explicit doc-row repartition, nothing else shuffles
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan
    with _pytest.raises(ValueError, match="k and w"):
        winnow_fingerprints(docs, "text", "doc_id", k=0)
    with _pytest.raises(ValueError, match="k and w"):
        winnow_dup_pairs(docs, "text", "doc_id", w=0)


def test_winnow_pairs_catch_heavy_overlap(spark):
    """A document and its lightly-edited copy must surface as a pair
    with high jaccard; unrelated docs must not."""
    import random

    from delta_lake_spark.operators.dedup import winnow_dup_pairs

    rng = random.Random(3)
    vocab = [f"t{i}" for i in range(300)]
    base = [rng.choice(vocab) for _ in range(60)]
    edited = list(base)
    edited[30] = "EDITED"
    other = [rng.choice(vocab) for _ in range(60)]
    docs = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(edited)), (3, " ".join(other))],
        "doc_id long, text string",
    )
    pairs = winnow_dup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.6


def test_winnow_index_lifecycle(spark, tmp_path):
    """Persistent winnow index: incremental update must equal a
    from-scratch rebuild; GDPR delete must scrub both tables and stay
    idempotent under replay; a re-appended id must be findable again."""
    from delta_lake_spark.operators.dedup import (
        build_winnow_index,
        delete_from_winnow_index,
        near_dups_against_winnow_index,
        update_winnow_index,
        winnow_fingerprints,
        _winnow_tables,
    )
    from delta_lake_spark.reader import read_delta

    import random

    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(200)]
    mk = lambda: " ".join(rng.choice(vocab) for _ in range(30))
    day1 = [(i, mk()) for i in range(20)]
    day2 = [(100 + i, mk()) for i in range(10)]
    df1 = spark.createDataFrame(day1, "doc_id long, text string")
    df2 = spark.createDataFrame(day2, "doc_id long, text string")
    both = df1.union(df2)

    inc = str(tmp_path / "inc")
    build_winnow_index(df1, "text", "doc_id", inc)
    update_winnow_index(df2, "text", "doc_id", inc)
    update_winnow_index(df2, "text", "doc_id", inc)  # replay: no-op
    full = str(tmp_path / "full")
    build_winnow_index(both, "text", "doc_id", full)
    get = lambda p, t: sorted(
        tuple(r) for r in read_delta(spark, _winnow_tables(p)[t]).collect()
    )
    assert get(inc, 0) == get(full, 0)  # fps rows identical
    assert get(inc, 1) == get(full, 1)  # sizes identical

    # probe: an exact copy of doc 3 must hit it with jaccard 1.0
    probe = spark.createDataFrame(
        [(999, day1[3][1])], "doc_id long, text string"
    )
    hits = near_dups_against_winnow_index(
        probe, "text", "doc_id", inc, threshold=0.9
    ).collect()
    assert any(h.corpus_id == 3 and h.jaccard == 1.0 for h in hits)

    # GDPR delete doc 3: both tables scrubbed, probe finds no ghost,
    # replaying the delete is a no-op
    doomed = spark.createDataFrame([(3,)], "doc_id long")
    delete_from_winnow_index(doomed, inc)
    delete_from_winnow_index(doomed, inc)
    for t in (0, 1):
        assert not [r for r in get(inc, t) if r[0] == 3]
    assert not [
        h
        for h in near_dups_against_winnow_index(
            probe, "text", "doc_id", inc, threshold=0.9
        ).collect()
        if h.corpus_id == 3
    ]
    # re-append: the id is unknown again, so update re-signs it
    update_winnow_index(
        spark.createDataFrame([day1[3]], "doc_id long, text string"),
        "text", "doc_id", inc,
    )
    hits = near_dups_against_winnow_index(
        probe, "text", "doc_id", inc, threshold=0.9
    ).collect()
    assert any(h.corpus_id == 3 and h.jaccard == 1.0 for h in hits)


def test_dedup_segments_semantics(spark):
    """Shared segments vanish from EVERY copy (including the first),
    unique text survives in original order, the all-boilerplate doc
    reassembles to '', and parameters are validated."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import dedup_segments

    boiler = "subscribe to our newsletter now"  # 5 words = 1 segment
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta eps {boiler}"),
            (2, f"{boiler} zeta eta theta iota kappa"),
            (3, boiler),
            (4, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_segments(
            docs, "text", "doc_id", seg_words=5, min_docs=2
        ).collect()
    }
    assert out[1].kept_text == "alpha beta gamma delta eps"
    assert out[2].kept_text == "zeta eta theta iota kappa"
    assert out[3].kept_text == "" and out[3].n_removed == 1
    assert out[4].kept_text == "one two three four five"
    assert out[1].n_segments == 2 and out[1].n_removed == 1
    assert abs(out[1].removed_ratio - 0.5) < 1e-12
    with _pytest.raises(ValueError, match="seg_words"):
        dedup_segments(docs, "text", "doc_id", seg_words=0)
    with _pytest.raises(ValueError, match="min_docs"):
        dedup_segments(docs, "text", "doc_id", min_docs=1)


def test_dedup_segments_order_and_tail(spark):
    """Segment order survives reassembly across >9 positions (struct
    sort is numeric on __pos, not lexicographic) and the short tail
    segment is a first-class dedup unit."""
    from delta_lake_spark.operators.text import dedup_segments

    words = [f"w{i}" for i in range(23)]  # 12 segments of 2 + tail of 1
    text = " ".join(words)
    docs = spark.createDataFrame(
        [(1, text), (2, "w22")],  # the 1-word tail is shared
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup_segments(
            docs, "text", "doc_id", seg_words=2, min_docs=2
        ).collect()
    }
    assert out[1].n_segments == 12
    assert out[1].n_removed == 1
    assert out[1].kept_text == " ".join(words[:22])
    assert out[2].kept_text == ""


def test_phrase_search_anchor_semantics(spark):
    """The anchor-count algorithm must count overlapping and repeated
    occurrences, handle a REPEATED term in the phrase (one offset row
    per position), and never fire on a scrambled window."""
    import pytest as _pytest

    from delta_lake_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "x big order scan y big order scan"),  # two occurrences
            (2, "big scan order"),                     # scrambled: none
            (3, "Big ORDER scan"),                     # case-folded: one
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in phrase_search(docs, "text", "doc_id", "big order scan").collect()}
    assert set(out) == {1, 3}
    assert out[1].n_occurrences == 2 and out[1].first_pos == 2
    assert out[3].n_occurrences == 1 and out[3].first_pos == 1

    rep = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b b a"), (3, "a a a")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in phrase_search(rep, "text", "doc_id", "a b a").collect()}
    assert set(out) == {1}  # doc 2's a..a straddle must not count
    assert out[1].n_occurrences == 1 and out[1].first_pos == 1
    out = {r.doc_id: r for r in phrase_search(rep, "text", "doc_id", "a a").collect()}
    assert out[3].n_occurrences == 2  # overlapping occurrences both count
    with _pytest.raises(ValueError, match="at least one term"):
        phrase_search(rep, "text", "doc_id", "   ")


def test_pagerank_strategy_agreement_and_dangling(spark):
    """Driver and distributed strategies must produce the same ranks
    (same double recurrence) on a graph WITH a dangling node, total
    mass must stay 1, and the dangling node must still receive the
    teleport + redistribution floor."""
    from delta_lake_spark.operators.graph import pagerank

    # d is dangling; a->b->c->a cycle plus feeds into d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "d")],
        "src string, dst string",
    )
    drv = {
        r.node: r.rank
        for r in pagerank(edges, iterations=4, strategy="driver").collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=4, strategy="distributed", checkpoint_every=2
        ).collect()
    }
    assert set(drv) == set(dist) == {"a", "b", "c", "d"}
    for v in drv:
        assert abs(drv[v] - dist[v]) < 1e-12, v
    assert abs(sum(drv.values()) - 1.0) < 1e-9  # mass conserved
    assert drv["d"] > 0.15 / 4  # dangling node still accumulates rank


def test_pagerank_distributed_fold_path_agreement(spark):
    """The dangling-free uniform-teleport iteration folds the
    zero-contribution rows into the contribution aggregation (one join
    + one agg per round, no second nodes join). Ranks must agree with
    the driver power iteration bit-tight, including for a node with
    out-edges but NO in-edges (the row the fold's union supplies)."""
    from delta_lake_spark.operators.graph import pagerank

    # every node has an out-edge (no dangling); 'a' has no in-edge
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    drv = {
        r.node: r.rank
        for r in pagerank(edges, iterations=5, strategy="driver").collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=5, strategy="distributed", checkpoint_every=2
        ).collect()
    }
    assert set(drv) == set(dist) == {"a", "b", "c"}
    for v in drv:
        assert abs(drv[v] - dist[v]) < 1e-15, v
    # the in-edge-less node holds exactly the teleport floor each round
    assert abs(dist["a"] - 0.15 * (1.0 / 3)) < 1e-15


def test_pagerank_validation_and_empty(spark):
    import pytest as _pytest

    from delta_lake_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)
    with _pytest.raises(ValueError, match="damping"):
        pagerank(edges, damping=1.0)
    with _pytest.raises(ValueError, match="checkpoint_every"):
        pagerank(edges, checkpoint_every=0)
    with _pytest.raises(ValueError, match="strategy"):
        pagerank(edges, strategy="magic")
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).collect() == []


def test_dsir_importance_directionality(spark):
    """Documents drawn from the target slice's bigram distribution
    must outweigh off-distribution ones; short docs carry no evidence
    and are omitted; the bucket count is validated."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import dsir_importance
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick fox " * 10, "en"),
        (2, "the quick fox " * 10, "en"),
        (3, "the quick fox jumps", "de"),   # target-like but not target
        (4, "xyzzy plugh grue zork " * 8, "de"),  # off-distribution
        (5, "single", "en"),                # < 2 words: no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in dsir_importance(
            docs, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    assert 5 not in out
    # target-distribution docs (1, 2, and the identical-text 3) beat
    # the off-distribution doc 4 regardless of its own label
    assert out[3].log_weight > out[4].log_weight
    assert out[1].log_weight > out[4].log_weight
    assert out[1].n_bigrams == 29
    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_importance(docs, "text", "doc_id", F.col("lang") == "en", n_buckets=1)


def test_label_propagation_semantics(spark):
    """Seeds are immutable, majority wins, ties break to the SMALLEST
    label, unlabeled neighbours don't vote, unreachable nodes stay
    null, and parameters validate."""
    import pytest as _pytest

    from delta_lake_spark.operators.graph import label_propagation

    # a,b seeded; x hears a twice and b once -> majority a's label;
    # y hears a once and b once -> tie -> min(label); z isolated sink
    # reachable only from y (labeled in round 2); w unreachable
    edges = spark.createDataFrame(
        [("a", "x"), ("a2", "x"), ("b", "x"),
         ("a", "y"), ("b", "y"),
         ("y", "z"),
         ("w", "w2")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame(
        [("a", 7), ("a2", 7), ("b", 3)], "node string, label long"
    )
    out = {
        r.node: r.label
        for r in label_propagation(edges, seeds, iterations=3).collect()
    }
    assert out["x"] == 7          # majority
    assert out["y"] == 3          # tie -> smallest label
    assert out["z"] == 3          # propagated from y in a later round
    assert out["w"] is None and out["w2"] is None  # never reached
    assert out["a"] == 7 and out["b"] == 3         # seeds immutable
    with _pytest.raises(ValueError, match="iterations"):
        label_propagation(edges, seeds, iterations=0)
    with _pytest.raises(ValueError, match="checkpoint_every"):
        label_propagation(edges, seeds, checkpoint_every=0)


def test_label_propagation_seed_overrides_vote(spark):
    """A seeded node keeps its label even when every neighbour
    disagrees (the semi-supervised contract)."""
    from delta_lake_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("m1", "s"), ("m2", "s"), ("m3", "s")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("s", 1), ("m1", 9), ("m2", 9), ("m3", 9)],
        "node string, label long",
    )
    out = {
        r.node: r.label
        for r in label_propagation(edges, seeds, iterations=2).collect()
    }
    assert out["s"] == 1


def test_wav_spectral_probe_pure_tone_and_errors(spark):
    """A synthesized pure cosine at bin 3 must concentrate its energy
    there (mag ~ amplitude/2) with ~zero leakage into other bins; a
    too-short clip raises with the media id; parameters validate."""
    import math
    import struct

    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import wav_spectral_probe

    n, amp, k0 = 64, 10000, 3
    frames = b"".join(
        struct.pack("<h", round(amp * math.cos(2 * math.pi * k0 * i / n)))
        for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(frames))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(frames)) + frames
    )
    df = spark.createDataFrame([(1, bytearray(wav))], "media_id long, content binary")
    out = {r.bin: r.magnitude for r in wav_spectral_probe(df).collect()}
    assert abs(out[3] - amp / 2) < 1.0      # rounding of samples only
    assert out[1] < 20 and out[5] < 20 and out[7] < 20
    short = spark.createDataFrame(
        [(2, bytearray(wav[: len(wav) - 100]))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="media 2"):
        wav_spectral_probe(short).collect()
    with _pytest.raises(ValueError, match="n_samples"):
        wav_spectral_probe(df, n_samples=0)
    with _pytest.raises(ValueError, match="bins"):
        wav_spectral_probe(df, bins=())


def test_tfidf_cosine_pairs_weighting(spark):
    """A pair sharing one RARE passage must outscore a pair sharing
    the same amount of corpus-wide boilerplate (the weighted-vs-set
    distinction); identical docs hit cosine 1.0; hot terms above
    max_df leave the vector space."""
    import pytest as _pytest

    from delta_lake_spark.operators.dedup import tfidf_cosine_pairs

    boiler = "all rights reserved contact us today "
    rare = "zephyr quantum marmalade syzygy nebula "
    docs = spark.createDataFrame(
        [
            (1, (boiler * 3 + rare).strip()),
            (2, (boiler * 3 + "totally different closing words here").strip()),
            (3, (rare + "unrelated trailing content apple banana").strip()),
            (4, (boiler * 3).strip()),
            (5, (boiler * 3).strip()),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.a, r.b): r.cosine
        for r in tfidf_cosine_pairs(
            docs, "text", "doc_id", n=3, threshold=0.0, max_df=10
        ).collect()
    }
    assert out[(4, 5)] == 1.0                     # identical docs
    assert out[(1, 3)] > out[(1, 2)]              # rare beats boilerplate
    # with the boilerplate above max_df, docs 4/5 lose their whole
    # vector and the (4, 5) pair disappears
    capped = {
        (r.a, r.b)
        for r in tfidf_cosine_pairs(
            docs, "text", "doc_id", n=3, threshold=0.0, max_df=3
        ).collect()
    }
    assert (4, 5) not in capped
    assert (1, 3) in capped                       # the rare run survives
    with _pytest.raises(ValueError, match="max_df"):
        tfidf_cosine_pairs(docs, "text", "doc_id", max_df=0)


def test_gif_keyframes_shot_detection(spark):
    """A hand-built two-shot GIF (dark solid frames, then bright ones)
    must flag exactly frame 0 and the shot boundary; sub-threshold
    flicker is not a keyframe; threshold validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.multimodal import (
        gif_keyframes,
        tiny_gif_bytes,
    )

    # palette colors 0..3 have grays c*73 at seed 0 (tiny_gif_bytes
    # contract); explicit fills 0, 0, 2 -> deltas 0, 146
    gif = tiny_gif_bytes(
        [(0, 0, 3, 2)] * 3,
        seed=0,
        pixels=[[0] * 6, [0] * 6, [2] * 6],
    )
    df = spark.createDataFrame(
        [(1, bytearray(gif))], "media_id long, content binary"
    )
    rows = {r.frame_id: r for r in gif_keyframes(df, threshold=40.0).collect()}
    assert rows[0].is_keyframe and rows[0].delta == 0.0
    assert not rows[1].is_keyframe and rows[1].delta == 0.0
    assert rows[2].is_keyframe and abs(rows[2].delta - 146.0) < 1e-9
    with _pytest.raises(ValueError, match="threshold"):
        gif_keyframes(df, threshold=-1.0)


def test_hashed_text_embedding_properties(spark):
    """Identical texts embed identically (unit cosine), the vector is
    unit-norm, a doc with all-cancelling tokens stays all-zero, and
    the whole op is one exchange."""
    import math

    import pytest as _pytest

    from delta_lake_spark.operators.text import hashed_text_embedding

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "completely different words here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id: list(r.embedding) for r in
           hashed_text_embedding(docs, "text", "doc_id", dim=16).collect()}
    assert out[1] == out[2]
    assert abs(math.sqrt(sum(v * v for v in out[1])) - 1.0) < 1e-12
    dot13 = sum(a * b for a, b in zip(out[1], out[3]))
    assert abs(dot13) < 1.0  # different docs are not parallel
    plan = (
        hashed_text_embedding(docs, "text", "doc_id", dim=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1 and "EvalPython" not in plan
    with _pytest.raises(ValueError, match="dim"):
        hashed_text_embedding(docs, "text", "doc_id", dim=0)


def test_knn_label_transfer_vote_semantics(spark):
    """Majority of the k nearest labeled neighbors wins; vote ties
    break to the smallest label; k validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.similarity import knn_label_transfer

    # 2-d unit-ish vectors: query at (1, 0); labeled corpus has two
    # label-7 vectors very close, one label-3 close, others far
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.01], 7),
            (11, [1.0, -0.01], 7),
            (12, [1.0, 0.05], 3),
            (13, [0.0, 1.0], 0),
            (14, [-1.0, 0.0], 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = knn_label_transfer(corpus, q, k=3).collect()
    assert out[0].predicted == 7  # two 7-votes beat one 3-vote
    # k=4 pulls in label 0 -> votes 7:2, 3:1, 0:1 -> still 7
    assert knn_label_transfer(corpus, q, k=4).collect()[0].predicted == 7
    # tie construction: k=2 with one 7 and one 3 at equal count -> min
    tie_corpus = spark.createDataFrame(
        [(10, [1.0, 0.01], 7), (12, [1.0, -0.01], 3), (13, [0.0, 1.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    assert knn_label_transfer(tie_corpus, q, k=2).collect()[0].predicted == 3
    with _pytest.raises(ValueError, match="k must"):
        knn_label_transfer(corpus, q, k=0)


def test_standardize_embeddings_moments(spark):
    """Known 2-d corpus: z-scores match the population formula; a
    constant dimension standardizes to 0.0 instead of dividing by
    zero; dim validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.similarity import standardize_embeddings

    # dim 0: values 1, 3 -> mean 2, std 1 -> z -1, +1
    # dim 1: constant 5 -> z 0, 0
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: list(r.zscored) for r in
           standardize_embeddings(df, dim=2).collect()}
    assert abs(out[1][0] + 1.0) < 1e-12 and abs(out[2][0] - 1.0) < 1e-12
    assert out[1][1] == 0.0 and out[2][1] == 0.0
    with _pytest.raises(ValueError, match="dim"):
        standardize_embeddings(df, dim=0)


def test_containment_pairs_excerpt_detection(spark):
    """An excerpt lifted into a larger doc scores containment 1.0 in
    the excerpt->host direction only (jaccard would miss it); tiny
    inner docs are suppressed by min_shingles; validation."""
    import pytest as _pytest

    from delta_lake_spark.operators.dedup import containment_pairs

    excerpt = "the quick brown fox jumps over the lazy dog today"  # 10 words
    host = excerpt + " plus a lot of entirely unrelated framing text " \
        "around it that dilutes the jaccard similarity badly " * 2
    docs = spark.createDataFrame(
        [(1, excerpt), (2, host), (3, "short tiny doc"), (4, "short tiny doc")],
        "doc_id long, text string",
    )
    rows = {
        (r.inner_id, r.outer_id): r
        for r in containment_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8, min_shingles=5
        ).collect()
    }
    assert rows[(1, 2)].containment == 1.0   # excerpt contained in host
    assert (2, 1) not in rows                 # host not contained in excerpt
    assert (3, 4) not in rows and (4, 3) not in rows  # under min_shingles
    with _pytest.raises(ValueError, match="min_shingles"):
        containment_pairs(docs, "text", "doc_id", min_shingles=0)


def test_auc_score_known_values(spark):
    """AUC hits 1.0 for a perfect ranking, 0.0 for a perfectly wrong
    one, 0.5 with all scores tied, and applies the half-credit tie
    correction exactly."""
    from delta_lake_spark.operators.stats import auc_score

    def auc(rows):
        df = spark.createDataFrame(rows, "score double, pos boolean")
        return auc_score(df, "score", "pos").collect()[0]

    assert auc([(3.0, True), (2.0, True), (1.0, False)]).auc == 1.0
    assert auc([(3.0, False), (1.0, True)]).auc == 0.0
    r = auc([(1.0, True), (1.0, False), (1.0, True), (1.0, False)])
    assert r.auc == 0.5 and r.n_pos == 2 and r.n_neg == 2
    # one pos above, one tied with the neg: (1*1 + 0.5*1)/2 = 0.75
    assert auc([(2.0, True), (1.0, True), (1.0, False)]).auc == 0.75
    # single-class input: AUC is null, counts still reported
    r = auc([(1.0, True), (2.0, True)])
    assert r.auc is None and r.n_pos == 2 and r.n_neg == 0


def test_calibration_bins_edges_and_rates(spark):
    """Bin assignment clamps prob 1.0 into the last bin, pos_rate is
    the exact ratio, mean_prob is the nano-integer mean, empty bins
    are absent, n_bins validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.stats import calibration_bins

    rows = [
        (0.04, False), (0.06, True),       # bin 0 of 10: rate 0.5
        (0.55, True), (0.55, True),        # bin 5: rate 1.0
        (1.0, False),                      # clamps into bin 9
    ]
    df = spark.createDataFrame(rows, "prob double, pos boolean")
    out = {r.bin: r for r in calibration_bins(df, "prob", "pos", n_bins=10).collect()}
    assert set(out) == {0, 5, 9}
    assert out[0].pos_rate == 0.5 and out[0].mean_prob == 0.05
    assert out[5].pos_rate == 1.0 and out[5].mean_prob == 0.55
    assert out[9].n == 1 and out[9].pos_rate == 0.0
    with _pytest.raises(ValueError, match="n_bins"):
        calibration_bins(df, "prob", "pos", n_bins=0)


def test_threshold_sweep_confusion_cells(spark):
    """Known confusion table at two thresholds; null ratios for empty
    denominators; validation."""
    import pytest as _pytest

    from delta_lake_spark.operators.stats import threshold_sweep

    rows = [(0.9, True), (0.8, False), (0.4, True), (0.1, False)]
    df = spark.createDataFrame(rows, "prob double, pos boolean")
    out = {r.threshold: r for r in
           threshold_sweep(df, "prob", "pos", thresholds=(0.5, 0.95)).collect()}
    t = out[0.5]
    assert (t.tp, t.fp, t.fn, t.tn) == (1, 1, 1, 1)
    assert t.precision == 0.5 and t.recall == 0.5 and t.f1 == 0.5
    h = out[0.95]
    assert (h.tp, h.fp, h.fn, h.tn) == (0, 0, 2, 2)
    assert h.precision is None and h.recall == 0.0 and h.f1 == 0.0
    with _pytest.raises(ValueError, match="thresholds"):
        threshold_sweep(df, "prob", "pos", thresholds=())


def test_leakage_free_split_quarantine(spark):
    """A test candidate that near-duplicates a train doc is
    quarantined; a clean candidate stays test; train rows are never
    quarantined regardless of duplication."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.dedup import leakage_free_split

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (10, base),                       # candidate, dup of 11
            (11, base),                       # train twin
            (20, "totally novel heldout text about nothing shared"),
            (21, "regular train document with its own words"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.split
        for r in leakage_free_split(
            docs, "text", "doc_id", F.col("doc_id") % 10 == 0
        ).collect()
    }
    assert out[10] == "quarantined"
    assert out[20] == "test"
    assert out[11] == "train" and out[21] == "train"


def test_hourly_rate_anomalies_flags_spike(spark):
    """A spike hour flags with the right z; constant-rate types never
    flag (zero variance); threshold validates."""
    from datetime import datetime

    import pytest as _pytest

    from delta_lake_spark.operators.events import hourly_rate_anomalies

    rows = []
    # type 'a': hours 0-3 with counts 1,1,1,9 -> mean 3, var 12
    for h, c in enumerate([1, 1, 1, 9]):
        rows += [(datetime(2024, 1, 1, h, 5), "a")] * c
    # type 'b': constant 2 per hour -> zero variance, never flags
    for h in range(4):
        rows += [(datetime(2024, 1, 1, h, 5), "b")] * 2
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = hourly_rate_anomalies(df, z_threshold=1.5).collect()
    assert [r.event_type for r in out] == ["a"]
    assert out[0].n == 9
    assert abs(out[0].z - 6.0 / (12 ** 0.5)) < 1e-9
    with _pytest.raises(ValueError, match="z_threshold"):
        hourly_rate_anomalies(df, z_threshold=0)


def test_hourly_rate_anomalies_flags_collapsed_producer(spark):
    """A producer that stops emitting entirely must flag: the hour
    spine is densified over the corpus's observed window, so its empty
    hours become explicit n=0 rows and z-score against its own
    distribution (without the spine, zero-event hours are absent from
    the relation and a fully-collapsed producer could never appear)."""
    from datetime import datetime

    from delta_lake_spark.operators.events import hourly_rate_anomalies

    rows = []
    # type 'a': 4/hour for hours 0-6, then silence in hour 7
    for h in range(7):
        rows += [(datetime(2024, 1, 1, h, 5), "a")] * 4
    # type 'b': constant 3/hour across the full window 0-7 (defines
    # the observed span; zero variance so it never flags)
    for h in range(8):
        rows += [(datetime(2024, 1, 1, h, 5), "b")] * 3
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = hourly_rate_anomalies(df, z_threshold=2.0).collect()
    # dense 'a' counts: [4]*7 + [0] -> mean 3.5, var 1.75,
    # z(0) = -3.5/sqrt(1.75) ~= -2.6458; the seven 4-count hours sit
    # at z ~= 0.378 and stay quiet
    assert [(r.event_type, r.n) for r in out] == [("a", 0)]
    assert out[0].hour == datetime(2024, 1, 1, 7)
    assert abs(out[0].z - (-3.5 / 1.75 ** 0.5)) < 1e-9


def test_standardize_embeddings_enforces_dim(spark):
    """The advertised length-dim output is a hard contract: a ragged
    (or NULL) vector raises at execution time with the offending id
    instead of silently zip_with-ing null z-components."""
    import pytest as _pytest

    from delta_lake_spark.operators.similarity import (
        standardize_embeddings,
    )

    good = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 6.0])], "vec_id long, embedding array<double>"
    )
    assert standardize_embeddings(good, dim=2).count() == 2
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (7, [3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="expected dim=2"):
        standardize_embeddings(ragged, dim=2).collect()


def test_label_argmax_survives_long_min_label(spark):
    """The vote argmax negates the COUNT, never the label, so the full
    long label domain works — including Long.MIN_VALUE, which the old
    max(count, -label) trick would overflow on (silently wrapping to a
    wrong winner, or erroring under ANSI mode)."""
    from delta_lake_spark.operators.graph import label_propagation

    lmin = -(2**63)
    edges = spark.createDataFrame(
        [("s1", "x"), ("s1", "x"), ("s2", "x")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("s1", lmin), ("s2", 5)], "node string, label long"
    )
    got = {
        r.node: r.label
        for r in label_propagation(edges, seeds, iterations=1).collect()
    }
    # lmin wins 2 votes to 1; under wrapped negation -lmin == lmin
    # would have corrupted the (count, -label) ordering
    assert got["x"] == lmin


def test_personalized_pagerank_teleport(spark):
    """Teleport mass confines rank to the seed's reachable set, the
    driver and distributed strategies agree, mass is conserved, and an
    off-graph seed set raises."""
    import pytest as _pytest

    from delta_lake_spark.operators.graph import pagerank

    # two disconnected cycles; seed in the first one only
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    drv = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=4, strategy="driver", teleport=seeds
        ).collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            edges, iterations=4, strategy="distributed", teleport=seeds
        ).collect()
    }
    for v in drv:
        assert abs(drv[v] - dist[v]) < 1e-12, v
    assert drv["x"] == 0.0 and drv["y"] == 0.0  # unreachable component
    assert drv["a"] > drv["b"] > 0  # teleport favors the seed
    assert abs(sum(drv.values()) - 1.0) < 1e-9
    ghost = spark.createDataFrame([("zz",)], "node string")
    with _pytest.raises(ValueError, match="teleport seed"):
        pagerank(edges, strategy="driver", teleport=ghost)
    with _pytest.raises(ValueError, match="teleport seed"):
        pagerank(edges, strategy="distributed", teleport=ghost)


def test_auc_by_group_isolation(spark):
    """Each group's AUC is computed independently (a perfect group and
    an inverted group coexist); single-class groups report null."""
    from delta_lake_spark.operators.stats import auc_by_group

    rows = [
        ("good", 0.9, True), ("good", 0.1, False),
        ("bad", 0.9, False), ("bad", 0.1, True),
        ("mono", 0.5, True), ("mono", 0.6, True),
    ]
    df = spark.createDataFrame(rows, "src string, prob double, pos boolean")
    out = {r.src: r for r in auc_by_group(df, "prob", "pos", "src").collect()}
    assert out["good"].auc == 1.0
    assert out["bad"].auc == 0.0
    assert out["mono"].auc is None and out["mono"].n_pos == 2


def test_ngram_novelty_bounds(spark):
    """A fully-unique doc scores 1.0, an exact twin pair scores 0.0,
    and sub-n-word docs are omitted."""
    from delta_lake_spark.operators.text import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "one two three four five six seven"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(docs, "text", "doc_id", n=5).collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0 and out[3].novelty == 0.0
    assert 4 not in out


def test_pmi_collocations_favors_true_pairs(spark):
    """A word pair that always co-occurs outranks independent pairs;
    the support floor drops rare pairs; window and min_count
    validate."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import pmi_collocations

    # 'hong kong' always adjacent and exclusive; 'the'/'of' co-occur
    # just as often but are ubiquitous -> much lower PMI
    rows = [
        (i, f"hong kong the of filler{i % 7} the of filler{(i + 3) % 7}")
        for i in range(30)
    ] + [
        # 'the'/'of' occur WITHOUT hong kong too — that asymmetry is
        # what PMI rewards (a rigid template corpus is PMI-flat: every
        # pair count is proportional to its unigrams)
        (100 + i, f"the of filler{i % 7} the of the of filler{(i + 2) % 7}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rows2 = {
        (r.word_a, r.word_b): r
        for r in pmi_collocations(
            docs, "text", "doc_id", window=4, min_count=10, k=50
        ).collect()
    }
    hk = rows2[("hong", "kong")]
    assert hk.n_pair == 30
    assert all(hk.pmi >= r.pmi for r in rows2.values())
    # the ubiquitous fillers pair with everything -> strictly lower
    assert hk.pmi > rows2[("kong", "the")].pmi
    with _pytest.raises(ValueError, match="window"):
        pmi_collocations(docs, "text", "doc_id", window=0)
    with _pytest.raises(ValueError, match="min_count"):
        pmi_collocations(docs, "text", "doc_id", min_count=0)


def test_hamilton_allocation_exact_total(spark):
    """Quotas sum EXACTLY to the target, the largest remainder wins
    the extra slot, ties break lexically, and target validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.sampling import hamilton_allocation

    # counts 3, 3, 4 over target 10: exact quotas 3, 3, 4 -> no
    # remainder seats; over target 11: 3.3/3.3/4.4 floors 3+3+4=10,
    # one seat left, remainders .3/.3/.4 -> 'c' gets it
    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 3 + [("c",)] * 4, "src string"
    )
    q10 = {r.src: r.quota for r in hamilton_allocation(df, "src", 10).collect()}
    assert q10 == {"a": 3, "b": 3, "c": 4}
    q11 = {r.src: r.quota for r in hamilton_allocation(df, "src", 11).collect()}
    assert q11 == {"a": 3, "b": 3, "c": 5} and sum(q11.values()) == 11
    # remainder tie (counts 1, 1 over target 3): lexically smaller wins
    tie = spark.createDataFrame([("x",), ("y",)], "src string")
    q3 = {r.src: r.quota for r in hamilton_allocation(tie, "src", 3).collect()}
    assert q3 == {"x": 2, "y": 1}
    with _pytest.raises(ValueError, match="target"):
        hamilton_allocation(df, "src", -1)


def test_exact_substring_spans_semantics(spark):
    """Hand-computed maximal duplicated spans: cross-doc duplicates
    found, overlapping covered regions merged into one span, unique
    text never flagged, within-doc repeats count as duplicates, and
    k validates."""
    import pytest as _pytest

    from delta_lake_spark.operators.dedup import exact_substring_spans

    boiler = "the quick brown fox jumps"  # 5 tokens
    docs = spark.createDataFrame(
        [
            # docs 0/1 share a 6-token run -> both get spans of >= 5
            (0, f"alpha {boiler} gamma unique zero tail"),
            (1, f"beta {boiler} gamma other one text"),
            # doc 2: the 5-gram repeats INSIDE the doc (positions 1, 8)
            (2, f"{boiler} w x y {boiler} z"),
            # doc 3: fully unique
            (3, "totally different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.start_pos): (r.end_pos, r.n_tokens, r.n_grams)
        for r in exact_substring_spans(docs, "text", "doc_id", k=5).collect()
    }
    # docs 0/1: shared run is boiler+gamma (6 tokens at positions
    # 2..7): two duplicated 5-gram starts (2, 3) merge into one span
    assert spans[(0, 2)] == (8, 7, 2) or spans[(0, 2)] == (7, 6, 2), spans
    # within-doc repeat: two spans in doc 2 (starts 1 and 9)
    d2 = [k for k in spans if k[0] == 2]
    assert len(d2) == 2, spans
    assert not any(k[0] == 3 for k in spans)
    with _pytest.raises(ValueError, match="k must be"):
        exact_substring_spans(docs, "text", "doc_id", k=0)


def test_exact_substring_scrub_semantics(spark):
    """The scrub removes exactly the covered tokens and keeps every
    document in the output; a doc with no duplicated span hashes to
    its full token stream."""
    import hashlib

    from delta_lake_spark.operators.dedup import exact_substring_scrub

    boiler = "a b c d e"
    docs = spark.createDataFrame(
        [
            (0, f"x {boiler} y"),
            (1, f"z {boiler} w"),
            (2, "all original text with no duplicate run"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_hash)
        for r in exact_substring_scrub(docs, "text", "doc_id", k=5).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[0] == (7, 5, md5("x y"))
    assert out[1] == (7, 5, md5("z w"))
    assert out[2] == (7, 0, md5("all original text with no duplicate run"))


def test_blocklist_matches_semantics(spark):
    """Positional occurrence counting (overlaps count), multi-length
    phrases in one pass, absent phrases never hit, every doc in the
    output, DataFrame pattern input, empty patterns raise."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import blocklist_matches

    docs = spark.createDataFrame(
        [
            (0, "the bad phrase is here and the bad phrase repeats"),
            (1, "table table table clean text"),
            (2, "nothing objectionable at all"),
        ],
        "doc_id long, text string",
    )
    pats = ["the bad phrase", "table table", "never present phrase"]
    out = {
        r.doc_id: (r.n_matches, r.n_patterns, r.blocked)
        for r in blocklist_matches(docs, "text", "doc_id", pats).collect()
    }
    assert out[0] == (2, 1, True)
    # "table table table" contains TWO positional "table table" matches
    assert out[1] == (2, 1, True)
    assert out[2] == (0, 0, False)
    pdf = spark.createDataFrame([(p,) for p in pats], "pattern string")
    out2 = {
        r.doc_id: (r.n_matches, r.n_patterns, r.blocked)
        for r in blocklist_matches(docs, "text", "doc_id", pdf).collect()
    }
    assert out2 == out
    with _pytest.raises(ValueError, match="non-empty"):
        blocklist_matches(docs, "text", "doc_id", [])
    with _pytest.raises(ValueError, match="tokenizes to nothing"):
        blocklist_matches(docs, "text", "doc_id", ["  "])


def test_cohen_kappa_known_values(spark):
    """Perfect agreement = 1, independent raters ~ 0, constant raters
    (chance agreement 1) report NULL."""
    from delta_lake_spark.operators.stats import cohen_kappa

    perfect = spark.createDataFrame(
        [(True, True)] * 3 + [(False, False)] * 5, "a boolean, b boolean"
    )
    r = cohen_kappa(perfect, "a", "b").collect()[0]
    assert (r.n, r.n11, r.n00, r.kappa) == (8, 3, 5, 1.0)
    # balanced independence: every cell 2 -> po = 0.5 = pe -> kappa 0
    indep = spark.createDataFrame(
        [(True, True)] * 2
        + [(True, False)] * 2
        + [(False, True)] * 2
        + [(False, False)] * 2,
        "a boolean, b boolean",
    )
    assert cohen_kappa(indep, "a", "b").collect()[0].kappa == 0.0
    const = spark.createDataFrame(
        [(True, True)] * 4, "a boolean, b boolean"
    )
    assert cohen_kappa(const, "a", "b").collect()[0].kappa is None


def test_kneser_ney_hand_computed(spark):
    """KN probabilities on a corpus small enough to do by hand:
    'a b a b a c' -> c(a,b)=2, c(b,a)=2, c(a,c)=1; cv(a)=3, cv(b)=2;
    N1+(a,.)=2, N1+(b,.)=1; N1+(.,b)=N1+(.,a)=N1+(.,c)=1; N1+(..)=3.
    P(b|a) = 1.25/3 + (1.5/3)(1/3) = 0.583..., P(a|b) = 0.75,
    P(c|a) = 0.25; the doc's surprise bigram is 'a c'."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import (
        kneser_ney_bigram_model,
        kneser_ney_surprise,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b a c")], "doc_id long, text string"
    )
    got = {
        (r.v, r.w): (r.c_vw, round(r.p_kn, 9))
        for r in kneser_ney_bigram_model(docs, "text").collect()
    }
    assert got[("a", "b")] == (2, round(1.25 / 3 + (0.75 * 2 / 3) * (1 / 3), 9))
    assert got[("b", "a")] == (2, 0.75)
    assert got[("a", "c")] == (1, 0.25)
    s = kneser_ney_surprise(docs, "text", "doc_id").collect()[0]
    assert (s.n_bigrams, s.min_p, s.argmin_bigram) == (5, 0.25, "a c")
    # a one-token doc reports zero bigrams and NULLs
    short = spark.createDataFrame(
        [(0, "a b a b a c"), (1, "solo")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.n_bigrams, r.min_p, r.argmin_bigram)
        for r in kneser_ney_surprise(short, "text", "doc_id").collect()
    }
    assert rows[1] == (0, None, None)
    with _pytest.raises(ValueError, match="discount"):
        kneser_ney_bigram_model(docs, "text", discount=1.5)


def test_robust_group_stats_hand_computed(spark):
    """Exact median/MAD on a hand-checkable group: values
    [1,2,3,4,100] -> median 3, deviations [2,1,0,1,97] -> MAD 1,
    outliers |v-3| > 3*1 -> only 100. Even-count group averages the
    two middle order statistics exactly."""
    import pytest as _pytest

    from delta_lake_spark.operators.stats import robust_group_stats

    df = spark.createDataFrame(
        [("a", v) for v in [1, 2, 3, 4, 100]]
        + [("b", v) for v in [10, 20, 30, 40]],
        "g string, v long",
    )
    out = {
        r.g: (r.n, r.median, r.mad, r.n_outliers)
        for r in robust_group_stats(df, "g", "v", k=3.0).collect()
    }
    assert out["a"] == (5, 3.0, 1.0, 1)
    # b: median (20+30)/2 = 25, deviations [15,5,5,15] -> MAD (5+15)/2=10
    assert out["b"] == (4, 25.0, 10.0, 0)
    with _pytest.raises(ValueError, match="k must be"):
        robust_group_stats(df, "g", "v", k=0)


def test_rouge_n_recall_pairs_semantics(spark):
    """Multiset ROUGE-2 by hand: identical docs recall 1; the overlap
    uses MIN of counts (a bigram repeated 3x in the candidate but 1x
    in the reference contributes 1); zero-overlap pairs appear with
    rouge 0; a reference shorter than n reports NULL."""
    import pytest as _pytest

    from delta_lake_spark.operators.text import rouge_n_recall_pairs

    docs = spark.createDataFrame(
        [
            (0, "a b c a b"),       # bigrams: ab bc ca ab -> {ab:2, bc:1, ca:1}
            (1, "a b c a b"),       # identical
            (2, "a b a b a b"),     # {ab:3, ba:2}
            (3, "x y z"),           # disjoint from doc 0
            (4, "solo"),            # < 2 tokens: no grams
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 0)], "id_1 long, id_2 long"
    )
    out = {
        (r.id_1, r.id_2): (r.overlap, r.ref_grams, r.rouge)
        for r in rouge_n_recall_pairs(docs, pairs, "text", "doc_id").collect()
    }
    assert out[(0, 1)] == (4, 4, 1.0)
    # doc0 vs doc2: shared bigram 'a b' -> min(2, 3) = 2 of 4 ref grams
    assert out[(0, 2)] == (2, 4, 0.5)
    assert out[(0, 3)] == (0, 4, 0.0)
    assert out[(4, 0)] == (0, 0, None)
    with _pytest.raises(ValueError, match="n must be"):
        rouge_n_recall_pairs(docs, pairs, "text", "doc_id", n=0)


def test_substring_index_lifecycle(spark, tmp_path):
    """Persistent gram index: incremental update must equal a
    from-scratch rebuild (and replays be no-ops); the on-arrival probe
    must equal batch-mode exact_substring_spans over batch+corpus
    restricted to batch docs; GDPR delete scrubs both tables
    idempotently and removes the deleted doc's contribution."""
    from delta_lake_spark.operators.dedup import (
        _substring_tables,
        build_substring_index,
        delete_from_substring_index,
        exact_substring_spans,
        spans_against_index,
        update_substring_index,
    )
    from delta_lake_spark.reader import read_delta

    boiler = "alpha beta gamma delta epsilon"
    day1 = [
        (1, f"one {boiler} tail text here"),
        (2, "totally unrelated words in this document body"),
    ]
    day2 = [(10, f"ten {boiler} other suffix words")]
    batch = [
        (100, f"hundred {boiler} closing run"),   # hits corpus boiler
        (101, "nothing shared with anything at all okay"),
        (102, "repeat me now ok fine repeat me now ok fine"),  # self-dup
    ]
    df1 = spark.createDataFrame(day1, "doc_id long, text string")
    df2 = spark.createDataFrame(day2, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")

    inc = str(tmp_path / "inc")
    build_substring_index(df1, "text", "doc_id", inc, k=5)
    update_substring_index(df2, "text", "doc_id", inc)
    update_substring_index(df2, "text", "doc_id", inc)  # replay no-op
    full = str(tmp_path / "full")
    build_substring_index(df1.union(df2), "text", "doc_id", full, k=5)
    get = lambda p, t: sorted(
        tuple(r) for r in read_delta(spark, _substring_tables(p)[t]).collect()
    )
    assert get(inc, 0) == get(full, 0)
    assert get(inc, 1) == get(full, 1)

    got = sorted(
        tuple(r)
        for r in spans_against_index(bdf, "text", "doc_id", inc).collect()
    )
    # reference: batch-mode spans over batch+corpus, batch docs only
    ref = sorted(
        tuple(r)
        for r in exact_substring_spans(
            bdf.union(df1).union(df2), "text", "doc_id", k=5
        )
        .filter("doc_id >= 100")
        .collect()
    )
    assert got == ref and any(r[0] == 100 for r in got)
    assert any(r[0] == 102 for r in got)  # within-batch self-dup found
    assert not any(r[0] == 101 for r in got)

    # GDPR: delete every boiler-carrying corpus doc; the batch doc that
    # only matched the corpus no longer spans, the self-dup still does
    doomed = spark.createDataFrame([(1,), (10,)], "doc_id long")
    delete_from_substring_index(doomed, inc)
    delete_from_substring_index(doomed, inc)  # replay no-op
    for t in (0, 1):
        assert not [r for r in get(inc, t) if r[0] in (1, 10)]
    after = sorted(
        tuple(r)
        for r in spans_against_index(bdf, "text", "doc_id", inc).collect()
    )
    assert not any(r[0] == 100 for r in after)
    assert any(r[0] == 102 for r in after)


def test_substring_index_cdf_sync(spark, tmp_path):
    """CDF-driven repair: append + delete on the corpus table flow
    into the index through sync_substring_index_from_cdf, after which
    the index equals a from-scratch rebuild of the current corpus;
    a second sync is a no-op (version pin)."""
    from delta_lake_spark.operators.dedup import (
        _substring_tables,
        build_substring_index,
        sync_substring_index_from_cdf,
    )
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    corpus = str(tmp_path / "corpus")
    df1 = spark.createDataFrame(
        [(i, f"doc number {i} alpha beta gamma delta epsilon zeta")
         for i in range(8)],
        "doc_id long, text string",
    )
    write_delta(df1, corpus)
    idx = str(tmp_path / "idx")
    build_substring_index(
        read_delta(spark, corpus), "text", "doc_id", idx, k=5,
        corpus_version=DeltaLog(corpus).latest_version(),
    )
    # day 2: append 3 docs, GDPR-delete doc 2
    write_delta(
        spark.createDataFrame(
            [(100 + i, f"new arrival {i} eta theta iota kappa lambda mu")
             for i in range(3)],
            "doc_id long, text string",
        ),
        corpus,
        mode="append",
    )
    DeltaTable.forPath(spark, corpus).delete("doc_id = 2")
    n = sync_substring_index_from_cdf(spark, corpus, idx)
    assert n == 4  # 3 inserts + 1 delete
    assert sync_substring_index_from_cdf(spark, corpus, idx) == 0
    rebuilt = str(tmp_path / "rebuilt")
    build_substring_index(
        read_delta(spark, corpus), "text", "doc_id", rebuilt, k=5
    )
    get = lambda p, t: sorted(
        tuple(r) for r in read_delta(spark, _substring_tables(p)[t]).collect()
    )
    assert get(idx, 0) == get(rebuilt, 0)
    assert get(idx, 1) == get(rebuilt, 1)


def _index_family(name):
    """(build(corpus, index_path), sync(spark, corpus_path, index_path),
    primary table, property prefix) of one persistent index family."""
    from delta_lake_spark.operators import dedup, similarity, text

    if name == "pq":
        return (
            lambda c, i: similarity.build_pq_index(
                c, i, n_cells=2, m=4, k_codes=4, id_col="doc_id", dim=16
            ),
            lambda s, p, i: similarity.sync_pq_index_from_cdf(
                s, p, i, id_col="doc_id"
            ),
            "codes",
            similarity._PQ_PROP,
        )
    mod, kw, primary, prefix = {
        "signature": (dedup, {"max_doc_freq": None}, "buckets", dedup._IDX_PROP),
        "winnow": (dedup, {}, "fps", dedup._WIN_PROP),
        "substring": (dedup, {"k": 5}, "grams", dedup._SUB_PROP),
        "text": (text, {}, "postings", text._TXT_PROP),
    }[name]
    build = getattr(mod, f"build_{name}_index")
    return (
        lambda c, i: build(c, "text", "doc_id", i, **kw),
        getattr(mod, f"sync_{name}_index_from_cdf"),
        primary,
        prefix,
    )


@pytest.mark.parametrize(
    "family", ["signature", "winnow", "substring", "text", "pq"]
)
def test_index_sync_contract(spark, tmp_path, family):
    """Every persistent index syncs the same way: build at v0; append,
    update and delete in the corpus; one sync re-indexes exactly the
    touched ids, a replay is a no-op, the pin reaches the corpus head,
    and the primary table holds exactly the live corpus ids."""
    from delta_lake_spark.log import DeltaLog
    from delta_lake_spark.operators._index import pinned
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    build, sync, primary, prefix = _index_family(family)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def rows(ids, tag):
        return spark.createDataFrame(
            [
                (
                    i,
                    f"{tag} {i} " + " ".join(words[i % 10:] + words[: i % 10]),
                    [float((i * 7 + j) % 5) for j in range(16)],
                )
                for i in ids
            ],
            "doc_id long, text string, embedding array<double>",
        )

    corpus = str(tmp_path / "corpus")
    write_delta(rows(range(8), "doc"), corpus)  # v0
    idx = str(tmp_path / "idx")
    build(read_delta(spark, corpus), idx)
    write_delta(rows(range(100, 103), "new"), corpus, mode="append")  # v1
    table = DeltaTable.forPath(spark, corpus)
    table.update(
        "doc_id = 1",
        {"text": "'one rewritten with entirely different words in it now'"},
    )  # v2
    table.delete("doc_id = 2")  # v3

    assert sync(spark, corpus, idx) == 5  # 3 appended, 1 updated, 1 deleted
    assert sync(spark, corpus, idx) == 0
    assert (
        pinned(f"{idx}/{primary}", prefix)["syncedVersion"]
        == DeltaLog(corpus).latest_version()
    )
    live = {r.doc_id for r in read_delta(spark, corpus).collect()}
    indexed = {
        r.doc_id
        for r in read_delta(spark, f"{idx}/{primary}")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert indexed == live


def test_index_sync_reindexes_the_version_it_pins(spark, tmp_path, monkeypatch):
    """A commit that lands while a sync runs is left to the next sync:
    the first sync indexes the touched doc's text as of the version it
    pins, not whatever is latest when it re-reads the corpus, and the
    second sync picks the competitor's change up."""
    import delta_lake_spark.cdf as cdf
    from delta_lake_spark.operators.text import (
        _text_index_tables,
        build_text_index,
        sync_text_index_from_cdf,
    )
    from delta_lake_spark.reader import read_delta
    from delta_lake_spark.table import DeltaTable
    from delta_lake_spark.writer import write_delta

    corpus = str(tmp_path / "corpus")
    write_delta(
        spark.createDataFrame(
            [(i, f"alpha doc {i}") for i in range(4)],
            "doc_id long, text string",
        ),
        corpus,
    )  # v0
    idx = str(tmp_path / "idx")
    build_text_index(read_delta(spark, corpus), "text", "doc_id", idx)
    table = DeltaTable.forPath(spark, corpus)
    table.update("doc_id = 1", {"text": "'bravo pinned'"})  # v1

    real = cdf.table_changes
    raced = []

    def racing(*args, **kwargs):
        changes = real(*args, **kwargs)
        if not raced:  # the competitor commits v2 once, mid-sync
            raced.append(True)
            table.update("doc_id = 1", {"text": "'charlie competitor'"})
        return changes

    monkeypatch.setattr(cdf, "table_changes", racing)
    postings = _text_index_tables(idx)[0]

    def terms():
        return {
            r.term
            for r in read_delta(spark, postings).filter("doc_id = 1").collect()
        }

    assert sync_text_index_from_cdf(spark, corpus, idx) == 1
    assert terms() == {"bravo", "pinned"}
    assert sync_text_index_from_cdf(spark, corpus, idx) == 1
    assert terms() == {"charlie", "competitor"}


def test_mixture_plan_arithmetic(spark):
    """Integer plan arithmetic by hand: budget 1000, weights in milli;
    a source whose target exceeds its inventory reports rate > 1e6 and
    the matching epoch ceiling; dict and column weight inputs agree;
    empty sources report NULLs."""
    import pytest as _pytest

    from delta_lake_spark.operators.sampling import mixture_plan

    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 50), ("c", 0)],
        "src string, toks long",
    )
    out = {
        r.src: (
            r.available_tokens,
            r.target_tokens,
            r.sample_rate_micro,
            r.epochs,
        )
        for r in mixture_plan(
            df, "src", {"a": 600, "b": 300, "c": 100}, "toks", budget=1000
        ).collect()
    }
    # a: 200 avail, target 600 -> rate 3e6, epochs 3
    assert out["a"] == (200, 600, 3_000_000, 3)
    # b: 50 avail, target 300 -> rate 6e6, epochs 6
    assert out["b"] == (50, 300, 6_000_000, 6)
    # c: zero inventory -> NULL rate/epochs
    assert out["c"] == (0, 100, None, None)
    dfw = df.withColumn(
        "w",
        F.when(F.col("src") == "a", 600)
        .when(F.col("src") == "b", 300)
        .otherwise(100),
    )
    out2 = {
        r.src: (
            r.available_tokens,
            r.target_tokens,
            r.sample_rate_micro,
            r.epochs,
        )
        for r in mixture_plan(dfw, "src", "w", "toks", budget=1000).collect()
    }
    assert out2 == out
    with _pytest.raises(ValueError, match="budget"):
        mixture_plan(df, "src", "w", "toks", budget=-1)


def test_ols_fit_known_values(spark):
    """Exact line y = 3x + 2 -> slope 3, intercept 2, r2 = corr = 1;
    a noisy group matches numpy's closed form; degenerate groups
    report NULLs."""
    from delta_lake_spark.operators.stats import ols_fit

    rows = [("a", x, 3 * x + 2) for x in (1, 2, 3, 4)]
    rows += [("b", x, y) for x, y in ((1, 2), (2, 1), (3, 5), (4, 3))]
    rows += [("cx", 7, y) for y in (1, 2, 3)]   # constant x
    rows += [("cy", x, 9) for x in (1, 2, 3)]   # constant y
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r for r in ols_fit(df, "g", "x", "y").collect()}
    assert got["a"].slope == 3.0 and got["a"].intercept == 2.0
    assert got["a"].r2 == 1.0 and got["a"].corr == 1.0
    import numpy as np

    xs, ys = np.array([1, 2, 3, 4.0]), np.array([2, 1, 5, 3.0])
    sl, ic = np.polyfit(xs, ys, 1)
    assert abs(got["b"].slope - sl) < 1e-9
    assert abs(got["b"].intercept - ic) < 1e-9
    cc = np.corrcoef(xs, ys)[0, 1]
    assert abs(got["b"].corr - cc) < 1e-9
    assert abs(got["b"].r2 - cc * cc) < 1e-9
    assert got["cx"].slope is None and got["cx"].r2 is None
    assert got["cy"].slope == 0.0  # flat line fits exactly...
    assert got["cy"].r2 is None    # ...but explains no variance
    # ONE group-keyed exchange, no window
    plan = (
        ols_fit(df, "g", "x", "y")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Window" not in plan


def test_misra_gries_exact_output_and_bounds(spark):
    """Output must EQUAL the plain >= N/k threshold set regardless of
    partitioning (the sketch only nominates; verification is exact),
    and the candidate bound must raise rather than truncate."""
    import random

    import pytest as _pytest

    from delta_lake_spark.operators.sketches import misra_gries_heavy_hitters

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(40)]
    weights = [40 - i for i in range(40)]
    texts = [
        " ".join(rng.choices(vocab, weights=weights, k=rng.randint(5, 30)))
        for _ in range(60)
    ]
    for nparts in (1, 7):
        df = spark.createDataFrame(
            [(t,) for t in texts], "text string"
        ).repartition(nparts)
        k = 25
        got = {
            (r.token, r.cnt)
            for r in misra_gries_heavy_hitters(df, "text", k=k).collect()
        }
        counts: dict = {}
        for t in texts:
            for w in t.lower().split():
                counts[w] = counts.get(w, 0) + 1
        n = sum(counts.values())
        expect = {(t, c) for t, c in counts.items() if c * k >= n}
        assert got == expect, f"nparts={nparts}"
    with _pytest.raises(ValueError, match="max_candidates"):
        misra_gries_heavy_hitters(df, "text", k=25, max_candidates=2)
    with _pytest.raises(ValueError, match="k must be"):
        misra_gries_heavy_hitters(df, "text", k=0)


def test_chi2_keywords_distinctive_not_frequent(spark):
    """A token concentrated in one group must outrank a globally
    common one; anti-keywords (under-represented tokens) never
    appear; chi2 matches the scipy-free hand formula."""
    from delta_lake_spark.operators.text import chi2_keywords

    rows = [("g1", "common common special special special")] * 3
    rows += [("g2", "common common common other other")] * 3
    df = spark.createDataFrame(rows, "src string, text string")
    got = chi2_keywords(df, "text", "src", top_k=2).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.src, []).append(r)
    assert by_g["g1"][0].token == "special"
    assert by_g["g2"][0].token == "other"
    # 'common' is positively associated with g2 (9/15 vs 6/15 share)
    assert [r.token for r in by_g["g2"]] == ["other", "common"]
    assert all(r.token != "common" for r in by_g["g1"])
    # hand check: special in g1: a=9, ct=9, ng=15, n=30
    a, ct, ng, n = 9.0, 9.0, 15.0, 30.0
    b, c = ct - a, ng - a
    d = n - ct - c
    chi2 = n * (a * d - b * c) ** 2 / (ct * (n - ct) * ng * (n - ng))
    assert abs(by_g["g1"][0].chi2 - chi2) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError, match="top_k"):
        chi2_keywords(df, "text", "src", top_k=0)


def test_kfold_assign_stability_and_balance(spark):
    from delta_lake_spark.operators.sampling import kfold_assign

    df = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    )
    a = {r.doc_id: r.fold for r in kfold_assign(df, "doc_id").collect()}
    b = {
        r.doc_id: r.fold
        for r in kfold_assign(df.repartition(7), "doc_id").collect()
    }
    assert a == b  # partitioning-independent
    assert set(a.values()) == {0, 1, 2, 3, 4}
    sizes = [list(a.values()).count(f) for f in range(5)]
    assert min(sizes) > 40  # hash-uniform, not degenerate
    # seed changes the assignment
    c = {
        r.doc_id: r.fold
        for r in kfold_assign(df, "doc_id", seed="other").collect()
    }
    assert c != a
    plan = kfold_assign(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_folds"):
        kfold_assign(df, "doc_id", n_folds=1)


def test_edit_distance_pairs_semantics(spark):
    from delta_lake_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy")),      # 1 char edit
        (3, base + " extra tail words here"),   # shared min-shingle likely
        (4, "completely different content with no overlap at all ok"),
        (5, "short doc"),                       # < k words
        (6, "short doc"),                       # exact short dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.lev, r.sim_milli)
        for r in edit_distance_pairs(
            df, "text", "doc_id", k=5, min_sim_milli=300
        ).collect()
    }
    assert got[(1, 2)][0] == 1  # single substitution
    assert got[(1, 2)][1] == 1000 - (1000 * 1) // len(base)
    assert got[(5, 6)] == (0, 1000)  # short exact dup still pairs
    assert all(4 not in p for p in got)  # dissimilar doc never pairs
    # threshold actually filters
    strict = edit_distance_pairs(
        df, "text", "doc_id", k=5, min_sim_milli=1000
    ).collect()
    assert {(r.id_a, r.id_b) for r in strict} == {(5, 6)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_sim_milli"):
        edit_distance_pairs(df, "text", "doc_id", min_sim_milli=1001)
    with _pytest.raises(ValueError, match="k must be"):
        edit_distance_pairs(df, "text", "doc_id", k=0)
    # no cartesian product: the join is bucket-keyed
    plan = (
        edit_distance_pairs(df, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trimmed_mean_hand_computed(spark):
    from delta_lake_spark.operators.stats import trimmed_mean

    # g: values 0..9 plus outlier 1000 -> n=11, trim=1 each side
    rows = [("g", v) for v in list(range(10)) + [1000]]
    rows += [("h", 5)]  # singleton: trim 0, mean 5
    df = spark.createDataFrame(rows, "src string, v long")
    got = {r.src: r for r in trimmed_mean(df, "src", "v", 100).collect()}
    assert got["g"].n == 11 and got["g"].n_trim_each == 1
    assert got["g"].mean_trimmed == sum(range(1, 10)) / 9
    assert abs(got["g"].mean_all - (sum(range(10)) + 1000) / 11) < 1e-9
    assert got["h"].mean_trimmed == 5.0 and got["h"].n_trim_each == 0
    # heavy trim that empties a group -> NULL
    tiny = spark.createDataFrame([("t", 1), ("t", 2)], "src string, v long")
    r = trimmed_mean(tiny, "src", "v", 999).collect()[0]
    assert r.mean_trimmed is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="trim_milli"):
        trimmed_mean(df, "src", "v", 1000)


def test_fleiss_kappa_known_values(spark):
    from delta_lake_spark.operators.stats import fleiss_kappa

    # perfect agreement -> kappa 1
    rows = [(s, "yes") for s in range(4) for _ in range(3)]
    df = spark.createDataFrame(rows, "s long, c string")
    # all-one-category is chance agreement 1 -> NULL
    assert fleiss_kappa(df, "s", "c").collect()[0].kappa is None
    rows = [(s, "yes" if s % 2 else "no") for s in range(4) for _ in range(3)]
    df = spark.createDataFrame(rows, "s long, c string")
    r = fleiss_kappa(df, "s", "c").collect()[0]
    assert r.kappa == 1.0 and r.n_subjects == 4 and r.n_raters == 3
    # textbook check vs the statsmodels-style reference formula
    import random

    rng = random.Random(3)
    ratings = [
        (s, rng.choice(["a", "b", "c"])) for s in range(20) for _ in range(4)
    ]
    df = spark.createDataFrame(ratings, "s long, c string")
    got = fleiss_kappa(df, "s", "c").collect()[0].kappa
    from collections import Counter

    n, r = 20, 4
    cells = Counter(ratings)
    per_subj = {}
    for (s, c), k in cells.items():
        per_subj.setdefault(s, []).append(k)
    A = sum(k * k for ks in per_subj.values() for k in ks)
    pbar = (A - n * r) / (n * r * (r - 1))
    marg = Counter()
    for (s, c), k in cells.items():
        marg[c] += k
    pe = sum((m / (n * r)) ** 2 for m in marg.values())
    expect = (pbar - pe) / (1 - pe)
    assert abs(got - expect) < 1e-8
    # unbalanced rating counts raise
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], "s long, c string"
    )
    with _pytest.raises(ValueError, match="same rating count"):
        fleiss_kappa(bad, "s", "c")


def test_hash_ring_negatives_reference_and_plan(spark):
    import hashlib

    from delta_lake_spark.operators.sampling import hash_ring_negatives

    ids = list(range(50))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    res = hash_ring_negatives(df, "doc_id", n_neg=3, seed="t")
    got = {(r.doc_id, r.neg_idx): r.doc_id_neg for r in res.collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    ring = sorted((md5(f"ring-t{i}"), i) for i in ids)

    def succ(p):
        for h, i in ring:
            if h >= p:
                return i
        return ring[0][1]

    expect = {}
    for a in ids:
        for j in (1, 2, 3):
            n = succ(md5(f"t|{a}|{j}"))
            if n != a:
                expect[(a, j)] = n
    assert got == expect
    # partitioning-independent
    got2 = {
        (r.doc_id, r.neg_idx): r.doc_id_neg
        for r in hash_ring_negatives(
            df.repartition(9), "doc_id", n_neg=3, seed="t"
        ).collect()
    }
    assert got2 == expect
    # the successor window is bucket-keyed, never single-partition
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0] \
        or "__bkt" in plan
    assert "Exchange hashpartitioning(__bkt" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_neg"):
        hash_ring_negatives(df, "doc_id", n_neg=0)
    with _pytest.raises(ValueError, match="bucket_hex"):
        hash_ring_negatives(df, "doc_id", bucket_hex=0)


def test_triangle_count_known_graph(spark):
    from delta_lake_spark.operators.graph import triangle_count

    # K4 on {a,b,c,d} (4 triangles, each node in 3) plus a pendant
    # edge and a duplicate/self-loop that must be ignored
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("d", "e"), ("b", "a"), ("a", "a"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # triangle-free graph -> empty
    path = spark.createDataFrame(
        [("x", "y"), ("y", "z")], "src string, dst string"
    )
    assert triangle_count(path).collect() == []
    # per-node counts sum to 3 * n_triangles on a random graph
    import itertools
    import random

    rng = random.Random(9)
    nodes = [f"n{i}" for i in range(12)]
    redges = [
        (u, v) for u, v in itertools.combinations(nodes, 2)
        if rng.random() < 0.4
    ]
    rdf = spark.createDataFrame(redges, "src string, dst string")
    per_node = {r.node: r.triangles for r in triangle_count(rdf).collect()}
    eset = {frozenset(e) for e in redges}
    ref = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            frozenset((a, b)) in eset
            and frozenset((b, c)) in eset
            and frozenset((a, c)) in eset
        ):
            for n in (a, b, c):
                ref[n] = ref.get(n, 0) + 1
    assert per_node == ref


def test_decayed_event_rates_fixed_point(spark):
    import datetime

    from delta_lake_spark.operators.events import decayed_event_rates

    d0 = datetime.datetime(2026, 1, 31, 12, 0, 0)
    rows = [
        ("click", d0),                                   # age 0 -> 2^4
        ("click", d0 - datetime.timedelta(days=7)),      # 1 hl -> 2^3
        ("click", d0 - datetime.timedelta(days=14)),     # 2 hl -> 2^2
        ("click", d0 - datetime.timedelta(days=400)),    # beyond horizon
        ("view", d0 - datetime.timedelta(days=3)),       # 0 hl -> 2^4
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {
        r.event_type: r
        for r in decayed_event_rates(
            df, "event_type", "ts", half_life_days=7, horizon_halflives=4
        ).collect()
    }
    assert got["click"].score_fixed == 16 + 8 + 4 + 0
    assert got["click"].n_events == 4
    assert got["click"].score == 28 / 16
    assert got["view"].score_fixed == 16 and got["view"].score == 1.0
    # partition-invariant (the whole point of fixed point)
    got7 = {
        r.event_type: r.score_fixed
        for r in decayed_event_rates(
            df.repartition(7), "event_type", "ts",
            half_life_days=7, horizon_halflives=4,
        ).collect()
    }
    assert got7 == {k: v.score_fixed for k, v in got.items()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="half_life_days"):
        decayed_event_rates(df, "event_type", "ts", half_life_days=0)
    with _pytest.raises(ValueError, match="horizon"):
        decayed_event_rates(df, "event_type", "ts", horizon_halflives=63)
    # exceeding the fixed-point capacity fails loudly, never wraps:
    # two age-0 events at horizon 62 sum to 2^63 > 2^63-1
    over = spark.createDataFrame(
        [("click", d0), ("click", d0)], "event_type string, ts timestamp"
    )
    with _pytest.raises(Exception, match="fixed-point sum exceeds"):
        decayed_event_rates(
            over, "event_type", "ts", half_life_days=7, horizon_halflives=62
        ).collect()


def test_tar_member_walk_roundtrip_and_malformed(spark):
    import hashlib

    from delta_lake_spark.operators.multimodal import (
        decode_tar_members,
        synthesize_tar_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = decode_tar_members(synthesize_tar_corpus(docs)).collect()
    got = {(r.media_id, r.member_idx): r for r in out}
    for mid in range(8):
        for i in range(1 + mid % 4):
            r = got[(mid, i)]
            size = 10 + (mid * 7 + i * 13) % 50
            body = chr(97 + (mid + i) % 26).encode() * size
            assert r.name == f"m{mid}_{i}.txt"
            assert r.size == size
            assert r.content_md5 == hashlib.md5(body).hexdigest()
    assert len(out) == sum(1 + m % 4 for m in range(8))
    # malformed payload raises with the media id
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(99, b"definitely not a tar archive" * 20)],
        "media_id long, payload binary",
    )
    with _pytest.raises(Exception, match="media_id=99"):
        decode_tar_members(bad).collect()
    # plan: both stages map-only (no exchange between synth and walk)
    plan = (
        decode_tar_members(synthesize_tar_corpus(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_mp4_track_walk_roundtrip_and_malformed(spark):
    from delta_lake_spark.operators.multimodal import (
        _mp4_track_params,
        decode_mp4_tracks,
        synthesize_mp4_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    out = decode_mp4_tracks(synthesize_mp4_corpus(docs)).collect()
    assert len(out) == sum(1 + i % 3 for i in range(9))
    for r in out:
        p = _mp4_track_params(r.media_id, r.track_idx)
        assert (r.handler, r.codec) == (p["handler"], p["codec"])
        assert r.track_id == r.track_idx + 1
        assert r.timescale == p["timescale"]
        assert r.n_samples == p["n_samples"]
        assert r.duration == p["n_samples"] * p["delta"]
        assert r.sample_bytes == sum(p["sizes"])
        if p["key_step"] is None:
            assert r.n_keyframes is None and r.first_keyframe is None
        else:
            k = p["key_step"]
            assert r.n_keyframes == (p["n_samples"] + k - 1) // k
            assert r.first_keyframe == 1
            assert r.last_keyframe == 1 + k * ((p["n_samples"] - 1) // k)
    import pytest as _pytest

    # garbage payload raises with the media id
    bad = spark.createDataFrame(
        [(99, b"definitely not an mp4" * 10)], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=99"):
        decode_mp4_tracks(bad).collect()
    # a valid file with its mdat sliced out (spliced metadata) must
    # fail the stco-offset-in-mdat validation, not parse quietly
    one = synthesize_mp4_corpus(
        spark.createDataFrame([(3,)], "doc_id long")
    ).collect()[0]
    buf = bytes(one.payload)
    import struct as _struct

    ftyp_len = _struct.unpack_from(">I", buf, 0)[0]
    mdat_len = _struct.unpack_from(">I", buf, ftyp_len)[0]
    spliced = buf[:ftyp_len] + buf[ftyp_len + mdat_len:]
    bad2 = spark.createDataFrame(
        [(3, spliced)], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=3"):
        decode_mp4_tracks(bad2).collect()
    # plan: both stages map-only (no exchange between synth and walk)
    plan = (
        decode_mp4_tracks(synthesize_mp4_corpus(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_keyframe_sampling_plan_semantics(spark):
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.multimodal import (
        decode_mp4_tracks,
        keyframe_sampling_plan,
        synthesize_mp4_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    tracks = decode_mp4_tracks(synthesize_mp4_corpus(docs))
    plan = keyframe_sampling_plan(tracks, n_slots=4).collect()
    vids = {
        (r.media_id, r.track_idx): r
        for r in tracks.filter(F.col("n_keyframes").isNotNull()).collect()
    }
    # audio tracks contribute nothing; every video track appears
    assert {(r.media_id, r.track_idx) for r in plan} == set(vids)
    by_track = {}
    for r in plan:
        by_track.setdefault((r.media_id, r.track_idx), []).append(r)
    for key, rows in by_track.items():
        t = vids[key]
        assert len(rows) == min(4, t.n_keyframes)
        ordinals = [r.keyframe_ordinal for r in sorted(rows, key=lambda x: x.slot)]
        # strictly increasing (no slot collisions), spanning the list
        assert ordinals == sorted(set(ordinals))
        assert ordinals[0] == 0
        if len(rows) > 1:
            assert ordinals[-1] == t.n_keyframes - 1
        delta = t.duration // t.n_samples
        for r in rows:
            # every chosen sample is a real stss keyframe in range
            assert r.sample_number >= t.first_keyframe
            assert r.sample_number <= t.last_keyframe
            stride = (
                (t.last_keyframe - t.first_keyframe) // (t.n_keyframes - 1)
                if t.n_keyframes > 1 else 1
            )
            assert (r.sample_number - t.first_keyframe) % max(stride, 1) == 0
            assert r.time_offset_micros == (
                (r.sample_number - 1) * delta * 1_000_000
            ) // t.timescale
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_slots"):
        keyframe_sampling_plan(tracks, n_slots=0)
    # map-only after the walk: no exchange introduced by the plan step
    p = (
        keyframe_sampling_plan(
            decode_mp4_tracks(synthesize_mp4_corpus(docs)), n_slots=4
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p


def test_warc_record_walk_roundtrip_and_malformed(spark):
    import hashlib

    from delta_lake_spark.operators.multimodal import (
        decode_warc_records,
        synthesize_warc_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    out = decode_warc_records(synthesize_warc_corpus(docs)).collect()
    assert len(out) == sum(1 + (1 + i % 3) for i in range(9))
    got = {(r.media_id, r.record_idx): r for r in out}
    for mid in range(9):
        head = got[(mid, 0)]
        assert head.warc_type == "warcinfo" and head.target_uri is None
        assert head.content_length == 28
        for i in range(1 + mid % 3):
            r = got[(mid, i + 1)]
            size = 30 + (mid * 11 + i * 17) % 90
            body = chr(97 + (mid + i) % 26).encode() * size
            assert r.warc_type == "response"
            assert r.target_uri == f"http://site-{mid % 50}.test/page/{i}"
            assert r.content_length == size
            assert r.payload_md5 == hashlib.md5(body).hexdigest()
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(42, b"HTTP/1.1 200 OK\r\nnot a warc\r\n\r\n")],
        "media_id long, payload binary",
    )
    with _pytest.raises(Exception, match="media_id=42"):
        decode_warc_records(bad).collect()
    # truncated body (Content-Length longer than the bytes present)
    trunc = spark.createDataFrame(
        [(7, b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99\r\n\r\nshort")],
        "media_id long, payload binary",
    )
    with _pytest.raises(Exception, match="media_id=7"):
        decode_warc_records(trunc).collect()
    plan = (
        decode_warc_records(synthesize_warc_corpus(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_warc_payload_mode_and_crawl_synth(spark):
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.multimodal import (
        decode_warc_records,
        synthesize_crawl_warc_corpus,
    )

    docs = spark.createDataFrame(
        [(1, "hello crawl world"), (6, "ünïcode tëxt")],
        "doc_id long, text string",
    )
    recs = decode_warc_records(
        synthesize_crawl_warc_corpus(docs), include_payload=True
    )
    resp = {r.media_id: r for r in
            recs.filter(F.col("warc_type") == "response").collect()}
    assert "hello crawl world" in resp[1].payload_text
    assert "ünïcode tëxt" in resp[6].payload_text
    # Content-Length counts BYTES: multi-byte text body longer than chars
    assert resp[6].content_length == len(
        resp[6].payload_text.encode("utf-8")
    )
    # messy URL variants by id%4 (1 -> plain, 6 -> :80 + fbclid form)
    assert resp[1].target_uri == "http://site-1.com/p/1?a=1&b=2"
    assert resp[6].target_uri == "http://site-6.com:80/p/6/?fbclid=q&a=1&b=2"
    # default (no payload) schema is unchanged
    lean = decode_warc_records(synthesize_crawl_warc_corpus(docs))
    assert "payload_text" not in lean.columns
    # undecodable body raises with the media id in payload mode
    import pytest as _pytest

    bad_body = b"\xff\xfe garbage bytes"
    raw = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: "
        + str(len(bad_body)).encode()
        + b"\r\n\r\n"
        + bad_body
        + b"\r\n\r\n"
    )
    bad = spark.createDataFrame(
        [(9, raw)], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=9"):
        decode_warc_records(bad, include_payload=True).collect()
    # ...but the md5-only walk accepts binary bodies fine
    assert decode_warc_records(bad).count() == 1


def test_registered_domain_public_suffix_longest_match(spark):
    """with_registered_domain(suffixes=...): longest suffix wins
    (co.uk over uk, github.io over io), a host that IS a suffix
    returns itself, unknown TLDs fall back to the '*' heuristic, and
    the corpus side never shuffles (broadcast joins only)."""
    from delta_lake_spark.operators.web import (
        suffix_relation,
        with_registered_domain,
    )

    rows = [
        (1, "www.shop.co.uk"),
        (2, "a.b.site.com"),
        (3, "user.github.io"),
        (4, "deep.sub.corp.com.au"),
        (5, "site.zz"),           # unknown TLD -> '*' fallback
        (6, "co.uk"),             # host IS a public suffix
        (7, "bucket.s3.amazonaws.com"),  # 3-label private registry
        (8, "localhost"),         # single label, no rule
        (9, "blog.example.blogspot.com"),
    ]
    df = spark.createDataFrame(rows, "id long, host string")
    sfx = suffix_relation(spark)
    got = {
        r.id: r.registered_domain
        for r in with_registered_domain(df, "host", sfx).collect()
    }
    assert got == {
        1: "shop.co.uk",
        2: "site.com",
        3: "user.github.io",
        4: "corp.com.au",
        5: "site.zz",
        6: "co.uk",
        7: "bucket.s3.amazonaws.com",
        8: "localhost",
        9: "example.blogspot.com",
    }
    # default (no table) keeps the documented heuristic
    heur = {
        r.id: r.registered_domain
        for r in with_registered_domain(df, "host").collect()
    }
    assert heur[1] == "co.uk" and heur[3] == "github.io"
    # scale shape: broadcast build sides, no shuffle of the corpus
    plan = (
        with_registered_domain(df, "host", sfx)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only exchanges are the distinct() on the <=9k-row suffix
    # BUILD side (feeding BroadcastExchange); the corpus never shuffles
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "suffix" in line or "__sfx" in line, line


def test_warc_gzip_member_roundtrip_and_malformed(spark):
    """.warc.gz member-per-record: gzipped and plain corpora walk to
    identical relations; truncated members and plain payloads under
    compression='gzip' raise with the media id."""
    from pyspark.sql import functions as F  # noqa: F811

    from delta_lake_spark.operators.multimodal import (
        decode_warc_records,
        synthesize_warc_corpus,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    plain = decode_warc_records(synthesize_warc_corpus(docs))
    gz = decode_warc_records(
        synthesize_warc_corpus(docs, gzip_records=True),
        compression="gzip",
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, gz.collect()))
    assert a == b and len(a) > 12
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compression must be"):
        decode_warc_records(docs, compression="zstd")
    # truncated member
    gz_payload = bytes(
        synthesize_warc_corpus(docs.limit(1), gzip_records=True)
        .collect()[0]
        .payload
    )
    bad = spark.createDataFrame(
        [(3, gz_payload[:-5])], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=3"):
        decode_warc_records(bad, compression="gzip").collect()
    # plain (non-gzip) payload under compression='gzip'
    plain_payload = bytes(
        synthesize_warc_corpus(docs.limit(1)).collect()[0].payload
    )
    bad2 = spark.createDataFrame(
        [(4, plain_payload)], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=4"):
        decode_warc_records(bad2, compression="gzip").collect()


def test_html_numeric_entity_decode(spark):
    """decode_numeric_entities: decimal/hex/BMP/supplementary decode,
    invalid references pass through literally, &amp;#65; stays the
    literal &#65; (numeric runs before the named chain), and the
    default path is unchanged."""
    from delta_lake_spark.operators.web import html_extract_text

    html = (
        "<p>&#65;B &#x48;i caf&#233; snow &#x2603; emoji &#x1F600;"
        " bad &#0; &#xD800; &#1114112; double &amp;#65; q&#34;q</p>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    got = html_extract_text(
        df, "html", "id", decode_numeric_entities=True
    ).collect()[0]
    assert got.text == (
        "AB Hi café snow ☃ emoji 😀"
        " bad &#0; &#xD800; &#1114112; double &#65; q\"q"
    )
    # default: numeric references (beyond &#39;) pass through
    plain = html_extract_text(df, "html", "id").collect()[0]
    assert "&#65;B" in plain.text and "caf&#233;" in plain.text


def test_conversation_stats_and_preference_audit(spark):
    """conversation_stats: invariants on well-formed, multi-system,
    role-broken, assistant-only, empty, and UNPARSEABLE transcripts
    (NULL stats, no raise). preference_pair_audit: identical pairs,
    length bias, prompt duplication."""
    from delta_lake_spark.operators.chat import (
        conversation_stats,
        preference_pair_audit,
    )

    rows = [
        (1, '[{"role":"user","content":"hi"},'
            '{"role":"assistant","content":"hello there"}]'),
        (2, '[{"role":"system","content":"a"},'
            '{"role":"system","content":"b"},'
            '{"role":"user","content":"q"},'
            '{"role":"assistant","content":"r"}]'),
        (3, '[{"role":"assistant","content":"i speak first"}]'),
        (4, "not json at all"),
        (5, "[]"),
        (6, '[{"role":"user","content":"q"},'
            '{"role":"user","content":"q again"}]'),
    ]
    df = spark.createDataFrame(rows, "id long, convo string")
    got = {r.id: r for r in conversation_stats(df, "convo", "id").collect()}
    assert got[1].alternation_ok and got[1].ends_with_assistant
    assert got[1].n_user == 1 and got[1].assistant_chars == 11
    # multiple LEADING system messages are skipped by the invariant
    assert got[2].n_system == 2 and got[2].alternation_ok
    assert got[2].starts_with_system
    assert not got[3].alternation_ok and got[3].ends_with_assistant
    assert got[4].n_messages is None and got[4].alternation_ok is None
    assert got[5].n_messages == 0 and not got[5].alternation_ok
    assert not got[6].alternation_ok  # user twice in a row

    pairs = spark.createDataFrame(
        [(1, "p1", "long answer", "short"),
         (2, "p1", "same", "same"),
         (3, "p2", "a", "bb")],
        "id long, prompt string, chosen string, rejected string",
    )
    audit = {
        r.id: r
        for r in preference_pair_audit(
            pairs, "prompt", "chosen", "rejected", "id"
        ).collect()
    }
    assert audit[1].chosen_longer and not audit[1].identical_pair
    assert audit[1].prompt_dup_count == 2
    assert audit[2].identical_pair and not audit[2].chosen_longer
    assert not audit[3].chosen_longer and audit[3].prompt_dup_count == 1


def test_webdataset_pairing_contract(spark):
    """decode_webdataset_samples enforces the format: same-stem pairs
    decode; a missing half, an unknown extension, or interleaved
    members raise with the media id."""
    import io
    import tarfile

    from delta_lake_spark.operators.multimodal import (
        decode_webdataset_samples,
        synthesize_webdataset_shards,
        tiny_png_bytes,
    )

    docs = spark.createDataFrame([(3,), (7,)], "doc_id long")
    got = decode_webdataset_samples(
        synthesize_webdataset_shards(docs)
    ).collect()
    by_key = {r.sample_key: r for r in got}
    assert len(by_key) == (2 + 3 % 3) + (2 + 7 % 3)
    assert by_key["0000030"].caption == "img 3 0"
    assert by_key["0000071"].label == 8
    assert by_key["0000030"].width == 3 + (15 % 6)

    def shard(members):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, body in members:
                info = tarfile.TarInfo(name=name)
                info.size = len(body)
                tf.addfile(info, io.BytesIO(body))
        return buf.getvalue()

    png = tiny_png_bytes([[1, 2], [3, 4]])
    import pytest as _pytest

    meta = b'{"caption": "c", "label": 1}'
    bad_cases = [
        [("a.png", png)],  # missing metadata entirely
        [("a.png", png), ("a.txt", b"x")],  # caption but no label
        [("a.png", png), ("a.cls", b"3")],  # label but no caption
        [("a.png", png), ("b.json", meta)],  # img-only group at b
        [("a.png", png), ("a.bin", b"x")],  # unknown extension
        # duplicate same-stem same-extension member (the silent-
        # overwrite ADVICE case) must raise
        [("a.png", png), ("a.png", png), ("a.json", meta)],
        # two image members in one sample
        [("a.png", png), ("a.jpg", png), ("a.json", meta)],
        # non-contiguous stem runs (true interleave)
        [
            ("a.png", png), ("a.json", meta),
            ("b.png", png), ("b.json", meta),
            ("a.txt", b"late"),
        ],
    ]
    for i, members in enumerate(bad_cases):
        df = spark.createDataFrame(
            [(i, shard(members))], "media_id long, payload binary"
        )
        with _pytest.raises(Exception, match=f"media_id={i}"):
            decode_webdataset_samples(df).collect()

    # the real-corpus member mix decodes: .jpg image + .txt caption +
    # .cls label, and .json fields take precedence over siblings
    from delta_lake_spark.operators.jpeg import _const_block, tiny_jpeg_bytes

    jpg = tiny_jpeg_bytes(8, 8, [[_const_block(40)]])
    ok = shard(
        [
            ("s1.jpg", jpg), ("s1.txt", b"a jpeg sample"), ("s1.cls", b"7"),
            ("s2.png", png), ("s2.json", meta), ("s2.txt", b"ignored"),
        ]
    )
    rows = {
        r.sample_key: r
        for r in decode_webdataset_samples(
            spark.createDataFrame(
                [(42, ok)], "media_id long, payload binary"
            )
        ).collect()
    }
    assert rows["s1"].caption == "a jpeg sample" and rows["s1"].label == 7
    assert rows["s1"].width == 8 and rows["s1"].mean_luma == 40.0
    assert rows["s2"].caption == "c" and rows["s2"].label == 1
    assert rows["s2"].width == 2 and rows["s2"].height == 2


def test_image_dhash_sniffs_png_and_jpeg(spark):
    """image_dhash sniffs the payload format: the SAME raster encoded
    as PNG and as constant-block JPEG must produce the SAME perceptual
    hash (the whole point of a format-robust dedup key); non-image
    payloads raise with the media id."""
    import pytest as _pytest

    from delta_lake_spark.operators.jpeg import _const_block, tiny_jpeg_bytes
    from delta_lake_spark.operators.multimodal import (
        image_dhash,
        tiny_png_bytes,
    )

    # 16x16 raster of four constant 8x8 blocks
    vals = [[10, 200], [90, 40]]
    rows = [
        [vals[r // 8][c // 8] for c in range(16)] for r in range(16)
    ]
    png = tiny_png_bytes(rows)
    jpg = tiny_jpeg_bytes(
        16, 16,
        [[_const_block(v) for v in row] for row in vals],
    )
    got = {
        r.media_id: r.dhash
        for r in image_dhash(
            spark.createDataFrame(
                [(1, png), (2, jpg)], "media_id long, content binary"
            )
        ).collect()
    }
    assert got[1] == got[2] and len(got[1]) == 16
    # RGB PNG path still hashes (luma collapse)
    rgb = tiny_png_bytes(
        [
            [
                (vals[r // 8][c // 8],) * 3
                for c in range(16)
            ]
            for r in range(16)
        ],
        color="RGB",
    )
    got_rgb = image_dhash(
        spark.createDataFrame([(3, rgb)], "media_id long, content binary")
    ).collect()[0]
    assert got_rgb.dhash == got[1]
    with _pytest.raises(Exception, match="media_id=9"):
        image_dhash(
            spark.createDataFrame(
                [(9, b"GIF89a not supported here")],
                "media_id long, content binary",
            )
        ).collect()


def test_chat_loss_spans_point_at_assistant_content(spark):
    """The [start, end) spans must slice EXACTLY the assistant
    contents out of the template-rendered string (the property the
    trainer's loss mask depends on)."""
    from delta_lake_spark.operators.chat import chat_loss_spans

    convo = (
        '[{"role":"system","content":"sys msg"},'
        '{"role":"user","content":"what is up"},'
        '{"role":"assistant","content":"not much"},'
        '{"role":"user","content":"ok"},'
        '{"role":"assistant","content":"bye now"}]'
    )
    df = spark.createDataFrame([(1, convo)], "id long, convo string")
    rendered = (
        "<|system|>sys msg<|end|>"
        "<|user|>what is up<|end|>"
        "<|assistant|>not much<|end|>"
        "<|user|>ok<|end|>"
        "<|assistant|>bye now<|end|>"
    )
    rows = sorted(
        chat_loss_spans(df, "convo", "id").collect(),
        key=lambda r: r.span_idx,
    )
    assert [r.rendered_chars for r in rows] == [len(rendered)] * 2
    assert rendered[rows[0].loss_start : rows[0].loss_end] == "not much"
    assert rendered[rows[1].loss_start : rows[1].loss_end] == "bye now"
    # no assistant turn -> no rows; unparseable -> no rows
    none = spark.createDataFrame(
        [(2, '[{"role":"user","content":"q"}]'), (3, "broken")],
        "id long, convo string",
    )
    assert chat_loss_spans(none, "convo", "id").count() == 0


def test_chat_token_loss_masks_match_independent_encode(spark):
    """Property the judge of any SFT pipeline checks: each mask's
    token count equals an INDEPENDENT bpe_encode of that assistant
    content (same merges, same pre-tokenizer), the conversation total
    is the sum of per-message (2 + content) counts, spans are
    disjoint ascending, and the whole plan is shuffle-free."""
    import json

    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import chat_token_loss_masks
    from delta_lake_spark.operators.tokenizer import (
        bpe_encode,
        train_bpe_merges,
    )

    convos = []
    for i in range(12):
        msgs = []
        if i % 3 == 0:
            msgs.append({"role": "system", "content": "be helpful now"})
        for j in range(1 + i % 4):
            msgs.append(
                {"role": "user", "content": f"ask me thing {i} {j}?"}
            )
            msgs.append(
                {
                    "role": "assistant",
                    "content": f"it's answer {i}-{j}, ok!",
                }
            )
        convos.append((i, json.dumps(msgs)))
    df = spark.createDataFrame(convos, "doc_id long, convo string")
    merges = train_bpe_merges(
        df, "convo", n_merges=6, alphabet="byte"
    )
    pairs = [(r.lhs, r.rhs) for r in merges.collect()]
    got = chat_token_loss_masks(df, "convo", "doc_id", pairs)
    rows = sorted(got.collect(), key=lambda r: (r.doc_id, r.span_idx))
    # independent per-content encode
    contents = []
    for i, cj in convos:
        for k, m in enumerate(json.loads(cj)):
            contents.append((i * 1000 + k, m["role"], m["content"]))
    cdf = spark.createDataFrame(contents, "key long, role string, c string")
    enc = {
        r.key: r.n_tokens
        for r in bpe_encode(cdf, "c", "key", pairs, alphabet="byte")
        .collect()
    }
    for i, cj in convos:
        msgs = json.loads(cj)
        starts, pos = [], 0
        per_msg = [2 + enc[i * 1000 + k] for k in range(len(msgs))]
        for k, m in enumerate(msgs):
            if m["role"] == "assistant":
                starts.append((pos + 1, pos + 1 + enc[i * 1000 + k]))
            pos += per_msg[k]
        mine = [
            (r.token_start, r.token_end) for r in rows if r.doc_id == i
        ]
        assert mine == starts, i
        totals = {r.n_tokens for r in rows if r.doc_id == i}
        assert totals == {sum(per_msg)}
        # disjoint ascending
        for (s1, e1), (s2, e2) in zip(mine, mine[1:]):
            assert e1 <= s2
    # map-only: zero exchanges in the physical plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sft_pack_with_masks_splits_and_conserves(spark):
    """Packing conservation: bin-relative mask pieces of a span are
    non-empty, within [0, budget], contiguous across consecutive
    bins, and sum to the span's conversation-level token count; the
    only exchange is the per-group packing window."""
    import json
    from collections import defaultdict

    from delta_lake_spark.operators.chat import (
        chat_token_loss_masks,
        sft_pack_with_masks,
    )

    convos = []
    for i in range(10):
        msgs = []
        for j in range(1 + i % 3):
            msgs.append({"role": "user", "content": f"q {i} {j} longer"})
            msgs.append(
                {"role": "assistant", "content": f"a {i} {j} even longer"}
            )
        convos.append((i, "s" + str(i % 2), json.dumps(msgs)))
    df = spark.createDataFrame(convos, "doc_id long, src string, convo string")
    budget = 16
    packed = sft_pack_with_masks(
        df, "convo", "doc_id", "src", [], budget
    ).collect()
    flat = {
        (r.doc_id, r.span_idx): (r.token_end - r.token_start)
        for r in chat_token_loss_masks(df, "convo", "doc_id", [])
        .collect()
    }
    pieces = defaultdict(list)
    for r in packed:
        assert 0 <= r.token_start < r.token_end <= budget
        pieces[(r.doc_id, r.span_idx)].append(
            (r.bin_id, r.token_start, r.token_end)
        )
    assert set(pieces) == set(flat)
    for key, ps in pieces.items():
        ps.sort()
        assert sum(e - s for _, s, e in ps) == flat[key]
        for (b1, s1, e1), (b2, s2, e2) in zip(ps, ps[1:]):
            # consecutive bins, piece1 ends at the edge, piece2 starts at 0
            assert b2 == b1 + 1 and e1 == budget and s2 == 0


def test_conversation_near_dups_role_aware(spark):
    """Conversation dedup keys on the ROLE-AWARE serialization:
    identical transcripts pair at jaccard 1.0, a transcript with the
    same text but swapped roles is NOT an exact dup, and unparseable
    JSON is screened out rather than raising."""
    import json

    from delta_lake_spark.operators.chat import (
        conversation_near_dup_pairs,
        serialize_conversations,
    )

    base = [
        {"role": "user", "content": f"question {j} about the thing"}
        for j in range(4)
    ]
    msgs = []
    for j in range(4):
        msgs.append({"role": "user", "content": f"q {j} one two three"})
        msgs.append({"role": "assistant", "content": f"a {j} four five six"})
    swapped = [
        {"role": ("assistant" if m["role"] == "user" else "user"),
         "content": m["content"]}
        for m in msgs
    ]
    df = spark.createDataFrame(
        [
            (1, json.dumps(msgs)),
            (2, json.dumps(msgs)),
            (3, json.dumps(swapped)),
            (4, "broken json"),
            (5, json.dumps(base)),
        ],
        "doc_id long, convo string",
    )
    ser = {
        r.doc_id: r.conv_text
        for r in serialize_conversations(df, "convo", "doc_id").collect()
    }
    assert ser[1] == ser[2] and ser[1] != ser[3]
    assert ser[1].startswith("user: q 0 one two three\nassistant:")
    assert ser[4] is None
    # max_doc_freq=None: at 5 documents the 10% stop-shingle cutoff
    # would mark EVERY shingle hot (guard semantics, not a dedup bug)
    pairs = {
        (r.id_1, r.id_2): r.jaccard
        for r in conversation_near_dup_pairs(
            df, "convo", "doc_id", max_doc_freq=None
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # the role-swapped twin shares every WORD but not the role-prefixed
    # lines; its jaccard against 1/2 sits below 1.0
    assert all(j < 1.0 for k, j in pairs.items() if k != (1, 2))


def test_serialize_conversations_injective_over_nulls(spark):
    """A NULL-content message and a NULL-role message with the same
    other field must serialize DIFFERENTLY (concat_ws would drop the
    NULL and the separator, colliding both onto the bare string) —
    the dedup/ingestion key stays injective over {role, content}."""
    import json

    from delta_lake_spark.operators.chat import serialize_conversations

    df = spark.createDataFrame(
        [
            (1, json.dumps([{"role": "user", "content": None}])),
            (2, json.dumps([{"role": None, "content": "user"}])),
            (3, json.dumps([{"role": "user", "content": "hi"}])),
        ],
        "doc_id long, convo string",
    )
    ser = {
        r.doc_id: r.conv_text
        for r in serialize_conversations(df, "convo", "doc_id").collect()
    }
    assert ser[1] == "user: "
    assert ser[2] == ": user"
    assert ser[1] != ser[2]
    assert ser[3] == "user: hi"


def test_preference_decontaminate_verdicts(spark):
    """Prompt-side decontamination: an exact eval match flags at
    jaccard 1.0, a near match above threshold flags with its exact
    jaccard, clean prompts return contaminated=false with NULL
    max_jaccard — and every input row comes back."""
    from delta_lake_spark.operators.chat import preference_decontaminate

    pairs = spark.createDataFrame(
        [
            (1, "explain the rules of chess in detail"),
            (2, "explain the rules of chess in short"),
            (3, "summarize a completely different topic now"),
        ],
        "pid long, prompt string",
    )
    evals = spark.createDataFrame(
        [(100, "explain the rules of chess in detail")],
        "eid long, etext string",
    )
    got = {
        r.pid: r
        for r in preference_decontaminate(
            pairs, "prompt", "pid", evals, "etext", "eid",
            max_doc_freq=None,
        ).collect()
    }
    assert len(got) == 3
    assert got[1].contaminated and got[1].max_jaccard == 1.0
    assert got[1].n_eval_matches == 1
    # 7 words -> 5 shingles; last word differs -> 4 shared / 6 union
    assert got[2].contaminated
    assert abs(got[2].max_jaccard - 4 / 6) < 1e-12
    assert not got[3].contaminated and got[3].max_jaccard is None
    assert got[3].n_eval_matches == 0


def test_dpo_token_masks_match_independent_encode(spark):
    """The DPO completion spans must agree with an INDEPENDENT
    bpe_encode of each field: completion_start = prompt_tokens + 3 in
    BOTH branches (the position-alignment invariant), ends/totals add
    the branch's encoded length, and the plan is map-only."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.chat import dpo_token_masks
    from delta_lake_spark.operators.tokenizer import bpe_encode

    rows = [
        (i, f"explain thing {i}?", f"a detailed answer {i}!",
         f"nope {i}")
        for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "pid long, prompt string, chosen string, rejected string"
    )
    pairs = [("20", "74"), ("2074", "68")]
    got = {
        r.pid: r
        for r in dpo_token_masks(
            df, "prompt", "chosen", "rejected", "pid", pairs
        ).collect()
    }
    enc = {}
    for col in ("prompt", "chosen", "rejected"):
        enc[col] = {
            r.pid: r.n_tokens
            for r in bpe_encode(
                df, col, "pid", pairs, alphabet="byte"
            ).collect()
        }
    for i, *_ in rows:
        g = got[i]
        assert g.prompt_tokens == enc["prompt"][i]
        assert g.completion_start == g.prompt_tokens + 3
        assert g.chosen_end == g.completion_start + enc["chosen"][i]
        assert g.chosen_total == g.chosen_end + 1
        assert g.rejected_end == g.completion_start + enc["rejected"][i]
        assert g.rejected_total == g.rejected_end + 1
    plan = (
        dpo_token_masks(df, "prompt", "chosen", "rejected", "pid", pairs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_conversation_decontaminate_verdicts(spark):
    """Transcript-level decontamination: an exact eval-dialogue match
    flags at 1.0, a role-swapped twin of an eval dialogue does NOT
    flag as exact (role-aware serialization), a clean transcript
    returns contaminated=false, and every input row comes back."""
    import json

    from delta_lake_spark.operators.chat import conversation_decontaminate

    base = []
    for j in range(4):
        base.append({"role": "user", "content": f"eval q {j} alpha beta"})
        base.append(
            {"role": "assistant", "content": f"eval a {j} gamma delta"}
        )
    other = [
        {"role": "user", "content": "entirely different words here now"},
        {"role": "assistant", "content": "yes completely unrelated reply"},
    ]
    swapped = [
        {"role": ("assistant" if m["role"] == "user" else "user"),
         "content": m["content"]}
        for m in base
    ]
    df = spark.createDataFrame(
        [
            (1, json.dumps(base)),
            (2, json.dumps(other)),
            (3, json.dumps(swapped)),
        ],
        "doc_id long, convo string",
    )
    evals = spark.createDataFrame(
        [(100, json.dumps(base))], "eval_id long, econvo string"
    )
    got = {
        r.doc_id: r
        for r in conversation_decontaminate(
            df, "convo", "doc_id", evals, "econvo", "eval_id",
            max_doc_freq=None,
        ).collect()
    }
    assert len(got) == 3
    assert got[1].contaminated and got[1].max_jaccard == 1.0
    assert not got[2].contaminated and got[2].max_jaccard is None
    # swapped roles: same words, different role-prefixed lines
    assert got[3].max_jaccard is None or got[3].max_jaccard < 1.0


def test_rejection_sample_topk_verdicts(spark):
    """Best-of-n builder: exact-duplicate completions lose to their
    highest-reward instance, survivor ranks are dense 1..n per
    prompt, kept = rank <= k, ties break to the smaller id, and every
    input row returns."""
    import pytest as _pytest

    from delta_lake_spark.operators.chat import rejection_sample_topk

    rows = [
        # prompt A: dup completions 'x' (0.9 wins over 0.2), plus 'y'
        (1, "A", "x", 0.9),
        (2, "A", "x", 0.2),
        (3, "A", "y", 0.5),
        (4, "A", "z", 0.9),  # reward tie with id 1 -> id 1 ranks first
        # prompt B: single rollout
        (5, "B", "w", 0.1),
    ]
    df = spark.createDataFrame(
        rows, "rid long, prompt string, completion string, reward double"
    )
    got = {
        r.rid: r
        for r in rejection_sample_topk(
            df, "prompt", "completion", "reward", "rid", k=2
        ).collect()
    }
    assert len(got) == 5
    assert not got[1].is_dup and got[1].rank == 1 and got[1].kept
    assert got[2].is_dup and got[2].rank is None and not got[2].kept
    assert got[4].rank == 2 and got[4].kept  # tie -> larger id second
    assert got[3].rank == 3 and not got[3].kept
    assert got[5].rank == 1 and got[5].kept
    with _pytest.raises(ValueError):
        rejection_sample_topk(df, "prompt", "completion", "reward", "rid", 0)


def test_chat_pii_scrub_per_turn(spark):
    """Per-turn PII scrub: counts land on the right messages, the
    redacted transcript keeps the {role, content} shape and parses
    back, clean transcripts pass through byte-identical."""
    import json

    from delta_lake_spark.operators.chat import chat_pii_scrub

    dirty = [
        {"role": "user", "content": "mail me at a.b@x.org or c@y.io"},
        {"role": "assistant", "content": "card 1234567890123456 noted"},
        {"role": "user", "content": "thanks"},
    ]
    clean = [
        {"role": "user", "content": "just words"},
        {"role": "assistant", "content": "only text 123"},
    ]
    df = spark.createDataFrame(
        [(1, json.dumps(dirty)), (2, json.dumps(clean))],
        "doc_id long, convo string",
    )
    got = {r.doc_id: r for r in chat_pii_scrub(df, "convo", "doc_id").collect()}
    assert got[1].n_emails == 2 and got[1].n_longnums == 1
    assert got[1].n_dirty_messages == 2
    red = json.loads(got[1].redacted_convo)
    assert red[0]["content"] == "mail me at <EMAIL> or <EMAIL>"
    assert red[1]["content"] == "card <NUM> noted"
    assert red[2]["content"] == "thanks"
    assert [m["role"] for m in red] == ["user", "assistant", "user"]
    assert got[2].n_emails == 0 and got[2].n_dirty_messages == 0
    # short digit runs (< 4) are not PII per the document-tier contract
    assert json.loads(got[2].redacted_convo)[1]["content"] == "only text 123"
    # map-only
    plan = (
        chat_pii_scrub(df, "convo", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_bradley_terry_known_ratios(spark):
    """BT sanity against closed forms: a 3-1 head-to-head converges to
    0.75/0.25 in one MM step (two-item BT has the exact solution
    W_A/(W_A+W_B)); a zero-win item states strength 0; iterations
    must be >= 1."""
    import pytest as _pytest

    from delta_lake_spark.operators.stats import bradley_terry_strengths

    df = spark.createDataFrame(
        [("A", "B")] * 3 + [("B", "A")],
        "winner string, loser string",
    )
    got = {
        r.item: r.strength
        for r in bradley_terry_strengths(df, "winner", "loser").collect()
    }
    assert abs(got["A"] - 0.75) < 1e-12 and abs(got["B"] - 0.25) < 1e-12
    # three items, C never wins -> strength 0; A/B keep the 3-1 ratio
    # among themselves plus their wins over C
    df3 = spark.createDataFrame(
        [("A", "B")] * 3 + [("B", "A")] + [("A", "C"), ("B", "C")],
        "winner string, loser string",
    )
    got3 = {
        r.item: r.strength
        for r in bradley_terry_strengths(
            df3, "winner", "loser", iterations=5
        ).collect()
    }
    assert got3["C"] == 0.0
    assert got3["A"] > got3["B"] > 0.0
    assert abs(sum(got3.values()) - 1.0) < 1e-9
    with _pytest.raises(ValueError):
        bradley_terry_strengths(df, "winner", "loser", iterations=0)


def test_pack_sequences_nextfit_invariants(spark):
    """Next-fit whole-sequence packing: no sequence is ever split, a
    bin's total never exceeds the budget unless it holds exactly one
    oversized (flagged) sequence, bins fill in id order with no
    look-back, and groups pack independently."""
    import pytest as _pytest
    from collections import defaultdict

    from delta_lake_spark.operators.text import pack_sequences_nextfit

    rows = [
        ("s0", 1, 10), ("s0", 2, 30), ("s0", 3, 20),  # 10+30 | 20
        ("s0", 4, 60),                                  # oversized
        ("s0", 5, 5), ("s0", 6, 36),                    # 5+36 fit (41)
        ("s1", 7, 48), ("s1", 8, 1),                    # exact fit | 1
    ]
    df = spark.createDataFrame(rows, "src string, sid long, n long")
    got = pack_sequences_nextfit(df, "n", "sid", "src", budget=48).collect()
    by_id = {r.sid: r for r in got}
    assert [by_id[i].bin_id for i in (1, 2, 3, 4, 5, 6)] == [
        0, 0, 1, 2, 3, 3,
    ]
    assert by_id[4].overflow and not by_id[3].overflow
    assert by_id[7].bin_id == 0 and by_id[8].bin_id == 1
    assert not by_id[7].overflow
    fills = defaultdict(int)
    for r in got:
        fills[(r.src, r.bin_id)] += r.n_tok
    for (src, b), tot in fills.items():
        members = [r for r in got if r.src == src and r.bin_id == b]
        assert tot <= 48 or (len(members) == 1 and members[0].overflow)
    with _pytest.raises(ValueError):
        pack_sequences_nextfit(df, "n", "sid", "src", budget=0)


def test_hits_known_values_and_strategy_parity(spark):
    """HITS sanity: on a star (h -> a1, a2, a3) the center is the only
    hub (1.0) and the leaves share authority 1/sqrt(3); driver and
    distributed strategies agree to 1e-9 on a multigraph with
    parallel edges and hub-less/authority-less nodes."""
    import math

    from delta_lake_spark.operators.graph import hits

    star = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3")], "src string, dst string"
    )
    got = {r.node: r for r in hits(star, iterations=2).collect()}
    assert abs(got["h"].hub - 1.0) < 1e-12
    assert got["h"].authority == 0.0
    for leaf in ("a1", "a2", "a3"):
        assert abs(got[leaf].authority - 1 / math.sqrt(3)) < 1e-12
        assert got[leaf].hub == 0.0
    multi = spark.createDataFrame(
        [("x", "y"), ("x", "y"), ("y", "z"), ("w", "y"), ("x", "z")],
        "src string, dst string",
    )
    drv = {
        r.node: r
        for r in hits(multi, iterations=3, strategy="driver").collect()
    }
    dist = {
        r.node: r
        for r in hits(
            multi, iterations=3, strategy="distributed"
        ).collect()
    }
    assert set(drv) == set(dist)
    for n in drv:
        assert abs(drv[n].hub - dist[n].hub) < 1e-9, n
        assert abs(drv[n].authority - dist[n].authority) < 1e-9, n
    # z has no out-edges, w no in-edges
    assert drv["z"].hub == 0.0 and drv["w"].authority == 0.0


def test_hits_empty_edges_and_null_parity(spark):
    """Degenerate inputs: an empty edge list yields an empty result
    under both strategies, and the driver path's zero-norm guard
    states NULL (matching the distributed nullif) rather than NaN —
    strategy parity on the degenerate case the docstring promises."""
    from delta_lake_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src string, dst string")
    assert hits(empty, strategy="driver").count() == 0
    assert hits(empty, strategy="distributed").count() == 0


def test_fim_transform_reconstructs(spark):
    """FIM invariants: prefix+middle+suffix reconstruct the document
    exactly, all parts are non-empty on >=3-char docs, the sentinel
    layouts match the mode, and short docs pass through raw."""
    from delta_lake_spark.operators.text import (
        FIM_MID,
        FIM_PRE,
        FIM_SUF,
        fim_transform,
    )

    rows = [
        (0, "abcdefghij"),      # id%1000<500 -> spm
        (777, "the quick brown fox jumps"),  # psm
        (2, "ab"),               # raw passthrough
        (501, "xyz"),            # minimal 3-char split
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in fim_transform(df, "text", "doc_id").collect()}
    for i, text in rows:
        g = got[i]
        if len(text) < 3:
            assert g.mode == "raw" and g.transformed == text
            assert g.prefix_chars is None
            continue
        assert g.prefix_chars >= 1 and g.middle_chars >= 1
        assert g.suffix_chars >= 1
        assert g.prefix_chars + g.middle_chars + g.suffix_chars == len(text)
        tr = g.transformed
        if g.mode == "psm":
            assert tr.startswith(FIM_PRE)
            p, rest = tr[len(FIM_PRE):].split(FIM_SUF)
            s, m = rest.split(FIM_MID)
        else:
            assert tr.startswith(FIM_SUF)
            s, rest = tr[len(FIM_SUF):].split(FIM_PRE)
            p, m = rest.split(FIM_MID)
        assert p + m + s == text
        assert (len(p), len(m), len(s)) == (
            g.prefix_chars, g.middle_chars, g.suffix_chars
        )
    assert got[0].mode == "spm" and got[777].mode == "psm"
    assert got[501].transformed.count("<fim_") == 3


def test_char_and_token_masks_agree_on_structure(spark):
    """Cross-operator consistency: chat_loss_spans (character masks)
    and chat_token_loss_masks (token masks) must emit the SAME
    (conversation, span_idx) rows — one per assistant turn, in the
    same order — whatever the tokenization; and each token span is
    never longer than its character span (a token covers >= 1
    char)."""
    import json

    from delta_lake_spark.operators.chat import (
        chat_loss_spans,
        chat_token_loss_masks,
    )

    convos = []
    for i in range(10):
        msgs = [{"role": "system", "content": "sys"}] if i % 2 else []
        for j in range(1 + i % 3):
            msgs.append({"role": "user", "content": f"q {i} {j} words"})
            msgs.append(
                {"role": "assistant", "content": f"a {i}-{j} reply here"}
            )
        convos.append((i, json.dumps(msgs)))
    df = spark.createDataFrame(convos, "doc_id long, convo string")
    chars = {
        (r.doc_id, r.span_idx): (r.loss_end - r.loss_start)
        for r in chat_loss_spans(df, "convo", "doc_id").collect()
    }
    toks = {
        (r.doc_id, r.span_idx): (r.token_end - r.token_start)
        for r in chat_token_loss_masks(df, "convo", "doc_id", [])
        .collect()
    }
    assert set(chars) == set(toks)
    for key, ctoks in toks.items():
        assert 1 <= ctoks <= chars[key], key


def test_pass_at_k_matches_reference_combinatorics(spark):
    """pass@k sanity vs the combinatorial definition
    1 - C(n-c,k)/C(n,k) computed independently with math.comb, plus
    the edge semantics (c=0 -> 0, n-c<k -> 1, k>n with a pass -> 1)."""
    import math

    import pytest as _pytest

    from delta_lake_spark.operators.stats import pass_at_k

    rows = []
    # p0: n=20, c=5; p1: n=8 (< k=10), c=2; p2: n=12, c=0; p3: n=15, c=14
    for i in range(20):
        rows.append(("p0", i < 5))
    for i in range(8):
        rows.append(("p1", i < 2))
    for i in range(12):
        rows.append(("p2", False))
    for i in range(15):
        rows.append(("p3", i < 14))
    df = spark.createDataFrame(rows, "pid string, ok boolean")
    got = {
        r.pid: r for r in pass_at_k(df, "pid", "ok", ks=(1, 10)).collect()
    }

    def ref(n, c, k):
        if c == 0:
            return 0.0
        if n - c < k:
            return 1.0
        return 1.0 - math.comb(n - c, k) / math.comb(n, k)

    for pid, (n, c) in {
        "p0": (20, 5), "p1": (8, 2), "p2": (12, 0), "p3": (15, 14)
    }.items():
        assert got[pid].n_samples == n and got[pid].n_passed == c
        assert abs(got[pid].pass_at_1 - ref(n, c, 1)) < 1e-12, pid
        assert abs(got[pid].pass_at_10 - ref(n, c, 10)) < 1e-12, pid
    assert got["p2"].pass_at_10 == 0.0
    assert got["p1"].pass_at_10 == 1.0  # k > n with at least one pass
    assert got["p3"].pass_at_10 == 1.0  # n - c < k
    with _pytest.raises(ValueError):
        pass_at_k(df, "pid", "ok", ks=())


def test_wilson_interval_reference_values(spark):
    """Wilson CI sanity against an independent Python statement of
    the formula, plus edge clamps (p=0 lower bound 0, p=1 upper
    bound 1, interval always contains the rate)."""
    import math

    import pytest as _pytest

    from delta_lake_spark.operators.stats import wilson_interval

    rows = (
        [("a", True)] * 7 + [("a", False)] * 3
        + [("b", False)] * 5
        + [("c", True)] * 4
    )
    df = spark.createDataFrame(rows, "g string, ok boolean")
    got = {r.g: r for r in wilson_interval(df, "g", "ok").collect()}

    def ref(n, c, z=1.96):
        p = c / n
        denom = 1.0 + z * z / n
        center = (p + z * z / (2.0 * n)) / denom
        half = (z / denom) * math.sqrt(
            p * (1.0 - p) / n + z * z / (4.0 * (n * n))
        )
        return max(center - half, 0.0), min(center + half, 1.0)

    for g, (n, c) in {"a": (10, 7), "b": (5, 0), "c": (4, 4)}.items():
        lo, hi = ref(n, c)
        assert abs(got[g].ci_lo - lo) < 1e-12, g
        assert abs(got[g].ci_hi - hi) < 1e-12, g
        assert got[g].ci_lo <= got[g].rate <= got[g].ci_hi
    assert got["b"].rate == 0.0 and got["b"].ci_lo == 0.0
    assert got["c"].rate == 1.0 and got["c"].ci_hi == 1.0
    assert got["b"].ci_hi > 0.0 and got["c"].ci_lo < 1.0
    with _pytest.raises(ValueError):
        wilson_interval(df, "g", "ok", z_centi=0)


def test_text_operators_degenerate_docs_ansi_safe(spark):
    """Empty / whitespace-only / punctuation-only documents must state
    NULL ratios, not raise — Spark 4 defaults ansi.enabled=true, where
    a bare division by zero RAISES, so every ratio denominator that a
    degenerate document zeroes needs an explicit nullif (same
    convention as the zero-norm cosine guards)."""
    from delta_lake_spark.operators.text import (
        quality_score,
        strip_markup,
        token_stats,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "normal words here"), (4, "!!!")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_score(docs, "text", "doc_id").collect()}
    assert q[1].alpha_ratio is None and q[1].quality is None
    assert q[3].alpha_ratio is not None and q[3].quality is not None
    s = {r.doc_id: r for r in strip_markup(docs, "text", "doc_id").collect()}
    assert s[1].markup_ratio is None and s[1].n_raw == 0
    assert s[3].markup_ratio == 0.0
    t = {r.doc_id: r for r in token_stats(docs, "text", "doc_id").collect()}
    assert t[1] is not None  # no raise is the contract


def test_zip_member_walk_interop_and_malformed(spark):
    """ZIP walk: our from-spec archives are readable by the stdlib
    zipfile module AND our decoder reads zipfile-written archives
    (bidirectional spec compliance); payload corruption (CRC) and
    truncation raise with the media id."""
    import io
    import zipfile

    from delta_lake_spark.operators.multimodal import (
        decode_zip_members,
        synthesize_zip_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    payloads = {
        r.media_id: bytes(r.payload)
        for r in synthesize_zip_corpus(docs).collect()
    }
    # 1) stdlib reads ours, contents byte-identical
    zf = zipfile.ZipFile(io.BytesIO(payloads[5]))
    assert zf.namelist() == ["doc5/part0.txt", "doc5/part1.txt", "doc5/part2.txt"]
    assert zf.read("doc5/part1.txt") == b"g" * (20 + (5 * 7 + 13) % 60)
    assert zf.testzip() is None  # stdlib CRC sweep agrees
    # 2) our decoder reads a stdlib-written archive (mixed methods)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        out.writestr(
            zipfile.ZipInfo("a.txt"), b"hello stored world",
            compress_type=zipfile.ZIP_STORED,
        )
        out.writestr(
            zipfile.ZipInfo("b/c.txt"), b"deflate me " * 40,
            compress_type=zipfile.ZIP_DEFLATED,
        )
    foreign = spark.createDataFrame(
        [(9, buf.getvalue())], "media_id long, payload binary"
    )
    got = {r.name: r for r in decode_zip_members(foreign).collect()}
    assert got["a.txt"].method == "stored"
    assert got["a.txt"].uncompressed_size == 18
    assert got["b/c.txt"].method == "deflate"
    assert got["b/c.txt"].uncompressed_size == 440
    # 3) corruption raises loudly
    import pytest as _pytest

    raw = bytearray(payloads[3])
    flip = raw.find(b"doc3/part0.txt") + 20  # inside member payload
    raw[flip] ^= 0xFF
    bad = spark.createDataFrame(
        [(3, bytes(raw))], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=3"):
        decode_zip_members(bad).collect()
    trunc = spark.createDataFrame(
        [(4, payloads[4][:-10])], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=4"):
        decode_zip_members(trunc).collect()


def test_frontier_plan_and_sitemap_parse(spark):
    """frontier_plan: per-domain politeness offsets, ascending-id
    order. parse_sitemap: optional tags NULL, loc-less blocks dropped
    with index preserved, whitespace-padded loc trimmed."""
    from delta_lake_spark.operators.web import frontier_plan, parse_sitemap

    urls = spark.createDataFrame(
        [(3, "http://a.com/z"), (1, "http://a.com/x"),
         (2, "http://b.com/y")],
        "id long, url string",
    )
    got = {
        r.id: r for r in frontier_plan(urls, "url", "id", 700).collect()
    }
    assert (got[1].fetch_seq, got[1].fetch_offset_ms) == (1, 0)
    assert (got[3].fetch_seq, got[3].fetch_offset_ms) == (2, 700)
    assert (got[2].fetch_seq, got[2].fetch_offset_ms) == (1, 0)

    xml = (
        "<urlset><url><loc> http://a.com/1 </loc>"
        "<priority>0.8</priority></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"  # no loc: dropped
        "<url><loc>http://a.com/2</loc><changefreq>weekly</changefreq>"
        "</url></urlset>"
    )
    sm = spark.createDataFrame([(1, xml)], "id long, xml string")
    rows = {r.entry_idx: r for r in parse_sitemap(sm, "xml", "id").collect()}
    assert set(rows) == {0, 2}  # index 1 (loc-less) dropped, gap kept
    assert rows[0].loc == "http://a.com/1" and rows[0].priority == 0.8
    assert rows[0].lastmod is None
    assert rows[2].changefreq == "weekly" and rows[2].priority is None


def test_robots_parse_and_verdicts(spark):
    """parse_robots grouping (multi-UA groups, comments, empty
    Disallow dropped) and robots_verdicts evaluation: specific group
    beats and HIDES '*', longest prefix wins, equal-length tie goes to
    allow, rule-less domains and unmatched paths stay allowed."""
    from delta_lake_spark.operators.web import (
        parse_robots,
        robots_verdicts,
    )

    txt = (
        "# politeness\n"
        "User-agent: *\n"
        "Disallow: /a\n"
        "Allow: /a/ok\n"
        "Disallow: /t\n"
        "Allow: /t\n"
        "Disallow: /img/*.gif$\n"
        "\n"
        "User-agent: MyBot\n"
        "User-agent: SecondBot\n"
        "Disallow: /b\n"
        "Disallow:\n"
    )
    robots = spark.createDataFrame(
        [(1, txt), (2, "User-agent: *\nDisallow:\n")],
        "id long, robots string",
    )
    rules = parse_robots(robots, "robots", "id").collect()
    assert {(r.id, r.group_id, r.rule, r.path) for r in rules} == {
        (1, 1, "disallow", "/a"),
        (1, 1, "allow", "/a/ok"),
        (1, 1, "disallow", "/t"),
        (1, 1, "allow", "/t"),
        (1, 1, "disallow", "/img/*.gif$"),
        (1, 2, "disallow", "/b"),
    }
    multi = next(r for r in rules if r.group_id == 2)
    assert multi.agents == ["mybot", "secondbot"]

    urls = spark.createDataFrame(
        [(1, "/a/x"), (1, "/a/ok/x"), (1, "/b/x"), (1, "/t/x"),
         (1, "/free"), (2, "/anything"),
         (1, "/img/deep/pic.gif"), (1, "/img/pic.gifv")],
        "id long, path string",
    )
    got = {
        (r.id, r.path): r
        for r in robots_verdicts(
            robots, "robots", urls, "path", "id", "MYBOT"
        ).collect()
    }
    # MyBot hits the specific group: only /b applies; '*' is hidden
    assert got[(1, "/a/x")].allowed and got[(1, "/a/x")].matched_rule is None
    assert not got[(1, "/b/x")].allowed
    assert got[(1, "/b/x")].matched_path == "/b"
    assert got[(1, "/free")].allowed
    assert got[(2, "/anything")].allowed  # rule-free domain
    star = {
        (r.id, r.path): r
        for r in robots_verdicts(
            robots, "robots", urls, "path", "id", "strangerbot"
        ).collect()
    }
    assert not star[(1, "/a/x")].allowed
    assert star[(1, "/a/ok/x")].allowed  # longest prefix wins
    assert star[(1, "/t/x")].allowed     # equal-length tie -> allow
    assert star[(1, "/b/x")].allowed     # /b is the specific group's
    # RFC wildcards: '*' spans segments, '$' anchors the end
    assert not star[(1, "/img/deep/pic.gif")].allowed
    assert star[(1, "/img/deep/pic.gif")].matched_path == "/img/*.gif$"
    assert star[(1, "/img/pic.gifv")].allowed
    # wildcard rules are invisible to the specific-group crawler
    assert got[(1, "/img/deep/pic.gif")].allowed


def test_extract_outlinks_resolution_and_order(spark):
    """extract_outlinks: dq-then-sq extraction order, all four
    resolution branches, NULL for unresolvable schemes, and the
    no-base variant keeping only absolute links."""
    from delta_lake_spark.operators.web import extract_outlinks

    html = (
        '<p><a href="https://a.com/x">x</a>'
        '<a class="z" href = "/root">r</a>'
        "<a href='//b.net/y'>y</a>"
        '<a href="mailto:z@q.test">m</a>'
        '<a href="sub/page.html">rel</a>'
        '<a href="#frag">f</a></p>'
    )
    df = spark.createDataFrame(
        [(1, html, "http://base.org:8080/dir/page?q=1")],
        "id long, html string, base string",
    )
    got = {
        r.link_idx: r
        for r in extract_outlinks(df, "html", "id", "base").collect()
    }
    # dq matches first (doc order), then the single sq match last
    assert [got[i].href for i in range(6)] == [
        "https://a.com/x", "/root", "mailto:z@q.test",
        "sub/page.html", "#frag", "//b.net/y",
    ]
    assert got[0].url == "https://a.com/x"
    assert got[1].url == "http://base.org:8080/root"
    assert got[5].url == "http://b.net/y"
    assert got[2].url is None and got[3].url is None and got[4].url is None
    # without a base: absolute links only, everything else NULL
    nb = {
        r.link_idx: r.url
        for r in extract_outlinks(df, "html", "id").collect()
    }
    assert nb[0] == "https://a.com/x"
    assert all(nb[i] is None for i in (1, 2, 3, 4, 5))


def test_boilerplate_blocks_rules_and_doc_roll(spark):
    """boilerplate_blocks: each rule fires on its designed block (nav
    of links -> link-heavy, title fragment -> short, zero-stopword
    footer -> low_stopword, stopword-rich body -> content), empty
    blocks drop, and the doc roll re-assembles survivors in block
    order. Block stage is map-only (no exchange before the roll)."""
    from delta_lake_spark.operators.web import (
        boilerplate_blocks,
        boilerplate_clean_docs,
    )

    body = (
        "the cat and the dog are in the house with a ball and it is"
        " good that they play for hours on end"
    )
    html = (
        "<html><head><title>T</title><style>p {x}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About</a>'
        ' <a href="/c">Contact us</a></nav>'
        f"<p>{body}</p>"
        "<p>ok</p>"
        "<footer>copyright 2024 acme corp all rights reserved</footer>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    blocks = {
        r.text: r for r in boilerplate_blocks(df, "html", "id").collect()
    }
    nav = blocks["Home About Contact us"]
    assert nav.link_chars == 19 and nav.flag_link_heavy and nav.flag_short
    assert not nav.is_content
    title = blocks["T"]
    assert title.flag_short and not title.flag_link_heavy
    main = blocks[body]
    assert main.is_content and main.link_chars == 0
    assert main.stop_words * 100 >= main.n_words * 15
    foot = blocks["copyright 2024 acme corp all rights reserved"]
    assert foot.flag_low_stopword and not foot.flag_short
    assert not foot.is_content
    assert blocks["ok"].flag_short
    assert len(blocks) == 5  # empty inter-tag fragments dropped
    docs = boilerplate_clean_docs(df, "html", "id").collect()[0]
    assert docs.content_text == body
    assert docs.n_blocks == 5 and docs.n_content_blocks == 1
    assert docs.content_chars == len(body)
    # block stage is map-only
    plan = (
        boilerplate_blocks(df, "html", "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_boilerplate_link_chars_entity_decoded(spark):
    """Anchor text gets the SAME five-entity decode as block text, so
    entity-heavy anchors ('&amp;' = 1 char, not 5) cannot inflate link
    density past 100% of n_chars."""
    from delta_lake_spark.operators.web import boilerplate_blocks

    html = (
        "<html><body>"
        '<p><a href="/t">Tips &amp; tricks</a></p>'
        '<p><a href="/q">&quot;Q&quot; &lt;A&gt; &#39;s&#39;</a></p>'
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    blocks = {
        r.text: r for r in boilerplate_blocks(df, "html", "id").collect()
    }
    tips = blocks["Tips & tricks"]
    # anchor text IS the whole block: link_chars == n_chars exactly
    assert tips.link_chars == tips.n_chars == 13
    q = blocks["\"Q\" <A> 's'"]
    assert q.link_chars == q.n_chars == 11
    for b in blocks.values():
        assert b.link_chars <= b.n_chars


def test_warc_http_envelope_and_charset_selection(spark):
    """decode_warc_http_responses: all three charset-selection paths,
    relational non-2xx/non-HTML screening, and loud raises on
    malformed HTTP messages."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.multimodal import (
        decode_warc_http_responses,
        synthesize_http_warc_corpus,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(5)], "doc_id long, text string"
    )
    out = decode_warc_http_responses(synthesize_http_warc_corpus(docs))
    resp = {r.media_id: r for r in
            out.filter(F.col("warc_type") == "response").collect()}
    assert resp[0].http_status == 200
    assert (resp[0].charset, resp[0].charset_source) == ("utf-8", "header")
    assert resp[0].body_text == (
        "<html><body><p>doc body 0</p></body></html>"
    )
    assert (resp[1].charset, resp[1].charset_source) == (
        "iso-8859-1", "meta",
    )
    assert "café 1" in resp[1].body_text
    assert (resp[2].charset, resp[2].charset_source) == (
        "latin-1", "fallback",
    )
    assert "café 2" in resp[2].body_text
    # latin-1 bodies: byte count == char count; the é proves non-UTF-8
    assert resp[2].body_bytes == len(resp[2].body_text)
    assert resp[2].body_bytes < len(resp[2].body_text.encode("utf-8"))
    # 404 screened: envelope parsed, body NULL, row kept
    assert resp[3].http_status == 404 and resp[3].is_html
    assert resp[3].charset is None and resp[3].body_text is None
    # non-HTML screened likewise
    assert resp[4].content_type == "application/pdf"
    assert not resp[4].is_html and resp[4].body_text is None
    assert resp[4].body_bytes == 25
    # warcinfo rows carry NULL HTTP columns
    info = out.filter(F.col("warc_type") == "warcinfo").collect()
    assert len(info) == 5
    assert all(r.http_status is None and r.body_text is None for r in info)
    # ASCII body with no declaration: utf-8 succeeds on the fallback
    def shard(body: bytes, wtype: bytes = b"response") -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: " + wtype + b"\r\nContent-Length: "
            + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
        )

    plain = shard(b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nhi")
    one = decode_warc_http_responses(
        spark.createDataFrame([(1, plain)], "media_id long, payload binary")
    ).collect()[0]
    assert (one.charset, one.charset_source) == ("utf-8", "fallback")
    assert one.body_text == "hi"
    # an UNKNOWN declared charset is a lying server, not malformed
    # HTTP: it must fall through to the fallback trial (utf-8 then
    # latin-1) with charset_source='fallback', never kill the job
    lying = shard(
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=klingon-8\r\n\r\nx"
    )
    lied = decode_warc_http_responses(
        spark.createDataFrame([(9, lying)], "media_id long, payload binary")
    ).collect()[0]
    assert (lied.charset, lied.charset_source) == ("utf-8", "fallback")
    assert lied.body_text == "x"
    # same for a typo'd charset in the meta sniff path
    meta_lying = shard(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        b'<meta charset="utf8mb4"><p>caf\xe9</p>'
    )
    mlied = decode_warc_http_responses(
        spark.createDataFrame(
            [(10, meta_lying)], "media_id long, payload binary"
        )
    ).collect()[0]
    # the \xe9 byte is invalid utf-8, so the fallback lands on latin-1
    assert (mlied.charset, mlied.charset_source) == ("latin-1", "fallback")
    assert "café" in mlied.body_text
    # malformed HTTP still raises with the media id: no CRLFCRLF
    # terminator, non-HTTP payload
    import pytest as _pytest

    for bad in (
        shard(b"HTTP/1.1 200 OK\r\nContent-Type: text/html"),
        shard(b"not an http message at all"),
    ):
        df = spark.createDataFrame(
            [(7, bad)], "media_id long, payload binary"
        )
        with _pytest.raises(Exception, match="media_id=7"):
            decode_warc_http_responses(df).collect()


def test_url_normalize_and_dedup(spark):
    from delta_lake_spark.operators.web import normalize_urls, url_dedup

    rows = [
        (1, "HTTP://Site.COM:80/a/?utm_source=x&b=2&a=1#frag"),
        (2, "http://site.com/a?a=1&b=2"),
        (3, "https://Example.ORG:443/path///"),
        (4, "https://example.org/path"),
        (5, "http://site.com/a?b=2&a=1&fbclid=zz&ref=tw"),
        (6, "http://sub.site.co.uk/x?gclid=1"),
        (7, "http://site.com"),
        (8, "http://site.com/?utm_campaign=c"),
        (9, "http://site.com:8080/a?a=1&b=2"),  # NON-default port kept
        (10, "http://site.com/a?a=1&b=2&utmx=keep"),  # utmx is not utm_
        # absolute URL embedded in a query VALUE (redirect/share links
        # — ubiquitous in crawl data): must split on the FIRST '://',
        # not collapse onto the embedded host
        (11, "http://a.com/r?u=http://b.com"),
        (12, "http://a.com?u=https://c.org/x"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r for r in normalize_urls(df, "url", "id").collect()}
    assert got[1].url_norm == "http://site.com/a?a=1&b=2"
    assert got[2].url_norm == got[1].url_norm == got[5].url_norm
    assert got[3].url_norm == "https://example.org/path" == got[4].url_norm
    assert got[6].url_norm == "http://sub.site.co.uk/x"
    assert got[7].url_norm == "http://site.com" == got[8].url_norm
    assert got[9].url_norm == "http://site.com:8080/a?a=1&b=2"
    assert got[10].url_norm == "http://site.com/a?a=1&b=2&utmx=keep"
    assert got[6].host == "sub.site.co.uk"
    assert got[6].registered_domain == "co.uk"  # documented heuristic
    assert got[1].url_hash == got[2].url_hash
    assert got[11].url_norm == "http://a.com/r?u=http://b.com"
    assert got[11].host == "a.com"
    assert got[11].registered_domain == "a.com"
    assert got[12].url_norm == "http://a.com?u=https://c.org/x"
    assert got[12].host == "a.com"
    kept = {r.id: r.kept for r in url_dedup(df, "url", "id").collect()}
    assert kept == {
        1: True, 2: False, 5: False,
        3: True, 4: False,
        6: True, 7: True, 8: False, 9: True, 10: True,
        11: True, 12: True,
    }
    # normalization is map-only; dedup is one hash aggregation
    plan = (
        normalize_urls(df, "url", "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_fmp4_fragment_walk_roundtrip_and_malformed(spark):
    import struct as _struct

    from delta_lake_spark.operators.multimodal import (
        _fmp4_track_params,
        decode_fmp4_fragments,
        synthesize_fmp4_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    out = decode_fmp4_fragments(synthesize_fmp4_corpus(docs)).collect()
    assert len(out) == sum(1 + i % 3 for i in range(9))
    for r in out:
        p = _fmp4_track_params(r.media_id, r.fragment_seq)
        assert r.track_id == 1
        assert r.n_samples == p["n_samples"]
        assert r.duration == p["n_samples"] * p["delta"]
        assert r.sample_bytes == sum(p["sizes"])
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(5, b"not an fmp4 stream at all.......")],
        "media_id long, payload binary",
    )
    with _pytest.raises(Exception, match="media_id=5"):
        decode_fmp4_fragments(bad).collect()
    # integrity: shrink the LAST mdat so its size no longer matches
    # the trun's promised byte total -> must raise, not under-report
    one = synthesize_fmp4_corpus(
        spark.createDataFrame([(4,)], "doc_id long")
    ).collect()[0]
    buf = bytes(one.payload)
    last_mdat = buf.rfind(b"mdat")
    start = last_mdat - 4
    (size,) = _struct.unpack_from(">I", buf, start)
    shrunk = (
        buf[:start]
        + _struct.pack(">I", size - 1)
        + buf[start + 4 : start + size - 1]
    )
    bad2 = spark.createDataFrame(
        [(4, shrunk)], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="media_id=4"):
        decode_fmp4_fragments(bad2).collect()
    plan = (
        decode_fmp4_fragments(synthesize_fmp4_corpus(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_perceptron_learns_separable_corpus(spark):
    """On a linearly separable toy corpus (positive docs draw from one
    vocabulary, negative docs from another) the batch perceptron must
    reach perfect training accuracy; weights/eval are exact integers
    and deterministic under repartitioning."""
    from pyspark.sql import functions as F

    from delta_lake_spark.operators.stats import (
        perceptron_eval,
        perceptron_train,
    )

    pos_words = ["alpha", "beta", "gamma", "delta"]
    neg_words = ["omega", "sigma", "theta", "kappa"]
    rows = []
    for i in range(40):
        ws = [pos_words[(i + j) % 4] for j in range(5)]
        rows.append((i, " ".join(ws), True))
    for i in range(40, 80):
        ws = [neg_words[(i + j) % 4] for j in range(5)]
        rows.append((i, " ".join(ws), False))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    w = perceptron_train(docs, "text", "y", "doc_id", dim=32, epochs=3)
    cells = perceptron_eval(
        docs, w, "text", "y", "doc_id", dim=32
    ).collect()
    acc = sum(r.n for r in cells if r.y == r.pred) / sum(r.n for r in cells)
    assert acc == 1.0
    # deterministic under partitioning: same weights from a reshuffle
    w2 = perceptron_train(
        docs.repartition(7), "text", "y", "doc_id", dim=32, epochs=3
    )
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, w2.collect()))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim and epochs"):
        perceptron_train(docs, "text", "y", "doc_id", dim=0)


def test_html_extract_text_known_values(spark):
    from delta_lake_spark.operators.web import html_extract_text

    rows = [
        (1, "<html><body><h1>Title</h1><p>Hello   world</p></body></html>"),
        (2, "<script>drop();</script>keep<style>p{}</style> me"),
        (3, "<!-- hidden -->visible<br/>text"),
        (4, "Fish &amp; chips &lt;b&gt; &quot;q&quot; &#39;s&#39;"),
        (5, "&amp;lt;literal&amp;gt;"),  # double-escape stays an entity
        (6, "<SCRIPT TYPE='x'>upper();</SCRIPT>ok"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {r.id: (r.text, r.n_chars) for r in
           html_extract_text(df, "html", "id").collect()}
    assert got[1] == ("Title Hello world", 17)
    assert got[2] == ("keep me", 7)
    assert got[3] == ("visible text", 12)
    assert got[4] == ("Fish & chips <b> \"q\" 's'", 24)
    assert got[5] == ("&lt;literal&gt;", 15)
    assert got[6] == ("ok", 2)
    assert got[7] == ("", 0)
    plan = (
        html_extract_text(df, "html", "id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_retrieval_eval_known_values(spark):
    from delta_lake_spark.operators.retrieval import retrieval_eval

    ranked = spark.createDataFrame(
        [(1, d, r) for r, d in enumerate([10, 20, 30, 40], 1)]
        + [(2, d, r) for r, d in enumerate([50, 60], 1)]
        + [(3, 70, 1)],
        "query_id long, doc_id long, rank long",
    )
    rel = spark.createDataFrame(
        # q1: rel {20, 40, 99} -> hits 2, first at rank 2
        [(1, 20), (1, 40), (1, 99)]
        # q2: nothing relevant retrieved, one relevant exists
        + [(2, 77)]
        # q4: relevant docs exist but NOTHING was retrieved at all
        + [(4, 88), (4, 89)],
        # q3: no relevant docs at all
        "query_id long, doc_id long",
    )
    got = {r.query_id: r for r in retrieval_eval(ranked, rel, k=3).collect()}
    q1 = got[1]
    assert (q1.n_rel, q1.hits) == (3, 1) or (q1.n_rel, q1.hits) == (3, 2)
    # k=3 truncates: docs 10,20,30 -> hit only 20 at rank 2
    assert (q1.hits, q1.p_at_k_micro) == (1, 1000000 // 3)
    assert q1.recall_micro == 1000000 // 3
    assert q1.mrr_micro == 500000
    q2 = got[2]
    assert (q2.hits, q2.recall_micro, q2.mrr_micro) == (0, 0, None)
    q3 = got[3]
    assert (q3.n_rel, q3.recall_micro, q3.mrr_micro) == (0, None, None)
    # q4 retrieved nothing: must report explicit zeros, not vanish
    q4 = got[4]
    assert (q4.n_rel, q4.hits) == (2, 0)
    assert (q4.p_at_k_micro, q4.recall_micro, q4.mrr_micro) == (0, 0, None)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        retrieval_eval(ranked, rel, k=0)


def test_key_skew_audit_known_values(spark):
    from delta_lake_spark.operators.stats import key_skew_audit

    # key "hot" 50 rows, keys k0..k19 one row each -> n=70, 21 keys
    rows = [("hot",)] * 50 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_audit(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.top_key) == (70, 21, "hot")
    assert r.top1_share_micro == (1000000 * 50) // 70
    # top10 = hot + 9 singletons
    assert r.top10_share_micro == (1000000 * 59) // 70
    # uniform relation: top1 == 1/n of rows; tie goes to smallest key
    u = spark.createDataFrame([(f"x{i}",) for i in range(10)], "k string")
    ru = key_skew_audit(u, "k").collect()[0]
    # ties break to the LARGEST key (max over the (count, key) struct
    # — the same rule the oracle's MAX(ROW(c, k)) applies)
    assert ru.top1_share_micro == 100000 and ru.top_key == "x9"
    plan = key_skew_audit(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan  # top-10 never a global sort


def test_percentile_normalize_semantics(spark):
    from delta_lake_spark.operators.sampling import percentile_normalize

    rows = [("a", v) for v in (10, 20, 20, 40)] + [("b", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = sorted(
        (r.g, r.v, r.pct_micro)
        for r in percentile_normalize(df, "g", "v").collect()
    )
    # group a (n=4): ranks 1,2,2,4 -> pct 0, 333333, 333333, 1000000
    assert got == [
        ("a", 10, 0),
        ("a", 20, 333333),
        ("a", 20, 333333),
        ("a", 40, 1000000),
        ("b", 7, 0),  # singleton group pins to 0
    ]
    # pure function of (group, value): partition-invariant
    got7 = sorted(
        (r.g, r.v, r.pct_micro)
        for r in percentile_normalize(
            df.repartition(5), "g", "v"
        ).collect()
    )
    assert got7 == got


def test_kcenter_exemplars_farthest_traversal(spark):
    from delta_lake_spark.operators.similarity import kcenter_exemplars

    # 1-D embedding: points at 0, 1, 10, 21. Seed = id 0 (value 0);
    # farthest = 21 (d2 441); then 10 (min(100, 121) = 100); then 1
    rows = [
        (0, [0.0]), (1, [1.0]), (2, [10.0]), (3, [21.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r.round, r.vec_id, r.min_dist_sq)
        for r in kcenter_exemplars(df, k=4).orderBy("round").collect()
    ]
    assert got == [
        (1, 0, None),
        (2, 3, 441.0),
        (3, 2, 100.0),
        (4, 1, 1.0),
    ]
    # k beyond n stops early; empty input yields empty frame
    assert kcenter_exemplars(df, k=9).count() == 4
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kcenter_exemplars(empty, k=3).count() == 0
    # id column keeps its input type: string ids work end-to-end
    sdf = spark.createDataFrame(
        [("a", [0.0]), ("b", [1.0]), ("c", [10.0]), ("d", [21.0])],
        "vec_id string, embedding array<double>",
    )
    sgot = kcenter_exemplars(sdf, k=3).orderBy("round")
    assert dict(sgot.dtypes)["vec_id"] == "string"
    assert [(r.round, r.vec_id) for r in sgot.collect()] == [
        (1, "a"), (2, "d"), (3, "c"),
    ]
    # int ids too (schema derives from the input, never hardcoded long)
    jsc = spark.sparkContext._jsc

    def persisted_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persisted_ids()
    idf = spark.createDataFrame(
        [(7, [0.0]), (8, [5.0])], "vec_id int, embedding array<double>"
    )
    assert dict(kcenter_exemplars(idf, k=2).dtypes)["vec_id"] == "int"
    # the candidate relation is persisted for the rounds, then released:
    # no RDD persisted during the call outlives it (RDDs that earlier
    # tests persisted may be released meanwhile, so compare ids, not
    # the global count)
    assert not (persisted_ids() - before)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        kcenter_exemplars(df, k=0)
