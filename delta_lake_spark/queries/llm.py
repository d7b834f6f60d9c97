"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — over the documents/embeddings tables.

Oracle-checked wherever ANSI SQL can express the semantics; the
approximate operators (simhash banding, hyperplane LSH, IVF) are
rows-only checks, with their exact counterparts oracle-checked so the
approximate outputs are cross-validated in tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.multimodal import (
    decode_image_features,
    documents_as_media,
    frame_sample,
)
from ..operators._cache import clear_session_caches, memo, register_persisted
from ..operators.similarity import cosine_topk, ivf_topk, lsh_ann_pairs
from ..operators.text import (
    build_vocabulary,
    chunk_documents,
    fingerprint,
    lang_id,
    pack_sequences,
    quality_score,
    redact_pii,
    repetition_ratio,
    tfidf_top_terms,
    token_stats,
)
from .relational import _t


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def q30_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


_Q30_SQL = """
SELECT MIN(doc_id) AS doc_id
FROM documents
GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
"""


def q31_dedup_ngram_jaccard(spark, sf_dir):
    pairs = ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.6
    )
    return pairs.select("id_1", "id_2", F.round("jaccard", 6).alias("jaccard"))


# exact pairwise jaccard over word 3-gram shingles via inverted index
_Q31_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
  WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, ROUND(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = id_1
JOIN sizes s2 ON s2.doc_id = id_2
WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
"""


def q32_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidates verified by exact jaccard — with k=64/b=16
    the verified output equals the exact inverted-index result (recall
    at j>=0.6 is ~1), so it shares q31's oracle."""
    # the input is the UNFILTERED documents table, so the parquet
    # footer row count equals df.count() exactly — the stop-shingle
    # guard sizes from metadata instead of a count job (None falls
    # back to the operator's own count)
    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.6,
        k=64, bands=16, n_docs=_docs_rowcount(sf_dir),
    )
    return pairs.select("id_1", "id_2", F.round("jaccard", 6).alias("jaccard"))


def q33_dedup_simhash(spark, sf_dir):
    """SimHash banded near-dup pairs, portable-hash configuration: token
    bits come from md5 hex-digit arithmetic, so the DuckDB oracle
    replicates the signature (and therefore the banded candidate rule
    and hamming values) bit-for-bit — a full value-exact check of the
    approximate operator."""
    return simhash_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        bits=60, max_hamming=3, bands=4, portable=True,
    )


def _gen_q33_sql(bits: int = 60, bands: int = 4, max_hamming: int = 3) -> str:
    """DuckDB replica of portable simhash_pairs: same md5-derived token
    hash (first ceil(bits/4) hex digits parsed big-endian into a long),
    same majority signature, same banded buckets, same hamming."""
    width = bits // bands
    mask = (1 << width) - 1
    n_hex = (bits + 3) // 4
    hval = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1)::BIGINT"
        f" * (1::BIGINT << {4 * (n_hex - 1 - j)})"
        for j in range(n_hex)
    )
    bit_sums = ",\n    ".join(
        f"SUM(CASE WHEN (hval >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {bi} AS band, (simhash >> {bi * width}) & {mask} AS key FROM sig"
        for bi in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, {hval} AS hval FROM toks
),
bitsums AS (
  SELECT doc_id,
    {bit_sums}
  FROM hashed GROUP BY doc_id
),
sig AS (
  SELECT doc_id, {sig_terms} AS simhash FROM bitsums
),
banded AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2, a.simhash AS s1, b.simhash AS s2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_1, id_2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= {max_hamming}
"""


_Q33_SQL = _gen_q33_sql()


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def q34_embedding_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=10, id_col="vec_id", vec_col="embedding")
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


_Q34_SQL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 10
"""


def q44_embedding_topk_pandas(spark, sf_dir):
    """Same top-k semantics as q34 through the Arrow/numpy mapInPandas
    path (BLAS matmul per batch, local top-k, global window) — shares
    q34's oracle, so the vectorized path is value-checked too."""
    from ..operators.similarity import cosine_topk_pandas

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_pandas(emb, queries, k=10, id_col="vec_id", vec_col="embedding")
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


def q35_embedding_lsh_pairs(spark, sf_dir):
    """Hyperplane-LSH near-duplicate vector pairs. The hyperplanes are
    deterministic (seeded numpy), so the DuckDB oracle embeds the same
    plane constants and replicates the sign-bit signatures, band
    buckets (including the hot-bucket cap), and exact cosine verify —
    a full value-exact check of the approximate operator."""
    return lsh_ann_pairs(
        _emb(spark, sf_dir), id_col="vec_id", vec_col="embedding",
        dim=64, n_planes=16, bands=4, threshold=0.4,
    ).select("id_1", "id_2", F.round("sim", 6).alias("sim"))


def _gen_q35_sql(
    dim: int = 64, n_planes: int = 16, bands: int = 4, seed: int = 42,
    threshold: float = 0.4, max_bucket_size: int = 1000,
) -> str:
    """DuckDB replica of lsh_ann_pairs at q35's configuration: the exact
    hyperplane constants are embedded as double literals (repr() is the
    shortest round-trip form, so both engines parse the same double)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    bit_exprs = ",\n    ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in p)
        + f"]) > 0 THEN '1' ELSE '0' END AS bit{i}"
        for i, p in enumerate(planes)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT vec_id, {b} AS band, {key} AS key FROM bits".format(
            b=bi,
            key="||".join(f"bit{bi * width + j}" for j in range(width)),
        )
        for bi in range(bands)
    )
    cos = (
        "list_dot_product(v1.v, v2.v) / (sqrt(list_dot_product(v1.v, v1.v))"
        " * sqrt(list_dot_product(v2.v, v2.v)))"
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bits AS (
  SELECT vec_id, v,
    {bit_exprs}
  FROM v
),
banded AS (
  {band_rows}
),
sized AS (
  SELECT vec_id, band, key, COUNT(*) OVER (PARTITION BY band, key) AS n FROM banded
),
ok AS (SELECT vec_id, band, key FROM sized WHERE n > 1 AND n <= {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
  FROM ok a JOIN ok b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.id_1, c.id_2, {cos} AS sim
  FROM cand c JOIN v v1 ON v1.vec_id = c.id_1 JOIN v v2 ON v2.vec_id = c.id_2
)
SELECT id_1, id_2, ROUND(sim, 6) AS sim FROM scored WHERE sim >= {threshold}
"""


_Q35_SQL = _gen_q35_sql()


def q42_embedding_dedup_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine >= 0.45) by brute force —
    the correctness baseline whose scale path is q35's LSH bucketing.
    Oracle-checked against DuckDB list_dot_product in double precision."""
    from ..operators.similarity import _dot, _norm

    # norms computed ONCE per row before the self-join: the O(n^2) pair
    # stage then evaluates a single higher-order dot per pair instead
    # of three (dot + both norms) — same values, a third of the
    # interpreted-lambda work
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    with_norm = emb.select(
        "vec_id", "v", _norm(F.col("v")).alias("n")
    )
    a = with_norm.select(
        F.col("vec_id").alias("id_1"),
        F.col("v").alias("v1"),
        F.col("n").alias("n1"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("id_2"),
        F.col("v").alias("v2"),
        F.col("n").alias("n2"),
    )
    pairs = (
        a.join(b, F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            (
                _dot(F.col("v1"), F.col("v2"))
                / (F.col("n1") * F.col("n2"))
            ).cast("double").alias("sim"),
        )
        .filter(F.col("sim") >= 0.45)
    )
    return pairs.select("id_1", "id_2", F.round("sim", 6).alias("sim"))


_Q42_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_1, b.vec_id AS id_2,
  ROUND(list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
"""


def q36_embedding_ivf_topk(spark, sf_dir):
    """IVF-routed approximate top-k. The whole operator is deterministic
    arithmetic (modulo-bucket arg_min centroids, cosine cell routing),
    so the DuckDB oracle replicates it end-to-end — a full value-exact
    check of the approximate result, not just its row count. Recall vs
    brute force is additionally asserted in tests."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=10, n_cells=16, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


def _gen_q36_sql(n_cells: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """DuckDB replica of ivf_topk: same centroid seeding (min-id vector
    per id%n_cells bucket), same nearest-cell assignment, same nprobe
    routing, same exact top-k within probed cells."""

    def cos(a, b):
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
centroids AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell_id, arg_min(v, vec_id) AS cv
  FROM v GROUP BY 1
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT v.vec_id, v.v, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {cos('v.v', 'c.cv')} DESC, c.cell_id ASC) AS r
    FROM v, centroids c
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT q.query_id, q.qv, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {cos('q.qv', 'c.cv')} DESC, c.cell_id ASC) AS r
    FROM q, centroids c
  ) WHERE r <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos('p.qv', 'a.v')} AS sim
  FROM probes p JOIN assigned a
    ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 6) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= {k}
"""


_Q36_SQL = _gen_q36_sql()


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q37_token_stats(spark, sf_dir):
    out = token_stats(_docs(spark, sf_dir), "text", "doc_id")
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("re_tokens").cast("long").alias("re_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


_Q37_SQL = r"""
SELECT doc_id,
  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
  length(text) AS n_chars
FROM documents
"""


def q38_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir), "text", "doc_id")


_Q38_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
)
SELECT doc_id,
  ROUND(n_tokens, 6) AS n_tokens,
  ROUND((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_tok_len,
  ROUND(n_uniq / n_tokens, 6) AS uniq_ratio,
  ROUND(alpha_chars / n_chars, 6) AS alpha_ratio,
  ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
        + (alpha_chars / n_chars) * 0.3, 6) AS quality
FROM base
"""


def q39_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir), "text", "doc_id")


_Q39_SQL = r"""
WITH scores AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b')) AS INTEGER) AS score_en,
    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los)\b')) AS INTEGER) AS score_es,
    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein)\b')) AS INTEGER) AS score_de,
    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|une)\b')) AS INTEGER) AS score_fr
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
    WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
    WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
    WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
    ELSE 'fr'
  END AS pred_lang,
  score_de, score_en, score_es, score_fr
FROM scores
"""


def q40_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir), "text", "doc_id")


_Q40_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def q41_multimodal_features(spark, sf_dir):
    media = documents_as_media(_docs(spark, sf_dir))
    feats = decode_image_features(media)  # stubbed decode; real Arrow plumbing
    return feats.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("head_byte").cast("long").alias("head_byte"),
        "byte_sum",
        F.col("fake_width").cast("long").alias("fake_width"),
        F.col("fake_height").cast("long").alias("fake_height"),
    )


# documents are pure ASCII (verified), so octet_length == length and
# byte values == codepoints; byte_sum folds per-char codepoints.
_Q41_SQL = """
SELECT doc_id AS media_id,
  octet_length(encode(text)) AS n_bytes,
  CAST(ord(substr(text, 1, 1)) AS BIGINT) AS head_byte,
  CAST(list_sum(list_transform(string_split(text, ''), x -> ord(x))) AS BIGINT) AS byte_sum,
  octet_length(encode(text)) % 640 AS fake_width,
  octet_length(encode(text)) % 480 AS fake_height
FROM documents
"""


def q43_frame_sample(spark, sf_dir):
    """Row-exploding mapInPandas 'frame sampling' over binary media
    payloads (1 row in -> many out) — the video-demux plan shape with a
    deterministic stand-in checksum, oracle-checked byte-for-byte."""
    media = documents_as_media(_docs(spark, sf_dir))
    out = frame_sample(media, every_n_bytes=64)
    return out.select(
        "media_id",
        F.col("frame_offset").cast("long").alias("frame_offset"),
        F.col("frame_checksum").cast("long").alias("frame_checksum"),
    )


# documents are pure ASCII (see q41): byte == codepoint, so the frame
# checksum folds substring codepoints exactly like the pandas stub
_Q43_SQL = """
WITH offs AS (
  SELECT doc_id AS media_id, text,
         unnest(range(0, length(text), 64)) AS frame_offset
  FROM documents
)
SELECT media_id, frame_offset,
  CAST(list_sum(list_transform(string_split(substr(text, CAST(frame_offset AS INT) + 1, 64), ''), x -> ord(x))) % 65536 AS BIGINT) AS frame_checksum
FROM offs
"""


def q45_train_test_split(spark, sf_dir):
    """Deterministic md5-hash train/test split + per-stratum sampling
    over the documents table; row-level split is value-checked by the
    oracle because md5 is engine-portable."""
    from ..operators.sampling import deterministic_split

    docs = _docs(spark, sf_dir)
    out = deterministic_split(docs, "doc_id", train_frac=0.8)
    return out.select("doc_id", "split")


_Q45_SQL = """
SELECT doc_id,
  CASE WHEN substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd'
       THEN 'train' ELSE 'test' END AS split
FROM documents
"""


def q67_chunk_documents(spark, sf_dir):
    """Overlapping 64-word chunks with 16-word overlap (stride 48)."""
    return chunk_documents(
        _docs(spark, sf_dir), "text", "doc_id", chunk_size=64, overlap=16
    )


_Q67_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
st AS (
  SELECT doc_id, w,
         unnest(range(1, greatest(len(w) - 16, 1) + 1, 48)) AS s
  FROM tok
)
SELECT doc_id,
  CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
  CAST(len(w[s : least(s + 63, len(w))]) AS BIGINT) AS chunk_tokens,
  array_to_string(w[s : least(s + 63, len(w))], ' ') AS chunk_text
FROM st
"""


def q68_pack_sequences(spark, sf_dir):
    """Concat-and-split packing into 512-token bins, grouped by source."""
    return pack_sequences(
        _docs(spark, sf_dir), "text", "doc_id", part_col="source", budget=512
    )


_Q68_SQL = """
WITH t AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
),
b AS (
  SELECT source, n_tok,
    CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                - n_tok) / 512.0) AS BIGINT) AS bin_id
  FROM t
)
SELECT source, bin_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM b GROUP BY source, bin_id
"""


def q69_redact_pii(spark, sf_dir):
    return redact_pii(_docs(spark, sf_dir), "text", "doc_id")


_Q69_SQL = """
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
    AS n_emails,
  CAST(len(regexp_extract_all(
       regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       '[0-9]{4,}')) AS BIGINT) AS n_longnums,
  regexp_replace(
    regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{4,}', '<NUM>', 'g') AS redacted
FROM documents
"""


def q70_repetition_ratio(spark, sf_dir):
    return repetition_ratio(_docs(spark, sf_dir), "text", "doc_id")


_Q70_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM (SELECT doc_id, w,
               unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS i
        FROM tok)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_uniq
  FROM sh GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
  ROUND(COALESCE(1.0 - a.n_uniq * 1.0 / a.n_grams, 0.0), 6) AS rep_ratio
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q86_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: exact jaccard pairs -> connected
    components (min-label propagation) -> every document labeled with
    its cluster's canonical (smallest) id. The DuckDB oracle computes
    the same components with a recursive transitive-closure CTE."""
    from ..operators.dedup import resolve_duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    return resolve_duplicate_clusters(pairs, docs.select("doc_id"), "doc_id")


_Q86_SQL = """
WITH RECURSIVE tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
  WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2 FROM inter
  JOIN sizes s1 ON s1.doc_id = id_1
  JOIN sizes s2 ON s2.doc_id = id_2
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, MIN(root) AS cluster_id
FROM reach GROUP BY node
"""


def q88_dedup_pipeline_stats(spark, sf_dir):
    """End-to-end dedup: pairs -> clusters -> keep the canonical doc per
    cluster -> corpus reduction stats (docs and chars before/after) —
    the one-row summary a production dedup job reports."""
    from ..operators.dedup import resolve_duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    clusters = resolve_duplicate_clusters(pairs, docs.select("doc_id"), "doc_id")
    kept = F.col("doc_id") == F.col("cluster_id")
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    return j.agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


_Q88_SQL = """
WITH RECURSIVE tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx
  WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2 FROM inter
  JOIN sizes s1 ON s1.doc_id = id_1
  JOIN sizes s2 ON s2.doc_id = id_2
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node)
SELECT COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(CASE WHEN cc.doc_id = cc.cluster_id THEN d.n_chars ELSE 0 END)
    AS BIGINT) AS kept_chars
FROM cc JOIN documents d ON d.doc_id = cc.doc_id
"""


def q87_audio_chunk_plan(spark, sf_dir):
    """Chunked-media planning: byte-offset chunk rows per payload, all
    JVM arithmetic (sequence+explode over octet_length) — the shuffle-
    free pre-step a chunked transcription/embedding pipeline fans out
    on. Oracle recomputes the plan from the byte length in SQL."""
    from ..operators.multimodal import audio_chunk_plan, documents_as_media

    media = documents_as_media(_docs(spark, sf_dir))
    return audio_chunk_plan(media, chunk_bytes=256)


_Q87_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, strlen(text) AS n,
         CAST(ceil(strlen(text) / 256.0) AS INT) AS n_chunks
  FROM documents
),
c AS (
  SELECT media_id, n,
         unnest(range(0, greatest(n_chunks, 1))) AS chunk_id
  FROM m
)
SELECT media_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 256 AS BIGINT) AS start_byte,
       CAST(least(256, n - chunk_id * 256) AS BIGINT) AS n_bytes
FROM c
"""


def q76_tfidf_keywords(spark, sf_dir):
    return tfidf_top_terms(_docs(spark, sf_dir), "text", "doc_id", k=5)


_Q76_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
docfreq AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
  GROUP BY term
),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ln(n.n * 1.0 / docfreq.df) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, ROUND(tfidf, 6) AS tfidf, rnk
FROM ranked WHERE rnk <= 5
"""


def q77_vocabulary(spark, sf_dir):
    return build_vocabulary(_docs(spark, sf_dir), "text", min_freq=2)


_Q77_SQL = """
WITH counts AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term HAVING COUNT(*) >= 2
)
SELECT term, freq,
       ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS vocab_id
FROM counts
"""


# --------------------------------------------------------------------------
# q92/q95-q98: decontamination, entropy quality, OOV coverage, clustering,
# co-occurrence — the remaining LLM-pipeline staples
# --------------------------------------------------------------------------

def q92_decontaminate(spark, sf_dir):
    """Benchmark-overlap decontamination: docs 0-24 stand in for an eval
    set; every other document is checked for 5-gram collisions with it
    (the classic 13-gram test, shortened for the synthetic corpus).
    Eval shingles broadcast; the corpus side never shuffles."""
    from ..operators.text import decontaminate

    docs = _docs(spark, sf_dir)
    eval_df = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return decontaminate(corpus, eval_df, "text", "doc_id", n=5)


_Q92_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS shingle
  FROM idx WHERE i + 4 <= len(w)
),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus JOIN eval_sh USING (shingle)
GROUP BY doc_id
"""


def q95_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document — the cheap
    perplexity proxy used as a generated-text/quality filter."""
    from ..operators.text import char_entropy

    return char_entropy(_docs(spark, sf_dir), "text", "doc_id")


_Q95_SQL = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS cnt FROM chars WHERE ch <> '' GROUP BY 1, 2
)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
  ROUND(ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt), 9) AS entropy
FROM counts GROUP BY doc_id
"""


def q96_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus vocabulary
    (min_freq=2, i.e. OOV = corpus hapaxes) — the tokenizer-coverage
    check; the vocabulary broadcasts."""
    from ..operators.text import build_vocabulary, oov_rate

    docs = _docs(spark, sf_dir)
    vocab = build_vocabulary(docs, "text", min_freq=2)
    return oov_rate(docs, vocab, "text", "doc_id")


_Q96_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
vocab AS (SELECT term FROM toks GROUP BY term HAVING COUNT(*) >= 2),
marked AS (
  SELECT t.doc_id, v.term IS NOT NULL AS in_v
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN in_v THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
  ROUND(SUM(CASE WHEN in_v THEN 0 ELSE 1 END) * 1.0 / COUNT(*), 9) AS oov_rate
FROM marked GROUP BY doc_id
"""


def q97_kmeans_clusters(spark, sf_dir):
    """Two-iteration distributed k-means over the embeddings (the IVF
    index-build pre-step) — deterministic seeding and 1e-9-rounded
    centroid recomputation make the whole iterative algorithm
    replicable by the unrolled-CTE oracle."""
    from ..operators.similarity import kmeans_clusters

    return kmeans_clusters(
        _emb(spark, sf_dir), n_cells=8, iterations=2, dim=64
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


def _kmeans_cte_sql(n_cells: int = 8, dim: int = 64) -> str:
    """Shared DuckDB replica of the deterministic 2-iteration k-means
    assignment (_kmeans_assign): modulo arg_min seeding, cosine
    assignment, per-position avg centroids rounded to 1e-9,
    reassignment. Exposes ``a1(vec_id, v, cell_id)``."""
    mean_list = ", ".join(f"ROUND(avg(v[{i + 1}]), 9)" for i in range(dim))
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell_id, arg_min(v, vec_id) AS cv
  FROM v GROUP BY 1
),
a0 AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT v.vec_id, v.v, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos_sql('v.v', 'c.cv')} DESC, c.cell_id ASC) AS r
    FROM v, c0 c
  ) WHERE r = 1
),
c1 AS (SELECT cell_id, [{mean_list}] AS cv FROM a0 GROUP BY cell_id),
a1 AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT v.vec_id, v.v, c.cell_id,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos_sql('v.v', 'c.cv')} DESC, c.cell_id ASC) AS r
    FROM v, c1 c
  ) WHERE r = 1
)"""


_Q97_SQL = (
    _kmeans_cte_sql()
    + "\nSELECT cell_id, COUNT(*) AS n_members FROM a1 GROUP BY cell_id\n"
)


def q113_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (cluster-then-prune, Abbas et al.
    2023): k-means buckets confine the quadratic cosine step, min-id
    representative survives per near-dup group. The oracle replays the
    full pipeline — unrolled k-means CTE, within-cluster pairwise
    cosine at the same 1e-9 rounding — so the verdict is value-exact,
    not rows-only."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir), n_cells=8, threshold=0.45, iterations=2, dim=64
    )


_Q113_SQL = (
    _kmeans_cte_sql()
    + f""",
dups AS (
  SELECT DISTINCT b.vec_id
  FROM a1 a JOIN a1 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE ROUND({_cos_sql('a.v', 'b.v')}, 9) >= 0.45
)
SELECT a1.vec_id, a1.cell_id, d.vec_id IS NULL AS kept
FROM a1 LEFT JOIN dups d ON a1.vec_id = d.vec_id
"""
)


def q98_bigram_stats(spark, sf_dir):
    """Top-100 corpus bigrams (phrase-mining / tokenizer-merge
    statistic); top-N executes as TakeOrdered, ties by bigram asc."""
    from ..operators.text import bigram_counts

    return bigram_counts(_docs(spark, sf_dir), "text", top_n=100)


_Q98_SQL = """
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
),
idx AS (SELECT w, unnest(range(1, greatest(len(w), 1))) AS i FROM toks),
bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram FROM idx WHERE i + 1 <= len(w))
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS freq FROM bg GROUP BY bigram
ORDER BY freq DESC, bigram ASC LIMIT 100
"""


def q103_unigram_lm_score(spark, sf_dir):
    """Unigram LM scoring (perplexity proxy) with the model built from
    the corpus itself: the vocabulary-sized model joins unhinted (AQE
    broadcasts it while small, shuffles above the threshold), corpus
    side is explode + join + one doc-keyed aggregation."""
    from ..operators.text import unigram_lm_score

    return unigram_lm_score(_docs(spark, sf_dir), "text", "doc_id")


_Q103_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
cnts AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnts)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(ln(c)) - (SELECT ln(t) FROM tot), 9) AS avg_logprob
FROM toks JOIN cnts USING (term)
GROUP BY doc_id
"""


def q104_mixture_sample(spark, sf_dir):
    """Domain-mixture downsampling: re-weight sources to a 4:2:1:...:1
    target mixture; the binding stratum keeps 100%, everything else
    keeps the deterministic md5-threshold fraction that preserves the
    target shares."""
    from ..operators.sampling import mixture_sample

    kept = mixture_sample(
        _docs(spark, sf_dir), "doc_id", "source", {"src0": 4.0, "src1": 2.0}
    )
    return kept.select("doc_id", "source")


_Q104_SQL = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
    CASE WHEN source = 'src0' THEN 4.0
         WHEN source = 'src1' THEN 2.0 ELSE 1.0 END AS wt
  FROM c
),
t AS (SELECT MIN(n / wt) AS t FROM w),
r AS (SELECT source, wt * (SELECT t FROM t) / n AS rate FROM w),
th AS (
  SELECT source,
    CASE WHEN rate >= 1 THEN 'g'
         ELSE printf('%08x', CAST(round(rate * 4294967296.0) AS BIGINT))
    END AS thr
  FROM r
)
SELECT d.doc_id, d.source
FROM documents d JOIN th USING (source)
WHERE substr(md5('mix-v1' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th.thr
"""


def q105_duplicate_spans(spark, sf_dir):
    """Exact-substring duplication rate: fraction of each document's
    5-gram positions whose 5-gram also occurs in another document (the
    suffix-dedup measurement, shingle-hash formulation)."""
    from ..operators.text import duplicate_span_rate

    return duplicate_span_rate(_docs(spark, sf_dir), "text", "doc_id", n=5)


_Q105_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM tok),
sp AS (
  SELECT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS span
  FROM idx WHERE i + 4 <= len(w)
),
dup AS (
  SELECT span FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
  ROUND(SUM(CASE WHEN d.span IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9)
    AS dup_rate
FROM sp s LEFT JOIN dup d USING (span)
GROUP BY s.doc_id
"""


def q106_strip_markup(spark, sf_dir):
    """Markup stripping over synthetically-wrapped documents (the
    corpus has no native HTML, so the query wraps each doc in
    deterministic tags + an entity first, then strips them)."""
    from ..operators.text import strip_markup

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p id="'),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            F.col("text"),
            F.lit(" &amp; <br/></p>"),
        ).alias("text"),
    )
    return strip_markup(wrapped, "text", "doc_id")


_Q106_SQL = """
WITH wrapped AS (
  SELECT doc_id,
    '<p id="' || CAST(doc_id AS VARCHAR) || '">' || text || ' &amp; <br/></p>'
      AS text
  FROM documents
),
stripped AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(regexp_replace(
      text, '<[^>]*>', ' ', 'g'),
      '&[A-Za-z]+;|&#[0-9]+;', ' ', 'g'),
      '\\s+', ' ', 'g')) AS clean_text,
    CAST(length(text) AS BIGINT) AS n_raw
  FROM wrapped
)
SELECT doc_id, clean_text, n_raw,
  CAST(length(clean_text) AS BIGINT) AS n_clean,
  ROUND(1.0 - length(clean_text) * 1.0 / n_raw, 9) AS markup_ratio
FROM stripped
"""


def q114_dedup_incremental(spark, sf_dir):
    """Incremental dedup of a synthetic 'daily batch' against the full
    document corpus: even-id docs are re-submitted with new ids, half
    verbatim (dups — must be dropped) and half with a unique suffix
    (genuinely new — must survive). Bloom pre-filter + exact anti-join."""
    from ..operators.dedup import dedup_against_corpus

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .otherwise(
            F.concat(F.col("text"), F.lit(" unique "), F.col("doc_id").cast("string"))
        )
        .alias("text"),
        "source",
    )
    out = dedup_against_corpus(
        batch, docs, "text", "doc_id", expected_corpus_keys=None
    )
    return out.select("doc_id", "source")


_Q114_SQL = """
WITH batch AS (
  SELECT doc_id + 100000 AS doc_id,
    CASE WHEN doc_id % 4 = 0 THEN text
         ELSE text || ' unique ' || CAST(doc_id AS VARCHAR) END AS text,
    source
  FROM documents WHERE doc_id % 2 = 0
),
corpus AS (
  SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT b.doc_id, b.source
FROM batch b
WHERE trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')) NOT IN
  (SELECT norm FROM corpus)
"""


def q115_domain_cap(spark, sf_dir):
    """Per-domain contribution cap: at most 5 docs per source domain,
    deterministically the 5 smallest doc_ids (salted two-level top-k)."""
    from ..operators.sampling import cap_per_domain

    docs = _docs(spark, sf_dir)
    out = cap_per_domain(docs, "source", "doc_id", cap=5)
    return out.select("doc_id", "source", "n_chars")


_Q115_SQL = """
SELECT doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= 5
"""


def q116_centroid_outliers(spark, sf_dir):
    """Per-label embedding outliers: 5 vectors farthest (cosine) from
    their label centroid — the label-noise filter."""
    from ..operators.similarity import centroid_outliers

    emb = _emb(spark, sf_dir)
    return centroid_outliers(
        emb, "embedding", "label", "vec_id", k_outliers=5
    )


_Q116_SQL = """
WITH flat AS (
  SELECT label, vec_id,
    unnest(CAST(embedding AS DOUBLE[])) AS val,
    generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cent AS (
  SELECT label, list(cval ORDER BY pos) AS cv
  FROM (SELECT label, pos, avg(val) AS cval FROM flat GROUP BY label, pos)
  GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(c.cv, c.cv))) AS sim
  FROM embeddings e JOIN cent c USING (label)
),
ranked AS (
  SELECT label, vec_id, sim,
    ROW_NUMBER() OVER (PARTITION BY label ORDER BY sim ASC, vec_id ASC) AS rn
  FROM scored
)
SELECT label, vec_id, ROUND(sim, 6) AS sim FROM ranked WHERE rn <= 5
"""


def q118_remove_dup_spans(spark, sf_dir):
    """Exact-substring dedup with removal: duplicated 5-gram spans keep
    all occurrences in the smallest-id document and are scrubbed from
    every other document; text reassembled from surviving tokens."""
    from ..operators.text import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), "text", "doc_id", n=5)


_Q118_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
tpos AS (
  SELECT doc_id, unnest(w) AS token, generate_subscripts(w, 1) AS tpos FROM tok
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM tok),
sp AS (
  SELECT doc_id, i AS spos,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS span
  FROM idx WHERE i + 4 <= len(w)
),
dup AS (
  SELECT span, MIN(doc_id) AS keeper
  FROM (SELECT DISTINCT span, doc_id FROM sp)
  GROUP BY span HAVING COUNT(*) >= 2
),
cov AS (
  SELECT DISTINCT s.doc_id, s.spos + o.o AS tpos
  FROM sp s JOIN dup d USING (span)
  CROSS JOIN (SELECT unnest(range(0, 5)) AS o) o
  WHERE s.doc_id <> d.keeper
),
kept AS (
  SELECT t.doc_id, t.tpos, t.token
  FROM tpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
  WHERE c.doc_id IS NULL
),
agg AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY tpos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT k.doc_id,
  COALESCE(a.clean_text, '') AS clean_text,
  CAST(len(k.w) AS BIGINT) AS n_tokens,
  CAST(len(k.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
FROM tok k LEFT JOIN agg a USING (doc_id)
"""


def q122_top_terms_per_source(spark, sf_dir):
    """Heavy hitters per domain: top-5 tokens per source (two-level
    salted top-k; deterministic count-desc/term-asc order)."""
    from ..operators.text import top_terms_per_group

    return top_terms_per_group(
        _docs(spark, sf_dir), "text", "source", "doc_id", k=5
    )


_Q122_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE term <> '' GROUP BY source, term
),
ranked AS (
  SELECT source, term, cnt,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY cnt DESC, term ASC
    ) AS BIGINT) AS rank
  FROM counts
)
SELECT source, term, cnt, rank FROM ranked WHERE rank <= 5
"""


def q124_cross_corpus_near_dups(spark, sf_dir):
    """Fuzzy incremental dedup: a perturbed 'daily batch' (every 5th
    doc, one token appended, new ids) LSH-joined against the corpus;
    exact jaccard verified on band-bucket candidates only. The oracle
    computes the exact batch x corpus inverted-index jaccard."""
    from ..operators.dedup import cross_corpus_near_dups

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    out = cross_corpus_near_dups(
        batch, docs, "text", "doc_id", threshold=0.6
    )
    return out.select(
        "batch_id", "corpus_id", F.round("jaccard", 9).alias("jaccard")
    )


_Q124_SQL = """
WITH bdocs AS (
  SELECT doc_id + 200000 AS doc_id, text || ' appended' AS text
  FROM documents WHERE doc_id % 5 = 0
),
bw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM bdocs),
cw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
bsh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM bw)
  WHERE i + 2 <= len(w)
),
csh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM cw)
  WHERE i + 2 <= len(w)
),
bn AS (SELECT doc_id, COUNT(*) AS n_b FROM bsh GROUP BY doc_id),
cn AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS n_i
  FROM bsh b JOIN csh c USING (shingle)
  GROUP BY b.doc_id, c.doc_id
)
SELECT i.batch_id, i.corpus_id,
  ROUND(i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i), 9) AS jaccard
FROM inter i
JOIN bn ON i.batch_id = bn.doc_id
JOIN cn ON i.corpus_id = cn.doc_id
WHERE i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i) >= 0.6
"""


def q130_mixture_resample(spark, sf_dir):
    """Temperature-resampled domain mixture (t=0.7 flattening over the
    `source` column): quota per domain m_d = floor(target * n_d^0.7 /
    sum n^0.7), selection = the m_d smallest-md5 rows per domain —
    deterministic and engine-portable, so the oracle replays quotas AND
    selection exactly."""
    from ..operators.sampling import mixture_resample

    out = mixture_resample(
        _docs(spark, sf_dir).select("doc_id", "source"),
        "source",
        "doc_id",
        temperature=0.7,
        target_rows=2000,
    )
    return out.select("doc_id", "source")


_Q130_SQL = """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
z AS (SELECT SUM(pow(n, 0.7)) AS z FROM counts),
quota AS (
  -- the 1e-6 nudge mirrors mixture_resample: uniform corpora put every
  -- quota exactly on an integer boundary, where 1-ulp pow()/sum-order
  -- drift would flip FLOOR between engines or runs
  SELECT source, CAST(FLOOR(2000 * pow(n, 0.7) / z.z + 0.000001) AS BIGINT) AS m
  FROM counts, z
),
ranked AS (
  SELECT doc_id, source, ROW_NUMBER() OVER (
    PARTITION BY source
    ORDER BY substr(md5('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
  ) AS r
  FROM documents
)
SELECT ranked.doc_id, ranked.source
FROM ranked JOIN quota USING (source)
WHERE ranked.r <= quota.m
"""


def q131_quantized_cosine_topk(spark, sf_dir):
    """Exact top-k cosine over int8-QUANTIZED embeddings (symmetric
    per-vector scale, floor(x+0.5) rounding): the 4x-smaller ANN path
    whose integer dot products the oracle replays bit-exactly via
    list_transform + list_dot_product."""
    from ..operators.similarity import quantized_cosine_topk

    emb = _emb(spark, sf_dir)
    out = quantized_cosine_topk(emb, emb.filter("vec_id < 5"), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


_Q131_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
),
s AS (
  SELECT vec_id, ve,
    greatest(list_max(list_transform(ve, x -> abs(x))), 1e-30) / 127.0 AS sc
  FROM v
),
qv AS (
  SELECT vec_id,
    list_transform(ve, x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS q
  FROM s
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    list_dot_product(CAST(b.q AS DOUBLE[]), CAST(a.q AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(b.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(a.q AS DOUBLE[])))) AS sim
  FROM qv a, qv b
  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
    ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(sim, 6) AS sim
FROM ranked WHERE rank <= 10
"""


def q132_length_bucket_stats(spark, sf_dir):
    """Sequence-length bucketing for padded-batch planning: smallest
    bucket >= whitespace token count, per-bucket volume and padding
    waste. Map-only bucketing + one aggregation."""
    from ..operators.stats import length_bucket_stats

    return length_bucket_stats(_docs(spark, sf_dir), "text").select(
        "bucket",
        "n_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "padded_tokens",
        "pad_waste_pct",
    )


_Q132_SQL = r"""
WITH t AS (
  SELECT len(string_split_regex(trim(text), '\s+')) AS tok FROM documents
),
b AS (
  SELECT tok,
    CASE WHEN tok <= 64 THEN 64 WHEN tok <= 128 THEN 128
         WHEN tok <= 256 THEN 256 WHEN tok <= 512 THEN 512
         WHEN tok <= 1024 THEN 1024 ELSE -1 END AS bucket
  FROM t
),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(tok) AS BIGINT) AS total_tokens
  FROM b GROUP BY bucket
)
SELECT bucket, n_docs, total_tokens,
  CAST(CASE WHEN bucket > 0 THEN bucket * n_docs
            ELSE total_tokens END AS BIGINT) AS padded_tokens,
  ROUND((1.0 - total_tokens * 1.0 /
    (CASE WHEN bucket > 0 THEN bucket * n_docs ELSE total_tokens END))
    * 100.0, 4) AS pad_waste_pct
FROM agg
"""


def q129_incremental_lsh_index(spark, sf_dir):
    """Persistent incremental LSH signature index: build the index once
    over the corpus, APPEND a day-2 batch of new docs updating only
    their signatures (the existing corpus is never re-shingled), then
    run a probe batch against the stored index. The probe has near-dups
    in BOTH generations — original docs (every 5th, ' appended') and
    day-2 docs (every 35th base doc shared with the ' extra' derivative)
    — so a stale or missing incremental update fails the oracle, which
    recomputes the exact batch x full-corpus inverted-index jaccard.

    Like q32/q124, the oracle contract assumes full LSH candidate
    recall: true pairs here sit near jaccard 0.9+ where 16x4 banding
    misses with P ~ 1e-7. Pairs engineered near the 0.6 threshold would
    make this probabilistic (P(miss) up to ~10%) — re-validate at round
    start if the testdata regenerates (see minhash-affine-trap note)."""
    from ..operators.dedup import (
        near_dups_against_index,
        update_signature_index,
    )
    from ._fixtures import clone_index, docs_day2, lsh_base_index

    docs = _docs(spark, sf_dir)
    # shared fixture (_fixtures.py): the base signature index over the
    # corpus is built once per process; this query mutates its own
    # clone with the incremental day-2 update (the v0 pin the master
    # carries is metadata only — update/probe never read it)
    idx = clone_index(lsh_base_index(spark, sf_dir))

    day2 = docs_day2(docs.select("doc_id", "text"))
    update_signature_index(day2, "text", "doc_id", idx)

    corpus = docs.select("doc_id", "text").unionByName(day2)
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    out = near_dups_against_index(probe, corpus, "text", "doc_id", idx)
    return out.select(
        "batch_id", "corpus_id", F.round("jaccard", 9).alias("jaccard")
    )


_Q129_SQL = """
WITH day2 AS (
  SELECT doc_id + 300000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM day2
),
bdocs AS (
  SELECT doc_id + 200000 AS doc_id, text || ' appended' AS text
  FROM documents WHERE doc_id % 5 = 0
),
bw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM bdocs),
cw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM corpus),
bsh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM bw)
  WHERE i + 2 <= len(w)
),
csh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM cw)
  WHERE i + 2 <= len(w)
),
bn AS (SELECT doc_id, COUNT(*) AS n_b FROM bsh GROUP BY doc_id),
cn AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS n_i
  FROM bsh b JOIN csh c USING (shingle)
  GROUP BY b.doc_id, c.doc_id
)
SELECT i.batch_id, i.corpus_id,
  ROUND(i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i), 9) AS jaccard
FROM inter i
JOIN bn ON i.batch_id = bn.doc_id
JOIN cn ON i.corpus_id = cn.doc_id
WHERE i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i) >= 0.6
"""


def q141_persistent_pq_index(spark, sf_dir):
    """Persistent IVFPQ index with incremental encoding — the ANN
    mirror of q129's signature index: quantizers trained on the day-1
    corpus and FROZEN as Delta tables, day-2 vectors encoded
    incrementally under them (the existing corpus is never re-encoded),
    queries served from the stored (cell, codes) rows. The oracle
    replicates the frozen-quantizer semantics exactly: coarse centroids
    and codebooks from the day-1 subset, codes for the full corpus."""
    from ..operators.similarity import (
        build_pq_index,
        query_pq_index,
        update_pq_index,
    )
    from ..queries.delta_ops import _fresh

    emb = _emb(spark, sf_dir)
    day1 = emb.filter(F.col("vec_id") % 3 != 0)
    day2 = emb.filter(F.col("vec_id") % 3 == 0)
    idx = _fresh("pq_index")
    build_pq_index(day1, idx, n_cells=16, m=4, k_codes=16, dim=64)
    update_pq_index(day2, idx)

    queries = emb.filter(F.col("vec_id") < 5)
    out = query_pq_index(queries, emb, idx, k=10, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def _gen_q141_sql(
    m: int = 4,
    k_codes: int = 16,
    k: int = 10,
    dim: int = 64,
    rerank: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB replica of the persistent-index query: q139's IVFPQ
    arithmetic with the quantizers trained on the day-1 subset only
    (vec_id % 3 <> 0) — the frozen-codebook contract — while every
    vector is encoded and searchable."""
    subdim = dim // m

    def d2(a, b):
        return (
            f"ROUND(list_dot_product({a}, {a})"
            f" - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}), 9)"
        )

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
train AS (SELECT * FROM v WHERE vec_id % 3 <> 0),
cellreps AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell, arg_min(v, vec_id) AS cv
  FROM train GROUP BY 1
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vv.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY vv.vec_id
        ORDER BY {d2('vv.v', 'c.cv')} ASC, c.cell ASC) AS r
    FROM v vv, cellreps c
  ) WHERE r = 1
),
reps AS (
  SELECT CAST(vec_id % {k_codes} AS INTEGER) AS code, arg_min(v, vec_id) AS rep
  FROM train GROUP BY 1
),
cent AS (
  SELECT code, s,
         list_slice(rep, s * {subdim} + 1, s * {subdim} + {subdim}) AS cv
  FROM reps, (SELECT unnest(range(0, {m})) AS s)
),
vsub AS (
  SELECT vec_id, s,
         list_slice(v, s * {subdim} + 1, s * {subdim} + {subdim}) AS xv
  FROM v, (SELECT unnest(range(0, {m})) AS s)
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vs.vec_id, vs.s, c.code,
      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.s
        ORDER BY {d2('vs.xv', 'c.cv')} ASC, c.code ASC) AS r
    FROM vsub vs JOIN cent c ON c.s = vs.s
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {d2('q.qv', 'c.cv')} ASC, c.cell ASC) AS r
    FROM q, cellreps c
  ) WHERE r <= {nprobe}
),
qsub AS (
  SELECT query_id, s,
         list_slice(qv, s * {subdim} + 1, s * {subdim} + {subdim}) AS qs
  FROM q, (SELECT unnest(range(0, {m})) AS s)
),
qtab AS (
  SELECT qs.query_id, qs.s, c.code, {d2('qs.qs', 'c.cv')} AS qd
  FROM qsub qs JOIN cent c ON c.s = qs.s
),
dists AS (
  SELECT t.query_id, co.vec_id AS neighbor_id, ROUND(SUM(t.qd), 9) AS dist
  FROM codes co
  JOIN assign a ON a.vec_id = co.vec_id
  JOIN qtab t ON t.s = co.s AND t.code = co.code
  JOIN probes p ON p.query_id = t.query_id AND p.cell = a.cell
  GROUP BY 1, 2
  HAVING co.vec_id <> t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS r
    FROM dists
  ) WHERE r <= {k * rerank}
),
rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    {d2('q.qv', 'nv.v')} AS dist
  FROM shortlist sl
  JOIN q ON q.query_id = sl.query_id
  JOIN v nv ON nv.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, rank, ROUND(dist, 6) AS dist FROM (
  SELECT query_id, neighbor_id, dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= {k}
"""


_Q141_SQL = _gen_q141_sql()


def q144_bigram_lm_score(spark, sf_dir):
    """Interpolated bigram LM scoring over the corpus (the CCNet-style
    perplexity-filter upgrade of q103's unigram proxy); lam=0.5 keeps
    both interpolation constants exactly representable so the oracle
    reproduces scores bit-for-bit after the 1e-9 round."""
    from ..operators.text import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir), "text", "doc_id", lam=0.5)


_Q144_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') AS w
  FROM documents
),
pairs AS (
  SELECT doc_id, w[i] AS prev, w[i+1] AS cur
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS i FROM w)
  WHERE i + 1 <= len(w)
),
toks AS (SELECT unnest(w) AS term FROM w),
uni AS (SELECT term, COUNT(*) AS c1 FROM toks GROUP BY term),
tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
big AS (SELECT prev, cur, COUNT(*) AS c2 FROM pairs GROUP BY prev, cur),
sc AS (
  SELECT p.doc_id,
    0.5 * b.c2 / up.c1 + 0.5 * uc.c1 / t.total AS prob
  FROM pairs p
  JOIN big b ON b.prev = p.prev AND b.cur = p.cur
  JOIN uni up ON up.term = p.prev
  JOIN uni uc ON uc.term = p.cur, tot t
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(ln(prob)), 9) AS avg_logprob
FROM sc GROUP BY doc_id
"""


def q143_semantic_decontaminate(spark, sf_dir):
    """Embedding-based decontamination: every corpus vector's max cosine
    to the (broadcast-small) eval-set embeddings, flagged at 0.35 — the
    paraphrase-leakage check n-gram decontamination (q92) cannot catch.
    One map-only projection; the oracle replays max-then-round
    identically."""
    from ..operators.similarity import semantic_decontaminate

    emb = _emb(spark, sf_dir)
    eval_set = emb.filter(F.col("vec_id") < 25)
    corpus = emb.filter(F.col("vec_id") >= 25)
    return semantic_decontaminate(corpus, eval_set, threshold=0.35)


_Q143_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT v FROM v WHERE vec_id < 25),
corpus AS (SELECT * FROM v WHERE vec_id >= 25),
sims AS (
  SELECT c.vec_id,
    ROUND(MAX(list_dot_product(c.v, e.v) /
      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(e.v, e.v)))),
      9) AS max_eval_sim
  FROM corpus c LEFT JOIN ev e ON TRUE GROUP BY c.vec_id
)
SELECT vec_id, max_eval_sim,
  COALESCE(max_eval_sim >= 0.35, FALSE) AS contaminated FROM sims
"""


def q142_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval over the corpus: three query strings,
    top-10 docs each. The scale discipline is in the operator (query
    terms broadcast, postings pruned before any aggregation); the
    oracle replays the identical formula with the same 1e-6 score
    rounding and doc-id tie-break."""
    from ..operators.text import bm25_topk

    queries = spark.createDataFrame(
        [
            (1, "hash join merge"),
            (2, "stream window agg"),
            (3, "vector scan filter"),
        ],
        "query_id long, qtext string",
    )
    return bm25_topk(
        _docs(spark, sf_dir), queries, "text", "doc_id", k=10
    ).select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "score"
    )


_Q142_SQL = r"""
WITH q AS (
  SELECT * FROM (VALUES
    (1, 'hash join merge'),
    (2, 'stream window agg'),
    (3, 'vector scan filter')
  ) AS t(query_id, qtext)
),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
  FROM q
),
term_set AS (SELECT DISTINCT term FROM qterms),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
             AS DOUBLE)) AS avgdl
  FROM documents
),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
           AS DOUBLE) AS dl,
         unnest(string_split_regex(lower(COALESCE(text, '')), '\s+')) AS term
  FROM documents
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN term_set USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term
),
weights AS (
  SELECT p.doc_id, p.term,
    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
      * (p.tf * 2.2)
      / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
  FROM postings p JOIN dfreq f USING (term), stats s
),
scored AS (
  SELECT qt.query_id, w.doc_id, ROUND(SUM(w.w), 6) AS score
  FROM weights w JOIN qterms qt USING (term)
  GROUP BY qt.query_id, w.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""

# the q142 WITH-chain up to and including `scored` — shared with
# q252's metric tail so the two oracles rank identically by construction
_BM25_ORACLE_BODY = _Q142_SQL[: _Q142_SQL.index("SELECT CAST(query_id")]


def q140_index_cdf_sync(spark, sf_dir):
    """CDF-maintained LSH signature index with GDPR delete propagation —
    the full compliance loop over the dedup infrastructure (the
    reference's change-feed + MERGE-delete story applied to the LLM
    corpus): build the index at corpus v0, then APPEND a day-2 batch
    (v1) and GDPR-DELETE every 10th document (v2) on the corpus Delta
    table, and let ``sync_signature_index_from_cdf`` repair the index
    purely from the change feed — stale signatures deleted, new docs
    signed, deleted docs' bucket/size rows scrubbed. The probe batch
    targets BOTH generations and the deleted range, so a missed insert,
    a surviving ghost, or a stale syncedVersion all fail the oracle,
    which recomputes the exact probe x final-corpus-state jaccard
    relationally (same full-recall contract as q129: planted pairs sit
    near jaccard 0.9+ where 16x4 banding misses with P ~ 1e-7).
    The corpus mutations and the v0 index build are staged by the
    shared process fixtures (_fixtures.py); this query runs the sync
    and the probe."""
    from ..operators.dedup import (
        near_dups_against_index,
        sync_signature_index_from_cdf,
    )
    from ..reader import read_delta
    from ._fixtures import (
        clone_index,
        docs_corpus_cdf,
        fetch_parallel,
        lsh_base_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # shared fixtures (_fixtures.py): the v0->v1->v2 corpus is built
    # once per process and READ-ONLY here (sync reads table_changes,
    # commits only to the index); the base index is a clone-on-write
    # copy of the once-built v0 master — this query replays only its
    # own mutation tail, exactly as a production maintenance job
    # would. Corpus and index derive independently from the parquet,
    # so a first touch builds them concurrently.
    path, idx_master = fetch_parallel(
        lambda: docs_corpus_cdf(spark, sf_dir),
        lambda: lsh_base_index(spark, sf_dir),
    )
    idx = clone_index(idx_master)
    sync_signature_index_from_cdf(spark, path, idx)

    corpus = read_delta(spark, path)
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    out = near_dups_against_index(probe, corpus, "text", "doc_id", idx)
    return out.select(
        "batch_id", "corpus_id", F.round("jaccard", 9).alias("jaccard")
    )


_Q140_SQL = """
WITH day2 AS (
  SELECT doc_id + 300000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
),
corpus AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id, text FROM day2
  ) WHERE doc_id % 10 <> 0
),
bdocs AS (
  SELECT doc_id + 200000 AS doc_id, text || ' appended' AS text
  FROM documents WHERE doc_id % 5 = 0
),
bw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM bdocs),
cw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM corpus),
bsh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM bw)
  WHERE i + 2 <= len(w)
),
csh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM cw)
  WHERE i + 2 <= len(w)
),
bn AS (SELECT doc_id, COUNT(*) AS n_b FROM bsh GROUP BY doc_id),
cn AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS n_i
  FROM bsh b JOIN csh c USING (shingle)
  GROUP BY b.doc_id, c.doc_id
)
SELECT i.batch_id, i.corpus_id,
  ROUND(i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i), 9) AS jaccard
FROM inter i
JOIN bn ON i.batch_id = bn.doc_id
JOIN cn ON i.corpus_id = cn.doc_id
WHERE i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i) >= 0.6
"""


def q148_text_index_cdf_sync(spark, sf_dir):
    """Persistent BM25 inverted index maintained from the corpus change
    feed — the lexical third of the index-maintenance trilogy (q140
    LSH, q146 PQ): build postings/lengths at corpus v0, append a day-2
    batch, GDPR-delete ``doc_id % 10 = 0``, run
    ``sync_text_index_from_cdf`` (delete-then-reindex from
    table_changes, version pin commits last), and serve BM25 top-k FROM
    the stored postings. The oracle replays the final state: BM25 over
    exactly the surviving corpus — ghost-free df_t/N/avgdl is the
    operator's crash-ordering contract. The corpus mutations and the
    v0 postings build are staged by the shared process fixtures
    (_fixtures.py); this query runs the sync and the served query."""
    from ..operators.text import sync_text_index_from_cdf, query_text_index
    from ._fixtures import (
        clone_index,
        docs_corpus_cdf,
        fetch_parallel,
        text_base_index,
    )

    # shared fixtures (_fixtures.py): same v0->v1->v2 corpus as q140
    # (read-only here), base postings cloned for this query's sync to
    # mutate — only the maintenance tail runs per invocation
    path, idx_master = fetch_parallel(
        lambda: docs_corpus_cdf(spark, sf_dir),
        lambda: text_base_index(spark, sf_dir),
    )
    idx = clone_index(idx_master)
    sync_text_index_from_cdf(spark, path, idx)

    queries = spark.createDataFrame(
        [
            (1, "hash join merge"),
            (2, "stream window agg"),
            (3, "vector scan filter"),
        ],
        "query_id long, qtext string",
    )
    return query_text_index(queries, idx, k=10).select(
        "query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "score"
    )


_Q148_SQL = r"""
WITH day2 AS (
  SELECT doc_id + 300000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
),
corpus AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id, text FROM day2
  ) WHERE doc_id % 10 <> 0
),
q AS (
  SELECT * FROM (VALUES
    (1, 'hash join merge'),
    (2, 'stream window agg'),
    (3, 'vector scan filter')
  ) AS t(query_id, qtext)
),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
  FROM q
),
term_set AS (SELECT DISTINCT term FROM qterms),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
             AS DOUBLE)) AS avgdl
  FROM corpus
),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
           AS DOUBLE) AS dl,
         unnest(string_split_regex(lower(COALESCE(text, '')), '\s+')) AS term
  FROM corpus
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN term_set USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term
),
weights AS (
  SELECT p.doc_id, p.term,
    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
      * (p.tf * 2.2)
      / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
  FROM postings p JOIN dfreq f USING (term), stats s
),
scored AS (
  SELECT qt.query_id, w.doc_id, ROUND(SUM(w.w), 6) AS score
  FROM weights w JOIN qterms qt USING (term)
  GROUP BY qt.query_id, w.doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def q150_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 over document text fused with exact
    embedding-cosine ranking (doc ids == vector ids) via Reciprocal
    Rank Fusion — the production search composition. Fusion reads only
    the two deterministic RANK columns, so the oracle replicates the
    fused scores bit-for-bit."""
    from ..operators.retrieval import hybrid_search_rrf

    emb = _emb(spark, sf_dir)
    texts = spark.createDataFrame(
        [
            (0, "hash join merge"),
            (1, "stream window agg"),
            (2, "vector scan filter"),
        ],
        "query_id long, qtext string",
    )
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        .join(texts, "query_id")
    )
    out = hybrid_search_rrf(
        _docs(spark, sf_dir), emb, queries, k=10, k_each=20
    )
    return out.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "rrf_score",
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("dense_rank").cast("long").alias("dense_rank"),
    )


_Q150_SQL = r"""
WITH q AS (
  SELECT * FROM (VALUES
    (0, 'hash join merge'),
    (1, 'stream window agg'),
    (2, 'vector scan filter')
  ) AS t(query_id, qtext)
),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_distinct(string_split_regex(lower(qtext), '\s+'))) AS term
  FROM q
),
term_set AS (SELECT DISTINCT term FROM qterms),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
             AS DOUBLE)) AS avgdl
  FROM documents
),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(COALESCE(text, '')), '\s+'))
           AS DOUBLE) AS dl,
         unnest(string_split_regex(lower(COALESCE(text, '')), '\s+')) AS term
  FROM documents
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN term_set USING (term)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM postings GROUP BY term
),
weights AS (
  SELECT p.doc_id, p.term,
    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
      * (p.tf * 2.2)
      / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
  FROM postings p JOIN dfreq f USING (term), stats s
),
lex_scored AS (
  SELECT qt.query_id, w.doc_id, ROUND(SUM(w.w), 6) AS score
  FROM weights w JOIN qterms qt USING (term)
  GROUP BY qt.query_id, w.doc_id
),
lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS lex_rank
    FROM lex_scored
  ) WHERE lex_rank <= 20
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec FROM v WHERE vec_id < 3),
dense AS (
  SELECT query_id, doc_id, dense_rank FROM (
    SELECT qv.query_id, n.vec_id AS doc_id,
      ROW_NUMBER() OVER (PARTITION BY qv.query_id
        ORDER BY list_dot_product(qv.qvec, n.v) /
          (sqrt(list_dot_product(qv.qvec, qv.qvec)) *
           sqrt(list_dot_product(n.v, n.v))) DESC,
        n.vec_id ASC) AS dense_rank
    FROM qv, v n
  ) WHERE dense_rank <= 20
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
             + COALESCE(1.0 / (60 + d.dense_rank), 0), 9) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, rank, rrf_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank
FROM (
  SELECT query_id, doc_id, rrf_score, lex_rank, dense_rank,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= 10
"""


def q151_hybrid_from_indexes(spark, sf_dir):
    """The corpus-scale hybrid serving path end to end: BOTH persistent
    indexes built fresh (inverted postings + IVFPQ codes), queries
    served from stored state only, rankings fused by the same RRF
    arithmetic as q150. The oracle composes the q142-style lexical
    replica with the q139 IVFPQ replica (nested WITH, k_each=20) and
    fuses their ranks — value-checking the whole
    build->store->serve->fuse loop."""
    from ..operators.retrieval import hybrid_search_rrf_from_indexes
    from ._fixtures import fetch_parallel, pq_base_index, text_base_index

    emb = _emb(spark, sf_dir)
    # shared fixtures (_fixtures.py): this query only SERVES from the
    # stored indexes (no sync), so it reads the once-built masters
    # directly — same postings/codes content, no clone needed
    t_idx, p_idx = fetch_parallel(
        lambda: text_base_index(spark, sf_dir),
        lambda: pq_base_index(spark, sf_dir),
    )

    texts = spark.createDataFrame(
        [
            (0, "hash join merge"),
            (1, "stream window agg"),
            (2, "vector scan filter"),
        ],
        "query_id long, qtext string",
    )
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
        .join(texts, "query_id")
    )
    out = hybrid_search_rrf_from_indexes(
        queries, t_idx, p_idx, emb, k=10, k_each=20, nprobe=4
    )
    return out.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "rrf_score",
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("dense_rank").cast("long").alias("dense_rank"),
    )


def _gen_q151_sql() -> str:
    """q150's lexical CTEs + the q139 IVFPQ replica (nested WITH,
    k_each=20, query vectors vec_id < 3) + the shared RRF fusion."""
    lex_part = _Q150_SQL.split("\nv AS (SELECT vec_id")[0]
    dense_inner = _gen_q139_sql(k=20, q_pred="vec_id < 3")
    return (
        lex_part
        + """
dense AS (
  SELECT query_id, neighbor_id AS doc_id, rank AS dense_rank
  FROM ("""
        + dense_inner
        + """)
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0)
             + COALESCE(1.0 / (60 + d.dense_rank), 0), 9) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, rank, rrf_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank
FROM (
  SELECT query_id, doc_id, rrf_score, lex_rank, dense_rank,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= 10
"""
    )


def q133_gopher_quality_filter(spark, sf_dir):
    from ..operators.text import gopher_quality_filter

    return gopher_quality_filter(_docs(spark, sf_dir), "text", "doc_id")


_Q133_SQL = r"""
WITH staged AS (
  SELECT doc_id,
    string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') AS w,
    CAST(len(regexp_extract_all(COALESCE(text, ''), '#|\.\.\.')) AS DOUBLE)
      AS sym
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(w) AS INTEGER) AS n_words,
    ROUND(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
          / len(w), 6) AS mean_word_len,
    ROUND(sym / len(w), 6) AS symbol_ratio,
    ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          AS DOUBLE) / len(w), 6) AS alpha_word_ratio,
    CAST(len(list_intersect(list_distinct(w),
      ['the','be','to','of','and','that','have','with'])) AS INTEGER)
      AS n_stopwords
  FROM staged
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
  n_stopwords,
  n_words BETWEEN 50 AND 100000 AS ok_word_count,
  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
  symbol_ratio <= 0.1 AS ok_symbol_ratio,
  alpha_word_ratio >= 0.8 AS ok_alpha_words,
  n_stopwords >= 2 AS ok_stopwords,
  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
    AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
    AND n_stopwords >= 2 AS passes
FROM m
"""


def _funnel_report(raw, stages, vocab: bool = False):
    """Single-pass funnel report. The previous shape aggregated one
    union branch PER stage — at 7 stages that is 7 corpus scans, each
    re-deriving its survivor chain, and (under AQE) ~80 stage-
    materialization jobs for one report. Instead: LEFT-join the tiny
    per-stage id sets (already persisted by the callers) onto ONE
    narrow (doc_id, token-count) projection of the corpus. The corpus
    is scanned once; the successive id joins all key on doc_id, so the
    corpus side crosses the wire at most once and AQE broadcasts the
    id sets. At 100 TB this is the difference between one pass and
    seven.

    Survival is MONOTONE by construction (each stage is a subset of
    the previous), so instead of 2 x n_stages conditional aggregates
    the per-row work collapses to ONE integer — the deepest stage the
    document survives — followed by a stage-count-sized group-by and a
    reverse cumulative sum over those n_stages rows (funnel stage i =
    every doc whose depth reaches i). The conditional-sum shape
    generated a wide fused aggregate whose whole-stage codegen compile
    dominated small runs and whose per-row cost grew with stage count.

    ``vocab=True`` adds an ``est_vocab`` column: the HyperLogLog
    estimate of the stage survivors' distinct whitespace-token count
    (operators/sketches.py hll_distinct's deterministic register
    math, so a SQL oracle replays the value exactly). The register
    merge property keeps this one extra bounded shuffle: registers
    aggregate per (depth, bucket) — <= n_stages x 2^p rows — then
    max-merge down the depth axis, never re-hashing tokens per stage.

    ``stages``: ordered [(name, ids_df_or_None, how)] where how is
    "semi" (stage = previous ∩ ids) or "anti" (previous \\ ids); ids
    None only for the leading raw stage. Each ids frame must be
    unique per doc_id (survivor/dirty SETS — a duplicate id would
    duplicate corpus rows through the left join and corrupt every
    downstream count).
    """
    split_col = F.split(F.trim(F.col("text")), r"\s+")
    if vocab:
        cur = raw.select(
            "doc_id",
            F.size(split_col).cast("long").alias("__t"),
            split_col.alias("__ws"),
        )
    else:
        cur = raw.select(
            "doc_id", F.size(split_col).cast("long").alias("__t")
        )
    # ONE membership relation instead of one join per stage: the id
    # sets union (tagged by stage index) into a per-doc hit set, so
    # the corpus is joined ONCE however many stages the funnel has.
    # Joining per stage costs a corpus-sized join stage each (and,
    # under AQE, a scheduled job per broadcast build) — at 100 TB the
    # id sets outgrow broadcast and that shape becomes n_stages
    # corpus-sized shuffles; this one is a single shuffle of the id
    # sets plus a single corpus join.
    marked = None
    for i, (name, ids, how) in enumerate(stages):
        if ids is None:
            continue
        m = ids.select("doc_id", F.lit(i).alias("__s"))
        marked = m if marked is None else marked.unionByName(m)
    if marked is not None:
        hits = marked.groupBy("doc_id").agg(
            F.collect_set("__s").alias("__hits")
        )
        cur = cur.join(hits, "doc_id", "left").withColumn(
            "__hits", F.coalesce(F.col("__hits"), F.array())
        )
    survives = []  # per-stage (non-cumulative) membership Column
    for i, (name, ids, how) in enumerate(stages):
        if ids is None:
            survives.append(F.lit(True))
            continue
        hit = F.array_contains(F.col("__hits"), F.lit(i))
        survives.append(hit if how == "semi" else ~hit)
    # deepest surviving stage: first non-surviving stage minus one
    depth = F.lit(len(stages) - 1)
    for i in range(len(stages) - 1, 0, -1):
        depth = F.when(~survives[i], i - 1).otherwise(depth)
    staged = cur.select(
        depth.alias("__depth"), "__t", *(["__ws"] if vocab else [])
    )
    grouped = staged.groupBy("__depth").agg(
        F.count("*").alias("__d"), F.sum("__t").alias("__k")
    )
    spine = raw.sparkSession.range(len(stages)).select(
        F.col("id").cast("int").alias("stage_id")
    )
    w = (
        Window.orderBy(F.col("stage_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    name_expr = F.element_at(
        F.array(*[F.lit(name) for name, _, _ in stages]),
        F.col("stage_id") + 1,
    )
    out = (
        spine.join(grouped, spine.stage_id == grouped.__depth, "left")
        .select(
            "stage_id",
            F.coalesce(F.col("__d"), F.lit(0)).alias("__d"),
            F.coalesce(F.col("__k"), F.lit(0)).alias("__k"),
        )
        .select(
            "stage_id",
            F.sum("__d").over(w).cast("long").alias("n_docs"),
            F.sum("__k").over(w).cast("long").alias("n_tokens"),
        )
        .select(
            "stage_id", name_expr.alias("stage"), "n_docs", "n_tokens"
        )
    )
    if vocab:
        from ..operators.sketches import (
            hll_estimate_from_registers,
            hll_registers,
        )

        # registers per (depth, bucket): one bounded shuffle over the
        # exploded tokens; a depth-d doc's tokens belong to stages
        # 0..d, so stage registers are the max-merge down the depth
        # axis — <= n_stages x 2^p rows, never a re-hash per stage
        toks = staged.select(
            "__depth", F.explode("__ws").alias("__tok")
        )
        regs = hll_registers(toks, "__tok", ["__depth"], p=10)
        stage_regs = (
            regs.select(
                F.explode(F.expr("sequence(0, __depth)")).alias(
                    "stage_id"
                ),
                "bucket",
                "M",
            )
            .groupBy("stage_id", "bucket")
            .agg(F.max("M").alias("M"))
        )
        est = hll_estimate_from_registers(stage_regs, ["stage_id"], p=10)
        out = out.join(est, "stage_id", "left").withColumn(
            "est_vocab", F.coalesce(F.col("est_distinct"), F.lit(0.0))
        ).select("stage_id", "stage", "n_docs", "n_tokens", "est_vocab")
    return out.orderBy("stage_id")


def _docs_rowcount(sf_dir: str) -> int | None:
    """Documents-table row count from the parquet footer (driver-side
    metadata read, no Spark job). None when the footer is unreadable —
    callers fall back to a count job. Only valid as a substitute for
    df.count() when df is the UNFILTERED table."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            f"{sf_dir}/documents.parquet"
        ).metadata.num_rows
    except Exception as e:
        # make a misconfigured path visible instead of silently paying
        # the count probe on every invocation
        import logging

        logging.getLogger(__name__).debug(
            "documents row count unavailable for %s (%s: %s); falling "
            "back to a count probe", sf_dir, type(e).__name__, e
        )
        return None


def _corpus_size_hint(sf_dir: str) -> bool | None:
    """The footer row count (``_docs_rowcount``) mapped to the
    ngram_jaccard_pairs prefix-filter crossover. None = let the operator
    run its own count probe."""
    from ..operators.dedup import PREFIX_FILTER_MIN_DOCS

    n = _docs_rowcount(sf_dir)
    return None if n is None else n > PREFIX_FILTER_MIN_DOCS


import threading

# The funnel stage sets are MEMOIZED per (session, sf_dir) in the
# session memo (operators/_cache.py): the quality -> dedup ->
# decontaminate chain is identical across the q137-family queries, so a
# gate run that samples several of them pays the chain once and each
# member only its own increment ("module-level reuse"). Results are
# unchanged — the id sets are deterministic; the memo only skips
# recomputation. The trained-model memos below live there too.

# the older name of the one clear; the benchmark harness imports it
clear_funnel_memo = clear_session_caches


def _funnel_core(spark, sf_dir, near_dup: str = "ngram"):
    """The shared quality -> exact-dedup -> near-dedup -> n-gram-
    decontamination chain behind q137 (and q147/q159/q170's extended
    recipes). Returns (raw, s4, eval_df, stages, caches): ``stages``
    is the ordered [(name, ids, how)] list :func:`_funnel_report`
    consumes, every ids set is a PERSISTED ids-only frame (each feeds
    both the report flags and the next stage's derivation — without
    the cache each consumer would re-derive the whole upstream chain).
    ``caches`` lists those frames; they are OWNED by the session memo
    (see clear_funnel_memo), not by the caller.

    ``near_dup`` picks the stage-3 pair generator: "ngram" = the exact
    n-gram Jaccard index (auto-strategy bounded candidates), "minhash"
    = the banded MinHash-LSH path (q32's deterministic signature
    family) — the production choice at 100 TB, where exact shingle
    intersection over every candidate pair is the cost ceiling and
    the sketch bound is what scales. The two variants share the
    memoized quality/exact-dedup base stages.

    Memo contract: results are memoized per session under
    ("funnel", sf_dir, near_dup), with the shared quality/exact-dedup
    base under ("funnel_base", sf_dir), and ASSUME the parquet under
    ``sf_dir`` is immutable for the session's lifetime (true for the
    test/gate harness and for production snapshot dirs; a caller that
    rewrites the corpus in place must call :func:`clear_funnel_memo`
    first or use a new path). Concurrent first invocations of one key
    run one build; the others wait for it, so no persisted frame set
    can leak."""
    return memo(
        spark,
        ("funnel", sf_dir, near_dup),
        lambda: _funnel_build(spark, sf_dir, near_dup),
    )


def _funnel_build(spark, sf_dir, near_dup):
    """Build one funnel chain: returns (result, owned frames) for the
    session memo. Spark jobs run here."""
    from ..operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        normalize_text,
        resolve_duplicate_clusters,
    )
    from ..operators.text import _gopher_metrics_frame, decontaminate

    all_docs = _docs(spark, sf_dir).select("doc_id", "text")
    eval_df = all_docs.filter(F.col("doc_id") < 25)
    raw = all_docs.filter(F.col("doc_id") >= 25)

    def build_base():
        # min_stopwords calibrated to the synthetic corpus (its
        # vocabulary carries ~1 Gopher function word per doc); every
        # other rule keeps the published Gopher defaults (min_words=50
        # etc.). The quality verdict AND the exact-dedup keeper
        # election fuse into ONE corpus pass: _gopher_metrics_frame
        # (gopher_quality_filter's own builder — the predicate cannot
        # drift) keeps the text beside the verdict, and the keeper is
        # doc_id == min(doc_id) over a window keyed on the SAME
        # normalized text exact_dedup groups by — identical id sets,
        # but the previous shape's second corpus scan and its
        # corpus-sized semi-join (raw x passes: at scale the passes
        # set outgrows broadcast, so that join shuffled the corpus
        # TEXT by doc_id) are gone; the one exchange left carries
        # (norm-text, id) into the window, and a giant duplicate
        # group sort-spills instead of OOMing a collect_list
        qp = _gopher_metrics_frame(
            raw, "text", "doc_id", ("text",), min_stopwords=1
        ).filter("passes")
        base_frame = (
            qp.select("doc_id", normalize_text("text").alias("__norm"))
            .select(
                "doc_id",
                (
                    F.col("doc_id")
                    == F.min("doc_id").over(Window.partitionBy("__norm"))
                ).alias("__keep"),
            )
        ).persist()
        # ONE job fills the single base cache (the previous shape's
        # two linearly-nested caches kept this at one barrier too —
        # now it is one frame outright)
        base_frame.count()
        passes = base_frame.select("doc_id")
        keepers = base_frame.filter("__keep").select("doc_id")
        return (passes, keepers), [base_frame]

    passes, keepers = memo(spark, ("funnel_base", sf_dir), build_base)
    # keepers is a subset of passes by construction (keepers are
    # elected among quality passers), so the stage-2 survivor set is
    # raw ∩ keepers directly — the chained raw ∩ passes ∩ keepers
    # join produced the identical rows through one more corpus join
    s2 = raw.join(keepers, "doc_id", "left_semi")
    if near_dup == "minhash":
        # |s2| == |keepers| exactly (semi join on the unique doc_id),
        # and keepers is a filter over the cached base frame — so the
        # stop-shingle guard is sized from the cache instead of a
        # corpus-scan count inside minhash_lsh_pairs
        pairs = minhash_lsh_pairs(
            s2, "text", "doc_id", n=3, threshold=0.6,
            n_docs=keepers.count(),
        )
    else:
        # strategy hint from the parquet footer (driver-side metadata,
        # no Spark job): |s2| <= |documents|, and the auto-probe's only
        # role is the PREFIX_FILTER_MIN_DOCS crossover — an upper bound
        # decides it identically except within a hair of the threshold,
        # where both strategies are correct anyway. At 100 TB the same
        # hint comes from table stats. Falls back to the count probe if
        # the footer is unreadable.
        pairs = ngram_jaccard_pairs(
            s2, "text", "doc_id", n=3, threshold=0.6,
            prefix_filter=_corpus_size_hint(sf_dir),
        )
    canon = (
        # the stage-2 survivor id set IS keepers (semi join on the
        # unique doc_id), and keepers is a filter over the cached base
        # frame — passing it instead of s2.select("doc_id") spares the
        # labels side a corpus scan + join re-derivation
        resolve_duplicate_clusters(pairs, keepers, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    ).persist()
    s3 = s2.join(canon, "doc_id", "left_semi")
    hits = (
        decontaminate(s3, eval_df, "text", "doc_id", n=5).select("doc_id")
    ).persist()
    # one job fills canon AND hits (linear nesting again — hits'
    # lineage contains canon's persisted subtree exactly once)
    hits.count()
    s4 = s3.join(hits, "doc_id", "left_anti")
    # every stage set is MATERIALIZED here, not left lazy: letting a
    # single downstream action populate four interdependent caches at
    # once makes its branch scheduling race the cache builds (measured
    # 10-25 s swings on an idle 32-thread host vs a stable ~9 s when
    # the sets are staged eagerly). Staging is PAIRED, not per-frame:
    # each count barrier fills a 2-deep linear cache chain, halving
    # the job count without reintroducing sibling-branch races —
    # and checkpointed stage sets are what a production corpus build
    # writes anyway
    stages = [
        ("raw", None, "semi"),
        ("quality", passes, "semi"),
        ("exact_dedup", keepers, "semi"),
        ("near_dedup", canon, "semi"),
        ("decontaminated", hits, "anti"),
    ]
    result = (raw, s4, eval_df, stages, [passes, keepers, canon, hits])
    return result, [canon, hits]


def _semantic_dirty_all(spark, sf_dir):
    """Memoized corpus-wide semantic-contamination id set shared by the
    q147/q159 funnel tails: semantic_decontaminate is PER-ROW (max
    cosine of each corpus vector against the broadcast eval set), so
    the flag for a given id never depends on which LM filter ran
    before it — computing it once over the full embeddings table and
    letting each funnel variant consume it unrestricted is exactly
    equivalent for the report (any doc whose flag could differ from
    the restricted-input variant has already failed an earlier stage,
    and _funnel_report's depth takes the EARLIEST failing stage).
    Memoizing it also lets the tails overlap this stage with their LM
    stage (independent Spark jobs from two threads)."""
    from ..operators.similarity import semantic_decontaminate

    def build():
        emb = _emb(spark, sf_dir)
        sdirty = (
            semantic_decontaminate(
                emb, emb.filter(F.col("vec_id") < 25), threshold=0.35
            )
            .filter("contaminated")
            .select(F.col("vec_id").alias("doc_id"))
        ).persist()
        sdirty.count()
        return sdirty, [sdirty]

    return memo(spark, ("funnel_semantic", sf_dir), build)


def _semantic_dirty_async(spark, sf_dir):
    """Kick off the shared semantic pass on a worker thread (it is
    independent of the LM stage the caller is about to stage) and
    return a join() -> DataFrame closure."""
    box: dict = {}

    def _run():
        try:
            box["df"] = _semantic_dirty_all(spark, sf_dir)
        except BaseException as e:  # surfaced on join
            box["err"] = e

    th = threading.Thread(target=_run, daemon=True)
    th.start()

    def join():
        th.join()
        if "err" in box:
            raise box["err"]
        return box["df"]

    return join


def _pretrain_funnel_frames(spark, sf_dir):
    """Lazy construction of the q137 pipeline: returns (out, caches)
    where ``out`` is the 5-stage funnel DataFrame and ``caches`` are
    the persisted ids-only survivor sets (owned by the session memo —
    release via :func:`clear_funnel_memo`, not by unpersisting the
    returned frames; plan tests inspect ``out`` without executing
    it)."""
    raw, _, _, stages, caches = _funnel_core(spark, sf_dir)
    return _funnel_report(raw, stages), caches


def q137_pretrain_funnel(spark, sf_dir):
    """The flagship composition: a full pretraining-data pipeline as ONE
    declarative plan — Gopher rule filter -> exact dedup -> near-dup
    cluster resolution -> benchmark decontamination — reporting the
    per-stage funnel (documents and whitespace tokens surviving each
    stage), i.e. the report a production corpus build prints.

    Every stage is an existing scale-audited operator: the quality gate
    is map-only; exact dedup is one hash shuffle; near-dup pairs use the
    bounded-candidate inverted index at this corpus size (auto strategy);
    cluster resolution is distributed min-label propagation; decontam
    broadcasts the (small-by-definition) eval-set shingles. Nothing
    data-sized collects to the driver (the funnel itself is 5 aggregate
    rows); survivors propagate by left-semi joins on doc_id, so document
    text crosses the wire only where a stage needs it. The DuckDB oracle
    replays the identical pipeline relationally (recursive CTE for the
    components), value-checking the whole composition end to end.

    The survivor-set caches live in the session memo (bounded: one
    chain per (session, sf_dir, near-dup variant)),
    shared with the q147/q159/q170 extensions; bench.py clears the
    memo between timed runs so repeat timings measure real work."""
    out, _ = _pretrain_funnel_frames(spark, sf_dir)
    return out


_Q137_SQL = r"""
WITH RECURSIVE raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 25
),
evald AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
gw AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\s+') AS w
  FROM raw
),
gm AS (
  SELECT doc_id, text, len(w) AS n_words,
    ROUND(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
          / len(w), 6) AS mwl,
    ROUND(CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
          / len(w), 6) AS symr,
    ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
          AS DOUBLE) / len(w), 6) AS awr,
    len(list_intersect(list_distinct(w),
      ['the','be','to','of','and','that','have','with'])) AS nsw
  FROM gw
),
s1 AS (
  SELECT doc_id, text FROM gm
  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    AND symr <= 0.1 AND awr >= 0.8 AND nsw >= 1
),
ex AS (
  SELECT MIN(doc_id) AS doc_id FROM s1
  GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
),
s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN ex USING (doc_id)),
tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM s2
),
idx AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2 FROM inter
  JOIN sizes z1 ON z1.doc_id = id_1
  JOIN sizes z2 ON z2.doc_id = id_2
  WHERE i * 1.0 / (z1.n + z2.n - i) >= 0.6
),
edges AS (
  SELECT id_1 AS a, id_2 AS b FROM pairs
  UNION SELECT id_2, id_1 FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM s2
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
s3 AS (
  SELECT s2.doc_id, s2.text FROM s2
  JOIN cc ON s2.doc_id = cc.doc_id AND cc.doc_id = cc.cluster_id
),
tok3 AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM s3
),
idx3 AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM tok3
),
sh3 AS (
  SELECT DISTINCT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      AS shingle
  FROM idx3 WHERE i + 4 <= len(w)
),
toke AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM evald
),
idxe AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM toke
),
eshe AS (
  SELECT DISTINCT
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      AS shingle
  FROM idxe WHERE i + 4 <= len(w)
),
dirty AS (
  SELECT DISTINCT s.doc_id FROM sh3 s JOIN eshe USING (shingle)
),
s4 AS (
  SELECT doc_id, text FROM s3
  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
)
SELECT CAST(0 AS INTEGER) AS stage_id, 'raw' AS stage,
  COUNT(*) AS n_docs,
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) AS n_tokens FROM raw
UNION ALL
SELECT CAST(1 AS INTEGER), 'quality', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s1
UNION ALL
SELECT CAST(2 AS INTEGER), 'exact_dedup', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INTEGER), 'near_dedup', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s3
UNION ALL
SELECT CAST(4 AS INTEGER), 'decontaminated', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s4
"""


def _materialize_ctes(sql: str, names: list[str]) -> str:
    """Add DuckDB ``AS MATERIALIZED`` hints to the named CTEs. DuckDB
    inlines non-recursive CTEs by default, so a stage CTE referenced
    by several later stages is RECOMPUTED per reference — the funnel
    replays (whose stage rows each read s1..s6) were paying the whole
    quality->dedup chain up to seven times (q159's oracle: 24.5 s ->
    0.2 s at sf0.01, identical rows). Never applied to the truly
    recursive member (``reach``) — MATERIALIZED is invalid there."""
    import re as _re

    for name in names:
        sql = _re.sub(
            rf"(?m)^{name} AS \(", f"{name} AS MATERIALIZED (", sql
        )
    return sql


_FUNNEL_STAGE_CTES = [
    "raw", "evald", "gm", "s1", "s2", "sh", "cc", "s3", "sh3", "eshe",
    "dirty", "s4",
]

_Q137_SQL = _materialize_ctes(_Q137_SQL, _FUNNEL_STAGE_CTES)


def q147_pretrain_funnel_full(spark, sf_dir):
    """The COMPLETE published pretraining-data recipe as one plan —
    q137's quality -> exact dedup -> near-dedup -> n-gram
    decontamination, extended with the two stages the full CCNet/Gopher
    pipeline adds: (5) language-model perplexity filtering (unigram LM
    trained on the surviving corpus itself, keep docs scoring
    avg_logprob >= -3.41 — the 9dp-rounded score both engines compare,
    so the boundary is exact) and (6) SEMANTIC benchmark
    decontamination (drop survivors whose embedding's max cosine to the
    eval-set embeddings reaches 0.35 — paraphrase leakage the n-gram
    stage cannot catch; docs with no embedding row are kept, mirroring
    the n-gram stage's anti-join semantics).

    Scale shape inherited per stage: the LM stage is explode + AQE-
    sized model join + one doc-keyed aggregation (see unigram_lm_score
    — the model join shuffles instead of OOMing if the vocabulary
    outgrows the broadcast threshold); the semantic stage is a map-only
    projection behind the broadcast eval-set row (q143). Survivors
    still propagate as ids-only semi/anti joins; the two new survivor
    sets persist in the session-scoped cache registry beside the
    memoized canon/hits."""
    from ..operators.text import unigram_lm_score

    raw, s4, _, stages, caches = _funnel_core(spark, sf_dir)
    # the semantic pass is independent of the LM stage (per-row flags
    # against the broadcast eval set — see _semantic_dirty_all) and
    # shared with q159, so it stages CONCURRENTLY on a worker thread
    # while this thread stages the LM filter
    sem_join = _semantic_dirty_async(spark, sf_dir)
    # pin the s4 survivor ids: the report flags and the LM model would
    # otherwise each re-derive the whole quality->dedup->decontaminate
    # chain; staged eagerly like the chain sets
    # s4's id set == canon minus hits (s3 ids are exactly canon, the
    # near-dup survivors among the cached stage-2 ids), so the pin
    # derives from two tiny cached id frames instead of re-deriving
    # the corpus chain
    _by_stage = {name: ids for name, ids, _ in stages}
    s4ids = (
        _by_stage["near_dedup"]
        .join(_by_stage["decontaminated"], "doc_id", "left_anti")
        .persist()
    )
    s4r = raw.join(s4ids, "doc_id", "left_semi")
    keep = (
        unigram_lm_score(s4r, "text", "doc_id")
        .filter(F.col("avg_logprob") >= F.lit(-3.41))
        .select("doc_id")
    ).persist()
    # one job fills s4ids AND keep (linear nesting — see _funnel_build)
    keep.count()
    sdirty = sem_join()

    out = _funnel_report(
        raw,
        stages
        + [
            ("lm_filter", keep, "semi"),
            ("semantic_decontaminated", sdirty, "anti"),
        ],
    )
    # the registry keeps this invocation's pair and releases the
    # previous one's without uncaching the plan-identical new frames
    for df in (s4ids, keep):
        register_persisted(df, "q147", capacity=2)
    return out


def _gen_q147_sql() -> str:
    """DuckDB replica of the FULL funnel: q137's recursive-CTE replay
    extended with the LM-filter stage (unigram model trained on the s4
    survivors, 9dp-rounded avg ln p threshold) and the semantic
    decontamination stage (max eval cosine per surviving doc's
    embedding, q143's formula). Built by extending _Q137_SQL so the
    shared stages can never drift between the two oracles."""
    ctes, rows = _Q137_SQL.split("\nSELECT CAST(0 AS INTEGER)", 1)
    return (
        ctes
        + r""",
tokL AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM s4
),
cntsL AS (SELECT term, COUNT(*) AS c FROM tokL GROUP BY term),
totL AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cntsL),
lm AS (
  SELECT doc_id,
    ROUND(AVG(ln(c)) - (SELECT ln(t) FROM totL), 9) AS alp
  FROM tokL JOIN cntsL USING (term) GROUP BY doc_id
),
s5 AS (
  SELECT s4.doc_id, s4.text FROM s4 JOIN lm USING (doc_id)
  WHERE lm.alp >= -3.41
),
embv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
evv AS (SELECT v FROM embv WHERE vec_id < 25),
simsS AS (
  SELECT c.vec_id,
    ROUND(MAX(list_dot_product(c.v, e.v) /
      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(e.v, e.v)))),
      9) AS ms
  FROM embv c, evv e
  WHERE c.vec_id IN (SELECT doc_id FROM s5)
  GROUP BY c.vec_id
),
s6 AS (
  SELECT doc_id, text FROM s5
  WHERE doc_id NOT IN (SELECT vec_id FROM simsS WHERE ms >= 0.35)
)"""
        + "\nSELECT CAST(0 AS INTEGER)"
        + rows
        + r"""UNION ALL
SELECT CAST(5 AS INTEGER), 'lm_filter', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s5
UNION ALL
SELECT CAST(6 AS INTEGER), 'semantic_decontaminated', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s6
"""
    )


_Q147_SQL = _materialize_ctes(
    _gen_q147_sql(), ["tokL", "cntsL", "lm", "s5", "embv", "simsS", "s6"]
)


def q159_pretrain_funnel_bigram(spark, sf_dir):
    """q147's full curation funnel with the LM stage upgraded from the
    unigram proxy to the interpolated BIGRAM scorer (q144's
    Jelinek-Mercer lam=0.5 model — the better perplexity proxy now
    that its model join is vocab-bounded and AQE-degradable): stage 5
    keeps s4 survivors scoring avg ln p >= -3.39 over their bigram
    positions, then semantic decontamination runs as in q147. Same
    composition discipline — survivors propagate as ids-only
    semi/anti joins, s4 ids pinned once, model trained on the
    survivors themselves, no cartesian anywhere (plan-tested)."""
    from ..operators.text import bigram_lm_score

    raw, s4, _, stages, caches = _funnel_core(spark, sf_dir)
    # shared + concurrent semantic pass — see q147 / _semantic_dirty_all
    sem_join = _semantic_dirty_async(spark, sf_dir)
    # s4's id set == canon minus hits (s3 ids are exactly canon, the
    # near-dup survivors among the cached stage-2 ids), so the pin
    # derives from two tiny cached id frames instead of re-deriving
    # the corpus chain
    _by_stage = {name: ids for name, ids, _ in stages}
    s4ids = (
        _by_stage["near_dedup"]
        .join(_by_stage["decontaminated"], "doc_id", "left_anti")
        .persist()
    )
    s4r = raw.join(s4ids, "doc_id", "left_semi")
    keep = (
        bigram_lm_score(s4r, "text", "doc_id", lam=0.5)
        .filter(F.col("avg_logprob") >= F.lit(-3.39))
        .select("doc_id")
    ).persist()
    # one job fills s4ids AND keep (linear nesting — see _funnel_build)
    keep.count()
    sdirty = sem_join()

    out = _funnel_report(
        raw,
        stages
        + [
            ("bigram_lm_filter", keep, "semi"),
            ("semantic_decontaminated", sdirty, "anti"),
        ],
    )
    # the registry keeps this invocation's pair and releases the
    # previous one's without uncaching the plan-identical new frames
    for df in (s4ids, keep):
        register_persisted(df, "q159", capacity=2)
    return out


def _gen_q159_sql() -> str:
    """DuckDB replica of the bigram-LM funnel: q137's recursive-CTE
    replay + q144's interpolated-bigram formula trained on the s4
    survivors (min_count=1, so every training token is in-vocab and
    the OOV branches are exact no-ops) + the semantic stage. Built by
    extending _Q137_SQL so shared stages can never drift."""
    ctes, rows = _Q137_SQL.split("\nSELECT CAST(0 AS INTEGER)", 1)
    return (
        ctes
        + r""",
wB AS (
  SELECT doc_id,
         string_split_regex(trim(lower(COALESCE(text, ''))), '\s+') AS w
  FROM s4
),
pairsB AS (
  SELECT doc_id, w[i] AS prev, w[i+1] AS cur
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS i FROM wB)
  WHERE i + 1 <= len(w)
),
toksB AS (SELECT unnest(w) AS term FROM wB),
uniB AS (SELECT term, COUNT(*) AS c1 FROM toksB GROUP BY term),
totB AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uniB),
bigB AS (SELECT prev, cur, COUNT(*) AS c2 FROM pairsB GROUP BY prev, cur),
scB AS (
  SELECT p.doc_id,
    0.5 * b.c2 / up.c1 + 0.5 * uc.c1 / t.total AS prob
  FROM pairsB p
  JOIN bigB b ON b.prev = p.prev AND b.cur = p.cur
  JOIN uniB up ON up.term = p.prev
  JOIN uniB uc ON uc.term = p.cur, totB t
),
lmB AS (
  SELECT doc_id, ROUND(AVG(ln(prob)), 9) AS alp FROM scB GROUP BY doc_id
),
s5 AS (
  SELECT s4.doc_id, s4.text FROM s4 JOIN lmB USING (doc_id)
  WHERE lmB.alp >= -3.39
),
embv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
evv AS (SELECT v FROM embv WHERE vec_id < 25),
simsS AS (
  SELECT c.vec_id,
    ROUND(MAX(list_dot_product(c.v, e.v) /
      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(e.v, e.v)))),
      9) AS ms
  FROM embv c, evv e
  WHERE c.vec_id IN (SELECT doc_id FROM s5)
  GROUP BY c.vec_id
),
s6 AS (
  SELECT doc_id, text FROM s5
  WHERE doc_id NOT IN (SELECT vec_id FROM simsS WHERE ms >= 0.35)
)"""
        + "\nSELECT CAST(0 AS INTEGER)"
        + rows
        + r"""UNION ALL
SELECT CAST(5 AS INTEGER), 'bigram_lm_filter', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s5
UNION ALL
SELECT CAST(6 AS INTEGER), 'semantic_decontaminated', COUNT(*),
  CAST(COALESCE(SUM(len(string_split_regex(trim(text), '\s+'))), 0)
    AS BIGINT) FROM s6
"""
    )


_Q159_SQL = _materialize_ctes(
    _gen_q159_sql(),
    ["wB", "pairsB", "uniB", "bigB", "lmB", "s5", "embv", "simsS", "s6"],
)


def q170_pretrain_funnel_minhash(spark, sf_dir):
    """The flagship funnel with the near-dup stage at the LSH TIER —
    q137's quality -> exact dedup -> near-dedup -> decontamination
    composition, but stage 3 generates candidate pairs via banded
    MinHash-LSH (q32's deterministic signature family, exact-verified
    on candidates) instead of the exact n-gram inverted index. At
    100 TB the MinHash path IS the production choice — exact shingle
    intersection over all candidate pairs is the cost ceiling, the
    banded sketch bound is what scales — so the flagship composition
    exercises the at-scale algorithm end to end. The verified LSH
    output equals the exact Jaccard pair set at this threshold
    (q32/q31 oracle equality), so the funnel rows replay against the
    same relational pipeline as q137.

    The report additionally carries ``est_vocab``: a per-stage
    HyperLogLog distinct-token estimate (operators/sketches.py — the
    register math is deterministic, value-exact cross-engine),
    showing the sketch suite composing with the flagship at one extra
    register-bounded shuffle. Shares the memoized quality/exact-dedup
    base stages with the ngram-tier funnel."""
    raw, _, _, stages, _ = _funnel_core(spark, sf_dir, near_dup="minhash")
    return _funnel_report(raw, stages, vocab=True)


def _gen_q170_sql() -> str:
    """DuckDB replica: q137's stage pipeline (the verified-LSH pair
    set equals the exact pair set, so the stage CTEs are shared
    verbatim) with each stage row extended by the HLL vocabulary
    estimate — hll_distinct_sql keeps the register formula in ONE
    place so the engines can never drift."""
    from ..operators.sketches import hll_distinct_sql

    ctes, rows = _Q137_SQL.split("\nSELECT CAST(0 AS INTEGER)", 1)
    stage_ctes = ["raw", "s1", "s2", "s3", "s4"]
    names = ["raw", "quality", "exact_dedup", "near_dedup", "decontaminated"]
    parts = []
    for i, (cte, name) in enumerate(zip(stage_ctes, names)):
        hll = hll_distinct_sql(
            f"(SELECT unnest(string_split_regex(trim(text), '\\s+'))"
            f" AS tok FROM {cte})",
            "tok",
        )
        parts.append(
            f"SELECT CAST({i} AS INTEGER) AS stage_id, '{name}' AS stage,"
            f" COUNT(*) AS n_docs,\n"
            f"  CAST(COALESCE(SUM(len(string_split_regex(trim(text),"
            f" '\\s+'))), 0) AS BIGINT) AS n_tokens,\n"
            f"  COALESCE(( {hll} ), 0.0) AS est_vocab\n"
            f"FROM {cte}"
        )
    return ctes + "\n" + "\nUNION ALL\n".join(parts)


_Q170_SQL = _gen_q170_sql()


def q171_wav_meta_roundtrip(spark, sf_dir):
    """REAL audio decode in the multimodal path: a deterministic WAV
    corpus is synthesized per document id (hand-assembled RIFF/PCM,
    params arithmetic in the id) and decode_wav_meta parses the
    binary back — chunk-walking the RIFF structure with stdlib struct
    inside Arrow batches, no stub, no external decoder. The oracle
    states the expected metadata arithmetically, so the gate proves
    parse(synthesize(id)) recovers every parameter exactly. Both steps
    are mapInPandas over the id/payload columns: map-only, payloads
    never visit the driver, parallel past the file count."""
    from ..operators.multimodal import decode_wav_meta, synthesize_wav_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_wav_meta(synthesize_wav_corpus(docs)).select(
        "media_id", "channels", "sample_rate", "bits", "n_frames",
        "duration_ms",
    )


_Q171_SQL = """
SELECT doc_id AS media_id,
  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
  CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
  CAST(20 + doc_id % 40 AS BIGINT) AS n_frames,
  CAST(((20 + doc_id % 40) * 1000) // (8000 * (1 + doc_id % 3)) AS BIGINT)
    AS duration_ms
FROM documents
"""


def q172_gif_frame_index(spark, sf_dir):
    """REAL video-container parse in the multimodal path: a
    deterministic multi-frame GIF corpus is synthesized per document
    id (hand-assembled GIF89a with genuinely LZW-encoded frames) and
    gif_frame_index walks the block structure back out — header,
    color tables, extension/image blocks, length-prefixed sub-block
    chains — WITHOUT decompressing pixels, which is exactly what a
    frame-sampling pipeline's cheap index pass does before choosing
    frames to decode. The oracle states the expected frame geometry
    arithmetically, so the gate proves parse(synthesize(id)) recovers
    every frame of every document. Both steps are row-exploding
    mapInPandas: map-only, payloads never visit the driver."""
    from ..operators.multimodal import gif_frame_index, synthesize_gif_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return gif_frame_index(synthesize_gif_corpus(docs)).select(
        "media_id", "frame_id", "left", "top", "width", "height"
    )


_Q172_SQL = """
SELECT doc_id AS media_id,
  CAST(j AS INTEGER) AS frame_id,
  CAST(j % 5 AS INTEGER) AS "left",
  CAST((doc_id + j) % 7 AS INTEGER) AS top,
  CAST(1 + (doc_id + j) % 8 AS INTEGER) AS width,
  CAST(1 + j % 6 AS INTEGER) AS height
FROM documents, UNNEST(range(0, 1 + doc_id % 4)) AS t(j)
"""


def q192_gif_pixel_decode(spark, sf_dir):
    """REAL video frame PIXEL decode: q172's cheap index pass chooses
    frames; this is the expensive sibling that actually decompresses
    them — full GIF-LZW decode of every frame's sub-block chain plus
    palette lookup, all inside Arrow batches on executors. The oracle
    states every decoded feature arithmetically (the synthesized
    frames are solid fills with id-derived colors and a deterministic
    palette), so the gate proves the LZW decoder recovers the exact
    raster of every frame of every document: pixel count, color
    count, dominant index, its 8-bit gray value, and the raster
    checksum."""
    from ..operators.multimodal import gif_frame_pixels, synthesize_gif_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return gif_frame_pixels(synthesize_gif_corpus(docs))


_Q192_SQL = """
SELECT doc_id AS media_id,
  CAST(j AS INTEGER) AS frame_id,
  CAST(1 + (doc_id + j) % 8 AS INTEGER) AS width,
  CAST(1 + j % 6 AS INTEGER) AS height,
  CAST((1 + (doc_id + j) % 8) * (1 + j % 6) AS BIGINT) AS n_pixels,
  CAST(1 AS INTEGER) AS n_colors,
  CAST((doc_id + j) % 4 AS INTEGER) AS top_color,
  CAST((doc_id * 17 + ((doc_id + j) % 4) * 73) % 256 AS INTEGER) AS mode_gray,
  CAST(((doc_id + j) % 4) * (1 + (doc_id + j) % 8) * (1 + j % 6) AS BIGINT)
    AS checksum
FROM documents, UNNEST(range(0, 1 + doc_id % 4)) AS t(j)
"""


def q173_png_decode_roundtrip(spark, sf_dir):
    """REAL image decode in the multimodal path — no stub, no external
    library: a deterministic 8-bit grayscale PNG corpus is synthesized
    per document id (pixels and per-scanline filter types arithmetic
    in the id, covering all five PNG filter types across the corpus)
    and decode_png_features runs the full stdlib pipeline back — chunk
    CRC verification, IHDR parse, zlib inflate, scanline defiltering
    (None/Sub/Up/Average/Paeth) — inside Arrow batches. The oracle
    states width/height/mean-luminance arithmetically, so the gate
    proves decode(synthesize(id)) reconstructs every pixel: one wrong
    byte anywhere in the defilter math shifts a mean and fails the
    hash. Both steps are map-only mapInPandas; payloads never visit
    the driver."""
    from ..operators.multimodal import decode_png_features, synthesize_png_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_png_features(synthesize_png_corpus(docs)).select(
        "media_id", "width", "height", "mode",
        F.round("mean_luma", 9).alias("mean_luma"),
    )


# mean luminance replayed arithmetically: pixel(r,c) = (id*31 + r*17
# + c*7) % 256 over the id-derived w x h matrix — the filter types the
# encoder applied are invisible here because decoding is lossless,
# which is exactly what the roundtrip proves.
_Q173_SQL = """
WITH px AS (
  SELECT doc_id,
    CAST(3 + doc_id % 6 AS INTEGER) AS w,
    CAST(2 + doc_id % 5 AS INTEGER) AS h,
    (doc_id * 31 + r * 17 + c * 7) % 256 AS v
  FROM documents,
    UNNEST(range(0, 2 + doc_id % 5)) AS tr(r),
    UNNEST(range(0, 3 + doc_id % 6)) AS tc(c)
  WHERE c < 3 + doc_id % 6 AND r < 2 + doc_id % 5
)
SELECT doc_id AS media_id, w AS width, h AS height, 'L' AS mode,
  ROUND(SUM(v) * 1.0 / (w * h), 9) AS mean_luma
FROM px GROUP BY doc_id, w, h
"""


def q174_wav_energy_segments(spark, sf_dir):
    """REAL audio segmentation in the multimodal path: a deterministic
    'speech-like' WAV corpus (alternating silent / loud spans, ±A
    square wave, geometry arithmetic in the id) is synthesized per
    document and segment_wav_energy decodes the actual PCM samples,
    computes per-window RMS, and emits the threshold-crossing runs —
    the voice-activity pass a transcription pipeline runs before the
    ASR model. Loud spans are window-aligned by construction, so the
    oracle states every segment's boundaries AND its exact RMS (= A)
    arithmetically; a single mis-decoded sample or off-by-one window
    shifts an RMS or a boundary and fails the hash. Map-only
    mapInPandas; payloads never visit the driver."""
    from ..operators.multimodal import (
        segment_wav_energy,
        synthesize_speech_wav_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return segment_wav_energy(
        synthesize_speech_wav_corpus(docs), frame_samples=4, threshold=1.0
    ).select(
        "media_id", "seg_id", "start_sample", "n_samples",
        F.round("rms", 6).alias("rms"),
    )


# loud spans are the odd-indexed ones: span length 4*(2 + id%4)
# samples, span count 4 + id%3, RMS exactly A = 2000 + (id%7)*1000
_Q174_SQL = """
SELECT doc_id AS media_id,
  CAST((s - 1) // 2 AS INTEGER) AS seg_id,
  CAST(s * 4 * (2 + doc_id % 4) AS BIGINT) AS start_sample,
  CAST(4 * (2 + doc_id % 4) AS BIGINT) AS n_samples,
  ROUND(CAST(2000 + (doc_id % 7) * 1000 AS DOUBLE), 6) AS rms
FROM documents, UNNEST(range(1, 4 + doc_id % 3, 2)) AS t(s)
"""


def q176_image_resize_roundtrip(spark, sf_dir):
    """REAL image resize in the multimodal path: the grayscale PNG
    corpus is decoded, nearest-neighbor resampled to a fixed 4x3
    thumbnail (src = (dst * src_dim) // dst_dim), RE-ENCODED as a
    valid PNG, and decoded AGAIN by the same stdlib pipeline — the
    resolution-normalization step of an image training pipeline,
    value-checked end to end. The oracle replays the sampled pixel
    grid arithmetically, so a single off-by-one in the index mapping,
    any re-encode corruption, or any defilter bug in either decode
    pass shifts a thumbnail mean and fails the hash. Two map-only
    mapInPandas stages; payloads never visit the driver."""
    from ..operators.multimodal import (
        decode_png_features,
        resize_image,
        synthesize_png_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    thumbs = resize_image(synthesize_png_corpus(docs), out_w=4, out_h=3)
    return decode_png_features(thumbs).select(
        "media_id", "width", "height", "mode",
        F.round("mean_luma", 9).alias("mean_luma"),
    )


# nearest-neighbor replay: source pixel (r*h//3, c*w//4) of the
# id-derived w x h matrix, pixel formula (id*31 + r*17 + c*7) % 256
_Q176_SQL = """
WITH px AS (
  SELECT doc_id,
    (doc_id * 31 + ((r * (2 + doc_id % 5)) // 3) * 17
                 + ((c * (3 + doc_id % 6)) // 4) * 7) % 256 AS v
  FROM documents,
    UNNEST(range(0, 3)) AS tr(r),
    UNNEST(range(0, 4)) AS tc(c)
)
SELECT doc_id AS media_id,
  CAST(4 AS INTEGER) AS width, CAST(3 AS INTEGER) AS height,
  'L' AS mode,
  ROUND(SUM(v) * 1.0 / 12, 9) AS mean_luma
FROM px GROUP BY doc_id
"""


def q175_png_rgb_roundtrip(spark, sf_dir):
    """q173's RGB sibling: color-type-2 PNGs (bpp=3) synthesized per
    document id and decoded by the same stdlib pipeline — the defilter
    equations now reference the byte THREE positions back, a stride
    the grayscale corpus cannot exercise, and the luminance is the
    ITU-R 601-2 weighted mean (299R + 587G + 114B)/1000. The oracle
    replays every channel of every pixel arithmetically; a single
    stride bug anywhere in the Sub/Average/Paeth reconstruction shifts
    a mean and fails the hash."""
    from ..operators.multimodal import (
        decode_png_features,
        synthesize_png_rgb_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_png_features(synthesize_png_rgb_corpus(docs)).select(
        "media_id", "width", "height", "mode",
        F.round("mean_luma", 9).alias("mean_luma"),
    )


_Q175_SQL = """
WITH px AS (
  SELECT doc_id,
    CAST(2 + doc_id % 5 AS INTEGER) AS w,
    CAST(1 + doc_id % 4 AS INTEGER) AS h,
      299 * ((doc_id * 31 + r * 17 + c * 7) % 256)
    + 587 * ((doc_id * 31 + r * 17 + c * 7 + 13) % 256)
    + 114 * ((doc_id * 31 + r * 17 + c * 7 + 26) % 256) AS lum
  FROM documents,
    UNNEST(range(0, 1 + doc_id % 4)) AS tr(r),
    UNNEST(range(0, 2 + doc_id % 5)) AS tc(c)
  WHERE c < 2 + doc_id % 5 AND r < 1 + doc_id % 4
)
SELECT doc_id AS media_id, w AS width, h AS height, 'RGB' AS mode,
  ROUND(SUM(lum) * 1.0 / (1000 * w * h), 9) AS mean_luma
FROM px GROUP BY doc_id, w, h
"""


def q161_curriculum_shards(spark, sf_dir):
    """Curriculum data ordering: documents are staged easy->hard by
    CALIBRATED quality (empirical-CDF percentile, so the phase cut is
    a corpus fraction, not a raw-score guess) into ``n_phases``
    training phases, then content-hash-sharded WITHIN each phase — the
    ordering curriculum-trained runs consume (each phase is a shard
    set; within a phase, order is decorrelated). Composition of two
    audited operators: score_percentiles (one corpus scan + tiny bins
    window + broadcast join) and the shard_shuffle device keyed on
    (phase, shard) — per-task state stays one shard of one phase, and
    the whole plan carries ONE corpus-sized exchange (the per-shard
    window), same as a plain sharded write."""
    from pyspark.sql import Window

    from ..operators.sampling import _bucket, score_percentiles
    from ..operators.text import quality_score

    n_phases, n_shards = 4, 8
    scored = score_percentiles(
        quality_score(_docs(spark, sf_dir), "text", "doc_id"), "quality"
    )
    staged = scored.select(
        "doc_id",
        F.least(
            F.floor(F.col("score_pct") * n_phases).cast("int"),
            F.lit(n_phases - 1),
        ).alias("phase"),
        _bucket(F.col("doc_id"), "curriculum-v1").alias("__h"),
    ).withColumn(
        "shard_id",
        F.pmod(F.conv(F.col("__h"), 16, 10).cast("long"), F.lit(n_shards))
        .cast("int"),
    )
    w = Window.partitionBy("phase", "shard_id").orderBy(
        F.col("__h"), F.col("doc_id")
    )
    return staged.select(
        "doc_id", "phase", "shard_id",
        F.row_number().over(w).cast("int").alias("pos"),
    )


_Q161_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
),
s AS (
  SELECT doc_id, quality, CAST(FLOOR(quality * 1000) AS INTEGER) AS b
  FROM q WHERE quality IS NOT NULL
),
cdf AS (SELECT b, COUNT(*) AS c FROM s GROUP BY b),
w AS (
  SELECT b,
    COALESCE(SUM(c) OVER (
      ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS below,
    SUM(c) OVER () AS total
  FROM cdf
),
pct AS (
  SELECT s.doc_id, ROUND(w.below * 1.0 / w.total, 9) AS p
  FROM s JOIN w USING (b)
),
staged AS (
  SELECT doc_id,
    CAST(least(CAST(FLOOR(p * 4) AS INTEGER), 3) AS INTEGER) AS phase,
    substr(md5('curriculum-v1' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
  FROM pct
)
SELECT doc_id, phase,
  CAST(CAST('0x' || hx AS BIGINT) % 8 AS INTEGER) AS shard_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY phase, CAST('0x' || hx AS BIGINT) % 8
    ORDER BY hx, doc_id
  ) AS INTEGER) AS pos
FROM staged
"""


def q160_reference_lm_score(spark, sf_dir):
    """CCNet's ACTUAL filtering design (Wenzek et al. 2020): the LM is
    trained on a trusted REFERENCE corpus (Wikipedia there; the
    high-quality slice here — quality >= 0.6, min_count=2 vocabulary
    cap), then EVERY document is scored against that fixed model —
    q103/q147 train on the corpus being scored, which drifts with the
    corpus; a reference model gives scores comparable across corpora
    and rounds. Out-of-reference-vocabulary tokens take the 0.5-count
    floor, so junk pages score low rather than erroring. Scale shape
    inherits the operator: vocabulary-capped model joined WITHOUT a
    forced broadcast (AQE degrades to shuffle), corpus side one
    explode + join + doc-keyed aggregation."""
    from ..operators.text import quality_score, unigram_lm_score

    docs = _docs(spark, sf_dir)
    ref = docs.join(
        quality_score(docs, "text", "doc_id")
        .filter(F.col("quality") >= 0.6)
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    toks = ref.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term")
    )
    model = (
        toks.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 2)
    )
    return unigram_lm_score(docs, "text", "doc_id", model=model)


_Q160_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id, text,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
),
ref AS (SELECT doc_id, text FROM q WHERE quality >= 0.6),
rtoks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM ref
),
model AS (
  SELECT term, COUNT(*) AS freq FROM rtoks GROUP BY term
  HAVING COUNT(*) >= 2
),
tot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS t FROM model),
dtoks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
scored AS (
  SELECT d.doc_id, ln(COALESCE(m.freq, 0.5)) AS lnf
  FROM dtoks d LEFT JOIN model m USING (term)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  ROUND(AVG(lnf) - (SELECT ln(t) FROM tot), 9) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q162_hll_distinct_tokens(spark, sf_dir):
    """Per-language distinct-token cardinality via the deterministic
    HyperLogLog sketch (`operators/sketches.py` hll_distinct, p=10 ->
    1024 registers, ~3.2% expected error). The scale story is the
    point: vocabulary cardinality over 100 TB costs one map-side-
    combinable max-aggregation to <= 1024 registers per language —
    never the corpus-cardinality (lang, term) distinct shuffle an
    exact count needs. Register math is exact-integer end to end, so
    the DuckDB oracle replays the ESTIMATE value-exactly."""
    from ..operators.sketches import hll_distinct

    toks = _docs(spark, sf_dir).select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    return hll_distinct(toks, "term", ["lang"], p=10)


def _gen_q162_sql() -> str:
    from ..operators.sketches import hll_distinct_sql

    toks = (
        r"(SELECT lang, unnest(string_split_regex(trim(lower(text)), "
        r"'\s+')) AS term FROM documents) toks"
    )
    return hll_distinct_sql(toks, "term", ["lang"], p=10)


_Q162_SQL = _gen_q162_sql()


def q163_countmin_term_counts(spark, sf_dir):
    """Count-min frequency estimates for a probe vocabulary (the
    distinct terms of documents 0-4) over the whole corpus
    (`operators/sketches.py` countmin_counts, d=4 x w=2048 cells).
    The corpus aggregates straight into the 8192-cell sketch (partial
    aggregation collapses every partition before the exchange — no
    per-term shuffle), probes join the broadcast cell relation; cells
    from disjoint shards ADD, which is what makes the sketch
    incrementally maintainable at 100 TB. Estimates are exact
    integers (min over rows), so the oracle is value-exact."""
    from ..operators.sketches import countmin_counts

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        )
    )
    probes = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .distinct()
    )
    return countmin_counts(toks, "term", probes)


def _gen_q163_sql() -> str:
    from ..operators.sketches import countmin_counts_sql

    toks = (
        r"(SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) "
        r"AS term FROM documents) toks"
    )
    probes = (
        r"(SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), "
        r"'\s+')) AS term FROM documents WHERE doc_id < 5) probes"
    )
    return countmin_counts_sql(toks, "term", probes)


_Q163_SQL = _gen_q163_sql()


def q165_hll_state_vocab(spark, sf_dir):
    """Per-language vocabulary cardinality served from PERSISTENT HLL
    state — the cardinality sibling of the persistent LSH/PQ/BM25
    indexes: registers live as a tiny Delta table (<= langs x 1024
    rows whatever the corpus size), day-2 documents fold in by
    max-merge WITHOUT touching day-1 (maintenance cost = the slice's
    own aggregation), and one slice is deliberately replayed to prove
    idempotent crash recovery inside the checked query. The oracle is
    q162's whole-corpus formula — passing value-exactly IS the merge
    property: registers(day1) max-merge registers(day2) must equal
    registers(full corpus) bit for bit."""
    from ..operators.sketches import (
        build_hll_state,
        estimate_hll_state,
        update_hll_state,
    )
    from ..queries.delta_ops import _fresh

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    day1 = toks.filter(F.col("doc_id") % 3 != 0)
    day2 = toks.filter(F.col("doc_id") % 3 == 0)
    state = _fresh("hll_state")
    build_hll_state(day1, state, "term", ["lang"], p=10)
    update_hll_state(day2, state, "term", ["lang"], p=10)
    # crash replay: folding the same slice in again must be a no-op
    update_hll_state(day2, state, "term", ["lang"], p=10)
    return estimate_hll_state(spark, state, ["lang"], p=10)


def q166_cm_state_gdpr(spark, sf_dir):
    """Persistent count-min state with EXACT removal: day-1 documents
    build the cell table, day-2 documents fold in additively, then a
    GDPR slice (doc_id % 7 == 0) is DELETED by subtracting its cell
    contributions — cells are linear sums, so the surviving state
    equals the sketch of the surviving corpus cell for cell, which is
    exactly what the oracle checks (whole-formula replay over
    documents minus the deleted slice). Estimates then serve from the
    stored cells with zero corpus access. Unlike the HLL registers,
    add/delete are not idempotent — maintenance is exactly-once by
    construction here and CDF-version-pinned in production (module
    note in operators/sketches.py)."""
    from ..operators.sketches import (
        build_cm_state,
        delete_cm_state,
        estimate_cm_state,
        update_cm_state,
    )
    from ..queries.delta_ops import _fresh

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    day1 = toks.filter(F.col("doc_id") % 3 != 0)
    day2 = toks.filter(F.col("doc_id") % 3 == 0)
    gone = toks.filter(F.col("doc_id") % 7 == 0)
    state = _fresh("cm_state")
    build_cm_state(day1, state, "term")
    update_cm_state(day2, state, "term")
    delete_cm_state(gone, state, "term")
    probes = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .distinct()
    )
    return estimate_cm_state(spark, state, probes, "term")


def _gen_q166_sql() -> str:
    from ..operators.sketches import countmin_counts_sql

    toks = (
        r"(SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) "
        r"AS term FROM documents WHERE doc_id % 7 != 0) toks"
    )
    probes = (
        r"(SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), "
        r"'\s+')) AS term FROM documents WHERE doc_id < 5) probes"
    )
    return countmin_counts_sql(toks, "term", probes)


_Q166_SQL = _gen_q166_sql()


def q168_vocab_overlap_sketch(spark, sf_dir):
    """Vocabulary overlap between two corpus halves estimated entirely
    from HLL registers — |A|, |B|, |A u B| (register max-merge is an
    EXACT sketch union), inclusion-exclusion intersection, Jaccard —
    with no join anywhere: comparing two 100 TB corpora ships
    2 x 1024 registers. The screening use case: 'how much does this
    new crawl's vocabulary overlap what we already have' before paying
    for precise dedup. Register math deterministic, oracle
    value-exact."""
    from ..operators.sketches import hll_set_estimates

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    )
    a = toks.filter(F.col("doc_id") % 2 == 0)
    b = toks.filter(F.col("doc_id") % 2 == 1)
    return hll_set_estimates(a, b, "term", p=10)


def _gen_q168_sql() -> str:
    from ..operators.sketches import hll_set_estimates_sql

    def half(rem: int) -> str:
        return (
            r"(SELECT unnest(string_split_regex(trim(lower(text)), "
            r"'\s+')) AS term FROM documents WHERE doc_id % 2 = "
            + str(rem)
            + ")"
        )

    return hll_set_estimates_sql(half(0) + " ha", half(1) + " hb", "term")


_Q168_SQL = _gen_q168_sql()


def q169_bloom_prefilter(spark, sf_dir):
    """Bloom-filter pre-screen for incremental dedup: day-1 document
    fingerprints build the bitmap (one bit_or aggregation to <= 2k
    words), day-2 fingerprints probe it — 'false' answers are CERTAIN,
    so definitely-new documents skip the expensive dedup join entirely
    and only 'maybe' rows (true repeats + the bounded false-positive
    rate) proceed to exact verification. The membership sibling of the
    HLL/CM sketches; bitmap arithmetic is exact integers, so the
    oracle replays bit for bit."""
    from ..operators.sketches import bloom_probe, build_bloom

    docs = _docs(spark, sf_dir)
    fp = F.md5(F.trim(F.col("text"))).alias("fp")
    items = docs.filter(F.col("doc_id") < 250).select(fp)
    probes = docs.filter(F.col("doc_id") >= 250).select(fp).distinct()
    bloom = build_bloom(items, "fp", m_bits=1 << 16, k=4)
    return bloom_probe(bloom, probes, "fp", m_bits=1 << 16, k=4)


def _gen_q169_sql() -> str:
    from ..operators.sketches import bloom_probe_sql

    items = (
        "(SELECT md5(trim(text)) AS fp FROM documents "
        "WHERE doc_id < 250) i"
    )
    probes = (
        "(SELECT DISTINCT md5(trim(text)) AS fp FROM documents "
        "WHERE doc_id >= 250) p"
    )
    return bloom_probe_sql(items, probes, "fp", m_bits=1 << 16, k=4)


_Q169_SQL = _gen_q169_sql()


def q164_excess_perplexity_select(spark, sf_dir):
    """RHO-style data selection by EXCESS likelihood: every document is
    scored under the reference LM (trained on the high-quality slice —
    q160's model) AND the self LM (trained on the whole corpus), and
    the selected set is documents the reference model likes strictly
    more (excess = ref_lp - self_lp > 0) — the 'learnable, high-quality'
    region the RHO-1 selection targets, with the corpus model standing
    in for the training run's own loss. The selection is a map-only
    threshold on two aggregate scores (no global sort/rank anywhere),
    so it composes with the curation suite at any corpus size; both LM
    joins inherit the vocab-bounded AQE-degradable model join.

    Returns (doc_id, ref_lp, self_lp, excess) for selected documents.
    """
    from ..operators.text import quality_score, unigram_lm_score

    docs = _docs(spark, sf_dir)
    ref_docs = docs.join(
        quality_score(docs, "text", "doc_id")
        .filter(F.col("quality") >= 0.6)
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    ref_toks = ref_docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term")
    )
    ref_model = (
        ref_toks.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 2)
    )
    ref = unigram_lm_score(docs, "text", "doc_id", model=ref_model).select(
        "doc_id", F.col("avg_logprob").alias("ref_lp")
    )
    self_ = unigram_lm_score(docs, "text", "doc_id").select(
        "doc_id", F.col("avg_logprob").alias("self_lp")
    )
    return (
        ref.join(self_, "doc_id")
        .withColumn(
            "excess", F.round(F.col("ref_lp") - F.col("self_lp"), 9)
        )
        .filter(F.col("excess") > 0)
        .select("doc_id", "ref_lp", "self_lp", "excess")
    )


_Q164_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id, text,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
),
rtoks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM q WHERE quality >= 0.6
),
rmodel AS (
  SELECT term, COUNT(*) AS freq FROM rtoks GROUP BY term
  HAVING COUNT(*) >= 2
),
rtot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS t FROM rmodel),
dtoks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
smodel AS (SELECT term, COUNT(*) AS freq FROM dtoks GROUP BY term),
stot AS (SELECT CAST(SUM(freq) AS DOUBLE) AS t FROM smodel),
rscore AS (
  SELECT d.doc_id,
    ROUND(AVG(ln(COALESCE(m.freq, 0.5))) - (SELECT ln(t) FROM rtot), 9)
      AS ref_lp
  FROM dtoks d LEFT JOIN rmodel m USING (term) GROUP BY d.doc_id
),
sscore AS (
  SELECT d.doc_id,
    ROUND(AVG(ln(COALESCE(m.freq, 0.5))) - (SELECT ln(t) FROM stot), 9)
      AS self_lp
  FROM dtoks d LEFT JOIN smodel m USING (term) GROUP BY d.doc_id
)
SELECT r.doc_id, r.ref_lp, s.self_lp,
       ROUND(r.ref_lp - s.self_lp, 9) AS excess
FROM rscore r JOIN sscore s USING (doc_id)
WHERE ROUND(r.ref_lp - s.self_lp, 9) > 0
"""


def q138_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (ADC). Like q36, every stage is
    deterministic arithmetic (modulo arg_min codebooks, 1e-9-rounded
    distance compares), so the DuckDB oracle replicates the whole
    approximate operator value-exactly."""
    from ..operators.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    # explicit dim keeps plan construction fully lazy (no probe job)
    out = pq_topk(emb, queries, k=10, m=4, k_codes=16, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def _gen_q138_sql(
    m: int = 4, k_codes: int = 16, k: int = 10, dim: int = 64, rerank: int = 4
) -> str:
    """DuckDB replica of pq_topk: same codebook seeding, same encode
    argmin (1e-9-rounded squared L2 via the three-dot-product recipe),
    same ADC sum, same exact-rerank shortlist, same ranking
    tie-breaks."""
    subdim = dim // m

    def d2(a, b):
        return (
            f"ROUND(list_dot_product({a}, {a})"
            f" - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}), 9)"
        )

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
reps AS (
  SELECT CAST(vec_id % {k_codes} AS INTEGER) AS code, arg_min(v, vec_id) AS rep
  FROM v GROUP BY 1
),
cent AS (
  SELECT code, s,
         list_slice(rep, s * {subdim} + 1, s * {subdim} + {subdim}) AS cv
  FROM reps, (SELECT unnest(range(0, {m})) AS s)
),
vsub AS (
  SELECT vec_id, s,
         list_slice(v, s * {subdim} + 1, s * {subdim} + {subdim}) AS xv
  FROM v, (SELECT unnest(range(0, {m})) AS s)
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vs.vec_id, vs.s, c.code,
      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.s
        ORDER BY {d2('vs.xv', 'c.cv')} ASC, c.code ASC) AS r
    FROM vsub vs JOIN cent c ON c.s = vs.s
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
qsub AS (
  SELECT query_id, s,
         list_slice(qv, s * {subdim} + 1, s * {subdim} + {subdim}) AS qs
  FROM q, (SELECT unnest(range(0, {m})) AS s)
),
qtab AS (
  SELECT qs.query_id, qs.s, c.code, {d2('qs.qs', 'c.cv')} AS qd
  FROM qsub qs JOIN cent c ON c.s = qs.s
),
dists AS (
  SELECT t.query_id, co.vec_id AS neighbor_id, ROUND(SUM(t.qd), 9) AS dist
  FROM codes co JOIN qtab t ON t.s = co.s AND t.code = co.code
  GROUP BY 1, 2
  HAVING co.vec_id <> t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS r
    FROM dists
  ) WHERE r <= {k * rerank}
),
rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    {d2('q.qv', 'nv.v')} AS dist
  FROM shortlist sl
  JOIN q ON q.query_id = sl.query_id
  JOIN v nv ON nv.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, rank, ROUND(dist, 6) AS dist FROM (
  SELECT query_id, neighbor_id, dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= {k}
"""


_Q138_SQL = _gen_q138_sql()


def q139_ivfpq_topk(spark, sf_dir):
    """IVFPQ ANN top-k: IVF coarse routing (q36's recipe) composed with
    the PQ/ADC index (q138's recipe) — ADC runs only inside each
    query's nprobe probed cells. Deterministic arithmetic end to end,
    so the DuckDB oracle replicates the whole approximate operator
    value-exactly."""
    from ..operators.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    # explicit dim keeps plan construction fully lazy (no probe job)
    out = ivfpq_topk(
        emb, queries, k=10, n_cells=16, nprobe=4, m=4, k_codes=16, dim=64
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def _gen_q139_sql(
    m: int = 4,
    k_codes: int = 16,
    k: int = 10,
    dim: int = 64,
    rerank: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
    q_pred: str = "vec_id < 5",
) -> str:
    """DuckDB replica of ivfpq_topk: q138's codebook/encode/ADC/rerank
    arithmetic plus the coarse-cell assignment and nprobe routing, with
    the probe constraint applied to the ADC candidate join.
    ``q_pred`` selects the query vectors (q151 reuses the generator
    with a different batch)."""
    subdim = dim // m

    def d2(a, b):
        return (
            f"ROUND(list_dot_product({a}, {a})"
            f" - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}), 9)"
        )

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellreps AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell, arg_min(v, vec_id) AS cv
  FROM v GROUP BY 1
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vv.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY vv.vec_id
        ORDER BY {d2('vv.v', 'c.cv')} ASC, c.cell ASC) AS r
    FROM v vv, cellreps c
  ) WHERE r = 1
),
reps AS (
  SELECT CAST(vec_id % {k_codes} AS INTEGER) AS code, arg_min(v, vec_id) AS rep
  FROM v GROUP BY 1
),
cent AS (
  SELECT code, s,
         list_slice(rep, s * {subdim} + 1, s * {subdim} + {subdim}) AS cv
  FROM reps, (SELECT unnest(range(0, {m})) AS s)
),
vsub AS (
  SELECT vec_id, s,
         list_slice(v, s * {subdim} + 1, s * {subdim} + {subdim}) AS xv
  FROM v, (SELECT unnest(range(0, {m})) AS s)
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vs.vec_id, vs.s, c.code,
      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.s
        ORDER BY {d2('vs.xv', 'c.cv')} ASC, c.code ASC) AS r
    FROM vsub vs JOIN cent c ON c.s = vs.s
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE {q_pred}),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {d2('q.qv', 'c.cv')} ASC, c.cell ASC) AS r
    FROM q, cellreps c
  ) WHERE r <= {nprobe}
),
qsub AS (
  SELECT query_id, s,
         list_slice(qv, s * {subdim} + 1, s * {subdim} + {subdim}) AS qs
  FROM q, (SELECT unnest(range(0, {m})) AS s)
),
qtab AS (
  SELECT qs.query_id, qs.s, c.code, {d2('qs.qs', 'c.cv')} AS qd
  FROM qsub qs JOIN cent c ON c.s = qs.s
),
dists AS (
  SELECT t.query_id, co.vec_id AS neighbor_id, ROUND(SUM(t.qd), 9) AS dist
  FROM codes co
  JOIN assign a ON a.vec_id = co.vec_id
  JOIN qtab t ON t.s = co.s AND t.code = co.code
  JOIN probes p ON p.query_id = t.query_id AND p.cell = a.cell
  GROUP BY 1, 2
  HAVING co.vec_id <> t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS r
    FROM dists
  ) WHERE r <= {k * rerank}
),
rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    {d2('q.qv', 'nv.v')} AS dist
  FROM shortlist sl
  JOIN q ON q.query_id = sl.query_id
  JOIN v nv ON nv.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, rank, ROUND(dist, 6) AS dist FROM (
  SELECT query_id, neighbor_id, dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= {k}
"""


_Q139_SQL = _gen_q139_sql()
# deferred until here: composes _Q150_SQL with _gen_q139_sql
_Q151_SQL = _gen_q151_sql()


def q145_ivfpq_residual(spark, sf_dir):
    """IVFADC proper (residual-encoded IVFPQ): vectors PQ-encode their
    residual to the assigned coarse centroid and queries build one ADC
    table per probed cell — the standard recall fix over q139's
    raw-vector codes (measured uplift in SCALING.md). Every stage stays
    deterministic arithmetic, so the DuckDB oracle replicates the whole
    operator value-exactly."""
    from ..operators.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivfpq_topk(
        emb, queries, k=10, n_cells=16, nprobe=4, m=4, k_codes=16, dim=64,
        residual=True,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def _gen_q145_sql(
    m: int = 4,
    k_codes: int = 16,
    k: int = 10,
    dim: int = 64,
    rerank: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB replica of ivfpq_topk(residual=True): q139's coarse
    assignment and routing, with the PQ codebook trained on (and codes
    encoding) the residual v - coarse_centroid, and the query ADC table
    built per probed cell from q - that cell's centroid. Residuals are
    exact elementwise subtraction in both engines, so the shared
    three-dot-product/1e-9-rounding recipe keeps the whole operator
    value-exact."""
    subdim = dim // m

    def d2(a, b):
        return (
            f"ROUND(list_dot_product({a}, {a})"
            f" - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}), 9)"
        )

    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cellreps AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell, arg_min(v, vec_id) AS cv
  FROM v GROUP BY 1
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vv.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY vv.vec_id
        ORDER BY {d2('vv.v', 'c.cv')} ASC, c.cell ASC) AS r
    FROM v vv, cellreps c
  ) WHERE r = 1
),
vres AS (
  SELECT a.vec_id, a.cell,
    list_transform(range(1, {dim + 1}), i -> vv.v[i] - c.cv[i]) AS rv
  FROM assign a
  JOIN v vv ON vv.vec_id = a.vec_id
  JOIN cellreps c ON c.cell = a.cell
),
reps AS (
  SELECT CAST(vec_id % {k_codes} AS INTEGER) AS code, arg_min(rv, vec_id) AS rep
  FROM vres GROUP BY 1
),
cent AS (
  SELECT code, s,
         list_slice(rep, s * {subdim} + 1, s * {subdim} + {subdim}) AS cv
  FROM reps, (SELECT unnest(range(0, {m})) AS s)
),
vsub AS (
  SELECT vec_id, s,
         list_slice(rv, s * {subdim} + 1, s * {subdim} + {subdim}) AS xv
  FROM vres, (SELECT unnest(range(0, {m})) AS s)
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vs.vec_id, vs.s, c.code,
      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.s
        ORDER BY {d2('vs.xv', 'c.cv')} ASC, c.code ASC) AS r
    FROM vsub vs JOIN cent c ON c.s = vs.s
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {d2('q.qv', 'c.cv')} ASC, c.cell ASC) AS r
    FROM q, cellreps c
  ) WHERE r <= {nprobe}
),
qres AS (
  SELECT p.query_id, p.cell,
    list_transform(range(1, {dim + 1}), i -> q.qv[i] - c.cv[i]) AS qr
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN cellreps c ON c.cell = p.cell
),
qsub AS (
  SELECT query_id, cell, s,
         list_slice(qr, s * {subdim} + 1, s * {subdim} + {subdim}) AS qs
  FROM qres, (SELECT unnest(range(0, {m})) AS s)
),
qtab AS (
  SELECT qs.query_id, qs.cell, qs.s, c.code, {d2('qs.qs', 'c.cv')} AS qd
  FROM qsub qs JOIN cent c ON c.s = qs.s
),
dists AS (
  SELECT t.query_id, co.vec_id AS neighbor_id, ROUND(SUM(t.qd), 9) AS dist
  FROM codes co
  JOIN vres a ON a.vec_id = co.vec_id
  JOIN qtab t ON t.s = co.s AND t.code = co.code AND t.cell = a.cell
  GROUP BY 1, 2
  HAVING co.vec_id <> t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS r
    FROM dists
  ) WHERE r <= {k * rerank}
),
rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    {d2('q.qv', 'nv.v')} AS dist
  FROM shortlist sl
  JOIN q ON q.query_id = sl.query_id
  JOIN v nv ON nv.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, rank, ROUND(dist, 6) AS dist FROM (
  SELECT query_id, neighbor_id, dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= {k}
"""


_Q145_SQL = _gen_q145_sql()


def q146_pq_index_cdf_sync(spark, sf_dir):
    """PQ-index maintenance from the corpus change feed — the ANN twin
    of q140's LSH-index sync: build the index at corpus v0 (quantizers
    frozen, baseline version pinned), append a day-2 batch (negated
    vectors under shifted ids), GDPR-delete ``vec_id % 10 = 0``, run
    ``sync_pq_index_from_cdf`` (delete-then-reencode from
    table_changes, version pin commits last), and serve a query batch
    from the synced codes. The oracle replays the FINAL state
    relationally: quantizers from the v0 corpus, codes for exactly the
    surviving rows. The corpus mutations and the v0 quantizer/codes
    build are staged by the shared process fixtures (_fixtures.py);
    this query runs the sync and the served batch."""
    from ..operators.similarity import query_pq_index, sync_pq_index_from_cdf
    from ..reader import read_delta
    from ._fixtures import (
        clone_index,
        emb_corpus_cdf,
        fetch_parallel,
        pq_base_index,
    )

    # shared fixtures (_fixtures.py): the v0->v1->v2 embeddings corpus
    # is built once per process and READ-ONLY here; the frozen-quantizer
    # base index is a clone-on-write copy — only the sync tail runs per
    # invocation. Independent artifacts -> concurrent first-touch build.
    path, idx_master = fetch_parallel(
        lambda: emb_corpus_cdf(spark, sf_dir),
        lambda: pq_base_index(spark, sf_dir),
    )
    idx = clone_index(idx_master)
    sync_pq_index_from_cdf(spark, path, idx)

    corpus = read_delta(spark, path)
    queries = corpus.filter(F.col("vec_id") < 5)
    out = query_pq_index(queries, corpus, idx, k=10, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def _gen_q146_sql(
    m: int = 4,
    k_codes: int = 16,
    k: int = 10,
    dim: int = 64,
    rerank: int = 4,
    n_cells: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB replica of the synced index's final state: quantizers
    trained on the v0 corpus (every original vector — including rows
    the later GDPR delete removes, because the build saw them), codes
    for exactly the post-mutation survivors."""
    subdim = dim // m

    def d2(a, b):
        return (
            f"ROUND(list_dot_product({a}, {a})"
            f" - 2.0 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}), 9)"
        )

    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
day2 AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> -x) AS v
  FROM base WHERE vec_id % 7 = 0
),
v AS (
  SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM day2)
  WHERE vec_id % 10 <> 0
),
cellreps AS (
  SELECT CAST(vec_id % {n_cells} AS INTEGER) AS cell, arg_min(v, vec_id) AS cv
  FROM base GROUP BY 1
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vv.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY vv.vec_id
        ORDER BY {d2('vv.v', 'c.cv')} ASC, c.cell ASC) AS r
    FROM v vv, cellreps c
  ) WHERE r = 1
),
reps AS (
  SELECT CAST(vec_id % {k_codes} AS INTEGER) AS code, arg_min(v, vec_id) AS rep
  FROM base GROUP BY 1
),
cent AS (
  SELECT code, s,
         list_slice(rep, s * {subdim} + 1, s * {subdim} + {subdim}) AS cv
  FROM reps, (SELECT unnest(range(0, {m})) AS s)
),
vsub AS (
  SELECT vec_id, s,
         list_slice(v, s * {subdim} + 1, s * {subdim} + {subdim}) AS xv
  FROM v, (SELECT unnest(range(0, {m})) AS s)
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vs.vec_id, vs.s, c.code,
      ROW_NUMBER() OVER (PARTITION BY vs.vec_id, vs.s
        ORDER BY {d2('vs.xv', 'c.cv')} ASC, c.code ASC) AS r
    FROM vsub vs JOIN cent c ON c.s = vs.s
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY {d2('q.qv', 'c.cv')} ASC, c.cell ASC) AS r
    FROM q, cellreps c
  ) WHERE r <= {nprobe}
),
qsub AS (
  SELECT query_id, s,
         list_slice(qv, s * {subdim} + 1, s * {subdim} + {subdim}) AS qs
  FROM q, (SELECT unnest(range(0, {m})) AS s)
),
qtab AS (
  SELECT qs.query_id, qs.s, c.code, {d2('qs.qs', 'c.cv')} AS qd
  FROM qsub qs JOIN cent c ON c.s = qs.s
),
dists AS (
  SELECT t.query_id, co.vec_id AS neighbor_id, ROUND(SUM(t.qd), 9) AS dist
  FROM codes co
  JOIN assign a ON a.vec_id = co.vec_id
  JOIN qtab t ON t.s = co.s AND t.code = co.code
  JOIN probes p ON p.query_id = t.query_id AND p.cell = a.cell
  GROUP BY 1, 2
  HAVING co.vec_id <> t.query_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist ASC, neighbor_id ASC) AS r
    FROM dists
  ) WHERE r <= {k * rerank}
),
rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    {d2('q.qv', 'nv.v')} AS dist
  FROM shortlist sl
  JOIN q ON q.query_id = sl.query_id
  JOIN v nv ON nv.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, rank, ROUND(dist, 6) AS dist FROM (
  SELECT query_id, neighbor_id, dist,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY dist ASC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= {k}
"""


_Q146_SQL = _gen_q146_sql()


def q149_persistent_residual_index(spark, sf_dir):
    """Residual-encoded persistent IVFPQ index served end to end:
    build with residual=True (convention pinned as a table property),
    query from the stored codes. A fresh index provably serves
    ivfpq_topk(residual=True)'s exact output (shared encode kernel +
    scoring tail), so the oracle IS q145's SQL — the driver's value
    check covers the whole build->encode->store->serve loop."""
    from ..operators.similarity import build_pq_index, query_pq_index
    from ..queries.delta_ops import _fresh

    emb = _emb(spark, sf_dir)
    idx = _fresh("residual_pq_index")
    build_pq_index(
        emb, idx, n_cells=16, m=4, k_codes=16, dim=64, residual=True
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = query_pq_index(queries, emb, idx, k=10, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )


def q153_shard_shuffle(spark, sf_dir):
    """Deterministic training-shard assignment: every document lands in
    md5(seed||id) % 16 with a hash-ordered position inside its shard —
    the content-keyed global shuffle that precedes the sharded training
    write. One exchange (the same one the write needs), per-shard
    row_number windows; the oracle replays assignment AND order."""
    from ..operators.sampling import shard_shuffle

    out = shard_shuffle(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_shards=16
    )
    return out.select("doc_id", "shard_id", "pos")


_Q153_SQL = """
WITH h AS (
  SELECT doc_id,
    substr(md5('shard-v1' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
  FROM documents
),
s AS (
  SELECT doc_id, hx,
    CAST(CAST('0x' || hx AS BIGINT) % 16 AS INTEGER) AS shard_id
  FROM h
)
SELECT doc_id, shard_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY shard_id ORDER BY hx, doc_id
  ) AS INTEGER) AS pos
FROM s
"""


def q154_token_budget_select(spark, sf_dir):
    """Best-first selection under a token budget: quality-score every
    document (q38's features), then keep documents in
    (quality-bin DESC, content-hash) order until the running
    whitespace-token sum exceeds the budget. The implementation never
    globally sorts — per-bin totals place the cut, and only the
    boundary bin runs a 256-way distributed prefix sum — while the
    oracle replays the equivalent flat running-sum window."""
    from ..operators.sampling import select_by_token_budget
    from ..operators.text import quality_score

    scored = quality_score(_docs(spark, sf_dir), "text", "doc_id")
    out = select_by_token_budget(
        scored, "quality", "n_tokens", "doc_id", budget=15_000
    )
    return out.select(
        "doc_id",
        "quality",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_Q154_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality,
    CAST(ROUND(n_tokens, 6) AS BIGINT) AS tok
  FROM base
),
r AS (
  SELECT doc_id, quality, tok,
    SUM(tok) OVER (
      ORDER BY CAST(FLOOR(quality * 1000) AS INTEGER) DESC,
               substr(md5('budget-v1' || CAST(doc_id AS VARCHAR)), 1, 8),
               doc_id
      ROWS UNBOUNDED PRECEDING
    ) AS run
  -- mirror the operator's up-front exclusion: an empty-text doc has
  -- quality NULL here (0/0) and is unbudgetable on both engines
  FROM q WHERE quality IS NOT NULL AND tok > 0
)
SELECT doc_id, quality, tok AS n_tokens FROM r WHERE run <= 15000
"""


def q155_weighted_sample(spark, sf_dir):
    """Quality-weighted sampling without replacement (Efraimidis-
    Spirakis A-Res, priority = u^(1/quality) with a content-derived
    uniform): the per-document-weighted counterpart of q130's
    per-domain mixture. Map-side priorities + salted two-level top-k;
    the 9dp-rounded priorities with id tie-breaks let the oracle
    replay the exact draw."""
    from ..operators.sampling import weighted_sample
    from ..operators.text import quality_score

    scored = quality_score(_docs(spark, sf_dir), "text", "doc_id")
    out = weighted_sample(scored, "quality", "doc_id", k=100)
    return out.select("doc_id", "quality", "priority")


_Q155_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
),
p AS (
  -- weights normalized to max 1.0 (order-preserving; keeps the
  -- 9dp-rounded priorities spread for arbitrary weight scales)
  SELECT doc_id, quality,
    ROUND(pow(
      (CAST('0x' || substr(md5('wsample-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) + 1) / 4294967296.0,
      (SELECT MAX(quality) FROM q WHERE quality > 0) / quality), 9)
      AS priority
  FROM q WHERE quality > 0
),
r AS (
  SELECT doc_id, quality, priority,
    ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk
  FROM p
)
SELECT doc_id, quality, priority FROM r WHERE rk <= 100
"""


def q156_dedup_keep_best(spark, sf_dir):
    """Exact dedup electing the highest-quality copy per duplicate
    group (score ties -> smallest id): one hash shuffle with a
    deterministic max_by struct ordering that the oracle's arg_max
    replays exactly."""
    from ..operators.dedup import exact_dedup_keep_best
    from ..operators.text import quality_score

    docs = _docs(spark, sf_dir)
    scored = docs.join(
        quality_score(docs, "text", "doc_id").select("doc_id", "quality"),
        "doc_id",
    )
    out = exact_dedup_keep_best(scored, "text", "doc_id", "quality")
    return out.select("doc_id", "quality")


_Q156_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
j AS (
  SELECT doc_id, text,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
)
SELECT doc_id, quality FROM (
  SELECT doc_id, quality, ROW_NUMBER() OVER (
    PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
    ORDER BY quality DESC, doc_id ASC
  ) AS rk
  FROM j
) WHERE rk = 1
"""


def q157_score_percentiles(spark, sf_dir):
    """Empirical-CDF calibration of the quality score: every doc gets
    the fraction of the corpus in a strictly lower quality bin — a
    bounded-bin aggregation + tiny-window + broadcast join, one corpus
    scan; the ratio-of-integers percentile replays exactly."""
    from ..operators.sampling import score_percentiles
    from ..operators.text import quality_score

    scored = quality_score(_docs(spark, sf_dir), "text", "doc_id")
    out = score_percentiles(scored, "quality")
    return out.select("doc_id", "quality", "score_pct")


_Q157_SQL = r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_uniq,
    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
  FROM documents
),
q AS (
  SELECT doc_id,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.3 + (n_uniq / n_tokens) * 0.4
          + (alpha_chars / n_chars) * 0.3, 6) AS quality
  FROM base
),
s AS (
  SELECT doc_id, quality, CAST(FLOOR(quality * 1000) AS INTEGER) AS b
  FROM q WHERE quality IS NOT NULL
),
cdf AS (SELECT b, COUNT(*) AS c FROM s GROUP BY b),
w AS (
  SELECT b,
    COALESCE(SUM(c) OVER (
      ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS below,
    SUM(c) OVER () AS total
  FROM cdf
)
SELECT s.doc_id, s.quality,
  ROUND(w.below * 1.0 / w.total, 9) AS score_pct
FROM s JOIN w USING (b)
"""


def q158_shard_manifest(spark, sf_dir):
    """Integrity manifest over the q153 shard assignment: per-shard row
    count and an order-independent md5-derived checksum — one hash
    aggregation with map-side partial sums, |shards| rows out; the
    oracle replays the modular checksum exactly."""
    from ..operators.sampling import shard_manifest, shard_shuffle

    sharded = shard_shuffle(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_shards=16
    )
    return shard_manifest(sharded, "doc_id").select(
        "shard_id", "n_docs", "checksum"
    )


_Q158_SQL = """
WITH s AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('shard-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
         AS BIGINT) % 16 AS INTEGER) AS shard_id,
    CAST('0x' || substr(md5('manifest-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
         AS BIGINT) % 1000000007 AS term
  FROM documents
)
SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(term) AS BIGINT) AS checksum
FROM s GROUP BY shard_id
"""


def q194_winnow_dup_pairs(spark, sf_dir):
    """Winnowing near-dup detection (Schleimer et al. SIGMOD 2003 — the
    MOSS fingerprinting algorithm): hash every 5-gram, slide a
    4-window over the hash sequence, keep each window's minimum; any
    shared run of >= w+k-1 = 8 words is guaranteed caught while the
    sketch carries ~2/(w+1) = 40% of the grams — the principled
    shrink of the pair join vs q31's full inverted index.
    Fingerprint extraction is MAP-ONLY (one codegen'd projection);
    the join shuffles only the winnowed sketch; boilerplate
    fingerprints above doc-freq 100 are dropped (stop-shingle guard).
    The oracle replays hashing, window minima, the cap, and the
    jaccard filter exactly."""
    from ..operators.dedup import winnow_dup_pairs

    return winnow_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", k=5, w=4, threshold=0.5
    )




def _winnow_fp_subquery(src: str) -> str:
    """DuckDB subquery producing (doc_id, fp) winnowed fingerprints
    (k=5, w=4 — the frozen index family) of relation ``src``; mirrors
    operators/dedup.py winnow_fingerprints exactly (md5-hex8 gram
    hashes, sliding window minima, short-tail single window)."""
    return f"""(
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(hs) >= 4 THEN
        list_distinct([list_min(hs[i:i+3]) FOR i IN range(1, len(hs) - 2)])
      WHEN len(hs) > 0 THEN [list_min(hs)]
      ELSE CAST([] AS BIGINT[]) END) AS fp
    FROM (
      SELECT doc_id,
        CASE WHEN len(w) >= 5 THEN
          [CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                || ' ' || w[i+3] || ' ' || w[i+4]), 1, 8) AS BIGINT)
           FOR i IN range(1, len(w) - 3)]
        ELSE [] END AS hs
      FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
            FROM {src})
    )
  )
)"""


_Q194_SQL = f"""
WITH fp AS (SELECT * FROM {_winnow_fp_subquery('documents')}),
hot AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) > 100),
kept AS (SELECT doc_id, fp FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared,
  ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 9) AS jaccard
FROM pairs
JOIN sizes sa ON a = sa.doc_id
JOIN sizes sb ON b = sb.doc_id
WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.5
"""


def q196_winnow_index_cdf_sync(spark, sf_dir):
    """CDF-maintained winnowing fingerprint index with GDPR delete
    propagation — the copy-detection member of the index-maintenance
    family, run through the same compliance loop as q140's LSH twin:
    build at corpus v0 (shared fixture, clone-on-write), APPEND a
    day-2 batch (v1), GDPR-DELETE every 10th doc (v2), let
    ``sync_winnow_index_from_cdf`` repair the index purely from the
    change feed, then probe both generations and the deleted range.
    The oracle recomputes the exact probe x final-corpus winnowed
    jaccard relationally (hot set frozen from the V0 corpus, exactly
    as the build froze it), so a missed re-sign, a surviving ghost, or
    a stale syncedVersion all fail the gate."""
    from ..operators.dedup import (
        near_dups_against_winnow_index,
        sync_winnow_index_from_cdf,
    )
    from ._fixtures import (
        clone_index,
        docs_corpus_cdf,
        fetch_parallel,
        winnow_base_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path, idx_master = fetch_parallel(
        lambda: docs_corpus_cdf(spark, sf_dir),
        lambda: winnow_base_index(spark, sf_dir),
    )
    idx = clone_index(idx_master)
    sync_winnow_index_from_cdf(spark, path, idx)
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    out = near_dups_against_winnow_index(
        probe, "text", "doc_id", idx, threshold=0.6
    )
    return out.select(
        "batch_id", "corpus_id", "n_shared",
        F.round("jaccard", 9).alias("jaccard"),
    )


_Q196_SQL = f"""
WITH day2 AS (
  SELECT doc_id + 300000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 7 = 0
),
corpus AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id, text FROM day2
  ) WHERE doc_id % 10 <> 0
),
probe AS (
  SELECT doc_id + 200000 AS doc_id, text || ' appended' AS text
  FROM documents WHERE doc_id % 5 = 0
),
v0fp AS (SELECT * FROM {_winnow_fp_subquery('documents')}),
hot AS (SELECT fp FROM v0fp GROUP BY fp HAVING COUNT(*) > 100),
cfp AS (
  SELECT * FROM {_winnow_fp_subquery('corpus')}
  WHERE fp NOT IN (SELECT fp FROM hot)
),
bfp AS (
  SELECT * FROM {_winnow_fp_subquery('probe')}
  WHERE fp NOT IN (SELECT fp FROM hot)
),
cn AS (SELECT doc_id, COUNT(*) AS n_c FROM cfp GROUP BY doc_id),
bn AS (SELECT doc_id, COUNT(*) AS n_b FROM bfp GROUP BY doc_id),
inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS n_i
  FROM bfp b JOIN cfp c USING (fp)
  GROUP BY b.doc_id, c.doc_id
)
SELECT i.batch_id, i.corpus_id, CAST(i.n_i AS BIGINT) AS n_shared,
  ROUND(i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i), 9) AS jaccard
FROM inter i
JOIN bn ON i.batch_id = bn.doc_id
JOIN cn ON i.corpus_id = cn.doc_id
WHERE i.n_i * 1.0 / (bn.n_b + cn.n_c - i.n_i) >= 0.6
"""


def q193_quality_classifier(spark, sf_dir):
    """Model-based quality filtering (the fastText-classifier stage of
    CCNet/LLaMA-class pipelines): a hashed-bag-of-words linear
    classifier with a 4096-bucket weight table, broadcast at scoring
    time. Weights are integer millis so the distributed per-doc sum is
    exact and order-independent; the keep decision is the integer
    sum's sign (no float boundary); score/sigmoid round at 1e-9. One
    corpus exchange (the doc-keyed aggregation); the model never
    shuffles. The oracle replays the weight table's md5 derivation and
    the whole scoring formula."""
    from ..operators.text import hashed_linear_score

    return hashed_linear_score(_docs(spark, sf_dir), "text", "doc_id")


_Q193_SQL = """
WITH weights AS (
  SELECT CAST(i AS INTEGER) AS bucket,
    CAST(CAST('0x' || substr(md5('qclf-v1-w' || CAST(i AS VARCHAR)), 1, 8)
         AS BIGINT) % 2001 - 1000 AS BIGINT) AS weight_milli
  FROM UNNEST(range(0, 4096)) AS t(i)
),
toks AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('qclf-v1' || tok), 1, 8) AS BIGINT) % 4096
         AS INTEGER) AS b
  FROM (
    SELECT doc_id, unnest([x FOR x IN
      string_split_regex(lower(trim(text)), '\\s+') IF x <> '']) AS tok
    FROM documents
  )
),
agg AS (
  SELECT doc_id, SUM(weight_milli) AS s, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks JOIN weights ON b = bucket
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
  ROUND(s / (n_tokens * 1000.0), 9) AS score,
  ROUND(1.0 / (1.0 + exp(-(s / (n_tokens * 1000.0)))), 9) AS prob,
  s >= 0 AS keep
FROM agg
"""


# --------------------------------------------------------------------------
# q190/q191: BPE tokenizer training + encoding (operators/tokenizer.py).
# The oracle replays the ENTIRE training loop in SQL — n_merges unrolled
# rounds of (pair histogram -> lexicographic-tiebreak argmax -> let-bound
# list-comprehension merge rewrite) over the word-frequency vocabulary,
# then (q191) re-encodes every document with the learned chain. The
# a != b pair restriction makes replace-all order-independent, so the
# relational rewrite and the classic greedy scan agree exactly
# (operators/tokenizer.py module docstring).
# --------------------------------------------------------------------------

_BPE_N_MERGES = 8

def _bpe_merges(spark, sf_dir):
    """The learned merges (model-sized: 8 rows), trained once per
    (session, sf_dir) in the session memo; same immutable-parquet
    contract as the funnel chain."""
    from ..operators.tokenizer import train_bpe_merges

    def train():
        docs = _docs(spark, sf_dir)
        merges = train_bpe_merges(docs, "text", n_merges=_BPE_N_MERGES)
        return merges.collect(), []

    return memo(spark, ("bpe", sf_dir), train)


def _bpe_duck_layer(prev: str, r: int) -> str:
    """One DuckDB merge layer over symbol-array expression ``prev``,
    using round ``r``'s learned pair (m{r}.a, m{r}.b). Same let-binding
    trick as the Spark side (tokenizer.apply_merge_expr): prev and the
    match-position list are each bound once, so the chain grows
    linearly."""
    return f"""list_transform([{prev}], s ->
  list_transform([[i FOR i IN range(1, len(s)) IF s[i] = m{r}.a AND s[i+1] = m{r}.b]], p ->
    [CASE WHEN list_contains(p, i) THEN m{r}.a || m{r}.b ELSE s[i] END
     FOR i IN range(1, len(s)+1) IF NOT list_contains(p, i-1)])[1])[1]"""


def _bpe_train_ctes(n: int = _BPE_N_MERGES, alphabet: str = "char") -> str:
    """WITH-chain learning ``n`` merges: v0 is the word histogram split
    into seed symbols — characters ('char', over lowercased
    whitespace-split words) or lowercase-hex UTF-8 bytes ('byte', over
    the GPT-2 regex pre-tokens — tokenizer.gpt2_words_duck_expr states
    the identical lookahead-free segmentation); round r derives pair
    weights p{r}, argmax m{r}, and the rewritten vocabulary v{r}."""
    from ..operators.tokenizer import gpt2_words_duck_expr

    if alphabet == "char":
        v0 = "v0 AS (SELECT cnt, [w[i] FOR i IN range(1, len(w)+1)] AS s FROM w0)"
        words = (
            "[x FOR x IN string_split_regex(lower(trim(text)), '\\s+')"
            " IF x <> '']"
        )
    else:
        v0 = (
            "v0 AS (SELECT cnt,"
            " [substr(h, 2*i - 1, 2) FOR i IN range(1, len(h)//2 + 1)] AS s"
            " FROM (SELECT cnt, lower(hex(encode(w))) AS h FROM w0))"
        )
        words = gpt2_words_duck_expr("text")
    parts = [
        f"""w0 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({words}) AS w
        FROM documents)
  GROUP BY w
),
"""
        + v0
    ]
    for r in range(1, n + 1):
        parts.append(f"""p{r} AS (
  SELECT a, b, SUM(cnt) AS weight FROM (
    SELECT cnt, s[i] AS a, s[i+1] AS b
    FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i FROM v{r - 1})
  ) WHERE a <> b GROUP BY a, b
),
m{r} AS (SELECT a, b, weight FROM p{r} ORDER BY weight DESC, a, b LIMIT 1)""")
        if r < n:
            parts.append(f"""v{r} AS (
  SELECT cnt,
    list_transform([[i FOR i IN range(1, len(s)) IF s[i] = m{r}.a AND s[i+1] = m{r}.b]], p ->
      [CASE WHEN list_contains(p, i) THEN m{r}.a || m{r}.b ELSE s[i] END
       FOR i IN range(1, len(s)+1) IF NOT list_contains(p, i-1)])[1] AS s
  FROM v{r - 1}, m{r})""")
    return "WITH " + ",\n".join(parts)


def q190_bpe_train_merges(spark, sf_dir):
    """Learn the top-8 BPE merges from the corpus word histogram — the
    tokenizer-training step of the data pipeline (bigram mining's q98
    sibling at subword granularity). One corpus shuffle (the word
    histogram); every round runs on the persisted vocabulary relation
    with a single-row argmax collect. Value-exact against the fully
    unrolled SQL replay of the training loop."""
    from ..operators.tokenizer import MERGE_SCHEMA

    return spark.createDataFrame(_bpe_merges(spark, sf_dir), MERGE_SCHEMA)


_Q190_SQL = (
    _bpe_train_ctes()
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, a AS lhs, b AS rhs,"
        f" a || b AS merged, CAST(weight AS BIGINT) AS weight FROM m{r}"
        for r in range(1, _BPE_N_MERGES + 1)
    )
)


def q191_bpe_encode_corpus(spark, sf_dir):
    """Encode every document with the merges learned by q190 and report
    per-doc BPE token counts (total + distinct types). Training is the
    q190 loop; encoding is MAP-ONLY — the 8-row merge table folds into
    one chained HOF expression (broadcast-codebook contract), so the
    encode pass adds zero shuffles at any corpus size. The oracle
    replays training AND encoding."""
    from ..operators.tokenizer import bpe_encode

    docs = _docs(spark, sf_dir)
    pairs = [(r.lhs, r.rhs) for r in _bpe_merges(spark, sf_dir)]
    enc = bpe_encode(docs, "text", "doc_id", pairs)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).cast("long").alias("n_types"),
    )


def _q191_sql() -> str:
    chain = "[x[i] FOR i IN range(1, len(x)+1)]"
    for r in range(1, _BPE_N_MERGES + 1):
        chain = _bpe_duck_layer(chain, r)
    # each m{r} is attached TOTALLY (LEFT JOIN ON TRUE, never a plain
    # cross join): on a degenerate corpus with fewer than n learnable
    # a != b merges the empty m{r} then contributes NULL pair columns
    # — the layer's match comprehension finds no position against a
    # NULL pair and passes symbols through unchanged, mirroring the
    # engine's early-stopped (shorter) merge chain — instead of
    # emptying the whole encode relation
    froms = " ".join(
        f"LEFT JOIN m{r} ON TRUE" for r in range(1, _BPE_N_MERGES + 1)
    )
    return (
        _bpe_train_ctes()
        + f""",
enc AS (
  SELECT doc_id,
    flatten(list_transform(
      [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''],
      x -> {chain})) AS tokens
  FROM documents {froms}
)
SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_types
FROM enc
"""
    )


_Q191_SQL = _q191_sql()


def q197_segment_dedup(spark, sf_dir):
    """CCNet-style corpus-frequency segment dedup (Wenzek et al. 2020
    §3.1): non-overlapping 8-word segments, drop EVERY occurrence of
    any segment shared by >= 2 documents (the boilerplate pass —
    unlike q118's keep-first overlapping spans, the first copy goes
    too), reassemble surviving text in order. The oracle replays
    segmentation, the doc-frequency threshold, and reassembly."""
    from ..operators.text import dedup_segments

    return dedup_segments(
        _docs(spark, sf_dir), "text", "doc_id", seg_words=8, min_docs=2
    )


_Q197_SQL = r"""
WITH w AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> ''] AS w
  FROM documents
),
segs AS (
  SELECT doc_id, i AS pos, array_to_string(w[(i-1)*8+1:i*8], ' ') AS seg
  FROM (SELECT doc_id, w,
          unnest(range(1, CAST(ceil(len(w) / 8.0) AS BIGINT) + 1)) AS i
        FROM w)
),
freq AS (SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY 1),
flag AS (
  SELECT s.doc_id, s.pos, s.seg, f.nd >= 2 AS dup
  FROM segs s JOIN freq f ON md5(s.seg) = f.h
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_segments,
  CAST(COALESCE(SUM(CASE WHEN dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
  ROUND(COALESCE(SUM(CASE WHEN dup THEN 1 ELSE 0 END), 0) * 1.0 / COUNT(*), 9)
    AS removed_ratio,
  COALESCE(array_to_string(list(seg ORDER BY pos) FILTER (WHERE NOT dup), ' '),
           '') AS kept_text
FROM flag GROUP BY doc_id
"""


def q198_phrase_search(spark, sf_dir):
    """Exact-phrase search over positional postings (IIR §2.4.2): the
    anchor-count algorithm — postings pruned to the phrase's terms,
    broadcast (term, offset) join, anchor = pos - offset, a
    phrase-length count per (doc, anchor) is an occurrence. One
    corpus exchange for ANY phrase length (no L-way self-join). The
    oracle replays postings, anchors, and the full-count filter."""
    from ..operators.retrieval import phrase_search

    return phrase_search(_docs(spark, sf_dir), "text", "doc_id", "big order scan")


_Q198_SQL = r"""
WITH w AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> ''] AS w
  FROM documents
),
post AS (
  SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM w
),
off AS (SELECT * FROM (VALUES ('big', 0), ('order', 1), ('scan', 2)) AS t(term, "offset")),
anc AS (
  SELECT doc_id, pos - "offset" AS anchor
  FROM post JOIN off USING (term) WHERE pos - "offset" >= 1
),
occ AS (
  SELECT doc_id, anchor FROM anc GROUP BY doc_id, anchor HAVING COUNT(*) = 3
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(anchor) AS BIGINT) AS first_pos
FROM occ GROUP BY doc_id ORDER BY doc_id
"""


_PR_ITERATIONS = 5


def q199_pagerank_trade_graph(spark, sf_dir):
    """PageRank (5 damped iterations) over the symmetrized
    customer <-> supplier trade graph derived from orders x lineitem —
    the iterative-fixpoint algorithm class: per iteration one
    rank-propagation join + one dst aggregation, lineage truncated
    with eager localCheckpoint, edge weights joined once. The oracle
    unrolls the identical 5 iterations as chained CTEs; ranks agree to
    ~1e-13 against the 1e-9 reporting round. Top 20 by rounded rank,
    node-id tiebreak."""
    from ..operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    # one lineage cut at iteration 3: with the fold-zeros iteration
    # shape (one join + one agg) the 5-deep plan needs exactly one
    # truncation — measured 5.1-5.4 s vs 5.9 (every 2) and 6.9-8.7
    # (never) at sf0.1; checkpoint cadence only changes execution,
    # never values
    ranks = pagerank(
        edges, iterations=_PR_ITERATIONS, damping=0.85,
        checkpoint_every=3,
    )
    return (
        ranks.select("node", F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


def _q199_sql() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PR_ITERATIONS + 1):
        iters.append(f"""
r{k} AS (
  SELECT n.node, 0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank / o.deg) AS contrib
    FROM edges e JOIN {prev} p ON e.src = p.node
    JOIN outdeg o ON e.src = o.node
    GROUP BY e.dst
  ) c USING (node))""")
        prev = f"r{k}"
    return (
        """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS deg
           FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),"""
        + ",".join(iters)
        + f"""
SELECT node, ROUND(rank, 9) AS rank FROM {prev}
ORDER BY ROUND(rank, 9) DESC, node LIMIT 20
"""
    )


_Q199_SQL = _q199_sql()


def q200_dsir_selection(spark, sf_dir):
    """DSIR data selection (Xie et al. NeurIPS 2023): hashed-bigram
    importance weights of every document against the lang='en' target
    slice (add-1-smoothed log likelihood ratio over 4096 md5 buckets),
    then the top 50 by rounded weight — TakeOrdered, never a global
    sort. The oracle replays hashing, both smoothed distributions, and
    the per-doc sum."""
    from ..operators.text import dsir_importance

    w = dsir_importance(
        _docs(spark, sf_dir), "text", "doc_id", F.col("lang") == "en"
    )
    return w.orderBy(F.col("log_weight").desc(), "doc_id").limit(50)


_Q200_SQL = r"""
WITH w AS (
  SELECT doc_id, lang,
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> ''] AS w
  FROM documents
),
bg AS (
  SELECT doc_id, lang = 'en' AS t,
    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 8) AS BIGINT) % 4096 AS b
  FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i FROM w
        WHERE len(w) >= 2)
),
counts AS (
  SELECT b, COUNT(*) AS raw, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tgt
  FROM bg GROUP BY b
),
totals AS (
  SELECT COUNT(*) AS raw_total, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tgt_total
  FROM bg
),
model AS (
  SELECT b, ln((tgt + 1) * 1.0 / (tgt_total + 4096))
           - ln((raw + 1) * 1.0 / (raw_total + 4096)) AS lr
  FROM counts CROSS JOIN totals
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(lr), 9) AS log_weight
FROM bg JOIN model USING (b)
GROUP BY doc_id
ORDER BY ROUND(SUM(lr), 9) DESC, doc_id LIMIT 50
"""


_LPA_ITERATIONS = 3


def _trade_edges(spark, sf_dir):
    """Symmetrized customer <-> supplier edge list from orders x
    lineitem (shared by the graph-family queries); the numeric pair
    relation is persisted before the two-way union."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = register_persisted(
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .persist(),
        "trade_graph",
    )
    c = F.concat(F.lit("c"), F.col("o_custkey"))
    s = F.concat(F.lit("s"), F.col("l_suppkey"))
    return pairs.select(c.alias("src"), s.alias("dst")).union(
        pairs.select(s.alias("src"), c.alias("dst"))
    )


def q201_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation (3 synchronous rounds) over
    the trade graph: every 10th customer is seeded with its nation's
    REGION key; suppliers (and the unlabeled 90% of customers) adopt
    each round the most frequent in-neighbour label, ties to the
    smallest label, seeds immutable. Integer-exact — the oracle
    (identical rounds unrolled with ROW_NUMBER argmax) matches
    bit-for-bit. Returns the suppliers' final labels."""
    from ..operators.graph import label_propagation

    edges = _trade_edges(spark, sf_dir)
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    seeds = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
            F.col("n_regionkey").cast("long").alias("label"),
        )
    )
    out = (
        label_propagation(edges, seeds, iterations=_LPA_ITERATIONS)
        .filter(F.col("node").startswith("s"))
        .orderBy("node")
    )
    out = out.localCheckpoint(eager=True)
    return out


def _q201_sql() -> str:
    prev = "l0"
    rounds = []
    for k in range(1, _LPA_ITERATIONS + 1):
        rounds.append(f"""
l{k} AS (
  SELECT n.node, COALESCE(s.label, am.best) AS label
  FROM nodes n
  LEFT JOIN seeds s USING (node)
  LEFT JOIN (
    SELECT dst AS node, label AS best FROM (
      SELECT e.dst, p.label, COUNT(*) AS c,
        ROW_NUMBER() OVER (PARTITION BY e.dst
                           ORDER BY COUNT(*) DESC, p.label ASC) AS rn
      FROM edges e JOIN {prev} p ON e.src = p.node
      WHERE p.label IS NOT NULL
      GROUP BY e.dst, p.label) t
    WHERE rn = 1) am USING (node))""")
        prev = f"l{k}"
    return (
        """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst AS node FROM edges),
seeds AS (
  SELECT 'c' || c_custkey AS node, CAST(n_regionkey AS BIGINT) AS label
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_custkey % 10 = 0
),
l0 AS (SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s USING (node)),"""
        + ",".join(rounds)
        + f"""
SELECT node, label FROM {prev} WHERE node LIKE 's%' ORDER BY node
"""
    )


_Q201_SQL = _q201_sql()


def q202_wav_spectral_probe(spark, sf_dir):
    """REAL audio spectral features: the mono 16-bit PCM corpus is
    synthesized (sample i of clip id = ((id*7 + i*31) % 251 - 125) *
    200 — tiny_wav_bytes' sawtooth), decoded by the stdlib RIFF
    walker, and probed with direct DFT magnitudes at bins 1/3/5/7
    over the first 64 samples — the tone-detection / frequency-
    feature pass of an audio pipeline. The oracle restates every
    sample arithmetically and evaluates the identical cos/sin sums,
    so a one-sample decode shift or window off-by-one fails the
    hash."""
    from ..operators.multimodal import (
        synthesize_spectral_corpus,
        wav_spectral_probe,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    out = wav_spectral_probe(synthesize_spectral_corpus(docs))
    return out.select(
        "media_id", "bin", F.round("magnitude", 6).alias("magnitude")
    )


_Q202_SQL = """
WITH x AS (
  SELECT doc_id, i,
    CAST(((doc_id * 7 + i * 31) % 251 - 125) * 200 AS DOUBLE) AS v
  FROM documents, UNNEST(range(0, 64)) AS t(i)
),
cs AS (
  SELECT doc_id, k,
    SUM(v * cos(2 * pi() * k * i / 64)) AS c,
    SUM(v * sin(2 * pi() * k * i / 64)) AS s
  FROM x CROSS JOIN UNNEST([1, 3, 5, 7]) AS tk(k)
  GROUP BY doc_id, k
)
SELECT doc_id AS media_id, CAST(k AS INTEGER) AS bin,
  ROUND(sqrt(c * c + s * s) / 64, 6) AS magnitude
FROM cs
"""


def q203_tfidf_cosine_pairs(spark, sf_dir):
    """Weighted near-dup pairs: tf-idf cosine over word 3-gram terms —
    shared RARE passages outweigh boilerplate, the similarity the
    set-based dedup family can't express. q31's inverted-index pair
    join keyed on md5(term), document-frequency stopwording at 500,
    threshold on the ROUNDED cosine so the oracle can't disagree at a
    float boundary."""
    from ..operators.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.6, max_df=500
    )


_Q203_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents
),
g AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
        FROM tok)
  WHERE i + 2 <= len(w)
),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM g GROUP BY doc_id, t),
dfreq AS (SELECT t, COUNT(*) AS dfv FROM tf GROUP BY t HAVING COUNT(*) <= 500),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
wgt AS (
  SELECT doc_id, t, tf * ln(CAST(n AS DOUBLE) / dfv) AS w
  FROM tf JOIN dfreq USING (t) CROSS JOIN nn
),
nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nm FROM wgt GROUP BY doc_id),
dots AS (
  SELECT x.doc_id AS a, y.doc_id AS b, SUM(x.w * y.w) AS d
  FROM wgt x JOIN wgt y ON x.t = y.t AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(d / (na.nm * nb.nm), 9) AS cosine
FROM dots JOIN nrm na ON a = na.doc_id JOIN nrm nb ON b = nb.doc_id
WHERE ROUND(d / (na.nm * nb.nm), 9) >= 0.6
"""


def q204_gif_keyframes(spark, sf_dir):
    """REAL video keyframe detection: the synthesized GIF corpus is
    frame-pixel decoded (full LZW) and shot boundaries are flagged by
    mean-luminance delta >= 40 — the frame-sampling pass a video
    pipeline runs before its vision encoder. The whole per-media
    sequence happens inside one map-only mapInPandas (no window, no
    shuffle). The oracle restates each solid frame's mean gray
    arithmetically and replays the delta with LAG."""
    from ..operators.multimodal import gif_keyframes, synthesize_gif_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    out = gif_keyframes(synthesize_gif_corpus(docs), threshold=40.0)
    return out.select(
        "media_id", "frame_id",
        F.round("mean_gray", 9).alias("mean_gray"),
        F.round("delta", 9).alias("delta"),
        "is_keyframe",
    )


_Q204_SQL = """
WITH f AS (
  SELECT doc_id, j,
    CAST((doc_id * 17 + ((doc_id + j) % 4) * 73) % 256 AS DOUBLE) AS g
  FROM documents, UNNEST(range(0, 1 + doc_id % 4)) AS t(j)
),
d AS (
  SELECT doc_id, j, g,
    abs(g - LAG(g) OVER (PARTITION BY doc_id ORDER BY j)) AS dl
  FROM f
)
SELECT doc_id AS media_id, CAST(j AS INTEGER) AS frame_id,
  ROUND(g, 9) AS mean_gray,
  ROUND(COALESCE(dl, 0.0), 9) AS delta,
  (dl IS NULL OR dl >= 40.0) AS is_keyframe
FROM d
"""


def q205_hashed_embeddings(spark, sf_dir):
    """Feature-hashed signed text embeddings (the hashing trick):
    +-1 per token into md5(token) % 32 buckets, L2-normalized — the
    model-free embedding that connects raw text to the dense-ANN
    family. ONE doc-keyed aggregation of 32 conditional sums (no
    pivot shuffle). The gate explodes components; the oracle replays
    hashing, signs, bucket sums, and the norm."""
    from ..operators.text import hashed_text_embedding

    emb = hashed_text_embedding(_docs(spark, sf_dir), "text", "doc_id", dim=32)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "val")
    ).select("doc_id", "dim", F.round("val", 9).alias("val"))


_Q205_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> '']
  ) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 32 AS b,
    CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0
         THEN 1.0 ELSE -1.0 END AS s
  FROM tok
),
sums AS (SELECT doc_id, b, SUM(s) AS v FROM h GROUP BY doc_id, b),
dense AS (
  SELECT d.doc_id, j.j AS dim, COALESCE(v, 0.0) AS v
  FROM (SELECT DISTINCT doc_id FROM sums) d
  CROSS JOIN (SELECT unnest(range(0, 32)) AS j) j
  LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.b = j.j
),
nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS nm FROM dense GROUP BY doc_id)
SELECT dense.doc_id, CAST(dim AS INTEGER) AS dim,
  ROUND(CASE WHEN nm > 0 THEN v / nm ELSE 0.0 END, 9) AS val
FROM dense JOIN nrm ON dense.doc_id = nrm.doc_id
"""


def q206_knn_label_transfer(spark, sf_dir):
    """kNN label transfer / pseudo-labeling: every 5th vector's label
    is withheld and re-predicted from its 5 exact-cosine nearest
    LABELED neighbors (rank ties to ascending id, vote ties to the
    smallest label — fully deterministic). Output joins back the
    held-out truth so the gate value-checks the per-vector decision
    AND the derived correctness flag."""
    from ..operators.similarity import knn_label_transfer

    emb = _emb(spark, sf_dir)
    held = emb.filter(F.col("vec_id") % 5 == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    pred = knn_label_transfer(corpus, held, k=5)
    truth = held.select(
        "vec_id", F.col("label").cast("long").alias("actual")
    )
    return pred.join(truth, "vec_id").select(
        "vec_id",
        "predicted",
        "actual",
        (F.col("predicted") == F.col("actual")).alias("correct"),
    )


_Q206_SQL = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
         CAST(label AS BIGINT) AS actual
  FROM embeddings WHERE vec_id % 5 = 0
),
c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v,
         CAST(label AS BIGINT) AS label
  FROM embeddings WHERE vec_id % 5 <> 0
),
ranked AS (
  SELECT qid, actual, label,
    ROW_NUMBER() OVER (
      PARTITION BY qid
      ORDER BY list_dot_product(v, qv)
        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
        DESC, nid ASC) AS rank
  FROM c, q
),
votes AS (
  SELECT qid, actual, label, COUNT(*) AS cnt
  FROM ranked WHERE rank <= 5 GROUP BY qid, actual, label
)
SELECT qid AS vec_id, label AS predicted, actual,
       label = actual AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cnt DESC, label ASC) AS rn
  FROM votes
) WHERE rn = 1
"""


def q207_standardize_embeddings(spark, sf_dir):
    """Per-dimension z-score standardization of the embedding table
    (population std from explicit moment sums — one 1-row aggregate
    broadcast back, no explode, no per-dim shuffle). The gate explodes
    components; the oracle evaluates the identical sum/count
    formula."""
    from ..operators.similarity import standardize_embeddings

    z = standardize_embeddings(_emb(spark, sf_dir), dim=64)
    return z.select(
        "vec_id", F.posexplode("zscored").alias("dim", "z")
    ).select("vec_id", "dim", F.round("z", 9).alias("z"))


_Q207_SQL = """
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
s AS (
  SELECT dim, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
  FROM x GROUP BY dim
)
SELECT vec_id, CAST(x.dim AS INTEGER) AS dim,
  ROUND(CASE WHEN sxx / n - (sx / n) * (sx / n) > 0
             THEN (v - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n))
             ELSE 0.0 END, 9) AS z
FROM x JOIN s ON x.dim = s.dim
"""


def q208_containment_pairs(spark, sf_dir):
    """Directional containment dedup (Broder's |A n B| / |A|): the
    excerpt/quotation case symmetric jaccard misses. One unordered
    intersection join, both directions by projection, exact integer
    ratios so the 0.8 threshold can't float-flip. Inner docs under 5
    shingles ignored."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3,
        threshold=0.8, min_shingles=5,
    )


_Q208_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
bidir AS (
  SELECT a, b, i, sa.n AS na, sb.n AS nb
  FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
),
dirs AS (
  SELECT a AS inner_id, b AS outer_id, i, i * 1.0 / na AS c, na AS sz FROM bidir
  UNION ALL
  SELECT b AS inner_id, a AS outer_id, i, i * 1.0 / nb AS c, nb AS sz FROM bidir
)
SELECT inner_id, outer_id, CAST(i AS BIGINT) AS n_shared,
       ROUND(c, 6) AS containment
FROM dirs WHERE c >= 0.8 AND sz >= 5
"""


def q210_classifier_auc(spark, sf_dir):
    """Model-evaluation metrics: exact tie-corrected ROC AUC of the
    hashed-linear quality classifier's score ranking the lang='en'
    slice — the report a curation pipeline reads before trusting a
    filter. All-integer numerator over ONE score-distinct group-by
    (the ordered cumsum runs on the score-granularity relation, never
    a corpus-wide rank). The oracle replays classifier weights, doc
    scores, and the Mann-Whitney sum."""
    from ..operators.stats import auc_score
    from ..operators.text import hashed_linear_score

    docs = _docs(spark, sf_dir)
    scored = hashed_linear_score(docs, "text", "doc_id").join(
        docs.select("doc_id", (F.col("lang") == "en").alias("__pos")),
        "doc_id",
    )
    return auc_score(scored, "score", "__pos")


_Q210_SQL = """
WITH weights AS (
  SELECT CAST(i AS INTEGER) AS bucket,
    CAST(CAST('0x' || substr(md5('qclf-v1-w' || CAST(i AS VARCHAR)), 1, 8)
         AS BIGINT) % 2001 - 1000 AS BIGINT) AS weight_milli
  FROM UNNEST(range(0, 4096)) AS t(i)
),
toks AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('qclf-v1' || tok), 1, 8) AS BIGINT) % 4096
         AS INTEGER) AS b
  FROM (
    SELECT doc_id, unnest([x FOR x IN
      string_split_regex(lower(trim(text)), '\\s+') IF x <> '']) AS tok
    FROM documents
  )
),
agg AS (
  SELECT doc_id, SUM(weight_milli) AS s, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks JOIN weights ON b = bucket
  GROUP BY doc_id
),
scored AS (
  SELECT ROUND(s / (n_tokens * 1000.0), 9) AS score, d.lang = 'en' AS pos
  FROM agg a JOIN documents d ON a.doc_id = d.doc_id
),
g AS (
  SELECT score,
    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS ng
  FROM scored GROUP BY score
),
c AS (
  SELECT p, ng,
    COALESCE(SUM(p) OVER (ORDER BY score DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
  FROM g
)
SELECT
  ROUND(SUM(2 * cp * ng + p * ng) / (2.0 * SUM(p) * SUM(ng)), 9) AS auc,
  CAST(SUM(p) AS BIGINT) AS n_pos,
  CAST(SUM(ng) AS BIGINT) AS n_neg
FROM c
"""


def q211_classifier_calibration(spark, sf_dir):
    """Reliability-diagram calibration of the hashed-linear
    classifier's sigmoid probabilities against the lang='en' slice —
    20 fixed bins, observed positive rate vs mean predicted
    probability (the ECE inputs). One <=20-row aggregation. The
    oracle replays the classifier and the bin arithmetic."""
    from ..operators.stats import calibration_bins
    from ..operators.text import hashed_linear_score

    docs = _docs(spark, sf_dir)
    scored = hashed_linear_score(docs, "text", "doc_id").join(
        docs.select("doc_id", (F.col("lang") == "en").alias("__pos")),
        "doc_id",
    )
    return calibration_bins(scored, "prob", "__pos", n_bins=20)


_Q211_SQL = """
WITH weights AS (
  SELECT CAST(i AS INTEGER) AS bucket,
    CAST(CAST('0x' || substr(md5('qclf-v1-w' || CAST(i AS VARCHAR)), 1, 8)
         AS BIGINT) % 2001 - 1000 AS BIGINT) AS weight_milli
  FROM UNNEST(range(0, 4096)) AS t(i)
),
toks AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('qclf-v1' || tok), 1, 8) AS BIGINT) % 4096
         AS INTEGER) AS b
  FROM (
    SELECT doc_id, unnest([x FOR x IN
      string_split_regex(lower(trim(text)), '\\s+') IF x <> '']) AS tok
    FROM documents
  )
),
agg AS (
  SELECT doc_id, SUM(weight_milli) AS s, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks JOIN weights ON b = bucket
  GROUP BY doc_id
),
scored AS (
  SELECT ROUND(1.0 / (1.0 + exp(-(s / (n_tokens * 1000.0)))), 9) AS prob,
         d.lang = 'en' AS pos
  FROM agg a JOIN documents d ON a.doc_id = d.doc_id
)
SELECT CAST(least(19, floor(prob * 20)) AS INTEGER) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
  ROUND(SUM(CASE WHEN pos THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9) AS pos_rate,
  ROUND(SUM(CAST(ROUND(prob * 1e9) AS BIGINT)) / (COUNT(*) * 1e9), 9)
    AS mean_prob
FROM scored GROUP BY 1 ORDER BY 1
"""


def q212_threshold_sweep(spark, sf_dir):
    """Operating-point sweep of the quality classifier: confusion
    counts and precision/recall/F1 at five keep-thresholds against
    the lang='en' slice — exact integer counts, single-division
    ratios. One broadcast-crossed aggregation of 5 rows. The oracle
    replays the classifier and every confusion cell."""
    from ..operators.stats import threshold_sweep
    from ..operators.text import hashed_linear_score

    docs = _docs(spark, sf_dir)
    scored = hashed_linear_score(docs, "text", "doc_id").join(
        docs.select("doc_id", (F.col("lang") == "en").alias("__pos")),
        "doc_id",
    )
    return threshold_sweep(scored, "prob", "__pos")


_Q212_SQL = """
WITH weights AS (
  SELECT CAST(i AS INTEGER) AS bucket,
    CAST(CAST('0x' || substr(md5('qclf-v1-w' || CAST(i AS VARCHAR)), 1, 8)
         AS BIGINT) % 2001 - 1000 AS BIGINT) AS weight_milli
  FROM UNNEST(range(0, 4096)) AS t(i)
),
toks AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('qclf-v1' || tok), 1, 8) AS BIGINT) % 4096
         AS INTEGER) AS b
  FROM (
    SELECT doc_id, unnest([x FOR x IN
      string_split_regex(lower(trim(text)), '\\s+') IF x <> '']) AS tok
    FROM documents
  )
),
agg AS (
  SELECT doc_id, SUM(weight_milli) AS s, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks JOIN weights ON b = bucket
  GROUP BY doc_id
),
scored AS (
  SELECT ROUND(1.0 / (1.0 + exp(-(s / (n_tokens * 1000.0)))), 9) AS prob,
         d.lang = 'en' AS pos
  FROM agg a JOIN documents d ON a.doc_id = d.doc_id
),
cm AS (
  SELECT t.threshold,
    SUM(CASE WHEN prob >= t.threshold AND pos THEN 1 ELSE 0 END) AS tp,
    SUM(CASE WHEN prob >= t.threshold AND NOT pos THEN 1 ELSE 0 END) AS fp,
    SUM(CASE WHEN prob < t.threshold AND pos THEN 1 ELSE 0 END) AS fn,
    SUM(CASE WHEN prob < t.threshold AND NOT pos THEN 1 ELSE 0 END) AS tn
  FROM scored CROSS JOIN (
    SELECT unnest(CAST([0.3, 0.45, 0.5, 0.55, 0.7] AS DOUBLE[]))
      AS threshold) t
  GROUP BY t.threshold
)
SELECT threshold,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  ROUND(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END, 9) AS precision,
  ROUND(CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) END, 9) AS recall,
  ROUND(CASE WHEN 2 * tp + fp + fn > 0
             THEN 2 * tp * 1.0 / (2 * tp + fp + fn) END, 9) AS f1
FROM cm ORDER BY threshold
"""


def q213_leakage_free_split(spark, sf_dir):
    """Contamination-aware holdout: every 10th doc is a test
    candidate, but candidates with a 3-gram-jaccard >= 0.6 near-dup in
    the train remainder are QUARANTINED (Lee et al. 2022's
    dedup-test-leakage effect). q31's inverted-index pair join with
    the candidate-filtered side; exact integer jaccard. The oracle
    replays shingles, the cross-split intersection, and the
    three-way labeling."""
    from ..operators.dedup import leakage_free_split

    return leakage_free_split(
        _docs(spark, sf_dir), "text", "doc_id",
        F.col("doc_id") % 10 == 0, n=3, threshold=0.6,
    )


_Q213_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT t.doc_id AS tid, r.doc_id AS rid, COUNT(*) AS i
  FROM sh t JOIN sh r ON t.shingle = r.shingle
  WHERE t.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
  GROUP BY 1, 2
),
leaked AS (
  SELECT DISTINCT tid FROM inter
  JOIN sizes st ON tid = st.doc_id
  JOIN sizes sr ON rid = sr.doc_id
  WHERE i * 1.0 / (st.n + sr.n - i) >= 0.6
)
SELECT d.doc_id,
  CASE WHEN d.doc_id % 10 <> 0 THEN 'train'
       WHEN l.tid IS NOT NULL THEN 'quarantined'
       ELSE 'test' END AS split
FROM documents d LEFT JOIN leaked l ON d.doc_id = l.tid
"""


def q214_text_lsh_pipeline(spark, sf_dir):
    """END-TO-END cheap semantic near-dup over raw text: documents ->
    feature-hashed 32-d embeddings (q205's operator, unrounded) ->
    random-hyperplane LSH candidate pairs -> exact cosine verify at
    0.8 (q35's operator at dim=32) — the text-to-ANN bridge running
    as one pipeline, the way a 100 TB dedup tier would actually
    compose them. The oracle replays hashing, normalization, every
    plane sign bit, banding, the bucket-size guard, and the verify
    cosine."""
    from ..operators.similarity import lsh_ann_pairs
    from ..operators.text import hashed_text_embedding

    emb = hashed_text_embedding(_docs(spark, sf_dir), "text", "doc_id", dim=32)
    pairs = lsh_ann_pairs(
        emb, id_col="doc_id", vec_col="embedding",
        dim=32, n_planes=16, bands=4, seed=42, threshold=0.95,
    )
    return pairs.select("id_1", "id_2", F.round("sim", 6).alias("sim"))


def _gen_q214_sql(
    dim: int = 32, n_planes: int = 16, bands: int = 4, seed: int = 42,
    threshold: float = 0.95, max_bucket_size: int = 1000,
) -> str:
    """q35's LSH replica over the q205 hashed-embedding derivation
    (UNROUNDED components — the operator pipeline never rounds; the
    integer bucket sums and the identical norm division make every
    component bit-equal across engines anyway)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    width = n_planes // bands
    bit_exprs = ",\n    ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in p)
        + f"]) > 0 THEN '1' ELSE '0' END AS bit{i}"
        for i, p in enumerate(planes)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT vec_id, {b} AS band, {key} AS key FROM bits".format(
            b=bi,
            key="||".join(f"bit{bi * width + j}" for j in range(width)),
        )
        for bi in range(bands)
    )
    cos = (
        "list_dot_product(v1.v, v2.v) / (sqrt(list_dot_product(v1.v, v1.v))"
        " * sqrt(list_dot_product(v2.v, v2.v)))"
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> '']
  ) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {dim} AS b,
    CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0
         THEN 1.0 ELSE -1.0 END AS s
  FROM tok
),
sums AS (SELECT doc_id, b, SUM(s) AS c FROM h GROUP BY doc_id, b),
dense AS (
  SELECT d.doc_id, j.j AS dm, COALESCE(c, 0.0) AS c
  FROM (SELECT DISTINCT doc_id FROM sums) d
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) j
  LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.b = j.j
),
nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nm FROM dense GROUP BY doc_id),
v AS (
  SELECT dense.doc_id AS vec_id,
    list(CASE WHEN nm > 0 THEN c / nm ELSE 0.0 END ORDER BY dm) AS v
  FROM dense JOIN nrm ON dense.doc_id = nrm.doc_id
  GROUP BY dense.doc_id, nm
),
bits AS (
  SELECT vec_id, v,
    {bit_exprs}
  FROM v
),
banded AS (
  {band_rows}
),
sized AS (
  SELECT vec_id, band, key, COUNT(*) OVER (PARTITION BY band, key) AS n FROM banded
),
ok AS (SELECT vec_id, band, key FROM sized WHERE n > 1 AND n <= {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
  FROM ok a JOIN ok b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.id_1, c.id_2, {cos} AS sim
  FROM cand c JOIN v v1 ON v1.vec_id = c.id_1 JOIN v v2 ON v2.vec_id = c.id_2
)
SELECT id_1, id_2, ROUND(sim, 6) AS sim FROM scored WHERE sim >= {threshold}
"""


_Q214_SQL = _gen_q214_sql()


def q215_zipf_slope(spark, sf_dir):
    """Corpus-health diagnostics: least-squares ln(freq)-on-ln(rank)
    slope over the whole vocabulary (natural text ~ -1; the
    template-heavy synthetic corpus reads shallower). The rank window
    runs on the vocabulary-sized relation; the oracle replays ranks,
    logs, and the moment formula."""
    from ..operators.text import zipf_slope

    return zipf_slope(_docs(spark, sf_dir), "text")


_Q215_SQL = r"""
WITH toks AS (
  SELECT unnest(
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> '']
  ) AS tok
  FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
xy AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y, c
  FROM vocab
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM xy
)
SELECT
  ROUND(CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 9) AS slope,
  ROUND((sy - (CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
        THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx) / n, 9)
    AS intercept,
  CAST(n AS BIGINT) AS n_types, n_tokens
FROM m
"""


def q216_cross_source_dup_matrix(spark, sf_dir):
    """Provenance diagnostics: the near-dup pair set (q31 semantics,
    jaccard >= 0.6) rolled up into a source x source duplication
    matrix — which feeds copy which is the first question a curation
    owner asks when dedup rates spike. Canonical (least, greatest)
    source ordering; mean jaccard from micro-integer sums of the
    6-dp pair values (no float-mean half-ulp risk)."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    src = docs.select("doc_id", "source")
    s1 = src.select(
        F.col("doc_id").alias("id_1"), F.col("source").alias("__s1")
    )
    s2 = src.select(
        F.col("doc_id").alias("id_2"), F.col("source").alias("__s2")
    )
    micro = F.round(F.col("jaccard") * 1e6).cast("long")
    return (
        pairs.join(s1, "id_1")
        .join(s2, "id_2")
        .groupBy(
            F.least("__s1", "__s2").alias("source_a"),
            F.greatest("__s1", "__s2").alias("source_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.sum(micro) / (F.count("*") * 1e6), 9).alias(
                "mean_jaccard"
            ),
        )
    )


_Q216_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2, ROUND(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes s1 ON s1.doc_id = id_1
  JOIN sizes s2 ON s2.doc_id = id_2
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
)
SELECT least(d1.source, d2.source) AS source_a,
       greatest(d1.source, d2.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(CAST(ROUND(jaccard * 1e6) AS BIGINT))
             / (COUNT(*) * 1e6), 9) AS mean_jaccard
FROM pairs
JOIN documents d1 ON id_1 = d1.doc_id
JOIN documents d2 ON id_2 = d2.doc_id
GROUP BY 1, 2
"""


def q217_event_rate_anomalies(spark, sf_dir):
    """Ingestion observability: hourly event counts per type z-scored
    against that type's own distribution (exact integer moment sums)
    over a DENSIFIED hour spine (zero-filled empty hours across the
    corpus's observed window, so a fully-collapsed producer flags),
    flagging |z| >= 2 hours — the collapsed-producer / replay-storm
    check. The oracle replays spine, bucketing, moments, and flag."""
    from ..operators.events import hourly_rate_anomalies

    ev = _t(spark, sf_dir, "events")
    return hourly_rate_anomalies(ev, "ts", "event_type", z_threshold=2.0)


_Q217_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
spine AS (
  SELECT t.event_type, u.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span
  ) u
),
dense AS (
  SELECT s.event_type, s.hour, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
  FROM spine s
  LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS k,
         SUM(n) AS s, SUM(n * n) AS ss
  FROM dense GROUP BY event_type
)
SELECT h.event_type, h.hour, CAST(h.n AS BIGINT) AS n,
  ROUND((h.n - s / k) / sqrt(ss / k - (s / k) * (s / k)), 9) AS z
FROM dense h JOIN stats t ON h.event_type = t.event_type
WHERE ss / k - (s / k) * (s / k) > 0
  AND abs((h.n - s / k) / sqrt(ss / k - (s / k) * (s / k))) >= 2.0
"""


_PPR_ITERATIONS = 4


def q218_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (Haveliwala 2002): teleport mass confined
    to region-0 customers on the trade graph — 'which suppliers does
    this region's demand actually reach' — the influence/
    recommendation variant of q199, same fixpoint machinery with a
    seed-uniform teleport vector. Top 15 suppliers by rounded rank.
    The oracle unrolls the identical 4 damped iterations with the
    teleport CASE inlined."""
    from ..operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    seeds = (
        customer.join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .filter(F.col("n_regionkey") == 0)
        .select(F.concat(F.lit("c"), F.col("c_custkey")).alias("node"))
    )
    ranks = pagerank(
        edges, iterations=_PPR_ITERATIONS, damping=0.85, teleport=seeds
    )
    out = (
        ranks.filter(F.col("node").startswith("s"))
        .select("node", F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(15)
    )
    out = out.localCheckpoint(eager=True)
    return out


def _q218_sql() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PPR_ITERATIONS + 1):
        iters.append(f"""
r{k} AS (
  SELECT tt.node, 0.15 * tt.t + 0.85 * COALESCE(c.contrib, 0) AS rank
  FROM t tt
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank / o.deg) AS contrib
    FROM edges e JOIN {prev} p ON e.src = p.node
    JOIN outdeg o ON e.src = o.node
    GROUP BY e.dst
  ) c USING (node))""")
        prev = f"r{k}"
    return (
        """
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst AS node FROM edges),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS deg
           FROM edges GROUP BY src),
seeds AS (
  SELECT DISTINCT 'c' || c_custkey AS node
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE n_regionkey = 0
),
sg AS (SELECT node FROM seeds WHERE node IN (SELECT node FROM nodes)),
sc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM sg),
t AS (
  SELECT n.node,
    CASE WHEN sg.node IS NOT NULL THEN 1.0 / sc.s ELSE 0.0 END AS t
  FROM nodes n CROSS JOIN sc LEFT JOIN sg ON n.node = sg.node
),
r0 AS (SELECT node, t AS rank FROM t),"""
        + ",".join(iters)
        + f"""
SELECT node, ROUND(rank, 9) AS rank FROM {prev}
WHERE node LIKE 's%'
ORDER BY ROUND(rank, 9) DESC, node LIMIT 15
"""
    )


_Q218_SQL = _q218_sql()


def q219_auc_by_source(spark, sf_dir):
    """Per-source AUC of the quality classifier against the lang='en'
    slice — the per-domain fairness report: a filter that ranks one
    source well and another at coin flip shows up as a spread here
    long before it skews the corpus. Same Mann-Whitney arithmetic as
    q210, windows partitioned by source. Single-class sources report
    null AUC with real counts."""
    from ..operators.stats import auc_by_group
    from ..operators.text import hashed_linear_score

    docs = _docs(spark, sf_dir)
    scored = hashed_linear_score(docs, "text", "doc_id").join(
        docs.select(
            "doc_id", "source", (F.col("lang") == "en").alias("__pos")
        ),
        "doc_id",
    )
    return auc_by_group(scored, "score", "__pos", "source")


_Q219_SQL = """
WITH weights AS (
  SELECT CAST(i AS INTEGER) AS bucket,
    CAST(CAST('0x' || substr(md5('qclf-v1-w' || CAST(i AS VARCHAR)), 1, 8)
         AS BIGINT) % 2001 - 1000 AS BIGINT) AS weight_milli
  FROM UNNEST(range(0, 4096)) AS t(i)
),
toks AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5('qclf-v1' || tok), 1, 8) AS BIGINT) % 4096
         AS INTEGER) AS b
  FROM (
    SELECT doc_id, unnest([x FOR x IN
      string_split_regex(lower(trim(text)), '\\s+') IF x <> '']) AS tok
    FROM documents
  )
),
agg AS (
  SELECT doc_id, SUM(weight_milli) AS s, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks JOIN weights ON b = bucket
  GROUP BY doc_id
),
scored AS (
  SELECT d.source, ROUND(s / (n_tokens * 1000.0), 9) AS score,
         d.lang = 'en' AS pos
  FROM agg a JOIN documents d ON a.doc_id = d.doc_id
),
g AS (
  SELECT source, score,
    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS ng
  FROM scored GROUP BY source, score
),
c AS (
  SELECT source, p, ng,
    COALESCE(SUM(p) OVER (PARTITION BY source ORDER BY score DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
  FROM g
)
SELECT source,
  ROUND(CASE WHEN SUM(p) > 0 AND SUM(ng) > 0
        THEN SUM(2 * cp * ng + p * ng) / (2.0 * SUM(p) * SUM(ng)) END, 9)
    AS auc,
  CAST(SUM(p) AS BIGINT) AS n_pos,
  CAST(SUM(ng) AS BIGINT) AS n_neg
FROM c GROUP BY source
"""


def q220_dataset_card(spark, sf_dir):
    """The one-row dataset datasheet a corpus release ships with:
    volume (docs/tokens/sources), language share, exact-duplicate rate
    (q30's whitespace-normalized identity), mean document length, and
    type-token ratio — every number an exact count or an exact integer
    ratio. Three bounded 1-row aggregates folded by broadcast cross
    joins; the token stats are one explode-side aggregation."""
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(norm).alias("__nd"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("__en"),
    )
    toks = docs.select(
        F.explode(
            F.expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')")
        ).alias("__tok")
    ).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("__tok").alias("n_types"),
    )
    return base.crossJoin(F.broadcast(toks)).select(
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        "n_sources",
        F.round(F.col("__en") / F.col("n_docs"), 9).alias("pct_en"),
        F.round(
            (F.col("n_docs") - F.col("__nd")) / F.col("n_docs"), 9
        ).alias("exact_dup_rate"),
        F.round(F.col("n_tokens") / F.col("n_docs"), 9).alias(
            "mean_doc_tokens"
        ),
        F.round(F.col("n_types") / F.col("n_tokens"), 9).alias(
            "type_token_ratio"
        ),
    )


_Q220_SQL = r"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    COUNT(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS nd,
    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS en
  FROM documents
),
tk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
  FROM (SELECT unnest(
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> '']
  ) AS t FROM documents)
)
SELECT n_docs, n_tokens, n_types, n_sources,
  ROUND(en * 1.0 / n_docs, 9) AS pct_en,
  ROUND((n_docs - nd) * 1.0 / n_docs, 9) AS exact_dup_rate,
  ROUND(n_tokens * 1.0 / n_docs, 9) AS mean_doc_tokens,
  ROUND(n_types * 1.0 / n_tokens, 9) AS type_token_ratio
FROM base CROSS JOIN tk
"""


def q221_ngram_novelty(spark, sf_dir):
    """Memorization-risk diagnostic: per-doc fraction of distinct
    5-grams unique to that document (near 0 = assembled from
    corpus-common phrasing). Exact integer ratios; one doc-frequency
    aggregation + one doc rollup. The oracle replays shingles,
    frequencies, and the ratio."""
    from ..operators.text import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), "text", "doc_id", n=5)


_Q221_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      AS shingle
  FROM idx WHERE i + 4 <= len(w)
),
freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 9)
    AS novelty
FROM sh JOIN freq USING (shingle)
GROUP BY doc_id
"""


def q222_pmi_collocations(spark, sf_dir):
    """Collocation mining: top-40 PMI word pairs within a 4-position
    co-occurrence window, support floor 20 (Church & Hanks 1990).
    Map-only pair generation (never a positional self-join), one pair
    aggregation, broadcast unigrams. The oracle counts the identical
    pair multiset via a positional self-join and replays the PMI
    formula division-for-division."""
    from ..operators.text import pmi_collocations

    return pmi_collocations(
        _docs(spark, sf_dir), "text", "doc_id", window=4, min_count=20, k=40
    )


_Q222_SQL = r"""
WITH w AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> ''] AS w
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS i FROM w
),
pairs_all AS (
  SELECT least(a.tok, b.tok) AS wa, greatest(a.tok, b.tok) AS wb,
         COUNT(*) AS cxy
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 4
  GROUP BY 1, 2
),
uni AS (SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok),
tot AS (
  SELECT (SELECT SUM(cxy) FROM pairs_all) AS np,
         (SELECT SUM(c) FROM uni) AS nt
)
SELECT wa AS word_a, wb AS word_b, CAST(cxy AS BIGINT) AS n_pair,
  ROUND(ln((cxy * 1.0 / np) / ((ua.c * 1.0 / nt) * (ub.c * 1.0 / nt))), 9)
    AS pmi
FROM pairs_all
JOIN uni ua ON wa = ua.tok
JOIN uni ub ON wb = ub.tok
CROSS JOIN tot
WHERE cxy >= 20
ORDER BY ROUND(ln((cxy * 1.0 / np) / ((ua.c * 1.0 / nt) * (ub.c * 1.0 / nt))), 9) DESC,
         wa, wb
LIMIT 40
"""


def q223_hamilton_quotas(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a 1000-row budget
    across sources — the exact-total allocation q130's floors can't
    guarantee. All integer arithmetic (div/mod), bit-exact oracle;
    one corpus count + windows over the |sources| relation."""
    from ..operators.sampling import hamilton_allocation

    return hamilton_allocation(_docs(spark, sf_dir), "source", 1000)


_Q223_SQL = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_rows) AS N FROM counts),
based AS (
  SELECT source, n_rows,
    (1000 * n_rows) // N AS fl,
    (1000 * n_rows) % N AS rem
  FROM counts CROSS JOIN tot
),
lft AS (SELECT 1000 - SUM(fl) AS leftover FROM based)
SELECT source, n_rows,
  CAST(fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                      <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM based CROSS JOIN lft
"""


# --------------------------------------------------------------------------
# q224/q225: unigram-LM (SentencePiece-style) tokenizer training +
# encoding (operators/tokenizer.py train_unigram/unigram_encode). The
# oracle replays the ENTIRE Viterbi-EM loop in SQL: the substring seed
# vocabulary, each round's per-word Viterbi DP (a list_reduce fold
# whose scores are PRODUCTS of count/total double divisions — no
# logarithm, so every float op is individually IEEE-rounded and the
# engines agree bit-for-bit), the backtrace, the piece re-count, and
# the char-floored final cap. Ties break on (score, fewer pieces,
# longer last piece) — a struct comparison both engines define
# lexicographically, never residual-tied because candidates at a
# position differ in start offset.
# --------------------------------------------------------------------------

_UNI_VOCAB = 80
_UNI_SEED = 160
_UNI_ITERS = 2
_UNI_LEN = 4

def _unigram_model(spark, sf_dir):
    """The trained vocabulary (model-sized: <= _UNI_VOCAB rows), memoized
    like :func:`_bpe_merges`."""
    from ..operators.tokenizer import train_unigram

    def train():
        model = train_unigram(
            _docs(spark, sf_dir),
            "text",
            vocab_size=_UNI_VOCAB,
            n_iters=_UNI_ITERS,
            max_piece_len=_UNI_LEN,
            seed_size=_UNI_SEED,
        )
        return model.collect(), []

    return memo(spark, ("unigram", sf_dir), train)


def q224_unigram_train(spark, sf_dir):
    """Train the unigram-LM subword vocabulary (2 Viterbi-EM rounds
    over the word histogram, char-floored 80-piece cap) — the
    SentencePiece-style sibling of q190's BPE. One corpus shuffle;
    every EM round is a broadcast-model map-only DP over the
    DISTINCT-WORD relation plus one piece-count aggregation.
    Value-exact against the fully unrolled SQL replay (logarithm-free
    product scores make the DP bit-reproducible cross-engine)."""
    from ..operators.tokenizer import UNIGRAM_SCHEMA

    return spark.createDataFrame(
        _unigram_model(spark, sf_dir), UNIGRAM_SCHEMA
    )


def q225_unigram_encode(spark, sf_dir):
    """Encode every document with q224's unigram model and report
    per-doc token counts (total + distinct types). Encoding is
    MAP-ONLY: the model rides a 1-row broadcast, each word's Viterbi
    DP runs inside a words transform, zero shuffles at any corpus
    size. The oracle replays training AND encoding."""
    from ..operators.tokenizer import unigram_encode

    docs = _docs(spark, sf_dir)
    model = [(r.piece, r["count"]) for r in _unigram_model(spark, sf_dir)]
    enc = unigram_encode(docs, "text", "doc_id", model, _UNI_LEN)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).cast("long").alias("n_types"),
    )


def _uni_duck_dp(w: str, L: int) -> str:
    """DuckDB Viterbi DP over word term ``w`` against in-scope model
    columns m (piece->count map) and T (double total) — the value
    mirror of tokenizer._unigram_dp_expr. Two DuckDB-1.0 shape
    constraints: the fold takes no separate initial value, so acc and
    step elements share the list<struct> type (each step element
    carries its position in the b field); and the TOKEN LIST rides in
    the DP state's t field instead of a separate backtrace pass —
    DuckDB 1.0 misaligns a computed list<struct> COLUMN captured
    inside a list_reduce lambda across vector rows (plain-projection
    and scalar captures are fine), so no lambda here may capture the
    DP array. Candidates at a position always differ in b, so the
    (s, n, b, t) struct sort decides on (s, n, b) exactly like the
    Spark side and t is never consulted."""
    return f"""list_reduce(
      [[{{'s': CAST(1.0 AS DOUBLE), 'n': 0, 'b': 0, 't': CAST([] AS VARCHAR[])}}]] ||
      [[{{'s': CAST(-2.0 AS DOUBLE), 'n': 0, 'b': j, 't': CAST([] AS VARCHAR[])}}]
       FOR j IN range(1, len({w}) + 1)],
      (acc, x) -> acc || [coalesce(
        list_sort([
          {{'s': acc[i + 1].s * (CAST(m[substring({w}, i + 1, x[1].b - i)][1] AS DOUBLE) / T),
            'n': acc[i + 1].n - 1, 'b': -i,
            't': list_append(acc[i + 1].t, substring({w}, i + 1, x[1].b - i))}}
          FOR i IN range(greatest(x[1].b - {L}, 0), x[1].b)
          IF acc[i + 1].s >= CAST(0.0 AS DOUBLE)
             AND len(m[substring({w}, i + 1, x[1].b - i)]) > 0
        ])[-1],
        {{'s': CAST(-1.0 AS DOUBLE), 'n': 0, 'b': 0, 't': CAST([] AS VARCHAR[])}})])"""


def _uni_duck_toks(w: str, fin: str) -> str:
    """Token list from the final DP state ``fin`` (a plain struct
    reference, never captured in a lambda): the state already carries
    the best segmentation; an unreachable word degrades to itself."""
    return (
        f"CASE WHEN {fin}.s < CAST(0.0 AS DOUBLE) "
        f"THEN [{w}] ELSE {fin}.t END"
    )


def _uni_train_ctes() -> str:
    """WITH-chain replaying unigram training: w0 word histogram, sub0
    substring seed weights, u{r} the model after round r, mf the
    char-floored capped final model."""
    parts = [
        """w0 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
                       IF x <> '']) AS w
        FROM documents)
  GROUP BY w
),
sub0 AS (
  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt,
      unnest(flatten([[substring(w, i, l)
                       FOR l IN range(1, least(%(L)d, len(w) - i + 1) + 1)]
                      FOR i IN range(1, len(w) + 1)])) AS piece
    FROM w0)
  GROUP BY piece
),
chars0 AS (SELECT piece, c FROM sub0 WHERE len(piece) = 1),
nch AS (SELECT COUNT(*) AS n FROM chars0),
u0 AS (
  SELECT piece, c FROM chars0
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk
    FROM sub0 WHERE len(piece) > 1) q CROSS JOIN nch
  WHERE rk <= %(seed)d - n
)"""
        % {"L": _UNI_LEN, "seed": _UNI_SEED}
    ]
    for r in range(1, _UNI_ITERS + 1):
        parts.append(
            f"""f{r} AS (SELECT map(list(piece), list(c)) AS m,
            CAST(SUM(c) AS DOUBLE) AS T FROM u{r - 1}),
d{r} AS (SELECT w, cnt, ({_uni_duck_dp("w", _UNI_LEN)})[len(w) + 1] AS fin
         FROM w0 CROSS JOIN f{r}),
s{r} AS (SELECT w, cnt, {_uni_duck_toks("w", "fin")} AS toks FROM d{r}),
u{r} AS (
  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(toks) AS piece FROM s{r})
  GROUP BY piece
)"""
        )
    parts.append(
        f"""mf AS (
  SELECT c0.piece, CAST(COALESCE(u.c, 1) AS BIGINT) AS c
  FROM chars0 c0 LEFT JOIN u{_UNI_ITERS} u ON c0.piece = u.piece
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk
    FROM u{_UNI_ITERS} WHERE len(piece) > 1) q CROSS JOIN nch
  WHERE rk <= {_UNI_VOCAB} - n
)"""
    )
    return "WITH " + ",\n".join(parts)


_Q224_SQL = (
    _uni_train_ctes()
    + """,
tf AS (SELECT CAST(SUM(c) AS DOUBLE) AS T FROM mf)
SELECT piece, c AS count, ROUND(CAST(c AS DOUBLE) / T, 9) AS prob
FROM mf CROSS JOIN tf
"""
)

_Q225_SQL = (
    _uni_train_ctes()
    + f""",
ff AS (SELECT map(list(piece), list(c)) AS m, CAST(SUM(c) AS DOUBLE) AS T FROM mf),
dw AS (
  SELECT doc_id,
    unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
            IF x <> '']) AS w
  FROM documents
),
wseg0 AS (SELECT w, ({_uni_duck_dp("w", _UNI_LEN)})[len(w) + 1] AS fin
          FROM (SELECT DISTINCT w FROM dw) CROSS JOIN ff),
wseg AS (SELECT w, {_uni_duck_toks("w", "fin")} AS toks FROM wseg0),
x AS (SELECT doc_id, unnest(toks) AS tok FROM dw JOIN wseg USING (w))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
FROM x GROUP BY doc_id
"""
)


def q226_jpeg_decode_roundtrip(spark, sf_dir):
    """REAL JPEG decode in the multimodal path — no stub, no external
    codec: a deterministic grayscale baseline-JFIF corpus (8x8-constant
    blocks, value arithmetic in the id, unit quantization tables) is
    synthesized per document and decode_jpeg_features runs the full
    T.81 inverse pipeline back — marker walk, DQT/SOF0/DHT/SOS parse,
    canonical Huffman decode with DC prediction and byte-stuffing
    removal, dequantization, zigzag inversion, floating IDCT, level
    shift. Constant blocks make the lossy pipeline exact (integral DC,
    zero AC), so the oracle states width/height/mean arithmetically
    and one wrong bit anywhere in the entropy decode or IDCT shifts a
    mean and fails the hash. Both steps map-only mapInPandas; payloads
    never visit the driver. The general AC/Huffman/IDCT paths are
    pinned against an independent numpy reference in pytest."""
    from ..operators.jpeg import decode_jpeg_features, synthesize_jpeg_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_jpeg_features(synthesize_jpeg_corpus(docs)).select(
        "media_id", "width", "height", "mode",
        F.round("mean_luma", 9).alias("mean_luma"),
    )


_Q226_SQL = """
WITH blk AS (
  SELECT doc_id,
    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h,
    (doc_id * 31 + bx * 17 + by * 7) % 256 AS v
  FROM documents,
    UNNEST(range(0, 1 + doc_id % 3)) AS tx(bx),
    UNNEST(range(0, 1 + doc_id % 2)) AS ty(by)
)
SELECT doc_id AS media_id, w AS width, h AS height, 'L' AS mode,
  ROUND(CAST(SUM(v) * 64 AS DOUBLE) / (w * h), 9) AS mean_luma
FROM blk GROUP BY doc_id, w, h
"""


def q227_jpeg_color_roundtrip(spark, sf_dir):
    """q226's 4:2:0 color sibling: constant RGB per 16x16 macroblock,
    JFIF-converted to YCbCr with explicit floor(x+0.5) rounding,
    2x2-subsampled chroma (exact on constants), four Y blocks + Cb +
    Cr per MCU with separate chroma Huffman/quantization tables — the
    full interleaved-scan decode path, chroma upsampling, and the
    YCbCr->RGB inverse with the same rounding. The oracle replays
    BOTH color conversions arithmetically (every literal CAST to
    DOUBLE so DuckDB stays in IEEE arithmetic), so a single wrong
    pixel in any of the six blocks per MCU fails the hash."""
    from ..operators.jpeg import (
        decode_jpeg_features,
        synthesize_jpeg_color_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_jpeg_features(synthesize_jpeg_color_corpus(docs)).select(
        "media_id", "width", "height", "mode",
        F.round("mean_luma", 9).alias("mean_luma"),
    )


_Q227_SQL = """
WITH mb AS (
  SELECT doc_id,
    CAST(16 * (1 + doc_id % 2) AS INTEGER) AS w,
    CAST(16 * (1 + doc_id % 3) AS INTEGER) AS h,
    CAST((doc_id * 31 + mx * 17 + my * 7) % 256 AS DOUBLE) AS r,
    CAST((doc_id * 29 + mx * 13 + my * 11) % 256 AS DOUBLE) AS g,
    CAST((doc_id * 37 + mx * 19 + my * 5) % 256 AS DOUBLE) AS b
  FROM documents,
    UNNEST(range(0, 1 + doc_id % 2)) AS tx(mx),
    UNNEST(range(0, 1 + doc_id % 3)) AS ty(my)
),
ycc AS (
  SELECT doc_id, w, h,
    LEAST(GREATEST(FLOOR(CAST(0.299 AS DOUBLE) * r + CAST(0.587 AS DOUBLE) * g
      + CAST(0.114 AS DOUBLE) * b + CAST(0.5 AS DOUBLE)),
      CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS y,
    LEAST(GREATEST(FLOOR(CAST(-0.168736 AS DOUBLE) * r - CAST(0.331264 AS DOUBLE) * g
      + CAST(0.5 AS DOUBLE) * b + CAST(128 AS DOUBLE) + CAST(0.5 AS DOUBLE)),
      CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS cb,
    LEAST(GREATEST(FLOOR(CAST(0.5 AS DOUBLE) * r - CAST(0.418688 AS DOUBLE) * g
      - CAST(0.081312 AS DOUBLE) * b + CAST(128 AS DOUBLE) + CAST(0.5 AS DOUBLE)),
      CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS cr
  FROM mb
),
dec AS (
  SELECT doc_id, w, h,
    LEAST(GREATEST(FLOOR(y + CAST(1.402 AS DOUBLE) * (cr - CAST(128 AS DOUBLE))
      + CAST(0.5 AS DOUBLE)), CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS r2,
    LEAST(GREATEST(FLOOR(y - CAST(0.344136 AS DOUBLE) * (cb - CAST(128 AS DOUBLE))
      - CAST(0.714136 AS DOUBLE) * (cr - CAST(128 AS DOUBLE))
      + CAST(0.5 AS DOUBLE)), CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS g2,
    LEAST(GREATEST(FLOOR(y + CAST(1.772 AS DOUBLE) * (cb - CAST(128 AS DOUBLE))
      + CAST(0.5 AS DOUBLE)), CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS b2
  FROM ycc
)
SELECT doc_id AS media_id, w AS width, h AS height, 'RGB' AS mode,
  ROUND(CAST(SUM(CAST(299 * r2 + 587 * g2 + 114 * b2 AS BIGINT)) * 256 AS DOUBLE)
        / (1000 * w * h), 9) AS mean_luma
FROM dec GROUP BY doc_id, w, h
"""


_ESS_K = 8


def q228_exact_substring_spans(spark, sf_dir):
    """Exact-substring dedup, detection stage (Lee et al. 2022):
    every maximal token span >= 8 tokens that occurs more than once
    corpus-wide, as (doc_id, start_pos, end_pos, n_tokens, n_grams).
    Relational equivalence to the paper's suffix array: duplicated
    >= k regions == regions covered by duplicated k-grams, so one
    md5-keyed gram count + a semi join + doc-keyed island windows
    replace the global suffix sort (operators/dedup.py
    exact_substring_spans). All integers — bit-exact oracle."""
    from ..operators.dedup import exact_substring_spans

    return exact_substring_spans(_docs(spark, sf_dir), "text", "doc_id", k=_ESS_K)


def q229_exact_substring_scrub(spark, sf_dir):
    """Exact-substring dedup, scrub stage: remove every token covered
    by a duplicated >= 8 span and report per document (n_tokens,
    n_removed, md5 of the scrubbed token stream) — the training-corpus
    cleaning pass the spans feed. Duplicated starts ride back as one
    sorted per-doc array; the scrub is a map-side HOF filter."""
    from ..operators.dedup import exact_substring_scrub

    return exact_substring_scrub(_docs(spark, sf_dir), "text", "doc_id", k=_ESS_K)


_ESS_CTES = f"""
WITH words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i + {_ESS_K - 1}], ' ')) AS g
  FROM words, UNNEST(range(1, len(ws) - {_ESS_K} + 2)) t(i)
  WHERE len(ws) >= {_ESS_K}
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
starts AS (SELECT doc_id, pos FROM grams JOIN dup USING (g))"""

_Q228_SQL = (
    _ESS_CTES
    + f""",
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {_ESS_K}
         THEN 1 ELSE 0 END AS f
  FROM starts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
    SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_pos,
       CAST(MAX(pos) + {_ESS_K - 1} AS INTEGER) AS end_pos,
       CAST(MAX(pos) + {_ESS_K} - MIN(pos) AS INTEGER) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, g
"""
)

_Q229_SQL = (
    _ESS_CTES
    + f""",
covered AS (
  SELECT DISTINCT doc_id, j
  FROM starts, UNNEST(range(pos, pos + {_ESS_K})) t(j)
),
toks AS (
  SELECT doc_id, i, ws[i] AS tok
  FROM words, UNNEST(range(1, len(ws) + 1)) t(i)
),
keptt AS (
  SELECT t.doc_id, t.i, t.tok FROM toks t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.i = c.j
  WHERE c.j IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         array_to_string(list(tok ORDER BY i), ' ') AS txt
  FROM keptt GROUP BY doc_id
)
SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(len(w.ws) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(a.txt, '')) AS clean_hash
FROM words w LEFT JOIN agg a ON w.doc_id = a.doc_id
"""
)


_BLOCKLIST = [
    "table table",
    "fast table",
    "scan query big",
    "value table part a",
    "purple monkey dishwasher",
]


def q230_blocklist_screen(spark, sf_dir):
    """Blocklist phrase screening: positional occurrence counts of a
    5-phrase banned list (2-4 tokens each, one absent from the corpus)
    over every document — the compliance filter stage. One corpus
    gram pass for exactly the blocklist's token lengths, a broadcast
    md5-keyed phrase join, one doc rollup; every doc in the output
    (operators/text.py blocklist_matches). Integer-exact oracle."""
    from ..operators.text import blocklist_matches

    return blocklist_matches(
        _docs(spark, sf_dir), "text", "doc_id", _BLOCKLIST
    )


def _gen_q230_sql() -> str:
    lengths = sorted({len(p.split()) for p in _BLOCKLIST})
    vals = ", ".join("('{}')".format(p.replace("'", "''")) for p in _BLOCKLIST)
    gram_parts = [
        f"""SELECT doc_id, md5(array_to_string(ws[i:i + {L - 1}], ' ')) AS k
  FROM words, UNNEST(range(1, len(ws) - {L} + 2)) t(i)
  WHERE len(ws) >= {L}"""
        for L in lengths
    ]
    grams = "\n  UNION ALL\n  ".join(gram_parts)
    return f"""
WITH pats AS (SELECT * FROM (VALUES {vals}) p(pattern)),
pk AS (SELECT pattern, md5(pattern) AS k FROM pats),
words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
grams AS (
  {grams}
),
hits AS (
  SELECT g.doc_id, COUNT(*) AS m, COUNT(DISTINCT p.pattern) AS np
  FROM grams g JOIN pk p ON g.k = p.k GROUP BY g.doc_id
)
SELECT d.doc_id, CAST(COALESCE(h.m, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(h.np, 0) AS BIGINT) AS n_patterns,
       COALESCE(h.m, 0) > 0 AS blocked
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


_Q230_SQL = _gen_q230_sql()


def q231_rater_agreement(spark, sf_dir):
    """Cohen's kappa between two rule-based quality raters (doc length
    >= 25 words vs type-token ratio >= 0.5 by integer cross-multiply)
    — the inter-labeler agreement report a pipeline reads before
    letting classifier votes gate data. Exact confusion cells, kappa
    as a single double division of exact integers
    (operators/stats.py cohen_kappa)."""
    from ..operators.stats import cohen_kappa

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    rated = _docs(spark, sf_dir).select(
        (F.expr(f"size({words})") >= 25).alias("rater_a"),
        F.expr(
            f"2 * size(array_distinct({words})) >= size({words})"
        ).alias("rater_b"),
    )
    return cohen_kappa(rated, "rater_a", "rater_b")


_Q231_SQL = """
WITH words AS (
  SELECT [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
r AS (
  SELECT len(ws) >= 25 AS a, 2 * len(list_distinct(ws)) >= len(ws) AS b
  FROM words
),
cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM r
)
SELECT n, n11, n10, n01, n00,
  CASE WHEN n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) <> 0
  THEN ROUND(
    CAST(n * (n11 + n00)
         - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
    / CAST(n * n
         - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE),
    9)
  END AS kappa
FROM cells
"""


def q232_kneser_ney_bigrams(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model (d = 0.75), top-50 bigrams
    by count with (v, w) tiebreak — the smoothed-LM training step an
    n-gram quality filter builds on. Every probability is a fixed tree
    of IEEE divisions over exact integer counts (no logarithm), so the
    oracle replays it bit-for-bit (operators/text.py
    kneser_ney_bigram_model)."""
    from ..operators.text import kneser_ney_bigram_model

    m = kneser_ney_bigram_model(_docs(spark, sf_dir), "text")
    return (
        m.select("v", "w", "c_vw", F.round("p_kn", 9).alias("p_kn"))
        .orderBy(F.col("c_vw").desc(), "v", "w")
        .limit(50)
    )


def q233_kneser_ney_surprise(spark, sf_dir):
    """Max-surprise LM filter: each document's LEAST-probable bigram
    under the self-trained KN model — the exact, logarithm-free
    stand-in for a perplexity outlier filter (a 100-bigram product
    would underflow; an avg-log would hang determinism on libm).
    Ties to the lexicographically smallest bigram
    (operators/text.py kneser_ney_surprise)."""
    from ..operators.text import kneser_ney_surprise

    return kneser_ney_surprise(_docs(spark, sf_dir), "text", "doc_id")


_KN_CTES = """
WITH words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS v, ws[i + 1] AS w
  FROM words, UNNEST(range(1, len(ws))) t(i)
  WHERE len(ws) >= 2
),
bc AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw FROM bg GROUP BY v, w),
ctx AS (SELECT v, SUM(c_vw) AS cv, COUNT(*) AS n1v FROM bc GROUP BY v),
cont AS (SELECT w, COUNT(*) AS n1w FROM bc GROUP BY w),
tot AS (SELECT COUNT(*) AS n1all FROM bc),
p AS (
  SELECT bc.v, bc.w, bc.c_vw,
    GREATEST(CAST(bc.c_vw AS DOUBLE) - CAST(0.75 AS DOUBLE),
             CAST(0.0 AS DOUBLE)) / cv
    + ((CAST(0.75 AS DOUBLE) * n1v) / cv)
      * (CAST(n1w AS DOUBLE) / n1all) AS p_kn
  FROM bc JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN tot
)"""

_Q232_SQL = (
    _KN_CTES
    + """
SELECT v, w, c_vw, ROUND(p_kn, 9) AS p_kn
FROM p ORDER BY c_vw DESC, v, w LIMIT 50
"""
)

_Q233_SQL = (
    _KN_CTES
    + """,
sc AS (
  SELECT bg.doc_id, bg.v || ' ' || bg.w AS b, p.p_kn
  FROM bg JOIN p ON bg.v = p.v AND bg.w = p.w
),
m AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(MIN(p_kn), 9) AS min_p
  FROM sc GROUP BY doc_id
),
am AS (
  SELECT doc_id, b FROM (
    SELECT doc_id, b,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p_kn, b) AS rn
    FROM sc) WHERE rn = 1
)
SELECT d.doc_id, CAST(COALESCE(m.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       m.min_p, am.b AS argmin_bigram
FROM documents d
LEFT JOIN m ON d.doc_id = m.doc_id
LEFT JOIN am ON d.doc_id = am.doc_id
"""
)


def q234_robust_length_outliers(spark, sf_dir):
    """Per-source robust quality control: EXACT median / MAD / outlier
    count over document token lengths (|len - median| > 3 * MAD) — the
    distribution-free fence a mean/stddev rule can't give when one
    spam burst drags the moments. Medians are order-statistic exact
    (row_number windows, never percentile_approx), so integer lengths
    make every reported value a .0/.25 binary fraction and the oracle
    matches bit-for-bit (operators/stats.py robust_group_stats)."""
    from ..operators.stats import robust_group_stats

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    vals = _docs(spark, sf_dir).select(
        "source", F.expr(f"size({words})").alias("n_words")
    )
    return robust_group_stats(vals, "source", "n_words", k=3.0)


_Q234_SQL = """
WITH vals AS (
  SELECT source AS g,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS DOUBLE) AS v
  FROM documents
),
r AS (
  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM vals
),
med AS (
  SELECT g, AVG(v) AS med FROM r
  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY g
),
dev AS (
  SELECT vals.g, v, med, ABS(v - med) AS d FROM vals JOIN med USING (g)
),
rd AS (
  SELECT g, d, ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM dev
),
mad AS (
  SELECT g, AVG(d) AS mad FROM rd
  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY g
)
SELECT dev.g AS source, CAST(COUNT(*) AS BIGINT) AS n,
  MAX(dev.med) AS median, MAX(mad.mad) AS mad,
  CAST(SUM(CASE WHEN dev.d > CAST(3.0 AS DOUBLE) * mad.mad
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (g) GROUP BY dev.g
"""


def q235_rouge_pair_audit(spark, sf_dir):
    """ROUGE-2 recall audit of the near-dup pair set (q31 semantics,
    jaccard >= 0.6): multiset bigram recall of the candidate against
    the reference for every flagged pair — the human-metric
    cross-check that a shingle-jaccard dedup actually found textual
    overlap. Exact integer multiset arithmetic; |pairs|-bounded joins
    (operators/text.py rouge_n_recall_pairs)."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.text import rouge_n_recall_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    return rouge_n_recall_pairs(docs, pairs, "text", "doc_id", n=2)


_Q235_SQL = """
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
),
idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM tok),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = id_1
  JOIN sizes s2 ON s2.doc_id = id_2
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
),
words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
bgc AS (
  SELECT doc_id, md5(array_to_string(ws[i:i + 1], ' ')) AS g,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM words, UNNEST(range(1, len(ws))) t(i)
  WHERE len(ws) >= 2
  GROUP BY doc_id, g
),
tot AS (SELECT doc_id, SUM(c) AS t FROM bgc GROUP BY doc_id),
ov AS (
  SELECT p.id_1, p.id_2, SUM(LEAST(a.c, b.c)) AS o
  FROM pairs p
  JOIN bgc a ON a.doc_id = p.id_1
  JOIN bgc b ON b.doc_id = p.id_2 AND b.g = a.g
  GROUP BY 1, 2
)
SELECT p.id_1, p.id_2,
  CAST(COALESCE(ov.o, 0) AS BIGINT) AS overlap,
  CAST(COALESCE(t.t, 0) AS BIGINT) AS ref_grams,
  CASE WHEN COALESCE(t.t, 0) > 0
       THEN ROUND(CAST(COALESCE(ov.o, 0) AS DOUBLE) / t.t, 9) END AS rouge
FROM pairs p
LEFT JOIN ov ON p.id_1 = ov.id_1 AND p.id_2 = ov.id_2
LEFT JOIN tot t ON t.doc_id = p.id_1
"""


def q236_substring_index_probe(spark, sf_dir):
    """Persistent exact-substring gram index, on-arrival probe: build
    the postings index over the historical corpus (doc_id >= 100),
    incrementally UPDATE it with a day-2 band (50-99, exercising the
    frozen-k append path), then detect every duplicated span in an
    arriving batch (doc_id < 50) against index + batch — the
    incremental form of q228 a streaming ingest runs per batch. The
    probe's aggregation is BATCH-bounded (postings pruned to the
    batch's gram set, existence semantics tolerate torn-replay
    duplicate rows). The oracle replays the same split relationally
    (operators/dedup.py build/update/spans_against_index)."""
    import os
    import tempfile

    from ..operators.dedup import (
        build_substring_index,
        spans_against_index,
        update_substring_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    os.makedirs("/tmp/dls_query_tables", exist_ok=True)
    idx = tempfile.mkdtemp(dir="/tmp/dls_query_tables", prefix="subidx_")
    build_substring_index(
        docs.filter(F.col("doc_id") >= 100), "text", "doc_id", idx, k=8
    )
    update_substring_index(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)),
        "text",
        "doc_id",
        idx,
    )
    out = spans_against_index(
        docs.filter(F.col("doc_id") < 50), "text", "doc_id", idx
    )
    out = out.localCheckpoint(eager=True)
    return out


_Q236_SQL = """
WITH words AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i + 7], ' ')) AS g
  FROM words, UNNEST(range(1, len(ws) - 8 + 2)) t(i)
  WHERE len(ws) >= 8
),
batch AS (SELECT * FROM grams WHERE doc_id < 50),
stored AS (SELECT DISTINCT g FROM grams WHERE doc_id >= 50),
bdup AS (SELECT g FROM batch GROUP BY g HAVING COUNT(*) >= 2),
starts AS (
  SELECT doc_id, pos FROM batch
  WHERE g IN (SELECT g FROM stored) OR g IN (SELECT g FROM bdup)
),
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
         THEN 1 ELSE 0 END AS f
  FROM starts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos, SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS gp
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_pos,
       CAST(MAX(pos) + 7 AS INTEGER) AS end_pos,
       CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, gp
"""


def q238_mixture_plan(spark, sf_dir):
    """Training-mixture planning sheet: per-source token inventory,
    target allocation for a 300k-token budget under milli-weights
    derived from the source id (50 + 25 * (idx % 4)), the implied
    integer-micro sampling rate, and the epoch count the source must
    sustain — all long arithmetic, bit-exact oracle
    (operators/sampling.py mixture_plan)."""
    from ..operators.sampling import mixture_plan

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    vals = _docs(spark, sf_dir).select(
        "source",
        F.expr(f"size({words})").cast("long").alias("n_words"),
        F.expr(
            "50 + 25 * (CAST(substring(source, 4) AS INT) % 4)"
        ).cast("long").alias("w_milli"),
    )
    return mixture_plan(vals, "source", "w_milli", "n_words", budget=300_000)


_Q238_SQL = """
WITH vals AS (
  SELECT source,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS n_words,
    CAST(50 + 25 * (CAST(SUBSTRING(source, 4) AS INT) % 4) AS BIGINT) AS w
  FROM documents
),
agg AS (
  SELECT source, SUM(n_words) AS available_tokens, MAX(w) AS milli_weight
  FROM vals GROUP BY source
)
SELECT source, CAST(available_tokens AS BIGINT) AS available_tokens,
  CAST(milli_weight AS BIGINT) AS milli_weight,
  CAST((300000 * milli_weight) // 1000 AS BIGINT) AS target_tokens,
  CAST(CASE WHEN available_tokens > 0 THEN
    ((300000 * milli_weight) // 1000 * 1000000) // available_tokens
  END AS BIGINT) AS sample_rate_micro,
  CAST(CASE WHEN available_tokens > 0 THEN
    ((300000 * milli_weight) // 1000 + available_tokens - 1) // available_tokens
  END AS BIGINT) AS epochs
FROM agg
"""


_WP_N_MERGES = 8
_WP_MAXW = 24


def _wp_merges(spark, sf_dir):
    """The learned WordPiece merges, memoized like :func:`_bpe_merges`."""
    from ..operators.tokenizer import train_wordpiece_merges

    def train():
        docs = _docs(spark, sf_dir)
        merges = train_wordpiece_merges(docs, "text", n_merges=_WP_N_MERGES)
        return merges.collect(), []

    return memo(spark, ("wordpiece", sf_dir), train)


def _wp_duck_layer(prev: str, r: int) -> str:
    """One DuckDB WordPiece merge layer over symbol-array expression
    ``prev`` — _bpe_duck_layer with the replacement symbol taken from
    the round's merged column (right side's '##' prefix absorbed)."""
    return f"""list_transform([{prev}], s ->
  list_transform([[i FOR i IN range(1, len(s)) IF s[i] = m{r}.a AND s[i+1] = m{r}.b]], p ->
    [CASE WHEN list_contains(p, i) THEN m{r}.merged ELSE s[i] END
     FOR i IN range(1, len(s)+1) IF NOT list_contains(p, i-1)])[1])[1]"""


def _wp_train_ctes(n: int = _WP_N_MERGES) -> str:
    """WITH-chain replaying WordPiece training: v0 is the
    '##'-prefixed symbol split of the word histogram; round r derives
    symbol counts u{r} (the score denominators), pair weights p{r},
    the likelihood argmax m{r}, and the rewritten vocabulary v{r}."""
    parts = [
        """w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
                       IF x <> '']) AS w
        FROM documents)
  GROUP BY w
),
v0 AS MATERIALIZED (SELECT cnt,
  [CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END
   FOR i IN range(1, len(w)+1)] AS s
 FROM w0)"""
    ]
    for r in range(1, n + 1):
        parts.append(f"""u{r} AS MATERIALIZED (
  SELECT sym, CAST(SUM(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(s) AS sym FROM v{r - 1}) GROUP BY sym
),
p{r} AS MATERIALIZED (
  SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS weight FROM (
    SELECT cnt, s[i] AS a, s[i+1] AS b
    FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i FROM v{r - 1})
  ) WHERE a <> b GROUP BY a, b
),
m{r} AS MATERIALIZED (
  SELECT a, b, a || b[3:] AS merged, weight,
         CAST(weight AS DOUBLE) / CAST(ua.c * ub.c AS DOUBLE) AS score
  FROM p{r} JOIN u{r} ua ON p{r}.a = ua.sym JOIN u{r} ub ON p{r}.b = ub.sym
  ORDER BY score DESC, a, b LIMIT 1)""")
        if r < n:
            parts.append(f"""v{r} AS MATERIALIZED (
  SELECT cnt, {_wp_duck_layer('s', r)} AS s
  FROM v{r - 1}, m{r})""")
    return "WITH " + ",\n".join(parts)


def q239_wordpiece_train(spark, sf_dir):
    """Learn the top-8 WordPiece merges (likelihood-scored BPE over
    '##'-prefixed continuation symbols — the BERT vocabulary builder)
    beside q190's frequency-scored BPE and q224's unigram-LM. One
    corpus shuffle (the word histogram); each round adds one
    vocab-sized symbol-count aggregation (the score denominators)
    beside the pair aggregation, argmax collected as one bounded row.
    The score is a SINGLE IEEE division of two exact longs, so the
    fully unrolled SQL replay is value-exact
    (operators/tokenizer.py train_wordpiece_merges)."""
    from ..operators.tokenizer import WORDPIECE_SCHEMA

    return spark.createDataFrame(
        _wp_merges(spark, sf_dir), WORDPIECE_SCHEMA
    ).select(
        "rank", "lhs", "rhs", "merged", "weight",
        F.round("score", 9).alias("score"),
    )


_Q239_SQL = (
    _wp_train_ctes()
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, a AS lhs, b AS rhs, merged, weight,"
        f" ROUND(score, 9) AS score FROM m{r}"
        for r in range(1, _WP_N_MERGES + 1)
    )
)


def q240_wordpiece_encode(spark, sf_dir):
    """Encode every document by greedy longest-match (MaxMatch — the
    BERT tokenizer's algorithm) against the vocabulary learned by
    q239's WordPiece training: corpus alphabet (bare + '##' forms) plus
    the 8 merge outputs. Encoding is MAP-ONLY: the vocabulary rides a
    1-row broadcast membership map, each word's greedy scan runs
    inside a words transform, zero shuffles at any corpus size.
    Reports per-doc token totals, distinct types, and continuation
    ('##') token counts. The oracle replays training, vocabulary
    assembly, AND the greedy fold."""
    from ..operators.tokenizer import wordpiece_encode

    docs = _docs(spark, sf_dir)
    merges = _wp_merges(spark, sf_dir)
    # corpus alphabet in both positional forms — bounded by the charset
    # (same contract as unigram training's chars relation)
    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    alpha = [
        r.ch
        for r in docs.select(
            F.explode(
                F.expr(
                    f"array_distinct(flatten(transform({words}, "
                    "w -> transform(sequence(1, length(w)), "
                    "i -> substring(w, i, 1)))))"
                )
            ).alias("ch")
        )
        .distinct()
        .collect()
    ]
    vocab = sorted(set(alpha) | {"##" + c for c in alpha}
                   | {r.merged for r in merges})
    enc = wordpiece_encode(
        docs, "text", "doc_id", vocab, max_word_len=_WP_MAXW
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).cast("long").alias("n_types"),
        F.size(
            F.filter("tokens", lambda t: t.startswith("##"))
        ).cast("long").alias("n_cont"),
    )


def _wp_greedy_duck_layers(maxw: int = _WP_MAXW) -> str:
    """One MATERIALIZED greedy-step CTE per position 1..maxw over the
    distinct-word relation: state (w, p, t, d) advances by the longest
    vocabulary match at p (bare form at position 1, '##' form after);
    no match — or a word longer than maxw — sets the dead flag."""
    probe = (
        "CASE WHEN p = 1 THEN substring(w, p, l) "
        "ELSE '##' || substring(w, p, l) END"
    )
    take = (
        "CASE WHEN p = 1 THEN substring(w, p, best) "
        "ELSE '##' || substring(w, p, best) END"
    )
    parts = [
        f"""g0 AS MATERIALIZED (
  SELECT w, CAST(1 AS BIGINT) AS p, CAST([] AS VARCHAR[]) AS t,
         len(w) > {maxw} AS d
  FROM (SELECT DISTINCT w FROM dw) CROSS JOIN vf)"""
    ]
    for j in range(1, maxw + 1):
        parts.append(f"""g{j} AS MATERIALIZED (
  SELECT w,
    CASE WHEN d OR p > len(w) OR best IS NULL THEN p ELSE p + best END AS p,
    CASE WHEN d OR p > len(w) OR best IS NULL THEN t
         ELSE list_append(t, {take}) END AS t,
    CASE WHEN d OR (p <= len(w) AND best IS NULL) THEN true ELSE false END AS d
  FROM (
    SELECT w, p, t, d,
      list_max([l FOR l IN range(1, least(len(w) - p + 1, L) + 1)
                IF len(m[{probe}]) > 0]) AS best
    FROM g{j - 1} CROSS JOIN vf))""")
    return ",\n".join(parts)


_Q240_SQL = (
    _wp_train_ctes()
    + f""",
alpha AS (
  SELECT DISTINCT w[i] AS ch FROM w0, UNNEST(range(1, len(w)+1)) t(i)
),
vstack AS (
  SELECT ch AS piece FROM alpha
  UNION SELECT '##' || ch FROM alpha
  {"".join(f" UNION SELECT merged FROM m{r}" for r in range(1, _WP_N_MERGES + 1))}
),
vf AS (
  SELECT map(list(piece), list(1)) AS m,
         MAX(len(piece) - CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END) AS L
  FROM vstack
),
dw AS MATERIALIZED (
  SELECT doc_id,
    unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
            IF x <> '']) AS w
  FROM documents
),
-- greedy MaxMatch unrolled one MATERIALIZED layer per position over
-- the DISTINCT-WORD relation (the engine's vocab strategy): DuckDB's
-- lambda engine miscompiles accumulator captures inside nested
-- list_reduce lambdas, so `best` is computed in a plain projection
"""
    + _wp_greedy_duck_layers()
    + f""",
fw AS (
  SELECT w, CASE WHEN d THEN ['[UNK]'] ELSE t END AS tl FROM g{_WP_MAXW}
),
per_doc AS (
  -- the reported metrics are token-order-invariant, so the flatten
  -- needs no positional sort
  SELECT doc_id, flatten(list(tl)) AS tokens
  FROM dw JOIN fw USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(len(p.tokens), 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(len(list_distinct(p.tokens)), 0) AS BIGINT) AS n_types,
  CAST(COALESCE(len([t FOR t IN p.tokens IF t LIKE '##%']), 0) AS BIGINT)
    AS n_cont
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""
)



def q241_length_regression(spark, sf_dir):
    """Per-source OLS of byte length on word count (slope, intercept,
    r-squared, correlation) — the regr_* diagnostic sheet that checks a
    cheap feature (whitespace token count) against the stored n_chars
    before trusting it as a proxy. EXACT long moments in ONE
    map-side-combined group aggregation, every statistic a fixed IEEE
    expression of exact integers (operators/stats.py ols_fit)."""
    from ..operators.stats import ols_fit

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    feats = _docs(spark, sf_dir).select(
        "source",
        F.expr(f"size({words})").cast("long").alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return ols_fit(feats, "source", "n_words", "n_chars")


_Q241_SQL = """
WITH feats AS (
  SELECT source,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS x,
    CAST(n_chars AS BIGINT) AS y
  FROM documents
),
m AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM feats GROUP BY source
),
f AS (
  SELECT source, n,
    n * sxy - sx * sy AS cov,
    n * sxx - sx * sx AS varx,
    n * syy - sy * sy AS vary,
    sx, sy
  FROM m
)
SELECT source, n,
  ROUND(CASE WHEN varx <> 0
    THEN CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE) END, 9) AS slope,
  ROUND((CAST(sy AS DOUBLE)
         - (CASE WHEN varx <> 0
            THEN CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE) END)
           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept,
  ROUND(CASE WHEN varx <> 0 AND vary <> 0
    THEN (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
         / (CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)) END, 9) AS r2,
  ROUND(CASE WHEN varx <> 0 AND vary <> 0
    THEN CAST(cov AS DOUBLE)
         / sqrt(CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)) END, 9) AS corr
FROM f
"""



def q242_heavy_hitters(spark, sf_dir):
    """Exact >=N/k frequent tokens (k = 40) via per-partition
    Misra-Gries nomination + one narrow exact-verify aggregation — the
    frequent-items sketch beside HLL/count-min/Bloom. At web scale the
    full wordcount shuffle disappears: only <= k * partitions
    candidate tokens are ever shuffled, the summaries themselves are
    bounded metadata (operators/sketches.py misra_gries_heavy_hitters).
    The exact verify pass makes the output identical to the plain
    threshold oracle."""
    from ..operators.sketches import misra_gries_heavy_hitters

    return misra_gries_heavy_hitters(
        _docs(spark, sf_dir), "text", k=40
    )


_Q242_SQL = """
WITH toks AS (
  SELECT unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
                 IF x <> '']) AS token
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
)
SELECT token, cnt, n AS n_total
FROM c CROSS JOIN tot
WHERE cnt * 40 >= n
"""



def q243_chi2_keywords(spark, sf_dir):
    """Top-3 chi-squared keywords per source — the domain-signature
    sheet beside q76's TF-IDF keywords (chi2 surfaces tokens
    DISTINCTIVE to a source however common globally). One (source,
    token) aggregation, vocabulary-sized marginal join, broadcast
    group/total marginals, per-group top-k window; every statistic a
    fixed IEEE expression of exact long cells
    (operators/text.py chi2_keywords)."""
    from ..operators.text import chi2_keywords

    return chi2_keywords(_docs(spark, sf_dir), "text", "source", top_k=3)


_Q243_SQL = """
WITH cells AS (
  SELECT source AS g, token, CAST(COUNT(*) AS BIGINT) AS a
  FROM (
    SELECT source,
      unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS token
    FROM documents)
  GROUP BY source, token
),
tm AS (SELECT token, CAST(SUM(a) AS BIGINT) AS ct FROM cells GROUP BY token),
gm AS (SELECT g, CAST(SUM(a) AS BIGINT) AS ng FROM cells GROUP BY g),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM cells),
j AS (
  SELECT c.g, c.token, c.a, tm.ct, gm.ng, tot.n
  FROM cells c JOIN tm USING (token) JOIN gm USING (g) CROSS JOIN tot
  WHERE c.a * tot.n > gm.ng * tm.ct
),
scored AS (
  SELECT g, token, a,
    CASE WHEN CAST(ct AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ct AS DOUBLE))
              * CAST(ng AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ng AS DOUBLE))
              <> 0
    THEN CAST(n AS DOUBLE)
         * (CAST(a AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ct AS DOUBLE)
              - (CAST(ng AS DOUBLE) - CAST(a AS DOUBLE)))
            - (CAST(ct AS DOUBLE) - CAST(a AS DOUBLE))
              * (CAST(ng AS DOUBLE) - CAST(a AS DOUBLE)))
         * (CAST(a AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ct AS DOUBLE)
              - (CAST(ng AS DOUBLE) - CAST(a AS DOUBLE)))
            - (CAST(ct AS DOUBLE) - CAST(a AS DOUBLE))
              * (CAST(ng AS DOUBLE) - CAST(a AS DOUBLE)))
         / (CAST(ct AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ct AS DOUBLE))
            * CAST(ng AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(ng AS DOUBLE)))
    END AS chi2
  FROM j
)
SELECT g AS source, token, a, ROUND(chi2, 9) AS chi2
FROM (
  SELECT g, token, a, chi2,
    row_number() OVER (PARTITION BY g ORDER BY chi2 DESC, token) AS rn
  FROM scored WHERE chi2 IS NOT NULL)
WHERE rn <= 3
"""



def q244_kfold_audit(spark, sf_dir):
    """Deterministic 5-fold assignment audit: hash-fold every document
    (md5 of the doc id — stable across runs, partitionings, engines)
    and report per-fold document and token inventories, the sheet read
    before sharded eval / cross-validation. Pure-projection
    assignment + ONE map-side-combined aggregation
    (operators/sampling.py kfold_assign)."""
    from ..operators.sampling import kfold_assign

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    assigned = kfold_assign(_docs(spark, sf_dir), "doc_id", n_folds=5)
    return (
        assigned.select(
            "fold", F.expr(f"size({words})").cast("long").alias("__nw")
        )
        .groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__nw").cast("long").alias("n_tokens"),
        )
    )


_Q244_SQL = """
WITH assigned AS (
  SELECT CAST(CAST('0x' || substr(md5('fold-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 5 AS BIGINT) AS fold,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS nw
  FROM documents
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_tokens
FROM assigned GROUP BY fold
"""


def q245_edit_distance_pairs(spark, sf_dir):
    """Character-level near-duplicate pairs: 1-permutation MinHash
    (each doc's minimum md5 5-shingle) nominates candidates, exact
    Levenshtein over the normalized text verifies at >= 40% similarity
    — the in-place-edit detector beside the set-based verifiers
    (Jaccard q33, containment q208, tf-idf q203). Min-shingle computed
    INSIDE the row (no explode shuffle); the only exchange is the
    bucket self-join (operators/dedup.py edit_distance_pairs)."""
    from ..operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _docs(spark, sf_dir), "text", "doc_id", k=5, min_sim_milli=400
    )


_Q245_SQL = """
WITH keyed AS (
  SELECT doc_id,
    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
    list_min([md5(array_to_string(ws[i:i + 4], ' '))
              FOR i IN range(1, greatest(len(ws) - 4, 1) + 1)]) AS key
  FROM (
    SELECT doc_id, text,
      [x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
       IF x <> ''] AS ws
    FROM documents)
),
ok_keys AS (
  SELECT key FROM keyed GROUP BY key
  HAVING COUNT(*) > 1 AND COUNT(*) <= 1000
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    levenshtein(a.norm, b.norm) AS lev,
    greatest(len(a.norm), len(b.norm)) AS mx
  FROM keyed a JOIN ok_keys USING (key)
  JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev,
  CAST(1000 - (1000 * lev) // mx AS BIGINT) AS sim_milli
FROM pairs
WHERE mx > 0 AND 1000 - (1000 * lev) // mx >= 400
"""


def q246_trimmed_mean_lengths(spark, sf_dir):
    """Per-source 10%-trimmed mean document length beside the raw
    mean — the outlier-resistant location estimate between mean and
    q234's median/MAD. Integer trim count, exact long sums, ONE IEEE
    division each (operators/stats.py trimmed_mean)."""
    from ..operators.stats import trimmed_mean

    return trimmed_mean(
        _docs(spark, sf_dir), "source", "n_chars", trim_milli=100
    )


_Q246_SQL = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v,
    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
agg AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n,
    CAST(MAX((n * 100) // 1000) AS BIGINT) AS n_trim_each,
    CAST(SUM(CASE WHEN rn > (n * 100) // 1000
                   AND rn <= n - (n * 100) // 1000 THEN v END) AS BIGINT)
      AS kept_sum,
    CAST(SUM(CASE WHEN rn > (n * 100) // 1000
                   AND rn <= n - (n * 100) // 1000 THEN 1 ELSE 0 END)
         AS BIGINT) AS kept_n,
    CAST(SUM(v) AS BIGINT) AS all_sum
  FROM ranked GROUP BY source
)
SELECT source, n, n_trim_each,
  ROUND(CASE WHEN kept_n > 0
    THEN CAST(kept_sum AS DOUBLE) / CAST(kept_n AS DOUBLE) END, 9)
    AS mean_trimmed,
  ROUND(CAST(all_sum AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mean_all
FROM agg
"""



def q247_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa across THREE rule-based quality raters (length,
    type-token ratio, long-word share — each a deterministic integer
    test) — the multi-rater agreement report beside q231's pairwise
    Cohen kappa, read before letting an ensemble vote on data. Exact
    integer cells and marginals, one fixed IEEE expression, single
    division (operators/stats.py fleiss_kappa)."""
    from ..operators.stats import fleiss_kappa

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    d = _docs(spark, sf_dir)
    raters = []
    for name, expr in (
        ("len", f"size({words}) >= 25"),
        ("ttr", f"2 * size(array_distinct({words})) >= size({words})"),
        ("lw", f"size(filter({words}, x -> length(x) >= 6)) * 5"
               f" >= size({words})"),
    ):
        raters.append(
            d.select(
                F.col("doc_id").alias("subject"),
                F.expr(expr).cast("string").alias("category"),
            )
        )
    ratings = raters[0].unionByName(raters[1]).unionByName(raters[2])
    return fleiss_kappa(ratings, "subject", "category")


_Q247_SQL = """
WITH ws AS (
  SELECT doc_id,
    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS w
  FROM documents
),
ratings AS (
  SELECT doc_id AS s, CAST(len(w) >= 25 AS VARCHAR) AS c FROM ws
  UNION ALL
  SELECT doc_id, CAST(2 * len(list_distinct(w)) >= len(w) AS VARCHAR) FROM ws
  UNION ALL
  SELECT doc_id, CAST(len([x FOR x IN w IF len(x) >= 6]) * 5 >= len(w)
                      AS VARCHAR) FROM ws
),
cells AS (
  SELECT s, c, CAST(COUNT(*) AS BIGINT) AS n FROM ratings GROUP BY s, c
),
subj AS (SELECT s, SUM(n * n) AS sq FROM cells GROUP BY s),
tots AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(sq) AS BIGINT) AS A
  FROM subj
),
marg AS (SELECT CAST(SUM(SUM(n) * SUM(n)) OVER () AS BIGINT) AS E
         FROM cells GROUP BY c LIMIT 1)
SELECT N AS n_subjects, CAST(3 AS BIGINT) AS n_raters,
  ROUND(CASE WHEN (CAST(N AS DOUBLE) * 3.0) * (3.0 - 1.0)
                  * ((CAST(N AS DOUBLE) * 3.0) * (CAST(N AS DOUBLE) * 3.0)
                     - CAST(E AS DOUBLE)) <> 0
  THEN ((CAST(A AS DOUBLE) - CAST(N AS DOUBLE) * 3.0)
        * ((CAST(N AS DOUBLE) * 3.0) * (CAST(N AS DOUBLE) * 3.0))
        - CAST(E AS DOUBLE) * ((CAST(N AS DOUBLE) * 3.0) * (3.0 - 1.0)))
       / (((CAST(N AS DOUBLE) * 3.0) * (3.0 - 1.0))
          * ((CAST(N AS DOUBLE) * 3.0) * (CAST(N AS DOUBLE) * 3.0)
             - CAST(E AS DOUBLE)))
  END, 9) AS kappa
FROM tots CROSS JOIN marg
"""


def q248_ring_negatives(spark, sf_dir):
    """Deterministic contrastive negatives: each document's two
    negatives are ring successors of md5 probe hashes (consistent
    hashing) — uniform, stable across runs/engines, NO corpus-wide
    sort: one bucket-keyed window plus a bounded bucket-minimum
    relation (operators/sampling.py hash_ring_negatives). Reports the
    per-anchor negative list sizes and a checksum of assignments."""
    from ..operators.sampling import hash_ring_negatives

    pairs = hash_ring_negatives(
        _docs(spark, sf_dir), "doc_id", n_neg=2, seed="q248"
    )
    return pairs.select("doc_id", "neg_idx", "doc_id_neg")


_Q248_SQL = """
WITH cands AS (
  SELECT doc_id, md5('ring-q248' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
probes AS (
  SELECT d.doc_id AS a, j,
    md5('q248|' || CAST(d.doc_id AS VARCHAR) || '|' || CAST(j AS VARCHAR)) AS p
  FROM documents d, UNNEST([1, 2]) t(j)
),
succ AS (
  SELECT a, j, c.doc_id AS neg,
    row_number() OVER (PARTITION BY a, j ORDER BY c.h, c.doc_id) AS rn
  FROM probes pr JOIN cands c ON c.h >= pr.p
),
wrap AS (SELECT doc_id AS neg FROM cands ORDER BY h, doc_id LIMIT 1)
SELECT a AS doc_id, CAST(j AS BIGINT) AS neg_idx,
  COALESCE(s.neg, w.neg) AS doc_id_neg
FROM probes pr
LEFT JOIN (SELECT a, j, neg FROM succ WHERE rn = 1) s USING (a, j)
CROSS JOIN wrap w
WHERE COALESCE(s.neg, w.neg) <> pr.a
"""



def q249_triangle_parts(spark, sf_dir):
    """Exact triangle counts over the part co-purchase graph (parts
    joined when they share an order): the top-20 most
    clustered parts — community structure beside q199's centrality.
    Degree-ordered orientation bounds the wedge fan-out at O(m^1.5)
    regardless of hub degrees (operators/graph.py triangle_count); the
    oracle closes triangles with a plain canonical 3-way join."""
    from ..operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
    )
    tc = triangle_count(edges, "p1", "p2")
    return (
        tc.select("node", "triangles")
        .orderBy(F.col("triangles").desc(), "node")
        .limit(20)
    )


_Q249_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(a.l_partkey AS VARCHAR) AS u,
                  CAST(b.l_partkey AS VARCHAR) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
canon AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM pairs WHERE u <> v
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM canon e1
  JOIN canon e2 ON e2.u = e1.v
  JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY node
ORDER BY triangles DESC, node LIMIT 20
"""



def q250_decayed_event_rates(spark, sf_dir):
    """Freshness-weighted per-type event activity: half-life-decayed
    scores in FIXED POINT (decay steps are powers of two, so each
    event's weight is an exact long and the per-type sum is
    order-free — the oracle-pinnable EWMA). One 1-row max-timestamp
    broadcast + one map-side-combined aggregation
    (operators/events.py decayed_event_rates)."""
    from ..operators.events import decayed_event_rates

    events = _t(spark, sf_dir, "events")
    return decayed_event_rates(
        events, "event_type", "ts", half_life_days=7, horizon_halflives=40
    )


_Q250_SQL = """
WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
aged AS (
  SELECT event_type,
    date_diff('day', CAST(ts AS DATE), ref.r) // 7 AS a
  FROM events CROSS JOIN ref
),
w AS (
  SELECT event_type,
    CASE WHEN a >= 0 AND a <= 40
      THEN CAST(1 AS BIGINT) << CAST(40 - a AS INTEGER)
      ELSE CAST(0 AS BIGINT) END AS wt
  FROM aged
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(wt) AS BIGINT) AS score_fixed,
  ROUND(CAST(CAST(SUM(wt) AS BIGINT) AS DOUBLE) / 1099511627776.0, 9)
    AS score
FROM w GROUP BY event_type
"""



def q251_tar_member_walk(spark, sf_dir):
    """Archive-shard ingestion (the WebDataset container tier): a
    deterministic ustar corpus is synthesized per document id and
    decode_tar_members walks every archive's member table back —
    names, sizes, and content md5s recovered exactly. Both steps are
    map-only mapInPandas over Arrow batches; payloads and members
    never visit the driver. The oracle states the member arithmetic
    relationally (operators/multimodal.py synthesize_tar_corpus /
    decode_tar_members)."""
    from ..operators.multimodal import (
        decode_tar_members,
        synthesize_tar_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_tar_members(synthesize_tar_corpus(docs))


_Q251_SQL = """
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS member_idx,
  'm' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) || '.txt'
    AS name,
  CAST(10 + (doc_id * 7 + i * 13) % 50 AS BIGINT) AS size,
  md5(repeat(chr(97 + CAST((doc_id + i) % 26 AS INTEGER)),
             CAST(10 + (doc_id * 7 + i * 13) % 50 AS INTEGER)))
    AS content_md5
FROM documents, UNNEST(range(0, 1 + doc_id % 4)) t(i)
"""



def q252_retrieval_eval(spark, sf_dir):
    """Ranking-quality evaluation of q142's BM25 retrieval:
    precision@10, recall, and MRR per query as MICRO-integers (1e6 div
    arithmetic — float reciprocal-rank means are summation-order-
    dependent and cannot be oracle-pinned). Relevance is deterministic
    conjunctive containment: a doc is relevant iff it contains EVERY
    query term — the label-free qrel a pipeline uses to smoke-test an
    index. One rank filter + one results-sized left join + two
    query-keyed aggregations (operators/retrieval.py retrieval_eval)."""
    from ..operators.retrieval import retrieval_eval
    from ..operators.text import bm25_topk

    queries = spark.createDataFrame(
        [
            (1, "hash join merge"),
            (2, "stream window agg"),
            (3, "vector scan filter"),
        ],
        "query_id long, qtext string",
    )
    docs = _docs(spark, sf_dir)
    ranked = bm25_topk(docs, queries, "text", "doc_id", k=10)
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(
                F.expr("split(lower(qtext), '\\\\s+')")
            )
        ).alias("term"),
    )
    nq = qterms.groupBy("query_id").agg(F.count("*").alias("__nt"))
    dterm = docs.select(
        "doc_id",
        F.explode(
            F.expr("split(lower(coalesce(text, '')), '\\\\s+')")
        ).alias("term"),
    ).distinct()
    rel = (
        qterms.join(dterm, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("__m"))
        .join(F.broadcast(nq), "query_id")
        .filter(F.col("__m") == F.col("__nt"))
        .select("query_id", "doc_id")
    )
    return retrieval_eval(ranked, rel, k=10)


_Q252_SQL = (
    _BM25_ORACLE_BODY
    + """, ranked AS (
  SELECT query_id, doc_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
top AS (SELECT * FROM ranked WHERE rank <= 10),
nq AS (SELECT query_id, COUNT(*) AS n_terms FROM qterms GROUP BY query_id),
dterm AS (
  SELECT DISTINCT doc_id,
    unnest(string_split_regex(lower(COALESCE(text, '')), '\\s+')) AS term
  FROM documents
),
rel AS (
  SELECT qt.query_id, d.doc_id
  FROM qterms qt JOIN dterm d USING (term) JOIN nq USING (query_id)
  GROUP BY qt.query_id, d.doc_id, nq.n_terms
  HAVING COUNT(DISTINCT d.term) = nq.n_terms
),
relc AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel
  GROUP BY query_id
),
hitsq AS (
  SELECT t.query_id,
    CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS hits,
    CAST(MIN(CASE WHEN r.doc_id IS NOT NULL THEN t.rank END) AS BIGINT)
      AS first_rel
  FROM top t
  LEFT JOIN rel r ON t.query_id = r.query_id AND t.doc_id = r.doc_id
  GROUP BY t.query_id
)
SELECT CAST(COALESCE(h.query_id, rc.query_id) AS BIGINT) AS query_id,
  COALESCE(rc.n_rel, 0) AS n_rel,
  COALESCE(h.hits, 0) AS hits,
  CAST((1000000 * COALESCE(h.hits, 0)) // 10 AS BIGINT) AS p_at_k_micro,
  CAST(CASE WHEN rc.n_rel > 0
       THEN (1000000 * COALESCE(h.hits, 0)) // rc.n_rel END
       AS BIGINT) AS recall_micro,
  CAST(CASE WHEN h.first_rel IS NOT NULL THEN 1000000 // h.first_rel END
       AS BIGINT) AS mrr_micro
FROM hitsq h FULL JOIN relc rc ON h.query_id = rc.query_id
"""
)



def q253_key_skew_audit(spark, sf_dir):
    """Join-key skew audit of the two hottest shuffle keys (lineitem's
    order key, events' user id): exact row/key counts, the heaviest
    key, and top-1/top-10 row shares as micro-integers — the report
    read before choosing salting / AQE skew splits / broadcast at
    scale. One key-count aggregation + a TakeOrdered(10) per key,
    never a global sort (operators/stats.py key_skew_audit)."""
    from ..operators.stats import key_skew_audit

    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    a = key_skew_audit(li, "l_orderkey").select(
        F.lit("lineitem.l_orderkey").alias("key"), "*"
    )
    b = key_skew_audit(ev, "user_id").select(
        F.lit("events.user_id").alias("key"), "*"
    )
    return a.unionByName(b)


_Q253_SQL = """
WITH f1 AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
),
t1 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
         MAX(ROW(c, k)) AS top
  FROM f1
),
x1 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t10
  FROM (SELECT c FROM f1 ORDER BY c DESC, k LIMIT 10)
),
f2 AS (
  SELECT CAST(user_id AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
t2 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
         MAX(ROW(c, k)) AS top
  FROM f2
),
x2 AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t10
  FROM (SELECT c FROM f2 ORDER BY c DESC, k LIMIT 10)
)
SELECT 'lineitem.l_orderkey' AS key, n_rows, n_keys,
  top[2] AS top_key,
  CAST((1000000 * top[1]) // n_rows AS BIGINT) AS top1_share_micro,
  CAST((1000000 * t10) // n_rows AS BIGINT) AS top10_share_micro
FROM t1 CROSS JOIN x1
UNION ALL
SELECT 'events.user_id', n_rows, n_keys, top[2],
  CAST((1000000 * top[1]) // n_rows AS BIGINT),
  CAST((1000000 * t10) // n_rows AS BIGINT)
FROM t2 CROSS JOIN x2
"""



def q254_tokenizer_report(spark, sf_dir):
    """Tokenizer bake-off: corpus totals for the three trained
    tokenizers (q190 BPE merges, q224 unigram-LM, q239 WordPiece) —
    total tokens, distinct token types, and chars-per-token as a
    micro-integer, the compression sheet read before picking a
    vocabulary. Spark side encodes with the memoized models (all
    map-only / per-type paths); the oracle replays all three
    trainings AND encodes in one statement, each replay scoped to its
    own subquery so the WITH-chains cannot collide."""
    from ..operators.tokenizer import (
        bpe_encode,
        unigram_encode,
        wordpiece_encode,
    )

    docs = _docs(spark, sf_dir)
    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    chars_row = docs.agg(
        F.coalesce(
            F.sum(
                F.expr(
                    f"aggregate({words}, 0L, (a, x) -> a + length(x))"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("__chars")
    )

    def report(name, enc):
        totals = enc.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens")
        )
        types = (
            enc.select(F.explode("tokens").alias("t"))
            .agg(F.count_distinct("t").cast("long").alias("n_types"))
        )
        return (
            totals.crossJoin(F.broadcast(types))
            .crossJoin(F.broadcast(chars_row))
            .select(
                F.lit(name).alias("tokenizer"),
                "n_tokens",
                "n_types",
                F.expr(
                    "CASE WHEN n_tokens > 0"
                    " THEN (1000000 * __chars) div n_tokens END"
                ).alias("chars_per_token_micro"),
            )
        )

    bpe = bpe_encode(
        docs, "text", "doc_id",
        [(r.lhs, r.rhs) for r in _bpe_merges(spark, sf_dir)],
    )
    uni = unigram_encode(
        docs, "text", "doc_id",
        [(r.piece, r["count"]) for r in _unigram_model(spark, sf_dir)],
        _UNI_LEN,
    )
    merges = _wp_merges(spark, sf_dir)
    alpha = [
        r.ch
        for r in docs.select(
            F.explode(
                F.expr(
                    f"array_distinct(flatten(transform({words}, "
                    "w -> transform(sequence(1, length(w)), "
                    "i -> substring(w, i, 1)))))"
                )
            ).alias("ch")
        )
        .distinct()
        .collect()
    ]
    vocab = sorted(
        set(alpha) | {"##" + c for c in alpha} | {r.merged for r in merges}
    )
    wp = wordpiece_encode(docs, "text", "doc_id", vocab, max_word_len=_WP_MAXW)
    return (
        report("bpe", bpe)
        .unionByName(report("unigram", uni))
        .unionByName(report("wordpiece", wp))
    )


def _q254_sql() -> str:
    """Three scoped replays: each subquery re-derives its tokenizer's
    model from the corpus and reports type-weighted totals off the
    word HISTOGRAM (cnt * tokens-per-type == the per-doc totals)."""
    chars = "(SELECT CAST(SUM(len(w) * cnt) AS BIGINT) FROM w0)"
    # BPE: one more rewrite layer than training keeps (v{n-1} -> final)
    bpe_final = f"v{_BPE_N_MERGES - 1}f"
    bpe = (
        _bpe_train_ctes()
        + f""",
{bpe_final} AS (
  SELECT cnt, {_bpe_duck_layer('s', _BPE_N_MERGES)} AS s
  FROM v{_BPE_N_MERGES - 1}, m{_BPE_N_MERGES}),
tt AS (SELECT CAST(SUM(cnt * len(s)) AS BIGINT) AS n_tokens FROM {bpe_final}),
ty AS (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS n_types
       FROM (SELECT unnest(s) AS sym FROM {bpe_final}))
SELECT 'bpe' AS tokenizer, tt.n_tokens, ty.n_types,
  CAST(CASE WHEN tt.n_tokens > 0
    THEN (1000000 * {chars}) // tt.n_tokens END AS BIGINT)
    AS chars_per_token_micro
FROM tt CROSS JOIN ty"""
    )
    uni = (
        _uni_train_ctes()
        + f""",
ff AS (SELECT map(list(piece), list(c)) AS m, CAST(SUM(c) AS DOUBLE) AS T
       FROM mf),
df AS (SELECT w, cnt, ({_uni_duck_dp("w", _UNI_LEN)})[len(w) + 1] AS fin
       FROM w0 CROSS JOIN ff),
sf AS (SELECT w, cnt, {_uni_duck_toks("w", "fin")} AS toks FROM df),
tt AS (SELECT CAST(SUM(cnt * len(toks)) AS BIGINT) AS n_tokens FROM sf),
ty AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
       FROM (SELECT unnest(toks) AS t FROM sf))
SELECT 'unigram' AS tokenizer, tt.n_tokens, ty.n_types,
  CAST(CASE WHEN tt.n_tokens > 0
    THEN (1000000 * {chars}) // tt.n_tokens END AS BIGINT)
    AS chars_per_token_micro
FROM tt CROSS JOIN ty"""
    )
    wp = (
        _wp_train_ctes()
        + f""",
alpha AS (
  SELECT DISTINCT w[i] AS ch FROM w0, UNNEST(range(1, len(w)+1)) t(i)
),
vstack AS (
  SELECT ch AS piece FROM alpha
  UNION SELECT '##' || ch FROM alpha
  {"".join(f" UNION SELECT merged FROM m{r}" for r in range(1, _WP_N_MERGES + 1))}
),
vf AS (
  SELECT map(list(piece), list(1)) AS m,
         MAX(len(piece) - CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END) AS L
  FROM vstack
),
dw AS MATERIALIZED (SELECT w, cnt FROM w0),
{_wp_greedy_duck_layers()},
fw AS (
  SELECT w, CASE WHEN d THEN ['[UNK]'] ELSE t END AS tl FROM g{_WP_MAXW}
),
tt AS (SELECT CAST(SUM(w0.cnt * len(fw.tl)) AS BIGINT) AS n_tokens
       FROM w0 JOIN fw USING (w)),
ty AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
       FROM (SELECT unnest(tl) AS t FROM fw))
SELECT 'wordpiece' AS tokenizer, tt.n_tokens, ty.n_types,
  CAST(CASE WHEN tt.n_tokens > 0
    THEN (1000000 * {chars}) // tt.n_tokens END AS BIGINT)
    AS chars_per_token_micro
FROM tt CROSS JOIN ty"""
    )
    return (
        "SELECT * FROM ("
        + bpe
        + ")\nUNION ALL\nSELECT * FROM ("
        + uni
        + ")\nUNION ALL\nSELECT * FROM ("
        + wp
        + ")"
    )


_Q254_SQL = _q254_sql()



def q255_percentile_normalized_selection(spark, sf_dir):
    """Cross-language score calibration: each document's length score
    becomes its WITHIN-LANGUAGE percentile rank (micro-integer, rank
    over ties so equal scores calibrate equally), then one GLOBAL
    threshold (>= 40th percentile) selects comparably across
    languages — the CCNet normalization step that stops a verbose
    language from monopolizing a raw-score cut. One group-keyed sort
    window; the selection is a map-side filter
    (operators/sampling.py percentile_normalize). Reports per-language
    kept/total and the kept token share."""
    from ..operators.sampling import percentile_normalize

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    scored = _docs(spark, sf_dir).select(
        "lang",
        F.expr(f"size({words})").cast("long").alias("n_words"),
    )
    normed = percentile_normalize(scored, "lang", "n_words")
    return (
        normed.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("pct_micro") >= 400000, 1).otherwise(0)
            ).cast("long").alias("n_kept"),
            F.sum("n_words").cast("long").alias("tokens_total"),
            F.sum(
                F.when(F.col("pct_micro") >= 400000, F.col("n_words"))
                .otherwise(0)
            ).cast("long").alias("tokens_kept"),
        )
    )


_Q255_SQL = """
WITH scored AS (
  SELECT lang,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS n_words
  FROM documents
),
normed AS (
  SELECT lang, n_words,
    CASE WHEN COUNT(*) OVER (PARTITION BY lang) > 1
      THEN (1000000 * (RANK() OVER (PARTITION BY lang ORDER BY n_words) - 1))
           // (COUNT(*) OVER (PARTITION BY lang) - 1)
      ELSE 0 END AS pct
  FROM scored
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN pct >= 400000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(n_words) AS BIGINT) AS tokens_total,
  CAST(SUM(CASE WHEN pct >= 400000 THEN n_words ELSE 0 END) AS BIGINT)
    AS tokens_kept
FROM normed GROUP BY lang
"""



_KC_K = 6


def q257_kcenter_exemplars(spark, sf_dir):
    """Greedy k-center exemplar selection over the embedding corpus
    (Gonzalez farthest-point traversal, the coreset 2-approximation):
    6 maximally diverse vectors, each round one broadcast of the
    <= k-row center relation + a map-side min-distance projection +
    a TakeOrdered(1) argmax — one bounded driver row per round. The
    oracle unrolls the identical rounds; the three-dot-product
    distance identity keeps every double bit-identical
    (operators/similarity.py kcenter_exemplars)."""
    from ..operators.similarity import kcenter_exemplars

    out = kcenter_exemplars(_emb(spark, sf_dir), k=_KC_K)
    return out.select(
        "round", "vec_id", F.round("min_dist_sq", 9).alias("min_dist_sq")
    )


def _q257_sql(k: int = _KC_K) -> str:
    def d2(c: str) -> str:
        return (
            f"list_dot_product(e.v, e.v)"
            f" - 2.0 * list_dot_product(e.v, {c}.v)"
            f" + list_dot_product({c}.v, {c}.v)"
        )

    parts = [
        """pts AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c1 AS (SELECT vec_id AS id, v, CAST(NULL AS DOUBLE) AS md
       FROM pts ORDER BY vec_id LIMIT 1)"""
    ]
    for r in range(2, k + 1):
        prev = [f"c{i}" for i in range(1, r)]
        joins = " CROSS JOIN ".join(prev)
        excl = " AND ".join(f"e.vec_id <> {c}.id" for c in prev)
        dists = ", ".join(d2(c) for c in prev)
        least = f"LEAST({dists})" if len(prev) > 1 else d2(prev[0])
        parts.append(f"""c{r} AS (
  SELECT e.vec_id AS id, e.v, {least} AS md
  FROM pts e CROSS JOIN {joins}
  WHERE {excl}
  ORDER BY md DESC, e.vec_id LIMIT 1)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, id AS vec_id, ROUND(md, 9) AS min_dist_sq FROM c{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


_Q257_SQL = _q257_sql()



def q258_difficulty_reweighted_mixture(spark, sf_dir):
    """DoReMi-lite end-to-end reweighting: per-source difficulty is
    the exact OOV rate against the corpus top-1000 vocabulary
    (micro-integer), difficulty becomes a normalized milli-weight
    w = (1000 * (1e6 + oov)) div sum(1e6 + oov) — harder sources
    upweighted, every step integral arithmetic — and the weights
    feed straight into the q238 mixture planner for a 300k-token
    budget. The measure -> reweight -> plan loop in one statement.
    Shapes: one corpus token aggregation, a TakeOrdered(1000)
    broadcast vocabulary, a |sources|-row weight relation, the
    mixture plan on top (operators/sampling.py mixture_plan)."""
    from ..operators.sampling import mixture_plan

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(F.expr(words)).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.col("__c").desc(), "token")
        .limit(1000)
        .select("token")
    )
    per_src = (
        toks.join(
            F.broadcast(vocab.withColumn("__in", F.lit(1))), "token", "left"
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            F.expr("(1000000 * oov_tokens) div total_tokens").alias(
                "oov_micro"
            ),
        )
    )
    tot = per_src.agg(
        F.sum(F.lit(1000000) + F.col("oov_micro")).cast("long").alias("__T")
    )
    weighted = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "total_tokens",
        "oov_micro",
        F.expr("(1000 * (1000000 + oov_micro)) div __T").alias("w_milli"),
    )
    plan = mixture_plan(
        weighted, "source", "w_milli", "total_tokens", budget=300_000
    )
    return weighted.select("source", "oov_micro").join(plan, "source")


_Q258_SQL = """
WITH toks AS (
  SELECT source,
    unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
            IF x <> '']) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ORDER BY c DESC, token LIMIT 1000)
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
    CAST((1000000 * SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS oov_micro
  FROM toks t LEFT JOIN vocab v USING (token)
  GROUP BY source
),
tot AS (SELECT CAST(SUM(1000000 + oov_micro) AS BIGINT) AS T FROM per_src),
weighted AS (
  SELECT source, total_tokens, oov_micro,
    CAST((1000 * (1000000 + oov_micro)) // T AS BIGINT) AS w
  FROM per_src CROSS JOIN tot
)
SELECT source, oov_micro,
  CAST(total_tokens AS BIGINT) AS available_tokens,
  CAST(w AS BIGINT) AS milli_weight,
  CAST((300000 * w) // 1000 AS BIGINT) AS target_tokens,
  CAST(CASE WHEN total_tokens > 0 THEN
    ((300000 * w) // 1000 * 1000000) // total_tokens
  END AS BIGINT) AS sample_rate_micro,
  CAST(CASE WHEN total_tokens > 0 THEN
    ((300000 * w) // 1000 + total_tokens - 1) // total_tokens
  END AS BIGINT) AS epochs
FROM weighted
"""



def q259_hilbert_index(spark, sf_dir):
    """Hilbert-curve clustering key (the locality-preserving successor
    to q63's Z-order — continuous curve, tighter file min/max boxes,
    the liquid-clustering layout): the 64x64 index of each event's
    deterministic bucket pair, for the first 50 events. Pure integer
    fold, bit-identical to the oracle's unrolled per-level replay
    (delta_lake_spark/zorder.py hilbert_index_expr; hilbert_layout
    adds quantile bucketing + the range-partition write discipline)."""
    from ..zorder import hilbert_index_expr

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_id") < 50
    )
    return ev.select(
        "event_id",
        F.expr("pmod(user_id, 64)").cast("int").alias("bx"),
        F.expr("pmod(event_id * 7, 64)").cast("int").alias("by"),
    ).withColumn("h", hilbert_index_expr("bx", "by", 6))


def _q259_sql() -> str:
    parts = [
        """l0 AS (
  SELECT event_id,
    CAST(user_id % 64 AS BIGINT) AS x,
    CAST((event_id * 7) % 64 AS BIGINT) AS y,
    CAST(0 AS BIGINT) AS d
  FROM events WHERE event_id < 50)"""
    ]
    levels = [32, 16, 8, 4, 2, 1]
    for i, s in enumerate(levels, 1):
        parts.append(f"""l{i} AS (
  SELECT event_id,
    CASE WHEN (y // {s}) % 2 = 0
      THEN CASE WHEN (x // {s}) % 2 = 1 THEN 63 - y ELSE y END
      ELSE x END AS x,
    CASE WHEN (y // {s}) % 2 = 0
      THEN CASE WHEN (x // {s}) % 2 = 1 THEN 63 - x ELSE x END
      ELSE y END AS y,
    d + {s} * {s} * (3 * ((x // {s}) % 2) + ((y // {s}) % 2)
        - 2 * ((x // {s}) % 2) * ((y // {s}) % 2)) AS d
  FROM l{i - 1})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT e.event_id, CAST(e.x AS INTEGER) AS bx, CAST(e.y AS INTEGER) AS by,
       CAST(f.d AS BIGINT) AS h
FROM l0 e JOIN l6 f USING (event_id)"""
    )


_Q259_SQL = _q259_sql()



def q260_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: q39's stopword-marker predictions
    against the stored lang label — (true, predicted, count, row-share
    micro), the eval sheet that says WHERE the classifier errs, not
    just how often. One prediction projection (map-only) + one
    (true, pred) aggregation + a true-lang marginal broadcast."""
    from ..operators.text import lang_id

    docs = _docs(spark, sf_dir)
    preds = lang_id(docs, "text", "doc_id").select("doc_id", "pred_lang")
    j = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        preds, "doc_id"
    )
    cells = j.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    marg = cells.groupBy("true_lang").agg(
        F.sum("n").cast("long").alias("__t")
    )
    return cells.join(F.broadcast(marg), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr("(1000000 * n) div __t").alias("row_share_micro"),
    )


_Q260_SQL = r"""
WITH scores AS (
  SELECT doc_id, lang AS true_lang,
    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b')) AS INTEGER) AS score_en,
    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los)\b')) AS INTEGER) AS score_es,
    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein)\b')) AS INTEGER) AS score_de,
    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|une)\b')) AS INTEGER) AS score_fr
  FROM documents
),
preds AS (
  SELECT true_lang,
    CASE
      WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
      WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
      WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
      WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
      ELSE 'fr'
    END AS pred_lang
  FROM scores
),
cells AS (
  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM preds GROUP BY 1, 2
),
marg AS (SELECT true_lang, SUM(n) AS t FROM cells GROUP BY 1)
SELECT c.true_lang, c.pred_lang, c.n,
  CAST((1000000 * c.n) // m.t AS BIGINT) AS row_share_micro
FROM cells c JOIN marg m USING (true_lang)
"""


def q261_packing_efficiency(spark, sf_dir):
    """Context-window packing efficiency: q106's concat-and-split
    packing (budget 512) rolled up per source — bins used, tokens
    packed, capacity, utilization micro — the sheet that prices the
    padding waste of a packing policy. Window packing is per-group
    (no global sort); the rollup is one aggregation
    (operators/text.py pack_sequences)."""
    from ..operators.text import pack_sequences

    bins = pack_sequences(
        _docs(spark, sf_dir), "text", "doc_id", "source", budget=512
    )
    return bins.groupBy("source").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("bin_tokens").cast("long").alias("tokens_packed"),
        (F.count("*") * F.lit(512)).cast("long").alias("capacity"),
        F.expr(
            "(1000000 * CAST(SUM(bin_tokens) AS BIGINT))"
            " div (COUNT(*) * 512)"
        ).alias("util_micro"),
    )


_Q261_SQL = """
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
binned AS (
  SELECT source,
    CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                - n_tok) / 512.0) AS BIGINT) AS bin_id,
    n_tok
  FROM toks
),
bins AS (
  SELECT source, bin_id, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
  FROM binned GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
  CAST(SUM(bin_tokens) AS BIGINT) AS tokens_packed,
  CAST(COUNT(*) * 512 AS BIGINT) AS capacity,
  CAST((1000000 * SUM(bin_tokens)) // (COUNT(*) * 512) AS BIGINT)
    AS util_micro
FROM bins GROUP BY source
"""


def q262_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster size distribution: q86's connected components
    rolled into (cluster_size, n_clusters) — the shape-of-duplication
    report (a fat tail of large clusters means template floods, a
    mass at size 2 means mirror pairs). Two tiny rollups on the
    cluster relation."""
    from ..operators.dedup import resolve_duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    clusters = resolve_duplicate_clusters(
        pairs, docs.select("doc_id"), "doc_id"
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )


# q86's full component replay with the size histogram appended: the
# recursive CTE body is shared verbatim, only the final SELECT differs
_Q262_SQL = (
    _Q86_SQL[: _Q86_SQL.index("SELECT node AS doc_id")]
    + """, clusters AS (
  SELECT node AS doc_id, MIN(root) AS cluster_id
  FROM reach GROUP BY node
),
csizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY cluster_id
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM csizes GROUP BY cluster_size
"""
)



def q263_calibrated_curation_funnel(spark, sf_dir):
    """Round-9 tiers composed end-to-end the way a curation run chains
    them: (1) within-language percentile calibration of length keeps
    docs >= the 20th percentile (q255's cut, so no language is
    squeezed out by a verbose one); (2) Levenshtein-verified near-dup
    removal at >= 40% similarity, keep-smallest-id (q245's pairs);
    (3) deterministic 5-fold assignment (q244); (4) per-(lang, fold)
    document/token inventory. Every stage integer-exact, the oracle
    replays all four in one statement."""
    from ..operators.dedup import edit_distance_pairs
    from ..operators.sampling import kfold_assign, percentile_normalize

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "text",
        F.expr(f"size({words})").cast("long").alias("n_words"),
    )
    calibrated = percentile_normalize(docs, "lang", "n_words").filter(
        F.col("pct_micro") >= 200000
    )
    dups = (
        edit_distance_pairs(
            calibrated, "text", "doc_id", k=5, min_sim_milli=400
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = calibrated.join(dups, "doc_id", "left_anti")
    folded = kfold_assign(kept, "doc_id", n_folds=5)
    return folded.groupBy("lang", "fold").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )


_Q263_SQL = """
WITH docs AS (
  SELECT doc_id, lang, text,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS n_words
  FROM documents
),
calibrated AS (
  SELECT * FROM (
    SELECT doc_id, lang, text, n_words,
      CASE WHEN COUNT(*) OVER (PARTITION BY lang) > 1
        THEN (1000000 *
              (RANK() OVER (PARTITION BY lang ORDER BY n_words) - 1))
             // (COUNT(*) OVER (PARTITION BY lang) - 1)
        ELSE 0 END AS pct
    FROM docs)
  WHERE pct >= 200000
),
keyed AS (
  SELECT doc_id,
    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
    list_min([md5(array_to_string(ws[i:i + 4], ' '))
              FOR i IN range(1, greatest(len(ws) - 4, 1) + 1)]) AS key
  FROM (
    SELECT doc_id, text,
      [x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
       IF x <> ''] AS ws
    FROM calibrated)
),
ok_keys AS (
  SELECT key FROM keyed GROUP BY key
  HAVING COUNT(*) > 1 AND COUNT(*) <= 1000
),
dups AS (
  SELECT DISTINCT b.doc_id
  FROM keyed a JOIN ok_keys USING (key)
  JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id
  WHERE greatest(len(a.norm), len(b.norm)) > 0
    AND 1000 - (1000 * levenshtein(a.norm, b.norm))
        // greatest(len(a.norm), len(b.norm)) >= 400
),
kept AS (
  SELECT c.* FROM calibrated c LEFT JOIN dups d USING (doc_id)
  WHERE d.doc_id IS NULL
),
folded AS (
  SELECT lang, n_words,
    CAST(CAST('0x' || substr(md5('fold-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
         AS BIGINT) % 5 AS BIGINT) AS fold
  FROM kept
)
SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens
FROM folded GROUP BY lang, fold
"""



def q264_release_manifest(spark, sf_dir):
    """Reproducible-release manifest: per deterministic train/test
    split (q153's md5 device, 80/20), document and token inventories
    plus an ORDER-FREE integrity checksum — bit_xor over each doc's
    60-bit content hash (XOR commutes, never overflows, and any
    changed/missing/extra document flips it), so two independently
    produced releases can be compared without sorting or
    concatenating anything at any scale. One map-only projection +
    one split-keyed aggregation."""
    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    from ..operators.sampling import deterministic_split

    d = deterministic_split(
        _docs(spark, sf_dir), "doc_id", train_frac=0.8
    ).select(
        "split",
        F.expr(f"size({words})").cast("long").alias("__nw"),
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '|',"
            " text)), 1, 15), 16, 10) AS BIGINT)"
        ).alias("__h"),
    )
    return d.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__nw").cast("long").alias("n_tokens"),
        F.expr("bit_xor(__h)").cast("long").alias("content_checksum"),
    )


_Q264_SQL = """
WITH d AS (
  SELECT
    CASE WHEN substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
              < 'cccccccd'
         THEN 'train' ELSE 'test' END AS split,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS nw,
    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text),
                             1, 15) AS BIGINT) AS BIGINT) AS h
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nw) AS BIGINT) AS n_tokens,
  CAST(bit_xor(h) AS BIGINT) AS content_checksum
FROM d GROUP BY split
"""


def q265_semdedup_centroid_prune(spark, sf_dir):
    """SemDeDup with the PAPER's survivor rule (Abbas et al. 2023,
    arXiv:2303.09540 §3): within each near-duplicate group keep the
    member with the LOWEST cosine to its cluster centroid — the
    farthest-from-centroid exemplar, preserving cluster diversity —
    instead of q113's cheaper min-id rule. Same cluster-confined
    quadratic step (one cell-keyed self-join, never cross-cluster),
    plus one per-cell centroid aggregation and a broadcast join for
    the priority cosines. The oracle replays the full pipeline
    (unrolled k-means CTE, final-centroid recompute, 1e-9-rounded
    priority and pair cosines), so the verdict is value-exact
    (operators/similarity.py semantic_dedup, keep='centroid_far')."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir),
        n_cells=8,
        threshold=0.45,
        iterations=2,
        dim=64,
        keep="centroid_far",
    )


_Q265_MEANS = ", ".join(f"ROUND(avg(v[{i + 1}]), 9)" for i in range(64))
_Q265_SQL = (
    _kmeans_cte_sql()
    + f""",
c2 AS (SELECT cell_id, [{_Q265_MEANS}] AS cv FROM a1 GROUP BY cell_id),
m AS (
  SELECT a1.vec_id, a1.v, a1.cell_id,
    ROUND({_cos_sql('a1.v', 'c2.cv')}, 9) AS csim
  FROM a1 JOIN c2 USING (cell_id)
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cell_id = b.cell_id
    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
  WHERE ROUND({_cos_sql('a.v', 'b.v')}, 9) >= 0.45
)
SELECT m.vec_id, m.cell_id, d.vec_id IS NULL AS kept
FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
"""
)


def q266_semdedup_arrow(spark, sf_dir):
    """q265's centroid_far SemDeDup through the Arrow/BLAS engine: one
    applyInPandas per k-means cell computes the full cell similarity
    matrix with a single GEMM and applies the same one-pass
    higher-priority prune — the throughput path the paper runs per
    cluster at web scale. Pair cosines rounded to 1e-6 (q44 precedent)
    so the SQL oracle replays the verdicts despite BLAS summation
    order (operators/similarity.py semantic_dedup, engine='arrow')."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir),
        n_cells=8,
        threshold=0.45,
        iterations=2,
        dim=64,
        keep="centroid_far",
        engine="arrow",
    )


_Q266_SQL = (
    _kmeans_cte_sql()
    + f""",
c2 AS (SELECT cell_id, [{_Q265_MEANS}] AS cv FROM a1 GROUP BY cell_id),
m AS (
  SELECT a1.vec_id, a1.v, a1.cell_id,
    ROUND({_cos_sql('a1.v', 'c2.cv')}, 9) AS csim
  FROM a1 JOIN c2 USING (cell_id)
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cell_id = b.cell_id
    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
  WHERE ROUND({_cos_sql('a.v', 'b.v')}, 6) >= 0.45
)
SELECT m.vec_id, m.cell_id, d.vec_id IS NULL AS kept
FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
"""
)


def q267_mp4_track_walk(spark, sf_dir):
    """Video-shard ingestion (the MP4/ISO-BMFF container tier): a
    deterministic minimal-but-valid MP4 corpus is synthesized per
    document id (ftyp + mdat + moov with alternating avc1/mp4a tracks
    and full stsd/stts/stsz/stsc/stco — plus stss keyframe tables on
    video tracks) and decode_mp4_tracks walks the box tree back —
    per-track codec, timescale, sample count/duration, byte totals,
    and the keyframe index recovered exactly, with stco offsets
    validated against the mdat span. No codec decode; both steps are
    map-only mapInPandas and payloads never visit the driver. The
    oracle states the track arithmetic relationally
    (operators/multimodal.py synthesize_mp4_corpus /
    decode_mp4_tracks)."""
    from ..operators.multimodal import (
        decode_mp4_tracks,
        synthesize_mp4_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_mp4_tracks(synthesize_mp4_corpus(docs))


_Q267_SQL = """
WITH t AS (
  SELECT doc_id, CAST(i AS INTEGER) AS track_idx,
    (doc_id + i) % 2 = 0 AS is_video,
    5 + (doc_id * 3 + i * 7) % 20 AS ns,
    100 + (doc_id + i) % 50 AS delta,
    1 + (doc_id + i) % 5 AS k
  FROM documents, UNNEST(range(0, 1 + doc_id % 3)) u(i)
),
sb AS (
  SELECT doc_id, track_idx,
    CAST(SUM(20 + (doc_id + track_idx + j) % 30) AS BIGINT) AS sample_bytes
  FROM t, UNNEST(range(0, ns)) v(j)
  GROUP BY doc_id, track_idx
)
SELECT t.doc_id AS media_id, t.track_idx,
  CAST(t.track_idx + 1 AS BIGINT) AS track_id,
  CASE WHEN is_video THEN 'vide' ELSE 'soun' END AS handler,
  CASE WHEN is_video THEN 'avc1' ELSE 'mp4a' END AS codec,
  CAST(600 + 100 * ((t.doc_id + t.track_idx) % 3) AS BIGINT) AS timescale,
  CAST(ns AS BIGINT) AS n_samples,
  CAST(ns * delta AS BIGINT) AS duration,
  sb.sample_bytes,
  CASE WHEN is_video THEN CAST((ns + k - 1) // k AS BIGINT) END
    AS n_keyframes,
  CASE WHEN is_video THEN CAST(1 AS BIGINT) END AS first_keyframe,
  CASE WHEN is_video THEN CAST(1 + k * ((ns - 1) // k) AS BIGINT) END
    AS last_keyframe
FROM t JOIN sb USING (doc_id, track_idx)
"""


def _byte_bpe_merges(spark, sf_dir):
    """The learned byte-level merges, memoized like :func:`_bpe_merges`."""
    from ..operators.tokenizer import train_bpe_merges

    def train():
        merges = train_bpe_merges(
            _docs(spark, sf_dir), "text", n_merges=_BPE_N_MERGES,
            alphabet="byte",
        )
        return merges.collect(), []

    return memo(spark, ("byte_bpe", sf_dir), train)


def q268_byte_bpe_train(spark, sf_dir):
    """Learn the top-8 BYTE-LEVEL BPE merges (the GPT-2 convention:
    seed symbols are the lowercase-hex UTF-8 bytes of each PRE-TOKEN,
    so the alphabet is <= 256 entries, multi-byte characters split
    across symbols, and byte fallback makes an unknown token
    impossible) — q190's sibling with the production vocab type.
    Pre-tokenization is the published GPT-2 regex (contractions,
    optionally-space-prefixed category runs, case-preserving), stated
    lookahead-free so BOTH engines run the identical segmentation
    (tokenizer.GPT2_PRETOKEN_REGEX / gpt2_words_duck_expr). Identical
    merge loop and scale shape (one corpus shuffle,
    vocabulary-relation rounds); value-exact against the fully
    unrolled SQL replay (operators/tokenizer.py train_bpe_merges,
    alphabet='byte', pretokenize='gpt2' default)."""
    from ..operators.tokenizer import MERGE_SCHEMA

    return spark.createDataFrame(_byte_bpe_merges(spark, sf_dir), MERGE_SCHEMA)


_Q268_SQL = (
    _bpe_train_ctes(alphabet="byte")
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, a AS lhs, b AS rhs,"
        f" a || b AS merged, CAST(weight AS BIGINT) AS weight FROM m{r}"
        for r in range(1, _BPE_N_MERGES + 1)
    )
)


def q269_byte_bpe_encode(spark, sf_dir):
    """Encode every document with q268's byte-level merges and report
    per-doc token counts plus the exact UTF-8 byte total. Under the
    GPT-2 pre-tokenizer the pre-tokens PARTITION the text (whitespace
    included), so n_bytes = what unhex(concat(tokens)) reproduces =
    the byte length of the WHOLE document — the byte-fallback
    round-trip invariant stated relationally. Training is the q268
    loop; encoding is MAP-ONLY (one shallow HOF layer per merge, zero
    shuffles at any corpus size). The oracle replays training AND
    encoding (operators/tokenizer.py bpe_encode, alphabet='byte',
    pretokenize='gpt2' default)."""
    from ..operators.tokenizer import bpe_encode

    docs = _docs(spark, sf_dir)
    pairs = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    enc = bpe_encode(docs, "text", "doc_id", pairs, alphabet="byte")
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size(F.array_distinct("tokens")).cast("long").alias("n_types"),
        (
            F.aggregate(
                "tokens",
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t).cast("long"),
            )
            / F.lit(2)
        )
        .cast("long")
        .alias("n_bytes"),
    )


def _q269_sql() -> str:
    from ..operators.tokenizer import gpt2_words_duck_expr

    chain = (
        "list_transform([lower(hex(encode(x)))], h ->"
        " [substr(h, 2*i - 1, 2) FOR i IN range(1, len(h)//2 + 1)])[1]"
    )
    for r in range(1, _BPE_N_MERGES + 1):
        chain = _bpe_duck_layer(chain, r)
    froms = " ".join(
        f"LEFT JOIN m{r} ON TRUE" for r in range(1, _BPE_N_MERGES + 1)
    )
    return (
        _bpe_train_ctes(alphabet="byte")
        + f""",
enc AS (
  SELECT doc_id,
    flatten(list_transform(
      {gpt2_words_duck_expr("text")},
      x -> {chain})) AS tokens
  FROM documents {froms}
)
SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_types,
       CAST(COALESCE(list_sum([CAST(len(t) AS BIGINT) FOR t IN tokens]), 0)
            // 2 AS BIGINT) AS n_bytes
FROM enc
"""
    )


_Q269_SQL = _q269_sql()


def q271_keyframe_sampling_plan(spark, sf_dir):
    """Uniform keyframe sampling plan over q267's MP4 track walk: for
    each video track, up to 4 keyframes spread evenly across the stss
    sync list, with exact sample numbers and microsecond presentation
    offsets (all integral division) — the seek plan a frame-sampling
    pipeline hands its fetch/decode stage so nothing else in the mdat
    is ever read. Map-only explode bounded by slots x video tracks
    (operators/multimodal.py keyframe_sampling_plan)."""
    from ..operators.multimodal import (
        decode_mp4_tracks,
        keyframe_sampling_plan,
        synthesize_mp4_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    tracks = decode_mp4_tracks(synthesize_mp4_corpus(docs))
    return keyframe_sampling_plan(tracks, n_slots=4)


_Q271_SQL = """
WITH t AS (
  SELECT doc_id, CAST(i AS INTEGER) AS track_idx,
    5 + (doc_id * 3 + i * 7) % 20 AS ns,
    100 + (doc_id + i) % 50 AS delta,
    600 + 100 * ((doc_id + i) % 3) AS tsc,
    1 + (doc_id + i) % 5 AS k
  FROM documents, UNNEST(range(0, 1 + doc_id % 3)) u(i)
  WHERE (doc_id + i) % 2 = 0
),
v AS (
  SELECT doc_id, track_idx, ns, delta, tsc, k,
    (ns + k - 1) // k AS nk
  FROM t
),
s AS (
  SELECT doc_id, track_idx, ns, delta, tsc, k, nk,
    CAST(j AS INTEGER) AS slot,
    LEAST(4, nk) AS m
  FROM v, UNNEST(range(0, LEAST(4, nk))) w(j)
),
p AS (
  SELECT doc_id, track_idx, slot,
    CAST(CASE WHEN m > 1 THEN (slot * (nk - 1)) // (m - 1)
         ELSE 0 END AS BIGINT) AS keyframe_ordinal,
    ns, delta, tsc, k, nk, m
  FROM s
)
SELECT doc_id AS media_id, track_idx, slot, keyframe_ordinal,
  CAST(1 + k * keyframe_ordinal AS BIGINT) AS sample_number,
  CAST(((1 + k * keyframe_ordinal - 1) * delta * 1000000) // tsc
       AS BIGINT) AS time_offset_micros
FROM p
"""


def q272_semantic_curation_report(spark, sf_dir):
    """Semantic-dedup curation report: q265's centroid_far SemDeDup
    verdicts joined back to the document relation and rolled up per
    source — docs kept/dropped and the exact token inventory each way,
    plus the kept-token share as a micro-integer. The
    which-sources-lose-mass observability sheet a curation run reads
    after the semantic pass (q263/q264 pattern). One broadcast-sized
    verdict join + one source-keyed aggregation beyond the q265
    pipeline."""
    from ..operators.similarity import semantic_dedup

    words = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    verdicts = semantic_dedup(
        _emb(spark, sf_dir),
        n_cells=8,
        threshold=0.45,
        iterations=2,
        dim=64,
        keep="centroid_far",
    ).select(F.col("vec_id").alias("doc_id"), "kept")
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(f"size({words})").cast("long").alias("__nw")
    )
    j = d.join(verdicts, "doc_id")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("kept"), F.col("__nw")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.sum(F.when(~F.col("kept"), F.col("__nw")).otherwise(0))
        .cast("long")
        .alias("tokens_dropped"),
        F.expr(
            "CAST((1000000 * SUM(IF(kept, __nw, 0)))"
            " DIV GREATEST(SUM(__nw), 1) AS BIGINT)"
        ).alias("kept_share_micro"),
    )


_Q272_SQL = (
    _kmeans_cte_sql()
    + f""",
c2 AS (SELECT cell_id, [{_Q265_MEANS}] AS cv FROM a1 GROUP BY cell_id),
m AS (
  SELECT a1.vec_id, a1.v, a1.cell_id,
    ROUND({_cos_sql('a1.v', 'c2.cv')}, 9) AS csim
  FROM a1 JOIN c2 USING (cell_id)
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cell_id = b.cell_id
    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
  WHERE ROUND({_cos_sql('a.v', 'b.v')}, 9) >= 0.45
),
verdicts AS (
  SELECT m.vec_id AS doc_id, d.vec_id IS NULL AS kept
  FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
),
dd AS (
  SELECT doc_id, source,
    CAST(len([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
              IF x <> '']) AS BIGINT) AS nw
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN kept THEN nw ELSE 0 END) AS BIGINT) AS tokens_kept,
  CAST(SUM(CASE WHEN kept THEN 0 ELSE nw END) AS BIGINT) AS tokens_dropped,
  CAST((1000000 * SUM(CASE WHEN kept THEN nw ELSE 0 END))
       // GREATEST(SUM(nw), 1) AS BIGINT) AS kept_share_micro
FROM dd JOIN verdicts USING (doc_id)
GROUP BY source
"""
)


def q273_warc_record_walk(spark, sf_dir):
    """Web-crawl shard ingestion (the WARC/ISO-28500 container tier —
    how CommonCrawl-style corpora actually arrive): a deterministic
    WARC corpus is synthesized per document id (one warcinfo head
    record + 1 + id%3 response records with CRLF framing) and
    decode_warc_records walks the records back — types, target URIs,
    content lengths, payload md5s — with the framing enforced
    (truncated bodies, missing Content-Length, or missing CRLFCRLF
    terminators raise with the media id). Both steps map-only
    mapInPandas; the oracle states the record arithmetic relationally
    (operators/multimodal.py synthesize_warc_corpus /
    decode_warc_records)."""
    from ..operators.multimodal import (
        decode_warc_records,
        synthesize_warc_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_warc_records(synthesize_warc_corpus(docs))


_Q273_SQL = """
SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
  'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
  CAST(28 AS BIGINT) AS content_length,
  md5('software: synthetic-warc/1.0') AS payload_md5
FROM documents
UNION ALL
SELECT doc_id AS media_id, CAST(i + 1 AS INTEGER) AS record_idx,
  'response' AS warc_type,
  'http://site-' || CAST(doc_id % 50 AS VARCHAR) || '.test/page/'
    || CAST(i AS VARCHAR) AS target_uri,
  CAST(30 + (doc_id * 11 + i * 17) % 90 AS BIGINT) AS content_length,
  md5(repeat(chr(97 + CAST((doc_id + i) % 26 AS INTEGER)),
             CAST(30 + (doc_id * 11 + i * 17) % 90 AS INTEGER)))
    AS payload_md5
FROM documents, UNNEST(range(0, 1 + doc_id % 3)) t(i)
"""


def q274_url_dedup(spark, sf_dir):
    """URL-level dedup — the FIRST dedup tier of a web pipeline,
    before any text processing: four deterministic messy variants of
    each base page (uppercase host + default port + tracking params +
    fragment + trailing slash + shuffled param order) are synthesized
    per document id, canonicalized by the module's stated rules, and
    deduplicated keeping the min-id row per canonical URL. The oracle
    states each variant's canonical form analytically (the q251/q267
    pattern: the synthesis arithmetic is the spec) and replays the
    min-id verdicts — so the whole normalization expression is
    value-checked end to end (operators/web.py normalize_urls /
    url_dedup)."""
    from ..operators.web import url_dedup

    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 4 AS INT)"
            " WHEN 0 THEN 'HTTP://Site-' || CAST(doc_id % 97 AS STRING)"
            "   || '.COM:80/p/' || CAST(doc_id % 97 AS STRING)"
            "   || '/?b=2&a=1&utm_source=x#frag'"
            " WHEN 1 THEN 'http://site-' || CAST(doc_id % 97 AS STRING)"
            "   || '.com/p/' || CAST(doc_id % 97 AS STRING) || '?a=1&b=2'"
            " WHEN 2 THEN 'http://site-' || CAST(doc_id % 97 AS STRING)"
            "   || '.com:80/p/' || CAST(doc_id % 97 AS STRING)"
            "   || '/?fbclid=q&a=1&b=2'"
            " ELSE 'http://site-' || CAST(doc_id % 97 AS STRING)"
            "   || '.com/other/' || CAST(doc_id % 97 AS STRING)"
            " END"
        ).alias("url"),
    )
    return url_dedup(urls, "url", "doc_id")


_Q274_SQL = """
WITH u AS (
  SELECT doc_id,
    'http://site-' || CAST(doc_id % 97 AS VARCHAR) || '.com'
    || CASE WHEN doc_id % 4 <= 2
       THEN '/p/' || CAST(doc_id % 97 AS VARCHAR) || '?a=1&b=2'
       ELSE '/other/' || CAST(doc_id % 97 AS VARCHAR) END AS url_norm
  FROM documents
)
SELECT doc_id, url_norm,
  doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS kept
FROM u
"""


_Q275_HTML_SYNTH_SPARK = (
    "'<html><head><title>Doc</title>"
    "<style type=\"text/css\">p { color: red; }</style>"
    "<script>var x = 1 < 2 && doc;</script></head>"
    "<body><!-- comment ' || CAST(doc_id AS STRING) || ' -->"
    "<h1>Doc ' || CAST(doc_id AS STRING) || '</h1>"
    "<p class=\"main\">' || text || '</p>"
    "<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&#39;"
    " &amp;lt;kept&amp;gt;</p></body></html>'"
)


def q275_html_text_extract(spark, sf_dir):
    """HTML -> text extraction over a deterministic page wrapper
    (title/style/script/comment boilerplate + the document text + an
    entity sampler including the double-escaped &amp;lt; case): the
    fixed regexp_replace chain drops script/style WITH content, strips
    comments and tags, decodes the five basic entities (&amp; last so
    double-escapes surface as the literal entity), and collapses
    whitespace. Map-only, zero Python; the oracle replays the exact
    same chain (both regex dialects agree on these patterns), so the
    extractor is value-checked end to end
    (operators/web.py html_extract_text)."""
    from ..operators.web import html_extract_text

    pages = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q275_HTML_SYNTH_SPARK).alias("html")
    )
    return html_extract_text(pages, "html", "doc_id")


_Q275_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    '<html><head><title>Doc</title>'
    || '<style type="text/css">p { color: red; }</style>'
    || '<script>var x = 1 < 2 && doc;</script></head>'
    || '<body><!-- comment ' || CAST(doc_id AS VARCHAR) || ' -->'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<p class="main">' || text || '</p>'
    || '<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&#39;'
    || ' &amp;lt;kept&amp;gt;</p></body></html>' AS html
  FROM documents
),
x AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(
      html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&amp;', '&', 'g'),
      '\s+', ' ', 'g')) AS text
  FROM pages
)
SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars FROM x
"""


def q276_fmp4_fragment_walk(spark, sf_dir):
    """Fragmented-MP4 integrity walk (the CMAF/DASH delivery shape —
    streaming video shards arrive as moof+mdat pairs, not a single
    moov-indexed file): a deterministic fMP4 corpus is synthesized per
    document id (init segment + 1 + id%3 fragments) and
    decode_fmp4_fragments walks the pairs back — mfhd sequence
    numbers, tfhd track ids, trun sample counts/durations/byte totals
    — validating each trun's byte total against its paired mdat's
    actual size (over-promising truns, unpaired moofs, malformed
    boxes raise with the media id). Map-only both ways; the oracle
    states the fragment arithmetic relationally
    (operators/multimodal.py synthesize_fmp4_corpus /
    decode_fmp4_fragments)."""
    from ..operators.multimodal import (
        decode_fmp4_fragments,
        synthesize_fmp4_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_fmp4_fragments(synthesize_fmp4_corpus(docs))


_Q276_SQL = """
WITH f AS (
  SELECT doc_id, CAST(i AS BIGINT) AS fragment_seq,
    3 + (doc_id + 7 * i) % 6 AS ns,
    50 + (doc_id + i) % 20 AS delta
  FROM documents, UNNEST(range(1, 2 + doc_id % 3)) u(i)
),
sb AS (
  SELECT doc_id, fragment_seq,
    CAST(SUM(10 + (doc_id + fragment_seq + j) % 15) AS BIGINT)
      AS sample_bytes
  FROM f, UNNEST(range(0, ns)) v(j)
  GROUP BY doc_id, fragment_seq
)
SELECT f.doc_id AS media_id, f.fragment_seq,
  CAST(1 AS BIGINT) AS track_id,
  CAST(ns AS BIGINT) AS n_samples,
  CAST(ns * delta AS BIGINT) AS duration,
  sb.sample_bytes
FROM f JOIN sb USING (doc_id, fragment_seq)
"""


def q277_web_ingestion_pipeline(spark, sf_dir):
    """The whole web-ingestion tier END TO END in one statement —
    exactly the flow a crawl corpus takes: deterministic single-page
    WARC shards (messy URLs + HTML bodies) -> record walk WITH
    payloads -> HTML text extraction -> URL canonicalization ->
    URL-level dedup (min-id per canonical) -> per-registered-domain
    report (pages fetched, unique canonical URLs, pages kept, exact
    chars kept). Every stage is the already-oracle-pinned operator
    (q273/q275/q274) composed; the oracle rebuilds the same pages and
    canonical forms relationally and replays the rollup, so the full
    pipeline — WARC framing round-trip included — is value-exact
    (operators/multimodal.py synthesize_crawl_warc_corpus /
    decode_warc_records(include_payload), operators/web.py
    html_extract_text / normalize_urls)."""
    from ..operators.multimodal import (
        decode_warc_records,
        synthesize_crawl_warc_corpus,
    )
    from ..operators.web import html_extract_text, normalize_urls

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recs = decode_warc_records(
        synthesize_crawl_warc_corpus(docs), include_payload=True
    ).filter(F.col("warc_type") == "response")
    extracted = html_extract_text(recs, "payload_text", "media_id")
    urls = normalize_urls(
        recs.select("media_id", "target_uri"), "target_uri", "media_id"
    )
    page = extracted.join(urls, "media_id").select(
        "media_id", "n_chars", "url_norm", "registered_domain"
    )
    keepers = page.groupBy("url_norm").agg(
        F.min("media_id").alias("__keep_id")
    )
    verdicts = page.join(keepers, "url_norm").withColumn(
        "kept", F.col("media_id") == F.col("__keep_id")
    )
    return verdicts.groupBy("registered_domain").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("url_norm").cast("long").alias("n_unique_urls"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )


_Q277_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    doc_id % 97 AS b,
    '<html><head><title>Doc</title>'
    || '<style type="text/css">p { color: red; }</style>'
    || '<script>var x = 1 < 2 && doc;</script></head>'
    || '<body><!-- comment ' || CAST(doc_id AS VARCHAR) || ' -->'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<p class="main">' || text || '</p>'
    || '<p>Fish &amp; chips &lt;tag&gt; &quot;q&quot; &#39;s&#39;'
    || ' &amp;lt;kept&amp;gt;</p></body></html>' AS html
  FROM documents
),
x AS (
  SELECT doc_id, b,
    'http://site-' || CAST(b AS VARCHAR) || '.com'
    || CASE WHEN doc_id % 4 <= 2
       THEN '/p/' || CAST(b AS VARCHAR) || '?a=1&b=2'
       ELSE '/other/' || CAST(b AS VARCHAR) END AS url_norm,
    'site-' || CAST(b AS VARCHAR) || '.com' AS registered_domain,
    CAST(LENGTH(trim(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
      html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '<[^>]*>', ' ', 'g'),
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&amp;', '&', 'g'),
      '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
  FROM pages
),
v AS (
  SELECT doc_id, url_norm, registered_domain, n_chars,
    doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS kept
  FROM x
)
SELECT registered_domain, CAST(COUNT(*) AS BIGINT) AS n_pages,
  CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_unique_urls,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
    AS chars_kept
FROM v GROUP BY registered_domain
"""


def _perceptron_weights(spark, sf_dir):
    """The trained perceptron weights, memoized like :func:`_bpe_merges`."""
    from ..operators.stats import perceptron_train

    def train():
        weights = perceptron_train(
            _docs(spark, sf_dir).withColumn("is_en", F.col("lang") == "en"),
            "text", "is_en", "doc_id", dim=64, epochs=3,
        )
        return weights.collect(), []

    return memo(spark, ("perceptron", sf_dir), train)


_Q278_FEATS_CTE = """
WITH lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
  FROM documents
),
f AS (
  SELECT doc_id,
    CAST(CAST('0x' || substr(md5(w), 1, 6) AS BIGINT) % 64 AS INTEGER)
      AS bin,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id,
          unnest([x FOR x IN string_split_regex(lower(trim(text)), '\\s+')
                  IF x <> '']) AS w
        FROM documents)
  GROUP BY doc_id, bin
),
fy AS (SELECT f.doc_id, f.bin, f.cnt, lab.y FROM f JOIN lab USING (doc_id)),
w1 AS (
  SELECT bin, CAST(SUM(y * cnt) AS BIGINT) AS weight FROM fy GROUP BY bin
),
m2 AS (
  SELECT fy.doc_id, fy.y, SUM(COALESCE(w1.weight, 0) * fy.cnt) AS m
  FROM fy LEFT JOIN w1 USING (bin) GROUP BY fy.doc_id, fy.y
),
d2 AS (
  SELECT bin, CAST(SUM(y * cnt) AS BIGINT) AS d FROM fy
  WHERE doc_id IN (SELECT doc_id FROM m2 WHERE y * m <= 0)
  GROUP BY bin
),
w2 AS (
  SELECT COALESCE(w1.bin, d2.bin) AS bin,
    CAST(COALESCE(w1.weight, 0) + COALESCE(d2.d, 0) AS BIGINT) AS weight
  FROM w1 FULL JOIN d2 ON w1.bin = d2.bin
),
m3 AS (
  SELECT fy.doc_id, fy.y, SUM(COALESCE(w2.weight, 0) * fy.cnt) AS m
  FROM fy LEFT JOIN w2 ON fy.bin = w2.bin GROUP BY fy.doc_id, fy.y
),
d3 AS (
  SELECT bin, CAST(SUM(y * cnt) AS BIGINT) AS d FROM fy
  WHERE doc_id IN (SELECT doc_id FROM m3 WHERE y * m <= 0)
  GROUP BY bin
),
w3 AS (
  SELECT COALESCE(w2.bin, d3.bin) AS bin,
    CAST(COALESCE(w2.weight, 0) + COALESCE(d3.d, 0) AS BIGINT) AS weight
  FROM w2 FULL JOIN d3 ON w2.bin = d3.bin
)"""


def q278_perceptron_train(spark, sf_dir):
    """Linear text-classifier TRAINING in the engine: a batch
    perceptron over md5-hashed word-bin counts learning lang=='en'
    from text, 3 epochs, 64 bins — chosen precisely because its
    update rule is an exact INTEGER sum of misclassified feature
    vectors (order-free under any partitioning; logistic gradients
    are float sums no oracle can replay). Per epoch one broadcast
    weight join + one doc-keyed margin aggregation + one <= 64-row
    bounded delta collect. The oracle replays all three epochs as
    unrolled CTEs, bit-for-bit (operators/stats.py
    perceptron_train)."""
    return spark.createDataFrame(
        _perceptron_weights(spark, sf_dir), "dim int, weight long"
    )


_Q278_SQL = (
    _Q278_FEATS_CTE
    + "\nSELECT bin AS dim, weight FROM w3 WHERE weight <> 0\n"
)


def q279_perceptron_eval(spark, sf_dir):
    """Confusion matrix of q278's trained perceptron over its own
    corpus: (true y, predicted sign, exact count, micro share). Zero
    margins and zero-feature docs predict -1 (the tie-negative
    convention). On THIS synthetic corpus the languages share one
    vocabulary pool, so the task is near-inseparable by construction
    and the classifier honestly settles to the majority class — the
    eval sheet shows exactly that (the separable-signal behavior is
    pinned by the pytest toy corpus; the oracle's job here is the
    bit-exact replay of training AND scoring). One broadcast weight
    join + one doc-keyed margin aggregation + a 4-cell rollup
    (operators/stats.py perceptron_eval)."""
    from ..operators.stats import perceptron_eval

    weights = spark.createDataFrame(
        _perceptron_weights(spark, sf_dir), "dim int, weight long"
    )
    return perceptron_eval(
        _docs(spark, sf_dir).withColumn("is_en", F.col("lang") == "en"),
        weights, "text", "is_en", "doc_id", dim=64,
    )


_Q279_SQL = (
    _Q278_FEATS_CTE
    + """,
mf AS (
  SELECT fy.doc_id, SUM(COALESCE(w3.weight, 0) * fy.cnt) AS m
  FROM fy LEFT JOIN w3 ON fy.bin = w3.bin GROUP BY fy.doc_id
),
scored AS (
  SELECT lab.y,
    CASE WHEN COALESCE(mf.m, 0) > 0 THEN 1 ELSE -1 END AS pred
  FROM lab LEFT JOIN mf USING (doc_id)
),
cells AS (
  SELECT y, pred, CAST(COUNT(*) AS BIGINT) AS n FROM scored GROUP BY y, pred
)
SELECT CAST(y AS BIGINT) AS y, CAST(pred AS BIGINT) AS pred, n,
  CAST((1000000 * n) // (SELECT SUM(n) FROM cells) AS BIGINT)
    AS share_micro
FROM cells
"""
)


def q280_http_charset_decode(spark, sf_dir):
    """HTTP-envelope + charset handling for wild crawl shards — the
    first thing real WARC data needs beyond the bare-body walk: each
    response payload is a FULL HTTP message (status line + headers +
    body) and bodies are frequently NOT UTF-8. A five-variant corpus
    (header-declared utf-8 / meta-declared iso-8859-1 with latin-1
    bytes / undeclared latin-1 hitting the fallback / a 404 / an
    application/pdf) is synthesized per document and
    decode_warc_http_responses parses it back: status, media type,
    selected charset WITH provenance (header -> meta sniff -> utf-8
    try -> latin-1), and the decoded body — with non-2xx / non-HTML
    screening stated relationally (NULL charset/body, rows kept). The
    oracle rebuilds every variant's columns analytically, so charset
    selection and both non-UTF-8 decode paths are value-exact
    (operators/multimodal.py synthesize_http_warc_corpus /
    decode_warc_http_responses)."""
    from ..operators.multimodal import (
        decode_warc_http_responses,
        synthesize_http_warc_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return decode_warc_http_responses(synthesize_http_warc_corpus(docs))


_Q280_SQL = """
WITH v AS (
  SELECT doc_id, text, CAST(doc_id % 5 AS INTEGER) AS var,
    'http://site-' || CAST(doc_id % 97 AS VARCHAR) || '.com/p/'
      || CAST(doc_id % 97 AS VARCHAR) AS uri
  FROM documents
),
b AS (
  SELECT doc_id, var, uri,
    CASE var
      WHEN 1 THEN '<html><head><meta charset="iso-8859-1"></head>'
        || '<body><p>' || text || ' café 1</p></body></html>'
      WHEN 2 THEN '<html><body><p>' || text || ' café 2</p></body></html>'
      ELSE '<html><body><p>' || text || '</p></body></html>'
    END AS html,
    CASE var WHEN 3 THEN 404 ELSE 200 END AS status,
    CASE var WHEN 4 THEN 'application/pdf' ELSE 'text/html' END AS ctype,
    CASE var WHEN 0 THEN 'text/html; charset=utf-8'
             WHEN 3 THEN 'text/html; charset=utf-8'
             WHEN 4 THEN 'application/pdf'
             ELSE 'text/html' END AS ctype_full,
    CASE var WHEN 3 THEN '404 Not Found' ELSE '200 OK' END AS status_txt
  FROM v
),
r AS (
  SELECT doc_id, var, uri, status, ctype, status_txt, ctype_full,
    -- body byte count: latin-1 variants are 1 byte/char (char length),
    -- utf-8 variants are octet_length; the pdf body is 9 + 16 bytes
    CASE var
      WHEN 1 THEN LENGTH(html) WHEN 2 THEN LENGTH(html)
      WHEN 4 THEN 25
      ELSE STRLEN(html) END AS body_bytes,
    CASE WHEN var IN (1, 2) THEN html
         WHEN var = 0 THEN html ELSE NULL END AS body_text,
    CASE var WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
             WHEN 2 THEN 'latin-1' ELSE NULL END AS charset,
    CASE var WHEN 0 THEN 'header' WHEN 1 THEN 'meta'
             WHEN 2 THEN 'fallback' ELSE NULL END AS charset_source,
    var <> 4 AS is_html
  FROM b
)
SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
  'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
  CAST(28 AS BIGINT) AS content_length,
  CAST(NULL AS INTEGER) AS http_status, CAST(NULL AS VARCHAR) AS content_type,
  CAST(NULL AS VARCHAR) AS charset, CAST(NULL AS VARCHAR) AS charset_source,
  CAST(NULL AS BOOLEAN) AS is_html, CAST(NULL AS BIGINT) AS body_bytes,
  CAST(NULL AS VARCHAR) AS body_text
FROM documents
UNION ALL
SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS record_idx,
  'response' AS warc_type, uri AS target_uri,
  -- HTTP head: 'HTTP/1.1 ' + status + CRLF + 'Content-Type: ' + ctype
  -- + CRLF + 'X-Crawler: synthetic/1.0' + CRLF + CRLF = 55 fixed chars
  CAST(55 + LENGTH(status_txt) + LENGTH(ctype_full) + body_bytes
       AS BIGINT) AS content_length,
  CAST(status AS INTEGER) AS http_status, ctype AS content_type,
  charset, charset_source, is_html,
  CAST(body_bytes AS BIGINT) AS body_bytes, body_text
FROM r
"""


def q281_registered_domain_psl(spark, sf_dir):
    """Public-suffix registered domains — the correction the
    last-two-labels heuristic needs on any non-US corpus (it buckets
    ``site.co.uk`` under ``co.uk``, corrupting URL-dedup buckets and
    per-domain reports): six host shapes per document (www+co.uk /
    deep multi-sub .com / github.io private registry / deep .com.au /
    an unknown TLD exercising the PSL '*' fallback / ftp+ac.uk) are
    resolved by longest-match broadcast joins against the sample
    suffix relation. Map-only over the corpus — the suffix list is the
    broadcast build side, zero shuffles (plan-tested). The oracle
    states each shape's registered domain analytically
    (operators/web.py with_registered_domain / suffix_relation)."""
    from ..operators.web import normalize_urls, suffix_relation

    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "'http://' || CASE CAST(doc_id % 6 AS INT)"
            " WHEN 0 THEN 'www.shop-' || CAST(doc_id % 31 AS STRING)"
            "   || '.co.uk'"
            " WHEN 1 THEN 'a.b.site-' || CAST(doc_id % 31 AS STRING)"
            "   || '.com'"
            " WHEN 2 THEN 'user-' || CAST(doc_id % 31 AS STRING)"
            "   || '.github.io'"
            " WHEN 3 THEN 'deep.sub.corp-' || CAST(doc_id % 31 AS STRING)"
            "   || '.com.au'"
            " WHEN 4 THEN 'site-' || CAST(doc_id % 31 AS STRING) || '.zz'"
            " ELSE 'ftp.edu-' || CAST(doc_id % 31 AS STRING) || '.ac.uk'"
            " END || '/x?a=1'"
        ).alias("url"),
    )
    return normalize_urls(
        urls, "url", "doc_id", suffixes=suffix_relation(spark)
    ).select("doc_id", "host", "registered_domain")


_Q281_SQL = """
WITH h AS (
  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS v,
    CAST(doc_id % 31 AS VARCHAR) AS b
  FROM documents
)
SELECT doc_id,
  CASE v
    WHEN 0 THEN 'www.shop-' || b || '.co.uk'
    WHEN 1 THEN 'a.b.site-' || b || '.com'
    WHEN 2 THEN 'user-' || b || '.github.io'
    WHEN 3 THEN 'deep.sub.corp-' || b || '.com.au'
    WHEN 4 THEN 'site-' || b || '.zz'
    ELSE 'ftp.edu-' || b || '.ac.uk'
  END AS host,
  CASE v
    WHEN 0 THEN 'shop-' || b || '.co.uk'
    WHEN 1 THEN 'site-' || b || '.com'
    WHEN 2 THEN 'user-' || b || '.github.io'
    WHEN 3 THEN 'corp-' || b || '.com.au'
    WHEN 4 THEN 'site-' || b || '.zz'
    ELSE 'edu-' || b || '.ac.uk'
  END AS registered_domain
FROM h
"""


_Q282_PAGE_SPARK = (
    "'<html><head><title>Doc</title><style>p { color: red; }</style>"
    "</head><body>"
    "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>"
    " <a href=\"/contact\">Contact us</a>"
    " <a href=\"/tips\">Tips &amp; tricks</a></nav>"
    "<h1>Doc ' || CAST(doc_id AS STRING) || '</h1>"
    "<p>' || text || ' this is the body of the page and it has the"
    " usual words</p>"
    "<p>ok</p>"
    "<footer>copyright 2024 acme corp all rights reserved</footer>"
    "</body></html>'"
)

_Q282_PAGE_DUCK = """
    '<html><head><title>Doc</title><style>p { color: red; }</style>'
    || '</head><body>'
    || '<nav><a href="/">Home</a> <a href="/about">About</a>'
    || ' <a href="/contact">Contact us</a>'
    || ' <a href="/tips">Tips &amp; tricks</a></nav>'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<p>' || text || ' this is the body of the page and it has the'
    || ' usual words</p>'
    || '<p>ok</p>'
    || '<footer>copyright 2024 acme corp all rights reserved</footer>'
    || '</body></html>'
"""

# DuckDB replay of the boilerplate_blocks pipeline (same regexes, same
# integer rules) — shared by q282 (block relation) and q283 (doc roll).
_Q282_BLOCKS_CTE = r"""
WITH pages AS (
  SELECT doc_id, {page} AS html FROM documents
),
pre AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g') AS html
  FROM pages
),
split_blocks AS (
  SELECT doc_id,
    string_split_regex(html,
      '(?i)</?(?:p|div|h[1-6]|li|ul|ol|td|tr|th|table|blockquote|pre|br|section|article|header|footer|nav|aside|form)\b[^>]*>'
    ) AS l
  FROM pre
),
raw_blocks AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS block_idx,
    l[CAST(i AS INTEGER)] AS blk
  FROM split_blocks, UNNEST(range(1, len(l) + 1)) u(i)
),
scored AS (
  SELECT doc_id, block_idx,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
      blk,
      '<[^>]*>', ' ', 'g'),
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&amp;', '&', 'g'),
      '\s+', ' ', 'g')) AS text,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(blk, '(?is)<a\b[^>]*>(.*?)</a>', 1),
      x -> length(trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(x,
             '<[^>]*>', ' ', 'g'),
             '&lt;', '<', 'g'),
             '&gt;', '>', 'g'),
             '&quot;', '"', 'g'),
             '&#39;', CHR(39), 'g'),
             '&amp;', '&', 'g'),
             '\s+', ' ', 'g')))
    )), 0) AS BIGINT) AS link_chars
  FROM raw_blocks
),
blocks AS (
  SELECT doc_id, block_idx, text,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         AS BIGINT) AS n_words,
    link_chars,
    CAST(len(list_filter(string_split(lower(text), ' '),
         w -> w IN ({stops}))) AS BIGINT) AS stop_words
  FROM scored WHERE length(text) > 0
),
flagged AS (
  SELECT *,
    n_chars < 30 AS flag_short,
    link_chars * 100 >= n_chars * 34 AS flag_link_heavy,
    n_words >= 5 AND stop_words * 100 < n_words * 15
      AS flag_low_stopword
  FROM blocks
)
"""


def _q282_cte() -> str:
    from ..operators.web import BOILERPLATE_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in BOILERPLATE_STOPWORDS)
    return _Q282_BLOCKS_CTE.format(page=_Q282_PAGE_DUCK, stops=stops)


def q282_boilerplate_blocks(spark, sf_dir):
    """Block-level boilerplate removal (the jusText/Kohlschütter
    text-density layer between raw HTML extraction and the Gopher
    quality filter): a deterministic page wrapper (nav of links /
    heading / stopword-enriched body / a short block / a
    zero-stopword footer) is classified block by block with
    integer-exact link-density + stopword-density + length rules, and
    every audit flag is a column. Map-only (one posexplode, zero
    Python); the oracle replays the whole pipeline — pre-clean, block
    split, per-block text and anchor-char arithmetic, all three rules
    — so every verdict is value-exact (operators/web.py
    boilerplate_blocks)."""
    from ..operators.web import boilerplate_blocks

    pages = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q282_PAGE_SPARK).alias("html")
    )
    return boilerplate_blocks(pages, "html", "doc_id")


def _q282_sql() -> str:
    return _q282_cte() + """
SELECT doc_id, block_idx, text, n_chars, n_words, link_chars,
  stop_words, flag_short, flag_link_heavy, flag_low_stopword,
  NOT (flag_short OR flag_link_heavy OR flag_low_stopword) AS is_content
FROM flagged
"""


def q283_boilerplate_clean_docs(spark, sf_dir):
    """Document-level boilerplate funnel: the q282 block verdicts
    re-assembled per document — surviving blocks concatenated in
    block order plus the block counts a curation report needs. One
    hash aggregation on doc_id after the map-only block stage
    (operators/web.py boilerplate_clean_docs)."""
    from ..operators.web import boilerplate_clean_docs

    pages = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q282_PAGE_SPARK).alias("html")
    )
    return boilerplate_clean_docs(pages, "html", "doc_id")


def _q283_sql() -> str:
    return _q282_cte() + """
SELECT doc_id,
  COALESCE(string_agg(text, ' ' ORDER BY block_idx)
           FILTER (WHERE NOT (flag_short OR flag_link_heavy
                              OR flag_low_stopword)), '')
    AS content_text,
  CAST(COUNT(*) AS BIGINT) AS n_blocks,
  CAST(SUM(CASE WHEN NOT (flag_short OR flag_link_heavy
                          OR flag_low_stopword) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_content_blocks,
  CAST(length(COALESCE(string_agg(text, ' ' ORDER BY block_idx)
       FILTER (WHERE NOT (flag_short OR flag_link_heavy
                          OR flag_low_stopword)), '')) AS BIGINT)
    AS content_chars
FROM flagged GROUP BY doc_id
"""


_Q285_PAGE_SPARK = (
    "'<html><body><h1>Doc ' || CAST(doc_id AS STRING) || '</h1>"
    "<p>' || text || '</p>"
    "<p>&#65;ngstrom &#x48;ex caf&#233; snow &#x2603; emoji &#x1F600;"
    " bad &#0; &#xD800; &#1114112; double &amp;#65;"
    " quote &#34;q&#34; apos &#39;s&#39;</p></body></html>'"
)


def q285_html_numeric_entities(spark, sf_dir):
    """HTML extraction with NUMERIC character-reference decoding
    (&#NNN; / &#xHH;): a page carrying decimal, hex, BMP,
    supplementary-plane (surrogate-pair), invalid (0 / lone surrogate
    / > U+10FFFF -> literal passthrough), and double-escaped
    (&amp;#65; -> literal &#65;) references is extracted with
    decode_numeric_entities=True. Pure built-ins — sentinel-fenced
    split + per-piece codepoint arithmetic, zero Python — and the
    oracle replays the identical staged pipeline with DuckDB's chr(),
    so every decode branch is value-exact (operators/web.py
    _decode_numeric_entities / html_extract_text)."""
    from ..operators.web import html_extract_text

    pages = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q285_PAGE_SPARK).alias("html")
    )
    return html_extract_text(
        pages, "html", "doc_id", decode_numeric_entities=True
    )


_Q285_SQL = r"""
WITH pages AS (
  SELECT doc_id,
    '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
    || '<p>' || text || '</p>'
    || '<p>&#65;ngstrom &#x48;ex caf&#233; snow &#x2603; emoji &#x1F600;'
    || ' bad &#0; &#xD800; &#1114112; double &amp;#65;'
    || ' quote &#34;q&#34; apos &#39;s&#39;</p></body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      html,
      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '<[^>]*>', ' ', 'g') AS t
  FROM pages
),
numdec AS (
  SELECT doc_id,
    array_to_string(list_transform(
      string_split(
        regexp_replace(t, '&#([xX][0-9a-fA-F]{1,6}|[0-9]{1,7});',
                       chr(1) || '\1' || chr(1), 'g'),
        chr(1)),
      (p, i) -> CASE WHEN i % 2 = 1 THEN p ELSE
        CASE WHEN
          (CASE WHEN lower(substr(p, 1, 1)) = 'x'
                THEN CAST('0x' || substr(p, 2) AS BIGINT)
                ELSE CAST(p AS BIGINT) END) >= 1
          AND (CASE WHEN lower(substr(p, 1, 1)) = 'x'
                    THEN CAST('0x' || substr(p, 2) AS BIGINT)
                    ELSE CAST(p AS BIGINT) END) <= 1114111
          AND NOT ((CASE WHEN lower(substr(p, 1, 1)) = 'x'
                         THEN CAST('0x' || substr(p, 2) AS BIGINT)
                         ELSE CAST(p AS BIGINT) END)
                   BETWEEN 55296 AND 57343)
        THEN chr(CAST((CASE WHEN lower(substr(p, 1, 1)) = 'x'
                            THEN CAST('0x' || substr(p, 2) AS BIGINT)
                            ELSE CAST(p AS BIGINT) END) AS INTEGER))
        ELSE '&#' || p || ';' END
      END), '') AS t
  FROM stripped
),
x AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(
      t,
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&amp;', '&', 'g'),
      '\s+', ' ', 'g')) AS text
  FROM numdec
)
SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars FROM x
"""


def q286_warc_gzip_members(spark, sf_dir):
    """The .warc.gz shape — how CommonCrawl actually ships crawl data:
    each WARC record is its OWN gzip member and the members are
    concatenated (record-level members keep shards seekable by
    offset). The q273 corpus is synthesized with per-record gzip
    members (stdlib zlib, deterministic zero-MTIME headers) and walked
    back with compression='gzip' — decompress member chain, then the
    identical record walk, truncated members raising with the media
    id. The oracle is q273's record arithmetic unchanged: compression
    must be invisible to the relational output
    (operators/multimodal.py _gzip_member / _gunzip_members /
    decode_warc_records(compression='gzip'))."""
    from ..operators.multimodal import (
        decode_warc_records,
        synthesize_warc_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_warc_records(
        synthesize_warc_corpus(docs, gzip_records=True),
        compression="gzip",
    )


_Q287_PAGE_SPARK = (
    "'<html><body>"
    "<a href=\"http://site-' || CAST((doc_id % 23 + 1) % 23 AS STRING)"
    " || '.com/x\">next</a>"
    " <a href=\"https://site-' || CAST((doc_id % 23 + 7) % 23 AS STRING)"
    " || '.com/y?z=1\">cross</a>"
    " <a href=\"/local/page\">self</a>"
    " <a href=\"mailto:x@y.test\">mail</a>"
    " <a href=\"relative/path\">rel</a>"
    " <a href=''//cdn-' || CAST(doc_id % 23 % 5 AS STRING)"
    " || '.net/asset''>cdn</a>"
    "</body></html>'"
)


def _q287_links(spark, sf_dir):
    from ..operators.web import extract_outlinks

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_Q287_PAGE_SPARK).alias("html"),
        F.expr(
            "'http://site-' || CAST(doc_id % 23 AS STRING) || '.com/p/'"
            " || CAST(doc_id AS STRING)"
        ).alias("base_url"),
    )
    return extract_outlinks(pages, "html", "doc_id", "base_url")


def q287_outlink_extraction(spark, sf_dir):
    """Anchor extraction + URL resolution — the edge-extraction step
    of the web link graph: six links per page exercise every
    resolution branch (absolute http/https pass-through,
    root-relative and protocol-relative resolved against the base
    URL, mailto: and path-relative stated as NULL), with the
    double-then-single-quote extraction order pinned by link_idx.
    Map-only, zero Python; the oracle states each link analytically
    (operators/web.py extract_outlinks)."""
    return _q287_links(spark, sf_dir)


_Q287_SQL = """
SELECT doc_id, CAST(i AS INTEGER) AS link_idx,
  CASE i
    WHEN 0 THEN 'http://site-' || CAST((doc_id % 23 + 1) % 23 AS VARCHAR)
      || '.com/x'
    WHEN 1 THEN 'https://site-' || CAST((doc_id % 23 + 7) % 23 AS VARCHAR)
      || '.com/y?z=1'
    WHEN 2 THEN '/local/page'
    WHEN 3 THEN 'mailto:x@y.test'
    WHEN 4 THEN 'relative/path'
    ELSE '//cdn-' || CAST(doc_id % 23 % 5 AS VARCHAR) || '.net/asset'
  END AS href,
  CASE i
    WHEN 0 THEN 'http://site-' || CAST((doc_id % 23 + 1) % 23 AS VARCHAR)
      || '.com/x'
    WHEN 1 THEN 'https://site-' || CAST((doc_id % 23 + 7) % 23 AS VARCHAR)
      || '.com/y?z=1'
    WHEN 2 THEN 'http://site-' || CAST(doc_id % 23 AS VARCHAR)
      || '.com/local/page'
    WHEN 5 THEN 'http://cdn-' || CAST(doc_id % 23 % 5 AS VARCHAR)
      || '.net/asset'
    ELSE NULL
  END AS url
FROM documents, UNNEST(range(0, 6)) t(i)
"""


def q288_host_pagerank(spark, sf_dir):
    """PageRank over the registered-domain link graph built from the
    q287 outlinks — the full web-graph composition: extract + resolve
    anchors, map both endpoints to registered domains, drop
    self-loops, and run 5 damped iterations where duplicate
    (src, dst) pairs act as parallel weighted edges. The cdn-*.net
    targets have no outlinks, so the DANGLING-mass redistribution of
    the operator is exercised and value-checked (q199's trade graph
    is symmetric and never hits it); the oracle unrolls the identical
    iterations with an explicit per-round dangling aggregate
    (operators/web.py extract_outlinks + with_registered_domain,
    operators/graph.py pagerank)."""
    from ..operators.graph import pagerank
    from ..operators.web import with_registered_domain

    links = _q287_links(spark, sf_dir).filter(F.col("url").isNotNull())
    links = links.withColumn(
        "src_host",
        F.expr(
            "substring_index(substring_index("
            "  substring(concat('http://site-',"
            "    CAST(doc_id % 23 AS STRING), '.com'), 8), '/', 1),"
            " '?', 1)"
        ),
    ).withColumn(
        "dst_host",
        F.expr(
            "substring_index(substring_index("
            "  substring(url, instr(url, '://') + 3), '/', 1), '?', 1)"
        ),
    )
    links = with_registered_domain(links, "src_host").withColumnRenamed(
        "registered_domain", "src"
    )
    links = with_registered_domain(links, "dst_host").withColumnRenamed(
        "registered_domain", "dst"
    )
    edges = links.filter(F.col("src") != F.col("dst")).select("src", "dst")
    ranks = pagerank(edges, iterations=_PR_ITERATIONS, damping=0.85)
    out = ranks.select("node", F.round("rank", 9).alias("rank"))
    out = out.localCheckpoint(eager=True)
    return out


def _q288_sql() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PR_ITERATIONS + 1):
        iters.append(f"""
d{k} AS (
  SELECT COALESCE(SUM(p.rank), 0) AS m
  FROM {prev} p LEFT JOIN outdeg o ON p.node = o.node
  WHERE o.node IS NULL),
r{k} AS (
  SELECT n.node,
    0.15 / nn.n + 0.85 * (COALESCE(c.contrib, 0) + d{k}.m / nn.n) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN d{k}
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank / o.deg) AS contrib
    FROM e JOIN {prev} p ON e.src = p.node
    JOIN outdeg o ON e.src = o.node
    GROUP BY e.dst
  ) c USING (node))""")
        prev = f"r{k}"
    return (
        """
WITH e AS (
  SELECT 'site-' || CAST(doc_id % 23 AS VARCHAR) || '.com' AS src,
    'site-' || CAST((doc_id % 23 + 1) % 23 AS VARCHAR) || '.com' AS dst
  FROM documents
  UNION ALL
  SELECT 'site-' || CAST(doc_id % 23 AS VARCHAR) || '.com',
    'site-' || CAST((doc_id % 23 + 7) % 23 AS VARCHAR) || '.com'
  FROM documents
  UNION ALL
  SELECT 'site-' || CAST(doc_id % 23 AS VARCHAR) || '.com',
    'cdn-' || CAST(doc_id % 23 % 5 AS VARCHAR) || '.net'
  FROM documents
),
nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst AS node FROM e),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS deg
           FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),"""
        + ",".join(iters)
        + f"""
SELECT node, ROUND(rank, 9) AS rank FROM {prev}
"""
    )


def q289_robots_verdicts(spark, sf_dir):
    """robots.txt parsing + RFC 9309 rule evaluation — the crawl
    pipeline's politeness gate: per-domain robots files (a ``*`` group
    with an allow/disallow pair, a same-length allow/disallow tie, a
    two-user-agent specific group with per-domain paths, comments, an
    empty rule-free Disallow, and the RFC's wildcard forms — a
    ``/*.pdf$`` anchored disallow and a ``/p/*/print`` wildcard allow)
    are parsed positionally and nine URL paths per domain are
    evaluated for TWO crawler tokens — GraftBot (hits the specific
    group; the ``*`` group must be ignored for it) and newbot (falls
    back to ``*``). Longest pattern wins, equal-length ties go to
    allow, no match means allowed, and the ``$`` anchor is honored
    (``/doc.pdfx`` escapes ``/*.pdf$``). One equi-join + one per-URL
    window; the oracle states every verdict analytically
    (operators/web.py parse_robots / robots_verdicts)."""
    from ..operators.web import robots_verdicts

    b = (F.col("doc_id") % 7).cast("string")
    docs = _docs(spark, sf_dir).select("doc_id")
    robots = docs.select(
        "doc_id",
        F.concat(
            F.lit(
                "# synthetic robots\n"
                "User-agent: *\n"
                "Disallow: /private\n"
                "Allow: /private/ok\n"
                "Disallow: /tie\n"
                "Allow: /tie\n"
                "Disallow: /*.pdf$\n"
                "Allow: /p/*/print\n"
                "\n"
                "User-agent: GraftBot\n"
                "User-agent: otherbot2\n"
                "Disallow: /p/"
            ),
            b,
            F.lit("\nAllow: /p/"),
            b,
            F.lit("/keep\nDisallow:\n"),
        ).alias("robots"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(F.lit("/p/"), b),
                F.concat(F.lit("/p/"), b, F.lit("/keep/x")),
                F.lit("/private/z"),
                F.lit("/private/ok/z"),
                F.lit("/other"),
                F.lit("/tie/x"),
                F.lit("/doc.pdf"),
                F.lit("/doc.pdfx"),
                F.concat(F.lit("/p/"), b, F.lit("/print")),
            )
        ).alias("path"),
    )
    out = None
    for crawler in ("GraftBot", "newbot"):
        v = robots_verdicts(
            robots, "robots", urls, "path", "doc_id", crawler
        ).withColumn("crawler", F.lit(crawler.lower()))
        out = v if out is None else out.unionByName(v)
    return out


_Q289_SQL = """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS b FROM documents
),
v AS (
  SELECT doc_id, b, i, crawler FROM d,
    UNNEST(range(0, 9)) t(i),
    (SELECT UNNEST(['graftbot', 'newbot']) AS crawler)
)
SELECT doc_id,
  CASE i
    WHEN 0 THEN '/p/' || b
    WHEN 1 THEN '/p/' || b || '/keep/x'
    WHEN 2 THEN '/private/z'
    WHEN 3 THEN '/private/ok/z'
    WHEN 4 THEN '/other'
    WHEN 5 THEN '/tie/x'
    WHEN 6 THEN '/doc.pdf'
    WHEN 7 THEN '/doc.pdfx'
    ELSE '/p/' || b || '/print'
  END AS path,
  CASE
    WHEN crawler = 'graftbot' AND i IN (0, 8) THEN FALSE
    WHEN crawler = 'newbot' AND i IN (2, 6) THEN FALSE
    ELSE TRUE
  END AS allowed,
  CASE
    WHEN crawler = 'graftbot' AND i IN (0, 8) THEN 'disallow'
    WHEN crawler = 'graftbot' AND i = 1 THEN 'allow'
    WHEN crawler = 'newbot' AND i IN (2, 6) THEN 'disallow'
    WHEN crawler = 'newbot' AND i IN (3, 5, 8) THEN 'allow'
    ELSE NULL
  END AS matched_rule,
  CASE
    WHEN crawler = 'graftbot' AND i IN (0, 8) THEN '/p/' || b
    WHEN crawler = 'graftbot' AND i = 1 THEN '/p/' || b || '/keep'
    WHEN crawler = 'newbot' AND i = 2 THEN '/private'
    WHEN crawler = 'newbot' AND i = 3 THEN '/private/ok'
    WHEN crawler = 'newbot' AND i = 5 THEN '/tie'
    WHEN crawler = 'newbot' AND i = 6 THEN '/*.pdf$'
    WHEN crawler = 'newbot' AND i = 8 THEN '/p/*/print'
    ELSE NULL
  END AS matched_path,
  crawler
FROM v
"""


def q290_crawl_ingestion_report(spark, sf_dir):
    """The hardened crawl-ingestion tier END TO END — every round-11
    layer composed in one statement, exactly the shape a real
    .warc.gz drop takes: gzip member-per-record shards whose response
    payloads carry full HTTP messages (the q280 five-variant corpus)
    -> member-chain decompression + record walk + HTTP envelope parse
    + charset selection -> relational 2xx/HTML screening -> HTML text
    extraction of the decoded bodies -> URL canonicalization -> a
    per-registered-domain ingestion report (responses fetched, ok-html
    pages, charset-provenance counts, exact extracted chars). The
    oracle rebuilds every variant's charset verdict and replays the
    extraction chain, so compression, envelope, charset, and
    extraction are value-checked as ONE pipeline
    (operators/multimodal.py synthesize_http_warc_corpus(gzip) /
    decode_warc_http_responses(compression='gzip'), operators/web.py
    html_extract_text / normalize_urls)."""
    from ..operators.multimodal import (
        decode_warc_http_responses,
        synthesize_http_warc_corpus,
    )
    from ..operators.web import html_extract_text, normalize_urls

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recs = decode_warc_http_responses(
        synthesize_http_warc_corpus(docs, gzip_records=True),
        compression="gzip",
    ).filter(F.col("warc_type") == "response")
    ok = recs.filter(
        (F.col("http_status") >= 200)
        & (F.col("http_status") < 300)
        & F.col("is_html")
    )
    ext = html_extract_text(ok, "body_text", "media_id").select(
        "media_id", F.col("n_chars").alias("__text_chars")
    )
    urls = normalize_urls(
        recs.select("media_id", "target_uri"), "target_uri", "media_id"
    ).select("media_id", "registered_domain")
    page = recs.join(urls, "media_id").join(ext, "media_id", "left")
    return page.groupBy("registered_domain").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.sum(
            F.when(F.col("__text_chars").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_ok_html"),
        F.sum(
            F.when(F.col("charset_source") == "header", 1).otherwise(0)
        ).cast("long").alias("n_header"),
        F.sum(
            F.when(F.col("charset_source") == "meta", 1).otherwise(0)
        ).cast("long").alias("n_meta"),
        F.sum(
            F.when(F.col("charset_source") == "fallback", 1).otherwise(0)
        ).cast("long").alias("n_fallback"),
        F.sum(F.coalesce("__text_chars", F.lit(0)))
        .cast("long")
        .alias("text_chars"),
    )


_Q290_SQL = r"""
WITH v AS (
  SELECT doc_id, text, CAST(doc_id % 5 AS INTEGER) AS var,
    'site-' || CAST(doc_id % 97 AS VARCHAR) || '.com'
      AS registered_domain
  FROM documents
),
b AS (
  SELECT doc_id, var, registered_domain,
    CASE var
      WHEN 1 THEN '<html><head><meta charset="iso-8859-1"></head>'
        || '<body><p>' || text || ' café 1</p></body></html>'
      WHEN 2 THEN '<html><body><p>' || text || ' café 2</p></body></html>'
      ELSE '<html><body><p>' || text || '</p></body></html>'
    END AS html
  FROM v
),
x AS (
  SELECT doc_id, var, registered_domain,
    CASE WHEN var IN (0, 1, 2) THEN
      CAST(LENGTH(trim(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
        html,
        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '<[^>]*>', ' ', 'g'),
        '&lt;', '<', 'g'),
        '&gt;', '>', 'g'),
        '&quot;', '"', 'g'),
        '&#39;', CHR(39), 'g'),
        '&amp;', '&', 'g'),
        '\s+', ' ', 'g'))) AS BIGINT)
    ELSE NULL END AS text_chars
  FROM b
)
SELECT registered_domain,
  CAST(COUNT(*) AS BIGINT) AS n_responses,
  CAST(SUM(CASE WHEN var IN (0, 1, 2) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_ok_html,
  CAST(SUM(CASE WHEN var = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_header,
  CAST(SUM(CASE WHEN var = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
  CAST(SUM(CASE WHEN var = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fallback,
  CAST(SUM(COALESCE(text_chars, 0)) AS BIGINT) AS text_chars
FROM x GROUP BY registered_domain
"""


def q291_frontier_politeness_plan(spark, sf_dir):
    """Crawl-frontier politeness scheduling — the constraint that
    shapes every crawler's fetch order: frontier URLs are
    canonicalized, bucketed by registered domain, and assigned a
    per-domain fetch sequence plus millisecond offset at a 500 ms
    crawl-delay, ascending-id order within each domain. One
    per-domain window; the oracle replays the same ROW_NUMBER
    arithmetic (operators/web.py frontier_plan)."""
    from ..operators.web import frontier_plan

    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "'http://site-' || CAST(doc_id % 13 AS STRING) || '.com/p/'"
            " || CAST(doc_id AS STRING)"
        ).alias("url"),
    )
    return frontier_plan(urls, "url", "doc_id", interval_ms=500)


_Q291_SQL = """
WITH u AS (
  SELECT doc_id, CAST(doc_id % 13 AS VARCHAR) AS b FROM documents
)
SELECT doc_id,
  'http://site-' || b || '.com/p/' || CAST(doc_id AS VARCHAR) AS url_norm,
  'site-' || b || '.com' AS registered_domain,
  CAST(ROW_NUMBER() OVER (PARTITION BY b ORDER BY doc_id) AS INTEGER)
    AS fetch_seq,
  CAST((ROW_NUMBER() OVER (PARTITION BY b ORDER BY doc_id) - 1) * 500
       AS BIGINT) AS fetch_offset_ms
FROM u
"""


def q292_sitemap_parse(spark, sf_dir):
    """Sitemap XML parsing (the sitemaps.org urlset schema — the crawl
    frontier's seed source): per-domain sitemaps with three entries of
    varying optional tags (lastmod on even entries, changefreq on the
    first, priority on two, whitespace-padded loc on the first) plus a
    loc-less block that must be dropped while its index is preserved.
    Map-only regexp extraction; the oracle states every entry
    analytically (operators/web.py parse_sitemap)."""
    from ..operators.web import parse_sitemap

    b = (F.col("doc_id") % 13).cast("string")
    d = F.col("doc_id").cast("string")

    def loc(j):
        return F.concat(
            F.lit("http://site-"), b, F.lit(f".com/p/"), d, F.lit(f"/{j}")
        )

    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc> "), loc(0), F.lit(" </loc>"),
        F.lit(
            "<lastmod>2024-01-01</lastmod>"
            "<changefreq>daily</changefreq>"
            "<priority>0.5</priority></url>"
        ),
        F.lit("<url><loc>"), loc(1), F.lit("</loc></url>"),
        F.lit("<url><loc>"), loc(2), F.lit("</loc>"),
        F.lit(
            "<lastmod>2024-03-01</lastmod>"
            "<priority>0.7</priority></url>"
            "<url><lastmod>2024-01-01</lastmod></url></urlset>"
        ),
    )
    sitemaps = _docs(spark, sf_dir).select(
        "doc_id", xml.alias("xml")
    )
    return parse_sitemap(sitemaps, "xml", "doc_id")


_Q292_SQL = """
WITH u AS (
  SELECT doc_id, CAST(doc_id % 13 AS VARCHAR) AS b,
    CAST(doc_id AS VARCHAR) AS d
  FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS entry_idx,
  'http://site-' || b || '.com/p/' || d || '/' || CAST(i AS VARCHAR)
    AS loc,
  CASE i WHEN 0 THEN '2024-01-01' WHEN 2 THEN '2024-03-01'
         ELSE NULL END AS lastmod,
  CASE i WHEN 0 THEN 'daily' ELSE NULL END AS changefreq,
  CAST(CASE i WHEN 0 THEN 0.5 WHEN 2 THEN 0.7 ELSE NULL END AS DOUBLE)
    AS priority
FROM u, UNNEST(range(0, 3)) t(i)
"""


def q293_frontier_expansion(spark, sf_dir):
    """The crawl LOOP closed: pages already ingested (the q287 corpus
    with its six-link pages) have their outlinks extracted and
    resolved, canonicalized, deduped within the discovery batch
    (min discoverer id per canonical URL), anti-screened against the
    ALREADY-CRAWLED canonical set (the pages' own base URLs — a
    crawler never re-queues what it has), and the surviving frontier
    additions get the per-domain politeness schedule. This is
    discover -> canonicalize -> known-set screen -> schedule, the
    iteration every crawler runs; four already-pinned operators
    composed, one anti-join against the crawled set, one window. The
    oracle restates the surviving link set and its schedule
    analytically (operators/web.py extract_outlinks / normalize_urls /
    frontier_plan)."""
    from ..operators.web import frontier_plan, normalize_urls

    links = _q287_links(spark, sf_dir).filter(F.col("url").isNotNull())
    # canonical discovered URLs, min discoverer per canonical form
    discovered = normalize_urls(links, "url", "doc_id").groupBy(
        "url_norm"
    ).agg(F.min("doc_id").alias("doc_id"))
    # the crawled set: every page's own canonical base URL
    crawled = _docs(spark, sf_dir).select(
        F.expr(
            "'http://site-' || CAST(doc_id % 23 AS STRING) || '.com/p/'"
            " || CAST(doc_id AS STRING)"
        ).alias("url_norm")
    ).distinct()
    fresh = discovered.join(crawled, "url_norm", "left_anti").select(
        "doc_id", F.col("url_norm").alias("url")
    )
    return frontier_plan(fresh, "url", "doc_id", interval_ms=1000)


_Q293_SQL = """
WITH links AS (
  SELECT doc_id,
    'http://site-' || CAST((doc_id % 23 + 1) % 23 AS VARCHAR)
      || '.com/x' AS u
  FROM documents
  UNION ALL
  SELECT doc_id,
    'https://site-' || CAST((doc_id % 23 + 7) % 23 AS VARCHAR)
      || '.com/y?z=1'
  FROM documents
  UNION ALL
  SELECT doc_id,
    'http://site-' || CAST(doc_id % 23 AS VARCHAR) || '.com/local/page'
  FROM documents
  UNION ALL
  SELECT doc_id,
    'http://cdn-' || CAST(doc_id % 23 % 5 AS VARCHAR) || '.net/asset'
  FROM documents
),
discovered AS (
  SELECT u AS url_norm, MIN(doc_id) AS doc_id FROM links GROUP BY u
),
fresh AS (
  -- every crawled base URL is /p/<doc_id>; none of the discovered
  -- paths (/x, /y?z=1, /local/page, /asset) collide with it, so the
  -- anti-join keeps all — stated explicitly so a regression that
  -- DID drop rows would fail the count
  SELECT doc_id, url_norm FROM discovered
  WHERE url_norm NOT IN (
    SELECT 'http://site-' || CAST(doc_id % 23 AS VARCHAR) || '.com/p/'
      || CAST(doc_id AS VARCHAR) FROM documents)
),
n AS (
  SELECT doc_id, url_norm,
    regexp_extract(url_norm, '^https?://([^/?]+)', 1)
      AS registered_domain
  FROM fresh
)
SELECT doc_id, url_norm, registered_domain,
  CAST(ROW_NUMBER() OVER (PARTITION BY registered_domain ORDER BY doc_id)
       AS INTEGER) AS fetch_seq,
  CAST((ROW_NUMBER() OVER (PARTITION BY registered_domain ORDER BY doc_id)
        - 1) * 1000 AS BIGINT) AS fetch_offset_ms
FROM n
"""


def q294_zip_member_walk(spark, sf_dir):
    """ZIP container walk (the APPNOTE spec implemented byte-by-byte,
    like the TAR/MP4/WARC tiers — datasets ship as zip archives
    constantly): deterministic archives with mixed STORED and raw-
    DEFLATE members are synthesized per document and walked back FROM
    THE CENTRAL DIRECTORY (the spec's source of truth), each member's
    local header cross-checked and its CRC-32 and declared sizes
    validated during extraction — corruption raises with the media
    id. Compressed size is implementation-defined for deflate, so the
    relational contract carries names, methods, uncompressed sizes,
    and content md5s, all stated analytically by the oracle
    (operators/multimodal.py synthesize_zip_corpus /
    decode_zip_members)."""
    from ..operators.multimodal import (
        decode_zip_members,
        synthesize_zip_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_zip_members(synthesize_zip_corpus(docs))


_Q294_SQL = """
SELECT doc_id AS media_id, CAST(j AS INTEGER) AS member_idx,
  'doc' || CAST(doc_id AS VARCHAR) || '/part' || CAST(j AS VARCHAR)
    || '.txt' AS name,
  CASE WHEN (doc_id + j) % 2 = 0 THEN 'stored' ELSE 'deflate' END
    AS method,
  CAST(20 + (doc_id * 7 + j * 13) % 60 AS BIGINT) AS uncompressed_size,
  md5(repeat(chr(97 + CAST((doc_id + j) % 26 AS INTEGER)),
             CAST(20 + (doc_id * 7 + j * 13) % 60 AS INTEGER)))
    AS payload_md5
FROM documents, UNNEST(range(0, 1 + doc_id % 3)) t(j)
"""


def q295_robots_screened_frontier(spark, sf_dir):
    """The politeness gate WIRED INTO the frontier — the composition a
    real crawler runs between discovery and fetch: frontier URLs
    (four paths per domain, two of them under robots rules) are
    canonicalized, evaluated against each domain's robots.txt for the
    crawler token (per-domain disallow of /p/{b} with an /p/{b}/keep
    carve-out, q289's grammar), and ONLY the allowed URLs receive the
    per-domain politeness schedule — with the verdict columns kept on
    the screened-out rows (fetch_seq NULL) so the report states what
    was withheld and why. One equi-join + two windows; the oracle
    restates verdicts AND the allowed-only sequence numbering
    analytically (operators/web.py robots_verdicts + frontier_plan
    composition)."""
    from pyspark.sql import Window

    from ..operators.web import normalize_urls, robots_verdicts

    b = (F.col("doc_id") % 11).cast("string")
    docs = _docs(spark, sf_dir).select("doc_id")
    robots = docs.select(
        "doc_id",
        F.concat(
            F.lit("User-agent: graftbot\nDisallow: /p/"),
            b,
            F.lit("\nAllow: /p/"),
            b,
            F.lit("/keep\n"),
        ).alias("robots"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(
                    F.lit("http://site-"), b, F.lit(".com/p/"), b
                ),
                F.concat(
                    F.lit("http://site-"), b, F.lit(".com/p/"), b,
                    F.lit("/keep/x"),
                ),
                F.concat(F.lit("http://site-"), b, F.lit(".com/about")),
                F.concat(F.lit("http://site-"), b, F.lit(".com/news")),
            )
        ).alias("url"),
    )
    normed = normalize_urls(urls, "url", "doc_id").select(
        "doc_id", "url_norm", "registered_domain",
        F.expr(
            "substring(url_norm, instr(substring(url_norm, 9), '/') + 8)"
        ).alias("__path"),
    )
    verdicts = robots_verdicts(
        robots, "robots", normed, "__path", "doc_id", "graftbot"
    )
    screened = normed.join(verdicts, ["doc_id", "__path"])
    return screened.select(
        "doc_id",
        "url_norm",
        "registered_domain",
        "allowed",
        "matched_rule",
        F.when(
            F.col("allowed"),
            F.row_number().over(
                Window.partitionBy(
                    "registered_domain", "allowed"
                ).orderBy("doc_id", "url_norm")
            ),
        ).cast("int").alias("fetch_seq"),
    ).withColumn(
        "fetch_offset_ms",
        ((F.col("fetch_seq") - 1) * 1000).cast("long"),
    )


_Q295_SQL = """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 11 AS VARCHAR) AS b FROM documents
),
u AS (
  SELECT doc_id, b, i,
    CASE i
      WHEN 0 THEN '/p/' || b
      WHEN 1 THEN '/p/' || b || '/keep/x'
      WHEN 2 THEN '/about'
      ELSE '/news'
    END AS path,
    i <> 0 AS allowed,
    CASE i WHEN 0 THEN 'disallow' WHEN 1 THEN 'allow' ELSE NULL END
      AS matched_rule
  FROM d, UNNEST(range(0, 4)) t(i)
),
s AS (
  SELECT doc_id, b, path, allowed, matched_rule,
    'http://site-' || b || '.com' || path AS url_norm,
    'site-' || b || '.com' AS registered_domain,
    CASE WHEN allowed THEN
      ROW_NUMBER() OVER (
        PARTITION BY b, allowed ORDER BY doc_id, 'http://site-' || b || '.com' || path)
    END AS seq
  FROM u
)
SELECT doc_id, url_norm, registered_domain, allowed, matched_rule,
  CAST(seq AS INTEGER) AS fetch_seq,
  CAST((seq - 1) * 1000 AS BIGINT) AS fetch_offset_ms
FROM s
"""


def q296_image_dhash_dedup(spark, sf_dir):
    """Perceptual image dedup by difference-hash — the cheap
    near-duplicate key every image-corpus pipeline buckets on before
    any embedding pass: the deterministic PNG corpus is REALLY decoded
    (stdlib chunk walk + inflate + defilter), nearest-neighbor
    resampled to 9x8, and hashed one bit per horizontal gradient; the
    min-id member of each hash bucket survives. On this corpus the
    gradient field depends only on the (width, height) class, so the
    buckets are exactly the id % 30 classes — which the oracle
    reproduces from the synthesis arithmetic alone, replaying decode,
    resample, and bit packing as integer SQL
    (operators/multimodal.py image_dhash)."""
    from pyspark.sql import Window

    from ..operators.multimodal import image_dhash, synthesize_png_corpus

    docs = _docs(spark, sf_dir).select("doc_id")
    hashes = image_dhash(synthesize_png_corpus(docs))
    w = Window.partitionBy("dhash")
    return hashes.select(
        "media_id",
        "dhash",
        (F.col("media_id") == F.min("media_id").over(w)).alias("kept"),
    )


_Q296_SQL = """
WITH img AS (
  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h
  FROM documents
),
bits AS (
  SELECT doc_id, r, c,
    CASE WHEN ((doc_id * 31 + ((r * h) // 8) * 17
                + (((c + 1) * w) // 9) * 7) % 256)
            > ((doc_id * 31 + ((r * h) // 8) * 17
                + ((c * w) // 9) * 7) % 256)
    THEN 1 ELSE 0 END AS b
  FROM img, UNNEST(range(0, 8)) t(r), UNNEST(range(0, 8)) u(c)
),
bytes_ AS (
  SELECT doc_id, r,
    CAST(SUM(b * (1 << CAST(7 - c AS INTEGER))) AS BIGINT) AS byte
  FROM bits GROUP BY doc_id, r
),
hsh AS (
  SELECT doc_id,
    string_agg(lpad(lower(to_hex(byte)), 2, '0'), '' ORDER BY r)
      AS dhash
  FROM bytes_ GROUP BY doc_id
)
SELECT doc_id AS media_id, dhash,
  doc_id = MIN(doc_id) OVER (PARTITION BY dhash) AS kept
FROM hsh
"""


_Q297_JSON_SPARK = """
'[' ||
IF(doc_id % 4 = 0,
   '{"role":"system","content":"be helpful"},', '') ||
array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), j ->
  IF(j = 0 AND doc_id % 7 = 0,
     '{"role":"assistant","content":"ans ' || CAST(doc_id AS STRING)
       || ' ' || CAST(j AS STRING) || ' ok"},'
       || '{"role":"user","content":"ask ' || CAST(doc_id AS STRING)
       || ' ' || CAST(j AS STRING) || '"}',
     '{"role":"user","content":"ask ' || CAST(doc_id AS STRING)
       || ' ' || CAST(j AS STRING) || '"},'
       || '{"role":"assistant","content":"ans ' || CAST(doc_id AS STRING)
       || ' ' || CAST(j AS STRING) || ' ok"}')), ',')
|| ']'
"""


def q297_conversation_stats(spark, sf_dir):
    """SFT conversation-format audit — the structural screen every
    post-training loader runs on chat transcripts: deterministic JSON
    message arrays (1-3 user/assistant pairs, a system prefix on
    every 4th, and every 7th transcript's FIRST pair role-swapped to
    violate alternation) are parsed with from_json and audited with
    higher-order array functions — message/role counts, per-role
    character volume, and the three invariants (system start, strict
    user/assistant alternation after leading system messages,
    trainable final assistant turn). Map-only, zero Python; the
    oracle states every count and invariant from the synthesis
    arithmetic (operators/chat.py conversation_stats)."""
    from ..operators.chat import conversation_stats

    convos = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    return conversation_stats(convos, "convo", "doc_id")


_Q297_SQL = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 3 AS p,
    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS sys,
    doc_id % 7 = 0 AS corrupt,
    LENGTH(CAST(doc_id AS VARCHAR)) AS li
  FROM documents
)
SELECT doc_id,
  CAST(sys + 2 * p AS BIGINT) AS n_messages,
  CAST(sys AS BIGINT) AS n_system,
  CAST(p AS BIGINT) AS n_user,
  CAST(p AS BIGINT) AS n_assistant,
  CAST(p * (6 + li) AS BIGINT) AS user_chars,
  CAST(p * (9 + li) AS BIGINT) AS assistant_chars,
  sys = 1 AS starts_with_system,
  NOT corrupt AS alternation_ok,
  (NOT corrupt) OR p > 1 AS ends_with_assistant
FROM d
"""


def q298_preference_pair_audit(spark, sf_dir):
    """Preference-pair (DPO/RLHF) integrity audit: deterministic
    (prompt, chosen, rejected) triples — prompts bucketed so some
    repeat, every 5th pair degenerately identical, the rest
    chosen-longer — screened for the three failure modes a
    preference-data review checks first: zero-signal identical pairs,
    the corpus length-bias rate, and per-prompt duplication. One
    window on the prompt; the oracle restates every flag analytically
    (operators/chat.py preference_pair_audit)."""
    from ..operators.chat import preference_pair_audit

    pairs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "'prompt ' || CAST(doc_id % 101 AS STRING)"
        ).alias("prompt"),
        F.expr(
            "'answer ' || CAST(doc_id AS STRING) || ' with detail'"
        ).alias("chosen"),
        F.expr(
            "IF(doc_id % 5 = 0,"
            " 'answer ' || CAST(doc_id AS STRING) || ' with detail',"
            " 'short ' || CAST(doc_id AS STRING))"
        ).alias("rejected"),
    )
    return preference_pair_audit(
        pairs, "prompt", "chosen", "rejected", "doc_id"
    )


_Q298_SQL = """
WITH d AS (
  SELECT doc_id, LENGTH(CAST(doc_id AS VARCHAR)) AS li,
    doc_id % 5 = 0 AS ident
  FROM documents
)
SELECT doc_id,
  CAST(19 + li AS BIGINT) AS chosen_chars,
  CAST(CASE WHEN ident THEN 19 + li ELSE 6 + li END AS BIGINT)
    AS rejected_chars,
  NOT ident AS chosen_longer,
  ident AS identical_pair,
  CAST(COUNT(*) OVER (PARTITION BY doc_id % 101) AS BIGINT)
    AS prompt_dup_count
FROM d
"""


def q299_chat_loss_spans(spark, sf_dir):
    """SFT loss-mask spans — the arithmetic between a chat template
    and the trainer's assistant-only loss: the q297 transcripts are
    rendered with the fixed ``<|role|>content<|end|>`` template and
    every assistant turn's [start, end) content span inside the
    rendered string is computed by one higher-order fold over the
    message array. The per-message block lengths are integer functions
    of the synthesis, so the oracle restates every span and the total
    rendered length analytically — including the role-swapped first
    pair, whose assistant span shifts to the front of its block
    (operators/chat.py chat_loss_spans)."""
    from ..operators.chat import chat_loss_spans

    convos = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    return chat_loss_spans(convos, "convo", "doc_id")


_Q299_SQL = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 3 AS p,
    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS sys,
    doc_id % 7 = 0 AS corrupt,
    LENGTH(CAST(doc_id AS VARCHAR)) AS li
  FROM documents
)
SELECT doc_id, CAST(j AS INTEGER) AS span_idx,
  CAST(27 * sys + j * (50 + 2 * li)
       + CASE WHEN corrupt AND j = 0 THEN 13 ELSE 34 + li END
       AS BIGINT) AS loss_start,
  CAST(27 * sys + j * (50 + 2 * li)
       + CASE WHEN corrupt AND j = 0 THEN 13 ELSE 34 + li END
       + 9 + li AS BIGINT) AS loss_end,
  CAST(27 * sys + p * (50 + 2 * li) AS BIGINT) AS rendered_chars
FROM d, UNNEST(range(0, p)) t(j)
"""


def q300_webdataset_samples(spark, sf_dir):
    """WebDataset shard ingestion — the de-facto multimodal training
    format (tar shards of same-stem sample pairs): deterministic
    shards of 2-4 (png, json) samples per document are synthesized and
    walked back into a SAMPLE relation — pair grouping enforced
    (missing halves, unknown extensions, interleaving raise with the
    media id), the PNG REALLY decoded (stdlib chunk walk + inflate +
    defilter) and the JSON parsed. The oracle restates every sample's
    dimensions, exact mean luminance (the q173 pixel arithmetic
    re-seeded per sample), caption, and label analytically
    (operators/multimodal.py synthesize_webdataset_shards /
    decode_webdataset_samples)."""
    from ..operators.multimodal import (
        decode_webdataset_samples,
        synthesize_webdataset_shards,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_webdataset_samples(synthesize_webdataset_shards(docs))


_Q300_SQL = """
WITH samples AS (
  SELECT doc_id, k, doc_id * 5 + k AS s
  FROM documents, UNNEST(range(0, 2 + doc_id % 3)) t(k)
),
px AS (
  SELECT doc_id, k,
    CAST(3 + s % 6 AS INTEGER) AS w,
    CAST(2 + s % 5 AS INTEGER) AS h,
    (s * 31 + r * 17 + c * 7) % 256 AS v
  FROM samples,
    UNNEST(range(0, 2 + s % 5)) tr(r),
    UNNEST(range(0, 3 + s % 6)) tc(c)
)
SELECT doc_id AS media_id,
  lpad(CAST(doc_id AS VARCHAR), 6, '0') || CAST(k AS VARCHAR)
    AS sample_key,
  w AS width, h AS height,
  ROUND(SUM(v) * 1.0 / (w * h), 9) AS mean_luma,
  'img ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(k AS VARCHAR)
    AS caption,
  CAST((doc_id + k) % 10 AS INTEGER) AS label
FROM px GROUP BY doc_id, k, w, h
"""


def q301_image_dhash_mixed(spark, sf_dir):
    """Perceptual dedup over a MIXED-format image corpus — the
    real-corpus shape where the payload format must be sniffed per
    image: even ids are the q296 PNGs (really decoded: chunk walk +
    inflate + defilter), odd ids are baseline JPEGs of 8x8-constant
    blocks (really decoded: Huffman + dequant + IDCT; constants make
    the lossy pipeline exact), both collapsed to the same dHash with
    vectorized numpy raster math. On this corpus the gradient field
    is a function of the (format, shape) class, so buckets span
    formats only through identical gradients. The oracle replays both
    decode branches and the 9x8 resample + bit packing as integer SQL
    (operators/multimodal.py image_dhash /
    synthesize_mixed_image_corpus)."""
    from pyspark.sql import Window

    from ..operators.multimodal import (
        image_dhash,
        synthesize_mixed_image_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    hashes = image_dhash(synthesize_mixed_image_corpus(docs))
    w = Window.partitionBy("dhash")
    return hashes.select(
        "media_id",
        "dhash",
        (F.col("media_id") == F.min("media_id").over(w)).alias("kept"),
    )


# even ids: the q296 PNG pixel field sampled at the 9x8 grid; odd ids:
# the constant-block JPEG raster (pixel = block value at (c//8, r//8))
# sampled at the same grid — both stated as integer arithmetic
_Q301_SQL = """
WITH img AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 3 + doc_id % 6
         ELSE 8 * (1 + doc_id % 3) END AS w,
    CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 5
         ELSE 8 * (1 + doc_id % 2) END AS h
  FROM documents
),
bits AS (
  SELECT doc_id, r, c,
    CASE WHEN
      (CASE WHEN doc_id % 2 = 0
        THEN (doc_id * 31 + ((r * h) // 8) * 17
              + (((c + 1) * w) // 9) * 7) % 256
        ELSE (doc_id * 31 + ((((c + 1) * w) // 9) // 8) * 17
              + (((r * h) // 8) // 8) * 7) % 256 END)
      >
      (CASE WHEN doc_id % 2 = 0
        THEN (doc_id * 31 + ((r * h) // 8) * 17
              + ((c * w) // 9) * 7) % 256
        ELSE (doc_id * 31 + (((c * w) // 9) // 8) * 17
              + (((r * h) // 8) // 8) * 7) % 256 END)
    THEN 1 ELSE 0 END AS b
  FROM img, UNNEST(range(0, 8)) t(r), UNNEST(range(0, 8)) u(c)
),
bytes_ AS (
  SELECT doc_id, r,
    CAST(SUM(b * (1 << CAST(7 - c AS INTEGER))) AS BIGINT) AS byte
  FROM bits GROUP BY doc_id, r
),
hsh AS (
  SELECT doc_id,
    string_agg(lpad(lower(to_hex(byte)), 2, '0'), '' ORDER BY r)
      AS dhash
  FROM bytes_ GROUP BY doc_id
)
SELECT doc_id AS media_id, dhash,
  doc_id = MIN(doc_id) OVER (PARTITION BY dhash) AS kept
FROM hsh
"""


def q302_webdataset_mixed_samples(spark, sf_dir):
    """WebDataset ingestion over the REAL-corpus member mix: shards
    whose samples alternate PNG and baseline-JPEG image members (both
    REALLY decoded — the JPEG constants make the lossy pipeline
    exact) and ship metadata either as a ``.json`` member or as
    separate ``.txt`` caption + ``.cls`` label members. Pair grouping
    stays loudly enforced (duplicate extensions, missing halves,
    unknown extensions, interleaving raise with the media id). The
    oracle restates every sample's dimensions, exact mean luminance
    (per-pixel PNG sum vs per-block JPEG sum), caption, and label
    analytically (operators/multimodal.py
    synthesize_webdataset_mixed_shards / decode_webdataset_samples)."""
    from ..operators.multimodal import (
        decode_webdataset_samples,
        synthesize_webdataset_mixed_shards,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    return decode_webdataset_samples(
        synthesize_webdataset_mixed_shards(docs)
    )


_Q302_SQL = """
WITH samples AS (
  SELECT doc_id, k, doc_id * 5 + k AS s
  FROM documents, UNNEST(range(0, 2 + doc_id % 3)) t(k)
),
png_px AS (
  SELECT doc_id, k,
    CAST(3 + s % 6 AS INTEGER) AS w,
    CAST(2 + s % 5 AS INTEGER) AS h,
    (s * 31 + r * 17 + c * 7) % 256 AS v
  FROM samples,
    UNNEST(range(0, 2 + s % 5)) tr(r),
    UNNEST(range(0, 3 + s % 6)) tc(c)
  WHERE s % 2 = 0
),
jpg_bx AS (
  SELECT doc_id, k,
    CAST(8 * (1 + s % 3) AS INTEGER) AS w,
    CAST(8 * (1 + s % 2) AS INTEGER) AS h,
    (s * 31 + bx * 17 + by * 7) % 256 AS v
  FROM samples,
    UNNEST(range(0, 1 + s % 2)) tb(by),
    UNNEST(range(0, 1 + s % 3)) tc(bx)
  WHERE s % 2 = 1
),
means AS (
  SELECT doc_id, k, w, h,
    ROUND(SUM(v) * 1.0 / (w * h), 9) AS mean_luma
  FROM png_px GROUP BY doc_id, k, w, h
  UNION ALL
  SELECT doc_id, k, w, h,
    ROUND(SUM(v) * 1.0 / ((w // 8) * (h // 8)), 9) AS mean_luma
  FROM jpg_bx GROUP BY doc_id, k, w, h
)
SELECT doc_id AS media_id,
  lpad(CAST(doc_id AS VARCHAR), 6, '0') || CAST(k AS VARCHAR)
    AS sample_key,
  w AS width, h AS height, mean_luma,
  'img ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(k AS VARCHAR)
    AS caption,
  CAST((doc_id + k) % 10 AS INTEGER) AS label
FROM means
"""


# shared DuckDB replay of the q297 transcript synthesis as a message
# RELATION (doc_id, msg_idx, role, content) — q303/q304 build on it
_CHAT_MSGS_CTE = """
d AS (
  SELECT doc_id, 1 + doc_id % 3 AS p,
    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS sys,
    doc_id % 7 = 0 AS corrupt
  FROM documents
),
msgs AS (
  SELECT doc_id, 0 AS msg_idx, 'system' AS role,
    'be helpful' AS content
  FROM d WHERE sys = 1
  UNION ALL
  SELECT doc_id,
    sys + 2 * j + CASE WHEN corrupt AND j = 0 THEN 1 ELSE 0 END,
    'user',
    'ask ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR)
  FROM d, UNNEST(range(0, p)) t(j)
  UNION ALL
  SELECT doc_id,
    sys + 2 * j + CASE WHEN corrupt AND j = 0 THEN 0 ELSE 1 END,
    'assistant',
    'ans ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR)
      || ' ok'
  FROM d, UNNEST(range(0, p)) t(j)
)"""


def _chat_token_count_ctes() -> str:
    """Byte-BPE training replay + per-message token counts (2 specials
    + encoded content) + per-conversation prefix sums — the shared
    trunk of the q303/q304 oracles."""
    from ..operators.tokenizer import gpt2_words_duck_expr

    chain = (
        "list_transform([lower(hex(encode(x)))], h ->"
        " [substr(h, 2*i - 1, 2) FOR i IN range(1, len(h)//2 + 1)])[1]"
    )
    for r in range(1, _BPE_N_MERGES + 1):
        chain = _bpe_duck_layer(chain, r)
    froms = " ".join(
        f"LEFT JOIN m{r} ON TRUE" for r in range(1, _BPE_N_MERGES + 1)
    )
    return (
        _bpe_train_ctes(alphabet="byte")
        + ","
        + _CHAT_MSGS_CTE
        + f""",
counts AS (
  SELECT doc_id, msg_idx, role,
    2 + CAST(len(flatten(list_transform(
      {gpt2_words_duck_expr("content")},
      x -> {chain}))) AS BIGINT) AS n_tok
  FROM msgs {froms}
),
cum AS (
  SELECT doc_id, msg_idx, role, n_tok,
    COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY msg_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st,
    SUM(n_tok) OVER (PARTITION BY doc_id) AS total
  FROM counts
)"""
    )


def q303_sft_token_loss_masks(spark, sf_dir):
    """TOKEN-level SFT loss masks — q299's character spans lifted to
    what a trainer actually consumes: the q297 transcripts are
    tokenized under the chat-template token convention (one special
    per role marker, byte-level BPE with q268's learned merges and
    GPT-2 pre-tokenization over the content, one end-of-turn special)
    and every assistant turn emits the [token_start, token_end) span
    of its content tokens plus the conversation's total token count.
    Wholly map-only — counts, prefix sums, and span selection are
    higher-order array functions; zero shuffles, zero joins, zero
    Python. The oracle replays byte-BPE training, the per-message
    encode, and the span arithmetic end to end (operators/chat.py
    chat_token_loss_masks)."""
    from ..operators.chat import chat_token_loss_masks

    convos = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    pairs = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    return chat_token_loss_masks(convos, "convo", "doc_id", pairs)


def _q303_sql() -> str:
    return _chat_token_count_ctes() + """
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY msg_idx) - 1
       AS INTEGER) AS span_idx,
  CAST(st + 1 AS BIGINT) AS token_start,
  CAST(st + n_tok - 1 AS BIGINT) AS token_end,
  CAST(total AS BIGINT) AS n_tokens
FROM cum WHERE role = 'assistant'
"""


_Q304_BUDGET = 48


def q304_sft_packed_loss_masks(spark, sf_dir):
    """Packed-window loss masks — the q303 masks composed with the
    q68/q261 concat-and-split packing so every training window
    carries its own mask relation: conversations concatenate per
    SOURCE in doc order into a token stream cut into 48-token
    windows, and each assistant span lands at its bin-relative
    position, SPLIT across windows when packing splits the turn. One
    window shuffle on the source (pack_sequences' shape); the mask
    arithmetic stays map-only. The oracle replays training, encoding,
    stream offsets, and the window intersection arithmetic
    (operators/chat.py sft_pack_with_masks)."""
    from ..operators.chat import sft_pack_with_masks

    convos = _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    pairs = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    return sft_pack_with_masks(
        convos, "convo", "doc_id", "source", pairs, budget=_Q304_BUDGET
    )


def _q304_sql() -> str:
    b = _Q304_BUDGET
    return _chat_token_count_ctes() + f""",
totals AS (
  SELECT doc_id, SUM(n_tok) AS tot FROM counts GROUP BY doc_id
),
offs AS (
  SELECT t.doc_id, d.source,
    COALESCE(SUM(tot) OVER (PARTITION BY d.source ORDER BY t.doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM totals t JOIN documents d ON t.doc_id = d.doc_id
),
sp AS (
  SELECT c.doc_id, o.source,
    CAST(ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY c.msg_idx)
         - 1 AS INTEGER) AS span_idx,
    o.off + c.st + 1 AS s,
    o.off + c.st + c.n_tok - 1 AS e
  FROM cum c JOIN offs o ON c.doc_id = o.doc_id
  WHERE c.role = 'assistant'
)
SELECT source, CAST(b AS BIGINT) AS bin_id, doc_id, span_idx,
  CAST(GREATEST(s - b * {b}, 0) AS BIGINT) AS token_start,
  CAST(LEAST(e - b * {b}, {b}) AS BIGINT) AS token_end
FROM sp, UNNEST(range(CAST(s // {b} AS BIGINT),
                      CAST((e - 1) // {b} + 1 AS BIGINT))) u(b)
WHERE e > s
"""


# q305/q307 transcript synthesis: groups of four members (g = id div 4,
# m = id % 4) — members 0/1 are IDENTICAL transcripts (serialization
# jaccard 1.0), member 2 appends one extra id-keyed pair (a ~0.9
# near-dup of 0/1: its serialization contains theirs as a prefix —
# high enough that banded-LSH recall is deterministic-1 at every SF),
# member 3 keys every content by its own id (a non-duplicate).
_Q305_KEY_SPARK = (
    "CASE WHEN doc_id % 4 = 3 THEN 'u' || CAST(doc_id AS STRING)"
    " ELSE CAST(doc_id div 4 AS STRING) END"
)

_Q305_JSON_SPARK = f"""
'[' || array_join(transform(sequence(0, 7), j ->
  '{{"role":"user","content":"ask ' || {_Q305_KEY_SPARK} || ' '
    || CAST(j AS STRING) || ' about topic"}},'
  || '{{"role":"assistant","content":"ans ' || {_Q305_KEY_SPARK} || ' '
    || CAST(j AS STRING) || ' ok fine"}}'), ',')
|| IF(doc_id % 4 = 2,
   ',{{"role":"user","content":"ask extra ' || CAST(doc_id AS STRING)
     || ' again"}},'
   || '{{"role":"assistant","content":"ans extra ' || CAST(doc_id AS STRING)
     || ' done now"}}', '')
|| ']'
"""

_Q305_KEY_DUCK = (
    "CASE WHEN doc_id % 4 = 3 THEN 'u' || CAST(doc_id AS VARCHAR)"
    " ELSE CAST(doc_id // 4 AS VARCHAR) END"
)

# the role-aware serialization of the same transcripts, constructed
# directly (role || ': ' || content lines, newline-joined)
_Q305_CONV_CTE = f"""
conv AS (
  SELECT doc_id,
    array_to_string(flatten([[
      'user: ask ' || {_Q305_KEY_DUCK} || ' ' || CAST(j AS VARCHAR)
        || ' about topic',
      'assistant: ans ' || {_Q305_KEY_DUCK} || ' ' || CAST(j AS VARCHAR)
        || ' ok fine'
    ] FOR j IN range(0, 8)]), chr(10))
    || CASE WHEN doc_id % 4 = 2 THEN
         chr(10) || 'user: ask extra ' || CAST(doc_id AS VARCHAR)
         || ' again'
         || chr(10) || 'assistant: ans extra ' || CAST(doc_id AS VARCHAR)
         || ' done now'
       ELSE '' END AS text
  FROM documents
)"""


def q305_conversation_near_dups(spark, sf_dir):
    """Conversation-level near-duplicate pairs — transcript dedup for
    SFT corpora: grouped synthetic conversations (identical twins,
    a prefix-extended ~0.9 near-dup, and a unique member per group)
    are serialized role-aware and pushed through the document
    MinHash+LSH machinery (banded buckets, stop-shingle guard, exact
    jaccard verify on candidates only). The oracle replays the
    serialization and the exact inverted-index jaccard — q31's shape
    over transcript text (operators/chat.py
    conversation_near_dup_pairs / serialize_conversations)."""
    from ..operators.chat import conversation_near_dup_pairs

    convos = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q305_JSON_SPARK).alias("convo")
    )
    pairs = conversation_near_dup_pairs(
        convos, "convo", "doc_id", n=3, threshold=0.6
    )
    return pairs.select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )


_Q305_SQL = f"""
WITH {_Q305_CONV_CTE},
tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM conv
),
idx AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
  FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, ROUND(i * 1.0 / (s1.n + s2.n - i), 6) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = id_1
JOIN sizes s2 ON s2.doc_id = id_2
WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
"""


# q306 prompts: topic-bucketed instruction prompts; buckets 0-9 exactly
# match an eval item (jaccard 1.0), bucket 10 near-matches one
# (6-of-7-word overlap, jaccard 2/3), buckets 11+ share only template
# words (far below threshold)
_Q306_PROMPT_SPARK = (
    "'explain topic ' || CAST(doc_id % 50 AS STRING)"
    " || ' in detail with examples'"
)
_Q306_PROMPT_DUCK = (
    "'explain topic ' || CAST(doc_id % 50 AS VARCHAR)"
    " || ' in detail with examples'"
)


def _q306_eval_df(spark):
    return spark.range(11).select(
        F.col("id").alias("eval_id"),
        F.when(
            F.col("id") < 10,
            F.concat(
                F.lit("explain topic "),
                F.col("id").cast("string"),
                F.lit(" in detail with examples"),
            ),
        )
        .otherwise(F.lit("explain topic 10 in detail with samples"))
        .alias("eval_text"),
    )


def q306_preference_decontamination(spark, sf_dir):
    """Prompt-side eval decontamination of preference pairs — the
    screen a DPO data release runs against its benchmark suite:
    topic-bucketed prompts vs an 11-item eval set (ten exact matches,
    one 6/7-word near match at jaccard 2/3, everything else sharing
    only template words) through the cross-corpus MinHash band join
    with exact jaccard verification; every pair returns with its
    verdict. The oracle replays the prompt construction, the eval
    set, and the exact cross-relation jaccard (operators/chat.py
    preference_decontaminate; q213's leakage precedent lifted to the
    two-relation preference shape)."""
    from ..operators.chat import preference_decontaminate

    pairs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q306_PROMPT_SPARK).alias("prompt")
    )
    out = preference_decontaminate(
        pairs, "prompt", "doc_id", _q306_eval_df(spark),
        "eval_text", "eval_id", n=3, threshold=0.6,
    )
    return out.select(
        "doc_id",
        "n_eval_matches",
        F.round("max_jaccard", 6).alias("max_jaccard"),
        "contaminated",
    )


def _q306_sql() -> str:
    return f"""
WITH prompts AS (
  SELECT doc_id, {_Q306_PROMPT_DUCK} AS p FROM documents
),
evals AS (
  SELECT e,
    CASE WHEN e < 10 THEN 'explain topic ' || CAST(e AS VARCHAR)
           || ' in detail with examples'
         ELSE 'explain topic 10 in detail with samples' END AS t
  FROM UNNEST(range(0, 11)) u(e)
),
psh AS (
  SELECT DISTINCT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(p), '\\s+') AS w
        FROM prompts),
    UNNEST(range(1, greatest(len(w) - 1, 1))) t(i)
  WHERE i + 2 <= len(w)
),
esh AS (
  SELECT DISTINCT e,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT e, string_split_regex(lower(t), '\\s+') AS w FROM evals),
    UNNEST(range(1, greatest(len(w) - 1, 1))) t(i)
  WHERE i + 2 <= len(w)
),
pn AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY doc_id),
en AS (SELECT e, COUNT(*) AS n FROM esh GROUP BY e),
inter AS (
  SELECT p.doc_id, x.e, COUNT(*) AS i
  FROM psh p JOIN esh x ON p.shingle = x.shingle
  GROUP BY 1, 2
),
hits AS (
  SELECT inter.doc_id, inter.e,
    inter.i * 1.0 / (pn.n + en.n - inter.i) AS j
  FROM inter
  JOIN pn ON pn.doc_id = inter.doc_id
  JOIN en ON en.e = inter.e
  WHERE inter.i * 1.0 / (pn.n + en.n - inter.i) >= 0.6
),
roll AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
    ROUND(MAX(j), 6) AS max_jaccard
  FROM hits GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(r.n_eval_matches, 0) AS n_eval_matches,
  r.max_jaccard,
  r.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN roll r ON d.doc_id = r.doc_id
"""


def q307_post_training_funnel(spark, sf_dir):
    """End-to-end POST-TRAINING curation funnel (the q137 pretraining
    funnel's SFT sibling): the q305 transcript corpus audited
    (conversation_stats), deduplicated at the conversation level
    (near-dup pairs -> min-id keeper, the exact-dedup convention),
    and rolled up per source — transcripts seen, duplicates dropped,
    kept, and the assistant-character volume that survives (the
    trainable mass a data sheet reports). One pair relation + one
    rollup beyond the map-only audit. The oracle replays
    serialization, exact jaccard pairs, the keeper rule, the
    analytically-stated assistant volume, and the rollup
    (operators/chat.py conversation_near_dup_pairs /
    conversation_stats)."""
    from ..operators.chat import (
        conversation_near_dup_pairs,
        conversation_stats,
    )

    convos = _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_Q305_JSON_SPARK).alias("convo")
    )
    pairs = conversation_near_dup_pairs(
        convos, "convo", "doc_id", n=3, threshold=0.6
    )
    dropped = pairs.select(F.col("id_2").alias("doc_id")).distinct()
    stats = conversation_stats(convos, "convo", "doc_id")
    joined = (
        convos.select("doc_id", "source")
        .join(stats, "doc_id")
        .join(
            dropped.withColumn("__dup", F.lit(True)), "doc_id", "left"
        )
    )
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_convs"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_dropped"),
        F.sum(F.when(F.col("__dup").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("__dup").isNull(), F.col("assistant_chars"))
            .otherwise(0)
        )
        .cast("long")
        .alias("assistant_chars_kept"),
    )


def _q307_sql() -> str:
    # assistant volume per member: 4 base turns of (14 + len(K)) chars
    # + member 2's extra (19 + len(id)) tail
    return f"""
WITH {_Q305_CONV_CTE},
tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM conv
),
idx AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
  FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM idx WHERE i + 2 <= len(w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT id_2 AS doc_id
  FROM inter
  JOIN sizes s1 ON s1.doc_id = id_1
  JOIN sizes s2 ON s2.doc_id = id_2
  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6
),
base_vol AS (
  SELECT doc_id, source,
    8 * (14 + LENGTH({_Q305_KEY_DUCK}))
    + CASE WHEN doc_id % 4 = 2
           THEN 19 + LENGTH(CAST(doc_id AS VARCHAR)) ELSE 0 END
      AS assistant_chars
  FROM documents
),
vol AS (
  SELECT b.doc_id, b.source, b.assistant_chars,
    dr.doc_id IS NOT NULL AS dup
  FROM base_vol b LEFT JOIN dropped dr ON b.doc_id = dr.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_convs,
  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
  CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN dup THEN 0 ELSE assistant_chars END) AS BIGINT)
    AS assistant_chars_kept
FROM vol GROUP BY source
"""


def q308_dpo_token_masks(spark, sf_dir):
    """TOKEN masks for DPO pairs — the per-branch completion spans a
    preference trainer indexes logprobs with: the q298 triples
    tokenized under the chat-template convention ([user special]
    prompt [end] [assistant special] completion [end]) with q268's
    byte-BPE merges; both branches share the completion start
    (n_prompt + 3 — the invariant DPO's position-aligned comparison
    depends on), each states its end and total. One shared
    merge-chain projection over a 3-element array — map-only, zero
    Python. The oracle replays training and all three encodes
    (operators/chat.py dpo_token_masks)."""
    from ..operators.chat import dpo_token_masks

    pairs_df = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "'prompt ' || CAST(doc_id % 101 AS STRING)"
        ).alias("prompt"),
        F.expr(
            "'answer ' || CAST(doc_id AS STRING) || ' with detail'"
        ).alias("chosen"),
        F.expr(
            "IF(doc_id % 5 = 0,"
            " 'answer ' || CAST(doc_id AS STRING) || ' with detail',"
            " 'short ' || CAST(doc_id AS STRING))"
        ).alias("rejected"),
    )
    merges = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    return dpo_token_masks(
        pairs_df, "prompt", "chosen", "rejected", "doc_id", merges
    )


def _q308_sql() -> str:
    from ..operators.tokenizer import gpt2_words_duck_expr

    chain = (
        "list_transform([lower(hex(encode(x)))], h ->"
        " [substr(h, 2*i - 1, 2) FOR i IN range(1, len(h)//2 + 1)])[1]"
    )
    for r in range(1, _BPE_N_MERGES + 1):
        chain = _bpe_duck_layer(chain, r)
    froms = " ".join(
        f"LEFT JOIN m{r} ON TRUE" for r in range(1, _BPE_N_MERGES + 1)
    )

    def ntok(col):
        return (
            "CAST(len(flatten(list_transform("
            + gpt2_words_duck_expr(col)
            + f", x -> {chain}))) AS BIGINT)"
        )

    return (
        _bpe_train_ctes(alphabet="byte")
        + f""",
triples AS (
  SELECT doc_id,
    'prompt ' || CAST(doc_id % 101 AS VARCHAR) AS p,
    'answer ' || CAST(doc_id AS VARCHAR) || ' with detail' AS c,
    CASE WHEN doc_id % 5 = 0
         THEN 'answer ' || CAST(doc_id AS VARCHAR) || ' with detail'
         ELSE 'short ' || CAST(doc_id AS VARCHAR) END AS r
  FROM documents
),
counts AS (
  SELECT doc_id,
    {ntok("p")} AS np, {ntok("c")} AS nc, {ntok("r")} AS nr
  FROM triples {froms}
)
SELECT doc_id, np AS prompt_tokens,
  np + 3 AS completion_start,
  np + 3 + nc AS chosen_end, np + 4 + nc AS chosen_total,
  np + 3 + nr AS rejected_end, np + 4 + nr AS rejected_total
FROM counts
"""
    )


_Q309_EVAL_JSON_SPARK = """
'[' || array_join(transform(sequence(0, 7), j ->
  '{"role":"user","content":"ask ' || CAST(id AS STRING) || ' '
    || CAST(j AS STRING) || ' about topic"},'
  || '{"role":"assistant","content":"ans ' || CAST(id AS STRING) || ' '
    || CAST(j AS STRING) || ' ok fine"}'), ',')
|| ']'
"""


def q309_conversation_decontamination(spark, sf_dir):
    """TRANSCRIPT-level eval decontamination — the q305 SFT corpus
    screened against two held-out eval dialogues that equal groups
    0/1's base conversations: members 0/1 of those groups match
    exactly (jaccard 1.0), member 2 near-matches (~0.9, its
    serialization extends the eval's), member 3 and every other group
    stay clean. Role-aware serialization on both sides, cross-corpus
    MinHash band join, exact jaccard verdicts per transcript. The
    oracle replays both serializations and the exact cross-relation
    jaccard (operators/chat.py conversation_decontaminate)."""
    from ..operators.chat import conversation_decontaminate

    convos = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_Q305_JSON_SPARK).alias("convo")
    )
    evals = spark.range(2).select(
        F.col("id").alias("eval_id"),
        F.expr(_Q309_EVAL_JSON_SPARK).alias("econvo"),
    )
    out = conversation_decontaminate(
        convos, "convo", "doc_id", evals, "econvo", "eval_id"
    )
    return out.select(
        "doc_id",
        "n_eval_matches",
        F.round("max_jaccard", 6).alias("max_jaccard"),
        "contaminated",
    )


def _q309_sql() -> str:
    return f"""
WITH {_Q305_CONV_CTE},
econv AS (
  SELECT e,
    array_to_string(flatten([[
      'user: ask ' || CAST(e AS VARCHAR) || ' ' || CAST(j AS VARCHAR)
        || ' about topic',
      'assistant: ans ' || CAST(e AS VARCHAR) || ' ' || CAST(j AS VARCHAR)
        || ' ok fine'
    ] FOR j IN range(0, 8)]), chr(10)) AS text
  FROM UNNEST(range(0, 2)) u(e)
),
csh AS (
  SELECT DISTINCT doc_id,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        FROM conv),
    UNNEST(range(1, greatest(len(w) - 1, 1))) t(i)
  WHERE i + 2 <= len(w)
),
esh AS (
  SELECT DISTINCT e,
    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT e, string_split_regex(lower(text), '\\s+') AS w
        FROM econv),
    UNNEST(range(1, greatest(len(w) - 1, 1))) t(i)
  WHERE i + 2 <= len(w)
),
cn AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id),
en AS (SELECT e, COUNT(*) AS n FROM esh GROUP BY e),
inter AS (
  SELECT c.doc_id, x.e, COUNT(*) AS i
  FROM csh c JOIN esh x ON c.shingle = x.shingle
  GROUP BY 1, 2
),
hits AS (
  SELECT inter.doc_id, inter.e,
    inter.i * 1.0 / (cn.n + en.n - inter.i) AS j
  FROM inter
  JOIN cn ON cn.doc_id = inter.doc_id
  JOIN en ON en.e = inter.e
  WHERE inter.i * 1.0 / (cn.n + en.n - inter.i) >= 0.6
),
roll AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
    ROUND(MAX(j), 6) AS max_jaccard
  FROM hits GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(r.n_eval_matches, 0) AS n_eval_matches,
  r.max_jaccard,
  r.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN roll r ON d.doc_id = r.doc_id
"""


def q311_rejection_sampling(spark, sf_dir):
    """Rejection-sampling (best-of-n / RFT) builder — sampled rollouts
    scored by a reward become an SFT corpus: per prompt, exact
    duplicate completions drop first (keeping the highest-reward
    instance — a dup would double its gradient weight for zero extra
    signal), then the top-2 survivors by reward keep (ties to the
    smaller id). Every rollout returns with its verdict (is_dup /
    rank / kept). Two prompt-keyed windows, nothing else. The oracle
    replays both windows over the analytic (prompt, completion,
    reward) synthesis (operators/chat.py rejection_sample_topk)."""
    from ..operators.chat import rejection_sample_topk

    rollouts = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("'prompt ' || CAST(doc_id % 101 AS STRING)").alias(
            "prompt"
        ),
        F.expr("'ans ' || CAST(doc_id % 13 AS STRING)").alias(
            "completion"
        ),
        # CAST: a bare 1000.0 literal is DECIMAL in Spark SQL and the
        # division would come back decimal(27,6), not the double the
        # oracle computes
        F.expr(
            "CAST(doc_id * 37 % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE)"
        ).alias("reward"),
    )
    return rejection_sample_topk(
        rollouts, "prompt", "completion", "reward", "doc_id", k=2
    )


_Q311_SQL = """
WITH t AS (
  SELECT doc_id,
    'prompt ' || CAST(doc_id % 101 AS VARCHAR) AS prompt,
    'ans ' || CAST(doc_id % 13 AS VARCHAR) AS completion,
    (doc_id * 37 % 1000) / 1000.0 AS reward
  FROM documents
),
d AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY prompt, completion ORDER BY reward DESC, doc_id
  ) AS rn
  FROM t
),
r AS (
  SELECT *, rn > 1 AS is_dup,
    ROW_NUMBER() OVER (
      PARTITION BY prompt ORDER BY (rn > 1), reward DESC, doc_id
    ) AS rk
  FROM d
)
SELECT doc_id, prompt, reward, is_dup,
  CASE WHEN is_dup THEN NULL ELSE CAST(rk AS INTEGER) END AS rank,
  (NOT is_dup AND rk <= 2) AS kept
FROM r
"""


def q312_chat_pii_scrub(spark, sf_dir):
    """Per-TURN PII scrub of transcripts — the compliance pass at
    message granularity (document-level redaction can't say WHICH
    turn leaked): synthetic three-turn conversations plant an email
    on every 3rd transcript and a card-like digit run on every 5th;
    the scrub counts hits with the document tier's exact regexes,
    flags dirty messages, and re-serializes the redacted transcript
    to the same {role, content} JSON shape. Map-only higher-order
    built-ins. The oracle states counts and the full redacted JSON
    analytically (operators/chat.py chat_pii_scrub)."""
    from ..operators.chat import chat_pii_scrub

    convos = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            """'[{"role":"user","content":"' ||
            IF(doc_id % 3 = 0,
               'my email is user' || CAST(doc_id AS STRING)
                 || '@example.com please',
               'hello case ' || CAST(doc_id % 7 AS STRING) || ' here')
            || '"},{"role":"assistant","content":"' ||
            IF(doc_id % 5 = 0,
               'card 4111222233334444 flagged',
               'no sensitive data ' || CAST(doc_id % 9 AS STRING))
            || '"},{"role":"user","content":"thanks agent '
            || CAST(doc_id % 4 AS STRING) || '"}]'"""
        ).alias("convo"),
    )
    return chat_pii_scrub(convos, "convo", "doc_id")


_Q312_SQL = """
SELECT doc_id,
  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_emails,
  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
    AS n_longnums,
  CAST((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
     + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dirty_messages,
  '[{"role":"user","content":"'
  || CASE WHEN doc_id % 3 = 0 THEN 'my email is <EMAIL> please'
          ELSE 'hello case ' || CAST(doc_id % 7 AS VARCHAR) || ' here'
     END
  || '"},{"role":"assistant","content":"'
  || CASE WHEN doc_id % 5 = 0 THEN 'card <NUM> flagged'
          ELSE 'no sensitive data ' || CAST(doc_id % 9 AS VARCHAR)
     END
  || '"},{"role":"user","content":"thanks agent '
  || CAST(doc_id % 4 AS VARCHAR) || '"}]' AS redacted_convo
FROM documents
"""


_BT_ITERS = 3


def q313_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths from pairwise preference outcomes —
    the model-ranking / preference-data-QA fit (Hunter 2004 MM):
    deterministic matches between eight 'model_k' items (a 60/40
    winner rule over id arithmetic) aggregate once into wins and
    per-pair comparison counts, then 3 MM iterations with
    sum-to-one normalization run on those item-bounded relations.
    The oracle unrolls the identical iterations as CTEs — the q288
    pagerank / q278 perceptron precedent for iterative fits
    (operators/stats.py bradley_terry_strengths)."""
    from ..operators.stats import bradley_terry_strengths

    matches = (
        _docs(spark, sf_dir)
        .select(
            F.expr("doc_id % 8").alias("a"),
            F.expr("(doc_id * 3 + 1) % 8").alias("b"),
            F.expr("(doc_id * 7) % 10 < 6").alias("awin"),
        )
        .filter("a <> b")
        .select(
            F.expr(
                "'model_' || CAST(IF(awin, a, b) AS STRING)"
            ).alias("winner"),
            F.expr(
                "'model_' || CAST(IF(awin, b, a) AS STRING)"
            ).alias("loser"),
        )
    )
    s = bradley_terry_strengths(
        matches, "winner", "loser", iterations=_BT_ITERS
    )
    return s.select("item", F.round("strength", 9).alias("strength"))


def _q313_sql() -> str:
    parts = [
        """p AS (
  SELECT doc_id % 8 AS a, (doc_id * 3 + 1) % 8 AS b,
    (doc_id * 7) % 10 < 6 AS awin
  FROM documents
  WHERE doc_id % 8 <> (doc_id * 3 + 1) % 8
),
c AS (
  SELECT 'model_' || CAST(CASE WHEN awin THEN a ELSE b END AS VARCHAR)
           AS w,
         'model_' || CAST(CASE WHEN awin THEN b ELSE a END AS VARCHAR)
           AS l
  FROM p
),
items AS (SELECT DISTINCT w AS item FROM c
          UNION SELECT DISTINCT l AS item FROM c),
wins AS (
  SELECT i.item, CAST(COALESCE(x.n, 0) AS DOUBLE) AS wn
  FROM items i
  LEFT JOIN (SELECT w AS item, COUNT(*) AS n FROM c GROUP BY w) x
    ON i.item = x.item
),
h AS (
  SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j,
    CAST(COUNT(*) AS DOUBLE) AS n
  FROM c GROUP BY 1, 2
),
edges AS (SELECT i, j, n FROM h UNION ALL SELECT j, i, n FROM h),
s0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS s FROM items)"""
    ]
    for r in range(1, _BT_ITERS + 1):
        parts.append(f"""d{r} AS (
  SELECT e.i AS item, SUM(e.n / nullif(si.s + sj.s, 0)) AS d
  FROM edges e
  JOIN s{r - 1} si ON si.item = e.i
  JOIN s{r - 1} sj ON sj.item = e.j
  GROUP BY e.i
),
u{r} AS (
  SELECT w.item, w.wn / d{r}.d AS s
  FROM wins w LEFT JOIN d{r} ON w.item = d{r}.item
),
s{r} AS (SELECT item, s / (SELECT SUM(s) FROM u{r}) AS s FROM u{r})""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT item, ROUND(s, 9) AS strength FROM s{_BT_ITERS}"
    )


def q314_chat_packing_efficiency(spark, sf_dir):
    """Context-window packing efficiency for the SFT tier — q261's
    sheet over TRANSCRIPT token totals: the q297 conversations'
    chat-template token counts (role/end specials + byte-BPE content,
    the q303 arithmetic) concat-and-split per source into 48-token
    windows, rolled up to (source, n_bins, tokens_packed, capacity,
    util_micro) — the padding-waste price of the packing policy. The
    map-only token counts plus one per-source window plus one rollup.
    The oracle replays training, encoding, and the q261 binning
    convention (operators/chat.py _conv_token_counts +
    pack_sequences' binning)."""
    from pyspark.sql import Window

    from ..operators.chat import _conv_token_counts

    convos = _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    pairs = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    totals = _conv_token_counts(
        convos, "convo", "doc_id", pairs, "byte", None, keep=("source",)
    ).select(
        "doc_id",
        "source",
        F.expr(
            "aggregate(coalesce(__cnt, array()), CAST(0 AS BIGINT),"
            " (a, x) -> a + x)"
        ).alias("n_tok"),
    )
    b = _Q304_BUDGET
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = totals.withColumn(
        "bin_id",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(float(b)))
        .cast("bigint"),
    )
    bins = binned.groupBy("source", "bin_id").agg(
        F.sum("n_tok").alias("bin_tokens")
    )
    return bins.groupBy("source").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("bin_tokens").cast("long").alias("tokens_packed"),
        (F.count("*") * F.lit(b)).cast("long").alias("capacity"),
        F.expr(
            f"(1000000 * CAST(SUM(bin_tokens) AS BIGINT))"
            f" div (COUNT(*) * {b})"
        ).alias("util_micro"),
    )


def _q314_sql() -> str:
    b = _Q304_BUDGET
    return _chat_token_count_ctes() + f""",
totals AS (
  SELECT doc_id, SUM(n_tok) AS tot FROM counts GROUP BY doc_id
),
binned AS (
  SELECT d.source,
    CAST(floor((SUM(t.tot) OVER (PARTITION BY d.source ORDER BY d.doc_id)
                - t.tot) / {b}.0) AS BIGINT) AS bin_id,
    t.tot AS n_tok
  FROM totals t JOIN documents d ON t.doc_id = d.doc_id
),
bins AS (
  SELECT source, bin_id, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
  FROM binned GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bins,
  CAST(SUM(bin_tokens) AS BIGINT) AS tokens_packed,
  CAST(COUNT(*) * {b} AS BIGINT) AS capacity,
  CAST((1000000 * SUM(bin_tokens)) // (COUNT(*) * {b}) AS BIGINT)
    AS util_micro
FROM bins GROUP BY source
"""


def q315_nextfit_packing(spark, sf_dir):
    """NEXT-FIT whole-sequence packing — the no-split packer many SFT
    recipes require (concat-and-split cuts sequences at window
    edges): the q297 transcripts' chat-template token totals pack per
    source in doc order, opening a new 48-token bin whenever the next
    conversation doesn't fit whole; oversized conversations own their
    bin and flag overflow. The sequential fold runs as ONE
    Arrow-batched applyInPandas per source group — the reserved
    place for Python (custom sequential state). The oracle replays
    the fold with a RECURSIVE CTE advancing every source's rank in
    lockstep (operators/text.py pack_sequences_nextfit +
    operators/chat.py _conv_token_counts)."""
    from ..operators.chat import _conv_token_counts
    from ..operators.text import pack_sequences_nextfit

    convos = _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_Q297_JSON_SPARK).alias("convo")
    )
    pairs = [(r.lhs, r.rhs) for r in _byte_bpe_merges(spark, sf_dir)]
    totals = _conv_token_counts(
        convos, "convo", "doc_id", pairs, "byte", None, keep=("source",)
    ).select(
        "doc_id",
        "source",
        F.expr(
            "aggregate(coalesce(__cnt, array()), CAST(0 AS BIGINT),"
            " (a, x) -> a + x)"
        ).alias("n_tok"),
    )
    return pack_sequences_nextfit(
        totals, "n_tok", "doc_id", "source", budget=_Q304_BUDGET
    )


def _q315_sql() -> str:
    b = _Q304_BUDGET
    return _chat_token_count_ctes() + f""",
totals AS (
  SELECT t.doc_id, d.source, SUM(t.n_tok) AS tot
  FROM (SELECT doc_id, n_tok FROM counts) t
  JOIN documents d ON t.doc_id = d.doc_id
  GROUP BY t.doc_id, d.source
),
ranked AS MATERIALIZED (
  -- MATERIALIZED: the recursive fold below joins this relation once
  -- per rank step; inlined, the whole BPE-encode chain would
  -- re-evaluate every iteration
  SELECT source, doc_id, tot,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM totals
),
packed AS (
  WITH RECURSIVE st AS (
    SELECT source, rn, doc_id, tot,
      CAST(0 AS BIGINT) AS bin_id, tot AS fill
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT r.source, r.rn, r.doc_id, r.tot,
      CASE WHEN st.fill > 0 AND st.fill + r.tot > {b}
           THEN st.bin_id + 1 ELSE st.bin_id END,
      CASE WHEN st.fill > 0 AND st.fill + r.tot > {b}
           THEN r.tot ELSE st.fill + r.tot END
    FROM st JOIN ranked r
      ON r.source = st.source AND r.rn = st.rn + 1
  )
  SELECT * FROM st
)
SELECT source, doc_id, CAST(tot AS BIGINT) AS n_tok,
  CAST(bin_id AS BIGINT) AS bin_id, tot > {b} AS overflow
FROM packed
"""


_HITS_ITERS = 3


def q316_hits_hubs_authorities(spark, sf_dir):
    """HITS hubs & authorities over a deterministic directed graph —
    PageRank's link-quality sibling for crawl prioritization (a page
    pointing at good content scores as a hub even with zero
    in-links): 3 mutual-reinforcement iterations with L2
    normalization, duplicate edges as parallel weights; six nodes
    have no out-edges (hub mass 0) so the asymmetric paths are
    value-checked. The oracle unrolls the identical iterations as
    CTEs — the q288/q313 iterative-fit precedent (operators/graph.py
    hits)."""
    from ..operators.graph import hits

    edges = (
        _docs(spark, sf_dir)
        .select(
            F.expr("'n' || CAST(doc_id % 17 AS STRING)").alias("src"),
            F.expr(
                "'n' || CAST((doc_id * 5 + 3) % 23 AS STRING)"
            ).alias("dst"),
        )
        .filter("src <> dst")
    )
    out = hits(edges, iterations=_HITS_ITERS)
    return out.select(
        "node",
        F.round("hub", 9).alias("hub"),
        F.round("authority", 9).alias("authority"),
    )


def _q316_sql() -> str:
    parts = [
        """raw AS (
  SELECT 'n' || CAST(doc_id % 17 AS VARCHAR) AS src,
         'n' || CAST((doc_id * 5 + 3) % 23 AS VARCHAR) AS dst
  FROM documents
  WHERE 'n' || CAST(doc_id % 17 AS VARCHAR)
     <> 'n' || CAST((doc_id * 5 + 3) % 23 AS VARCHAR)
),
e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM raw GROUP BY 1, 2),
nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst AS node FROM e),
s0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)"""
    ]
    for r in range(1, _HITS_ITERS + 1):
        parts.append(f"""ar{r} AS MATERIALIZED (
  SELECT n.node, COALESCE(SUM(e.w * s.hub), 0) AS a
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN s{r - 1} s ON s.node = e.src
  GROUP BY n.node
),
an{r} AS MATERIALIZED (
  SELECT node,
    a / nullif((SELECT sqrt(SUM(a * a)) FROM ar{r}), 0) AS authority
  FROM ar{r}
),
hr{r} AS MATERIALIZED (
  SELECT n.node, COALESCE(SUM(e.w * an.authority), 0) AS h
  FROM nodes n
  LEFT JOIN e ON e.src = n.node
  LEFT JOIN an{r} an ON an.node = e.dst
  GROUP BY n.node
),
s{r} AS MATERIALIZED (
  SELECT h.node,
    h.h / nullif((SELECT sqrt(SUM(h2.h * h2.h)) FROM hr{r} h2), 0)
      AS hub
  FROM hr{r} h
)""")
    n = _HITS_ITERS
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT s.node, ROUND(s.hub, 9) AS hub,
  ROUND(an.authority, 9) AS authority
FROM s{n} s JOIN an{n} an ON an.node = s.node
"""
    )


def q317_fim_transform(spark, sf_dir):
    """Fill-in-the-middle corpus rewrite (Bavarian et al. 2022) — the
    infilling transformation applied to a corpus fraction so the
    model learns to complete middles: deterministic id-derived split
    points carve every document into non-empty (prefix, middle,
    suffix) and emit the sentinel PSM/SPM forms at the paper's 50/50
    mix. Pure substring/length built-ins, map-only. The oracle
    replays the split arithmetic and both sentinel layouts
    character-exactly (operators/text.py fim_transform)."""
    from ..operators.text import fim_transform

    return fim_transform(_docs(spark, sf_dir), "text", "doc_id")


_Q317_SQL = """
WITH s1 AS (
  SELECT doc_id, text, LENGTH(text) AS L,
    CAST(1 + (doc_id * 13) % GREATEST(LENGTH(text) - 2, 1) AS INTEGER)
      AS a
  FROM documents
),
s2 AS (
  SELECT doc_id, text, L, a,
    CAST(a + 1 + (doc_id * 7) % GREATEST(L - a - 1, 1) AS INTEGER) AS b,
    doc_id % 1000 < 500 AS spm
  FROM s1
),
parts AS (
  SELECT doc_id, L, a, b, spm,
    substr(text, 1, a) AS p,
    substr(text, a + 1, b - a) AS m,
    substr(text, b + 1, L - b) AS s,
    text
  FROM s2
)
SELECT doc_id,
  CASE WHEN L < 3 THEN 'raw' WHEN spm THEN 'spm' ELSE 'psm' END AS mode,
  CASE WHEN L < 3 THEN NULL ELSE CAST(a AS BIGINT) END AS prefix_chars,
  CASE WHEN L < 3 THEN NULL ELSE CAST(b - a AS BIGINT) END
    AS middle_chars,
  CASE WHEN L < 3 THEN NULL ELSE CAST(L - b AS BIGINT) END
    AS suffix_chars,
  CASE WHEN L < 3 THEN text
       WHEN spm THEN '<fim_suffix>' || s || '<fim_prefix>' || p
         || '<fim_middle>' || m
       ELSE '<fim_prefix>' || p || '<fim_suffix>' || s
         || '<fim_middle>' || m
  END AS transformed
FROM parts
"""


def q318_pass_at_k(spark, sf_dir):
    """Unbiased pass@k (Chen et al. 2021) over per-sample eval
    outcomes — the eval-pipeline headline metric: deterministic
    (problem, passed) samples (40 problems, ~43% pass rule) roll to
    per-problem n/c and the exact product-form estimator for k=1 and
    k=10, stated in the same IEEE evaluation order on both engines.
    One aggregation; the k-products are per-row folds
    (operators/stats.py pass_at_k)."""
    from ..operators.stats import pass_at_k

    samples = _docs(spark, sf_dir).select(
        F.expr("doc_id % 40").alias("problem_id"),
        F.expr("(doc_id * 11) % 7 < 3").alias("passed"),
    )
    out = pass_at_k(samples, "problem_id", "passed", ks=(1, 10))
    return out.select(
        "problem_id",
        "n_samples",
        "n_passed",
        F.round("pass_at_1", 9).alias("pass_at_1"),
        F.round("pass_at_10", 9).alias("pass_at_10"),
    )


_Q318_SQL = """
WITH s AS (
  SELECT doc_id % 40 AS problem_id, (doc_id * 11) % 7 < 3 AS passed
  FROM documents
),
agg AS (
  SELECT problem_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
    CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
  FROM s GROUP BY problem_id
)
SELECT problem_id, n_samples, n_passed,
  ROUND(CASE WHEN n_passed = 0 THEN 0.0
       WHEN n_samples - n_passed < 1 THEN 1.0
       ELSE 1.0 - CAST(n_samples - n_passed AS DOUBLE)
                  / CAST(n_samples AS DOUBLE)
  END, 9) AS pass_at_1,
  ROUND(CASE WHEN n_passed = 0 THEN 0.0
       WHEN n_samples - n_passed < 10 THEN 1.0
       ELSE 1.0 - list_product(
         [CAST(n_samples - n_passed - i AS DOUBLE)
          / CAST(n_samples - i AS DOUBLE) FOR i IN range(0, 10)])
  END, 9) AS pass_at_10
FROM agg
"""


def q319_wilson_intervals(spark, sf_dir):
    """Wilson 95% score intervals for per-problem pass rates — the
    error bars an eval sheet reports next to pass@1 (normal
    approximation misbehaves at small n / extreme p): the q318
    sample synthesis rolled per problem with the interval stated as
    one shared IEEE expression tree, so the oracle is value-exact.
    One aggregation (operators/stats.py wilson_interval)."""
    from ..operators.stats import wilson_interval

    samples = _docs(spark, sf_dir).select(
        F.expr("doc_id % 40").alias("problem_id"),
        F.expr("(doc_id * 11) % 7 < 3").alias("passed"),
    )
    out = wilson_interval(samples, "problem_id", "passed")
    return out.select(
        "problem_id",
        "n_samples",
        "n_passed",
        F.round("rate", 9).alias("rate"),
        F.round("ci_lo", 9).alias("ci_lo"),
        F.round("ci_hi", 9).alias("ci_hi"),
    )


_Q319_SQL = """
WITH s AS (
  SELECT doc_id % 40 AS problem_id, (doc_id * 11) % 7 < 3 AS passed
  FROM documents
),
agg AS (
  SELECT problem_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
    CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
  FROM s GROUP BY problem_id
),
w AS (
  SELECT problem_id, n_samples, n_passed,
    CAST(n_samples AS DOUBLE) AS n,
    CAST(n_passed AS DOUBLE) / CAST(n_samples AS DOUBLE) AS p,
    (CAST(196 AS DOUBLE) / CAST(100 AS DOUBLE)) AS z
  FROM agg
),
x AS (
  SELECT problem_id, n_samples, n_passed, n, p, z,
    1.0 + (z * z) / n AS denom
  FROM w
)
SELECT problem_id, n_samples, n_passed,
  ROUND(p, 9) AS rate,
  ROUND(GREATEST(
    (p + (z * z) / (2.0 * n)) / denom
    - (z / denom) * sqrt(p * (1.0 - p) / n + (z * z) / (4.0 * (n * n))),
    0.0), 9) AS ci_lo,
  ROUND(LEAST(
    (p + (z * z) / (2.0 * n)) / denom
    + (z / denom) * sqrt(p * (1.0 - p) / n + (z * z) / (4.0 * (n * n))),
    1.0), 9) AS ci_hi
FROM x
"""


QUERIES = {
    "q319_wilson_intervals": q319_wilson_intervals,
    "q318_pass_at_k": q318_pass_at_k,
    "q317_fim_transform": q317_fim_transform,
    "q316_hits_hubs_authorities": q316_hits_hubs_authorities,
    "q315_nextfit_packing": q315_nextfit_packing,
    "q314_chat_packing_efficiency": q314_chat_packing_efficiency,
    "q313_bradley_terry": q313_bradley_terry,
    "q312_chat_pii_scrub": q312_chat_pii_scrub,
    "q311_rejection_sampling": q311_rejection_sampling,
    "q309_conversation_decontamination": q309_conversation_decontamination,
    "q308_dpo_token_masks": q308_dpo_token_masks,
    "q307_post_training_funnel": q307_post_training_funnel,
    "q306_preference_decontamination": q306_preference_decontamination,
    "q305_conversation_near_dups": q305_conversation_near_dups,
    "q304_sft_packed_loss_masks": q304_sft_packed_loss_masks,
    "q303_sft_token_loss_masks": q303_sft_token_loss_masks,
    "q302_webdataset_mixed_samples": q302_webdataset_mixed_samples,
    "q301_image_dhash_mixed": q301_image_dhash_mixed,
    "q300_webdataset_samples": q300_webdataset_samples,
    "q299_chat_loss_spans": q299_chat_loss_spans,
    "q298_preference_pair_audit": q298_preference_pair_audit,
    "q297_conversation_stats": q297_conversation_stats,
    "q296_image_dhash_dedup": q296_image_dhash_dedup,
    "q295_robots_screened_frontier": q295_robots_screened_frontier,
    "q294_zip_member_walk": q294_zip_member_walk,
    "q293_frontier_expansion": q293_frontier_expansion,
    "q292_sitemap_parse": q292_sitemap_parse,
    "q291_frontier_politeness_plan": q291_frontier_politeness_plan,
    "q290_crawl_ingestion_report": q290_crawl_ingestion_report,
    "q289_robots_verdicts": q289_robots_verdicts,
    "q288_host_pagerank": q288_host_pagerank,
    "q287_outlink_extraction": q287_outlink_extraction,
    "q286_warc_gzip_members": q286_warc_gzip_members,
    "q285_html_numeric_entities": q285_html_numeric_entities,
    "q283_boilerplate_clean_docs": q283_boilerplate_clean_docs,
    "q282_boilerplate_blocks": q282_boilerplate_blocks,
    "q281_registered_domain_psl": q281_registered_domain_psl,
    "q280_http_charset_decode": q280_http_charset_decode,
    "q279_perceptron_eval": q279_perceptron_eval,
    "q278_perceptron_train": q278_perceptron_train,
    "q277_web_ingestion_pipeline": q277_web_ingestion_pipeline,
    "q276_fmp4_fragment_walk": q276_fmp4_fragment_walk,
    "q275_html_text_extract": q275_html_text_extract,
    "q274_url_dedup": q274_url_dedup,
    "q273_warc_record_walk": q273_warc_record_walk,
    "q272_semantic_curation_report": q272_semantic_curation_report,
    "q271_keyframe_sampling_plan": q271_keyframe_sampling_plan,
    "q269_byte_bpe_encode": q269_byte_bpe_encode,
    "q268_byte_bpe_train": q268_byte_bpe_train,
    "q267_mp4_track_walk": q267_mp4_track_walk,
    "q266_semdedup_arrow": q266_semdedup_arrow,
    "q265_semdedup_centroid_prune": q265_semdedup_centroid_prune,
    "q264_release_manifest": q264_release_manifest,
    "q263_calibrated_curation_funnel": q263_calibrated_curation_funnel,
    "q262_cluster_size_histogram": q262_cluster_size_histogram,
    "q261_packing_efficiency": q261_packing_efficiency,
    "q260_langid_confusion": q260_langid_confusion,
    "q259_hilbert_index": q259_hilbert_index,
    "q258_difficulty_reweighted_mixture": q258_difficulty_reweighted_mixture,
    "q257_kcenter_exemplars": q257_kcenter_exemplars,
    "q255_percentile_normalized_selection": q255_percentile_normalized_selection,
    "q254_tokenizer_report": q254_tokenizer_report,
    "q253_key_skew_audit": q253_key_skew_audit,
    "q252_retrieval_eval": q252_retrieval_eval,
    "q251_tar_member_walk": q251_tar_member_walk,
    "q250_decayed_event_rates": q250_decayed_event_rates,
    "q249_triangle_parts": q249_triangle_parts,
    "q248_ring_negatives": q248_ring_negatives,
    "q247_fleiss_kappa": q247_fleiss_kappa,
    "q246_trimmed_mean_lengths": q246_trimmed_mean_lengths,
    "q245_edit_distance_pairs": q245_edit_distance_pairs,
    "q244_kfold_audit": q244_kfold_audit,
    "q243_chi2_keywords": q243_chi2_keywords,
    "q242_heavy_hitters": q242_heavy_hitters,
    "q241_length_regression": q241_length_regression,
    "q240_wordpiece_encode": q240_wordpiece_encode,
    "q239_wordpiece_train": q239_wordpiece_train,
    "q238_mixture_plan": q238_mixture_plan,
    "q236_substring_index_probe": q236_substring_index_probe,
    "q235_rouge_pair_audit": q235_rouge_pair_audit,
    "q234_robust_length_outliers": q234_robust_length_outliers,
    "q233_kneser_ney_surprise": q233_kneser_ney_surprise,
    "q232_kneser_ney_bigrams": q232_kneser_ney_bigrams,
    "q231_rater_agreement": q231_rater_agreement,
    "q230_blocklist_screen": q230_blocklist_screen,
    "q229_exact_substring_scrub": q229_exact_substring_scrub,
    "q228_exact_substring_spans": q228_exact_substring_spans,
    "q227_jpeg_color_roundtrip": q227_jpeg_color_roundtrip,
    "q226_jpeg_decode_roundtrip": q226_jpeg_decode_roundtrip,
    "q225_unigram_encode": q225_unigram_encode,
    "q224_unigram_train": q224_unigram_train,
    "q223_hamilton_quotas": q223_hamilton_quotas,
    "q222_pmi_collocations": q222_pmi_collocations,
    "q221_ngram_novelty": q221_ngram_novelty,
    "q220_dataset_card": q220_dataset_card,
    "q219_auc_by_source": q219_auc_by_source,
    "q218_personalized_pagerank": q218_personalized_pagerank,
    "q217_event_rate_anomalies": q217_event_rate_anomalies,
    "q216_cross_source_dup_matrix": q216_cross_source_dup_matrix,
    "q215_zipf_slope": q215_zipf_slope,
    "q214_text_lsh_pipeline": q214_text_lsh_pipeline,
    "q213_leakage_free_split": q213_leakage_free_split,
    "q212_threshold_sweep": q212_threshold_sweep,
    "q211_classifier_calibration": q211_classifier_calibration,
    "q210_classifier_auc": q210_classifier_auc,
    "q208_containment_pairs": q208_containment_pairs,
    "q207_standardize_embeddings": q207_standardize_embeddings,
    "q206_knn_label_transfer": q206_knn_label_transfer,
    "q205_hashed_embeddings": q205_hashed_embeddings,
    "q204_gif_keyframes": q204_gif_keyframes,
    "q203_tfidf_cosine_pairs": q203_tfidf_cosine_pairs,
    "q202_wav_spectral_probe": q202_wav_spectral_probe,
    "q201_label_propagation": q201_label_propagation,
    "q200_dsir_selection": q200_dsir_selection,
    "q199_pagerank_trade_graph": q199_pagerank_trade_graph,
    "q198_phrase_search": q198_phrase_search,
    "q197_segment_dedup": q197_segment_dedup,
    "q192_gif_pixel_decode": q192_gif_pixel_decode,
    "q193_quality_classifier": q193_quality_classifier,
    "q194_winnow_dup_pairs": q194_winnow_dup_pairs,
    "q196_winnow_index_cdf_sync": q196_winnow_index_cdf_sync,
    "q190_bpe_train_merges": q190_bpe_train_merges,
    "q191_bpe_encode_corpus": q191_bpe_encode_corpus,
    "q30_dedup_exact": q30_dedup_exact,
    "q157_score_percentiles": q157_score_percentiles,
    "q158_shard_manifest": q158_shard_manifest,
    "q153_shard_shuffle": q153_shard_shuffle,
    "q154_token_budget_select": q154_token_budget_select,
    "q155_weighted_sample": q155_weighted_sample,
    "q156_dedup_keep_best": q156_dedup_keep_best,
    "q137_pretrain_funnel": q137_pretrain_funnel,
    "q138_pq_topk": q138_pq_topk,
    "q139_ivfpq_topk": q139_ivfpq_topk,
    "q145_ivfpq_residual": q145_ivfpq_residual,
    "q146_pq_index_cdf_sync": q146_pq_index_cdf_sync,
    "q147_pretrain_funnel_full": q147_pretrain_funnel_full,
    "q159_pretrain_funnel_bigram": q159_pretrain_funnel_bigram,
    "q170_pretrain_funnel_minhash": q170_pretrain_funnel_minhash,
    "q171_wav_meta_roundtrip": q171_wav_meta_roundtrip,
    "q172_gif_frame_index": q172_gif_frame_index,
    "q173_png_decode_roundtrip": q173_png_decode_roundtrip,
    "q174_wav_energy_segments": q174_wav_energy_segments,
    "q175_png_rgb_roundtrip": q175_png_rgb_roundtrip,
    "q176_image_resize_roundtrip": q176_image_resize_roundtrip,
    "q160_reference_lm_score": q160_reference_lm_score,
    "q161_curriculum_shards": q161_curriculum_shards,
    "q162_hll_distinct_tokens": q162_hll_distinct_tokens,
    "q163_countmin_term_counts": q163_countmin_term_counts,
    "q164_excess_perplexity_select": q164_excess_perplexity_select,
    "q165_hll_state_vocab": q165_hll_state_vocab,
    "q166_cm_state_gdpr": q166_cm_state_gdpr,
    "q168_vocab_overlap_sketch": q168_vocab_overlap_sketch,
    "q169_bloom_prefilter": q169_bloom_prefilter,
    "q148_text_index_cdf_sync": q148_text_index_cdf_sync,
    "q149_persistent_residual_index": q149_persistent_residual_index,
    "q150_hybrid_search_rrf": q150_hybrid_search_rrf,
    "q151_hybrid_from_indexes": q151_hybrid_from_indexes,
    "q140_index_cdf_sync": q140_index_cdf_sync,
    "q141_persistent_pq_index": q141_persistent_pq_index,
    "q142_bm25_search": q142_bm25_search,
    "q143_semantic_decontaminate": q143_semantic_decontaminate,
    "q144_bigram_lm_score": q144_bigram_lm_score,
    "q122_top_terms_per_source": q122_top_terms_per_source,
    "q124_cross_corpus_near_dups": q124_cross_corpus_near_dups,
    "q129_incremental_lsh_index": q129_incremental_lsh_index,
    "q130_mixture_resample": q130_mixture_resample,
    "q131_quantized_cosine_topk": q131_quantized_cosine_topk,
    "q132_length_bucket_stats": q132_length_bucket_stats,
    "q133_gopher_quality_filter": q133_gopher_quality_filter,
    "q31_dedup_ngram_jaccard": q31_dedup_ngram_jaccard,
    "q32_dedup_minhash_lsh": q32_dedup_minhash_lsh,
    "q33_dedup_simhash": q33_dedup_simhash,
    "q34_embedding_cosine_topk": q34_embedding_cosine_topk,
    "q35_embedding_lsh_pairs": q35_embedding_lsh_pairs,
    "q36_embedding_ivf_topk": q36_embedding_ivf_topk,
    "q37_token_stats": q37_token_stats,
    "q38_quality_score": q38_quality_score,
    "q39_lang_id": q39_lang_id,
    "q40_fingerprint": q40_fingerprint,
    "q41_multimodal_features": q41_multimodal_features,
    "q42_embedding_dedup_pairs": q42_embedding_dedup_pairs,
    "q43_frame_sample": q43_frame_sample,
    "q44_embedding_topk_pandas": q44_embedding_topk_pandas,
    "q45_train_test_split": q45_train_test_split,
    "q67_chunk_documents": q67_chunk_documents,
    "q68_pack_sequences": q68_pack_sequences,
    "q69_redact_pii": q69_redact_pii,
    "q70_repetition_ratio": q70_repetition_ratio,
    "q76_tfidf_keywords": q76_tfidf_keywords,
    "q77_vocabulary": q77_vocabulary,
    "q86_dedup_clusters": q86_dedup_clusters,
    "q87_audio_chunk_plan": q87_audio_chunk_plan,
    "q88_dedup_pipeline_stats": q88_dedup_pipeline_stats,
    "q92_decontaminate": q92_decontaminate,
    "q95_char_entropy": q95_char_entropy,
    "q96_oov_rate": q96_oov_rate,
    "q97_kmeans_clusters": q97_kmeans_clusters,
    "q113_semantic_dedup": q113_semantic_dedup,
    "q114_dedup_incremental": q114_dedup_incremental,
    "q115_domain_cap": q115_domain_cap,
    "q116_centroid_outliers": q116_centroid_outliers,
    "q118_remove_dup_spans": q118_remove_dup_spans,
    "q98_bigram_stats": q98_bigram_stats,
    "q103_unigram_lm_score": q103_unigram_lm_score,
    "q104_mixture_sample": q104_mixture_sample,
    "q105_duplicate_spans": q105_duplicate_spans,
    "q106_strip_markup": q106_strip_markup,
}

ORACLE_SQL = {
    "q319_wilson_intervals": _Q319_SQL,
    "q318_pass_at_k": _Q318_SQL,
    "q317_fim_transform": _Q317_SQL,
    "q316_hits_hubs_authorities": _q316_sql(),
    "q315_nextfit_packing": _q315_sql(),
    "q314_chat_packing_efficiency": _q314_sql(),
    "q313_bradley_terry": _q313_sql(),
    "q312_chat_pii_scrub": _Q312_SQL,
    "q311_rejection_sampling": _Q311_SQL,
    "q309_conversation_decontamination": _q309_sql(),
    "q308_dpo_token_masks": _q308_sql(),
    "q307_post_training_funnel": _q307_sql(),
    "q306_preference_decontamination": _q306_sql(),
    "q305_conversation_near_dups": _Q305_SQL,
    "q304_sft_packed_loss_masks": _q304_sql(),
    "q303_sft_token_loss_masks": _q303_sql(),
    "q302_webdataset_mixed_samples": _Q302_SQL,
    "q301_image_dhash_mixed": _Q301_SQL,
    "q300_webdataset_samples": _Q300_SQL,
    "q299_chat_loss_spans": _Q299_SQL,
    "q298_preference_pair_audit": _Q298_SQL,
    "q297_conversation_stats": _Q297_SQL,
    "q296_image_dhash_dedup": _Q296_SQL,
    "q295_robots_screened_frontier": _Q295_SQL,
    "q294_zip_member_walk": _Q294_SQL,
    "q293_frontier_expansion": _Q293_SQL,
    "q292_sitemap_parse": _Q292_SQL,
    "q291_frontier_politeness_plan": _Q291_SQL,
    "q290_crawl_ingestion_report": _Q290_SQL,
    "q289_robots_verdicts": _Q289_SQL,
    "q288_host_pagerank": _q288_sql(),
    "q287_outlink_extraction": _Q287_SQL,
    "q286_warc_gzip_members": _Q273_SQL,
    "q285_html_numeric_entities": _Q285_SQL,
    "q283_boilerplate_clean_docs": _q283_sql(),
    "q282_boilerplate_blocks": _q282_sql(),
    "q281_registered_domain_psl": _Q281_SQL,
    "q280_http_charset_decode": _Q280_SQL,
    "q279_perceptron_eval": _Q279_SQL,
    "q278_perceptron_train": _Q278_SQL,
    "q277_web_ingestion_pipeline": _Q277_SQL,
    "q276_fmp4_fragment_walk": _Q276_SQL,
    "q275_html_text_extract": _Q275_SQL,
    "q274_url_dedup": _Q274_SQL,
    "q273_warc_record_walk": _Q273_SQL,
    "q272_semantic_curation_report": _Q272_SQL,
    "q271_keyframe_sampling_plan": _Q271_SQL,
    "q269_byte_bpe_encode": _Q269_SQL,
    "q268_byte_bpe_train": _Q268_SQL,
    "q267_mp4_track_walk": _Q267_SQL,
    "q266_semdedup_arrow": _Q266_SQL,
    "q265_semdedup_centroid_prune": _Q265_SQL,
    "q264_release_manifest": _Q264_SQL,
    "q263_calibrated_curation_funnel": _Q263_SQL,
    "q262_cluster_size_histogram": _Q262_SQL,
    "q261_packing_efficiency": _Q261_SQL,
    "q260_langid_confusion": _Q260_SQL,
    "q259_hilbert_index": _Q259_SQL,
    "q258_difficulty_reweighted_mixture": _Q258_SQL,
    "q257_kcenter_exemplars": _Q257_SQL,
    "q255_percentile_normalized_selection": _Q255_SQL,
    "q254_tokenizer_report": _Q254_SQL,
    "q253_key_skew_audit": _Q253_SQL,
    "q252_retrieval_eval": _Q252_SQL,
    "q251_tar_member_walk": _Q251_SQL,
    "q250_decayed_event_rates": _Q250_SQL,
    "q249_triangle_parts": _Q249_SQL,
    "q248_ring_negatives": _Q248_SQL,
    "q247_fleiss_kappa": _Q247_SQL,
    "q246_trimmed_mean_lengths": _Q246_SQL,
    "q245_edit_distance_pairs": _Q245_SQL,
    "q244_kfold_audit": _Q244_SQL,
    "q243_chi2_keywords": _Q243_SQL,
    "q242_heavy_hitters": _Q242_SQL,
    "q241_length_regression": _Q241_SQL,
    "q240_wordpiece_encode": _Q240_SQL,
    "q239_wordpiece_train": _Q239_SQL,
    "q238_mixture_plan": _Q238_SQL,
    "q236_substring_index_probe": _Q236_SQL,
    "q235_rouge_pair_audit": _Q235_SQL,
    "q234_robust_length_outliers": _Q234_SQL,
    "q233_kneser_ney_surprise": _Q233_SQL,
    "q232_kneser_ney_bigrams": _Q232_SQL,
    "q231_rater_agreement": _Q231_SQL,
    "q230_blocklist_screen": _Q230_SQL,
    "q229_exact_substring_scrub": _Q229_SQL,
    "q228_exact_substring_spans": _Q228_SQL,
    "q227_jpeg_color_roundtrip": _Q227_SQL,
    "q226_jpeg_decode_roundtrip": _Q226_SQL,
    "q225_unigram_encode": _Q225_SQL,
    "q224_unigram_train": _Q224_SQL,
    "q223_hamilton_quotas": _Q223_SQL,
    "q222_pmi_collocations": _Q222_SQL,
    "q221_ngram_novelty": _Q221_SQL,
    "q220_dataset_card": _Q220_SQL,
    "q219_auc_by_source": _Q219_SQL,
    "q218_personalized_pagerank": _Q218_SQL,
    "q217_event_rate_anomalies": _Q217_SQL,
    "q216_cross_source_dup_matrix": _Q216_SQL,
    "q215_zipf_slope": _Q215_SQL,
    "q214_text_lsh_pipeline": _Q214_SQL,
    "q213_leakage_free_split": _Q213_SQL,
    "q212_threshold_sweep": _Q212_SQL,
    "q211_classifier_calibration": _Q211_SQL,
    "q210_classifier_auc": _Q210_SQL,
    "q208_containment_pairs": _Q208_SQL,
    "q207_standardize_embeddings": _Q207_SQL,
    "q206_knn_label_transfer": _Q206_SQL,
    "q205_hashed_embeddings": _Q205_SQL,
    "q204_gif_keyframes": _Q204_SQL,
    "q203_tfidf_cosine_pairs": _Q203_SQL,
    "q202_wav_spectral_probe": _Q202_SQL,
    "q201_label_propagation": _Q201_SQL,
    "q200_dsir_selection": _Q200_SQL,
    "q199_pagerank_trade_graph": _Q199_SQL,
    "q198_phrase_search": _Q198_SQL,
    "q197_segment_dedup": _Q197_SQL,
    "q192_gif_pixel_decode": _Q192_SQL,
    "q193_quality_classifier": _Q193_SQL,
    "q194_winnow_dup_pairs": _Q194_SQL,
    "q196_winnow_index_cdf_sync": _Q196_SQL,
    "q190_bpe_train_merges": _Q190_SQL,
    "q191_bpe_encode_corpus": _Q191_SQL,
    "q33_dedup_simhash": _Q33_SQL,
    "q153_shard_shuffle": _Q153_SQL,
    "q154_token_budget_select": _Q154_SQL,
    "q155_weighted_sample": _Q155_SQL,
    "q156_dedup_keep_best": _Q156_SQL,
    "q157_score_percentiles": _Q157_SQL,
    "q158_shard_manifest": _Q158_SQL,
    "q35_embedding_lsh_pairs": _Q35_SQL,
    "q36_embedding_ivf_topk": _Q36_SQL,
    "q43_frame_sample": _Q43_SQL,
    "q44_embedding_topk_pandas": _Q34_SQL,  # same semantics, Arrow path
    "q45_train_test_split": _Q45_SQL,
    "q42_embedding_dedup_pairs": _Q42_SQL,
    "q30_dedup_exact": _Q30_SQL,
    "q31_dedup_ngram_jaccard": _Q31_SQL,
    "q32_dedup_minhash_lsh": _Q31_SQL,  # same semantics, LSH-accelerated
    "q34_embedding_cosine_topk": _Q34_SQL,
    "q37_token_stats": _Q37_SQL,
    "q38_quality_score": _Q38_SQL,
    "q39_lang_id": _Q39_SQL,
    "q40_fingerprint": _Q40_SQL,
    "q41_multimodal_features": _Q41_SQL,
    "q67_chunk_documents": _Q67_SQL,
    "q68_pack_sequences": _Q68_SQL,
    "q69_redact_pii": _Q69_SQL,
    "q70_repetition_ratio": _Q70_SQL,
    "q76_tfidf_keywords": _Q76_SQL,
    "q77_vocabulary": _Q77_SQL,
    "q86_dedup_clusters": _Q86_SQL,
    "q87_audio_chunk_plan": _Q87_SQL,
    "q88_dedup_pipeline_stats": _Q88_SQL,
    "q92_decontaminate": _Q92_SQL,
    "q95_char_entropy": _Q95_SQL,
    "q96_oov_rate": _Q96_SQL,
    "q97_kmeans_clusters": _Q97_SQL,
    "q113_semantic_dedup": _Q113_SQL,
    "q98_bigram_stats": _Q98_SQL,
    "q103_unigram_lm_score": _Q103_SQL,
    "q104_mixture_sample": _Q104_SQL,
    "q105_duplicate_spans": _Q105_SQL,
    "q106_strip_markup": _Q106_SQL,
    "q114_dedup_incremental": _Q114_SQL,
    "q115_domain_cap": _Q115_SQL,
    "q116_centroid_outliers": _Q116_SQL,
    "q118_remove_dup_spans": _Q118_SQL,
    "q122_top_terms_per_source": _Q122_SQL,
    "q124_cross_corpus_near_dups": _Q124_SQL,
    "q129_incremental_lsh_index": _Q129_SQL,
    "q130_mixture_resample": _Q130_SQL,
    "q131_quantized_cosine_topk": _Q131_SQL,
    "q132_length_bucket_stats": _Q132_SQL,
    "q133_gopher_quality_filter": _Q133_SQL,
    "q137_pretrain_funnel": _Q137_SQL,
    "q138_pq_topk": _Q138_SQL,
    "q139_ivfpq_topk": _Q139_SQL,
    "q145_ivfpq_residual": _Q145_SQL,
    "q146_pq_index_cdf_sync": _Q146_SQL,
    "q147_pretrain_funnel_full": _Q147_SQL,
    "q159_pretrain_funnel_bigram": _Q159_SQL,
    "q170_pretrain_funnel_minhash": _Q170_SQL,
    "q171_wav_meta_roundtrip": _Q171_SQL,
    "q172_gif_frame_index": _Q172_SQL,
    "q173_png_decode_roundtrip": _Q173_SQL,
    "q174_wav_energy_segments": _Q174_SQL,
    "q175_png_rgb_roundtrip": _Q175_SQL,
    "q176_image_resize_roundtrip": _Q176_SQL,
    "q160_reference_lm_score": _Q160_SQL,
    "q161_curriculum_shards": _Q161_SQL,
    "q162_hll_distinct_tokens": _Q162_SQL,
    "q163_countmin_term_counts": _Q163_SQL,
    "q164_excess_perplexity_select": _Q164_SQL,
    # the oracle identity IS the merge property: stored max-merged
    # registers must reproduce the whole-corpus estimate bit-exactly
    "q165_hll_state_vocab": _Q162_SQL,
    # whole-formula replay over the SURVIVING corpus: a green row is a
    # cell-exact proof that subtraction removed the deleted slice
    "q166_cm_state_gdpr": _Q166_SQL,
    "q168_vocab_overlap_sketch": _Q168_SQL,
    "q169_bloom_prefilter": _Q169_SQL,
    "q148_text_index_cdf_sync": _Q148_SQL,
    "q149_persistent_residual_index": _Q145_SQL,
    "q150_hybrid_search_rrf": _Q150_SQL,
    "q151_hybrid_from_indexes": _Q151_SQL,
    "q140_index_cdf_sync": _Q140_SQL,
    "q141_persistent_pq_index": _Q141_SQL,
    "q142_bm25_search": _Q142_SQL,
    "q143_semantic_decontaminate": _Q143_SQL,
    "q144_bigram_lm_score": _Q144_SQL,
}
