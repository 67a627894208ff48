"""LLM-data-pipeline operator catalog (SURVEY §7 M6): dedup, similarity
search, text analysis, multimodal — each with a DuckDB oracle mirroring
the Spark expression exactly (md5-derived hashes, integer quantization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tigate_spark.catalog import CATALOG, register
from tigate_spark.functions import dedup as dd
from tigate_spark.functions import similarity as sim
from tigate_spark.functions import text as tx
from tigate_spark.functions.phash import h32_sql
from tigate_spark.sources.batch import fan_out_if_small, load_table


def _docs_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan fanned to core width (fan_out_if_small — no-op at
    lake scale) for the row-local scoring entries, whose whole pipeline
    would otherwise fuse into the single scan task a one-file input
    produces (r17: quality_score wall 0.18 s -> 0.10 s at sf0.1)."""
    return fan_out_if_small(load_table(spark, sf_dir, "documents"))

# ---------------------------------------------------------------------------
# shared DuckDB snippets (twins of functions/text.py + dedup.py + similarity.py)
# ---------------------------------------------------------------------------
_TOK_CTE = """
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
  FROM documents
)
"""

_SHINGLE_CTE = _TOK_CTE + """
, sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(tokens) - 3, 1)),
           i -> array_to_string(tokens[i:i+4], ' '))) AS shingles
  FROM tok
)
"""

_P = dd.MINHASH_P
_K = dd.MINHASH_K

_MINHASH_SIG_SQL = (
    f"list_transform(range({_K}), i -> list_min(list_transform("
    f"list_transform(shingles, s -> {h32_sql('s')} % {_P}), "
    f"h -> (({h32_sql(chr(39) + 'mh_a' + chr(39) + ' || CAST(i AS VARCHAR)')} % {_P}) * h "
    f"+ ({h32_sql(chr(39) + 'mh_b' + chr(39) + ' || CAST(i AS VARCHAR)')} % {_P})) % {_P})))"
)

_QUANT_CTE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
  FROM embeddings
), base AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS norm_sq
  FROM q
)
"""

_EN = ", ".join(f"'{w}'" for w in tx.EN_STOPWORDS)
_ES = ", ".join(f"'{w}'" for w in tx.ES_STOPWORDS)


# ===========================================================================
# Text analysis
# ===========================================================================
@register(
    "text_token_count",
    _TOK_CTE
    + f"""
SELECT doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(lower(text), '{tx.BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens
FROM tok
""",
    doc="Token counting: whitespace + BPE-ish regex",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_counts(_docs_fanned(spark, sf_dir))


@register(
    "text_quality_score",
    _TOK_CTE
    + f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(tokens, x -> length(x))) * 100 // len(tokens) AS BIGINT)
         AS avg_token_len_x100,
       CAST(len(list_distinct(tokens)) * 10000 // len(tokens) AS BIGINT) AS ttr_bp,
       CAST(len(list_filter(tokens, x -> x IN ({_EN}))) * 10000 // len(tokens) AS BIGINT)
         AS stopword_bp,
       len(tokens) BETWEEN 20 AND 2000
         AND len(list_distinct(tokens)) * 10000 // len(tokens) >= 1000 AS quality_ok
FROM tok
""",
    doc="Quality scoring: length / lexical diversity / stopword density (integer bp)",
    bench=True,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_docs_fanned(spark, sf_dir))


@register(
    "text_lang_id",
    _TOK_CTE
    + f"""
SELECT doc_id,
       CAST(len(list_filter(tokens, x -> x IN ({_EN}))) AS BIGINT) AS en_hits,
       CAST(len(list_filter(tokens, x -> x IN ({_ES}))) AS BIGINT) AS es_hits,
       CASE WHEN len(list_filter(tokens, x -> x IN ({_ES}))) >
                 len(list_filter(tokens, x -> x IN ({_EN}))) THEN 'es'
            WHEN len(list_filter(tokens, x -> x IN ({_EN}))) > 0 THEN 'en'
            ELSE 'und' END AS lang_pred
FROM tok
""",
    doc="Language-ID heuristic via stopword n-gram hits",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(_docs_fanned(spark, sf_dir))


@register(
    "text_fingerprint",
    _TOK_CTE
    + """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(tokens)), ' ')) AS fingerprint
FROM tok
""",
    doc="Document fingerprint: md5 of sorted distinct vocabulary",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_docs_fanned(spark, sf_dir))


@register(
    "text_chunk_documents",
    _TOK_CTE
    + f"""
, ch AS (
  SELECT doc_id, tokens, len(tokens) AS n,
         CASE WHEN len(tokens) <= {tx.CHUNK_SIZE} THEN 1
              ELSE 1 + (len(tokens) - {tx.CHUNK_SIZE} + {tx.CHUNK_STRIDE} - 1)
                   // {tx.CHUNK_STRIDE} END AS n_chunks
  FROM tok
), ex AS (
  SELECT doc_id, tokens, n, unnest(range(0, n_chunks)) AS chunk_id
  FROM ch
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {tx.CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
       CAST(least(chunk_id * {tx.CHUNK_STRIDE} + {tx.CHUNK_SIZE}, n) AS BIGINT)
         AS end_tok,
       CAST(len(tokens[chunk_id * {tx.CHUNK_STRIDE} + 1 :
                       chunk_id * {tx.CHUNK_STRIDE} + {tx.CHUNK_SIZE}]) AS BIGINT)
         AS n_chunk_tokens,
       coalesce(array_to_string(tokens[chunk_id * {tx.CHUNK_STRIDE} + 1 :
                       chunk_id * {tx.CHUNK_STRIDE} + {tx.CHUNK_SIZE}], ' '), '')
         AS chunk_text
FROM ex
""",
    doc="Sliding token-window chunking (64-token windows, 16-token "
        "overlap) — the pretraining/RAG shard step; per-row explode, "
        "zero shuffle, map-side at any scale",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_documents(load_table(spark, sf_dir, "documents"))


# ===========================================================================
# Dedup
# ===========================================================================
@register(
    "dedup_exact",
    """
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
    doc="Exact dedup: content-hash groups → canonical id",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    _SHINGLE_CTE
    + f"""
, e AS (
  SELECT doc_id, unnest(shingles) AS s
  FROM sh
), kept AS (
  SELECT s FROM e GROUP BY s HAVING count(*) <= {dd.LSH_BUCKET_CAP}
), ke AS (
  SELECT e.doc_id, e.s FROM e JOIN kept USING (s)
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM ke GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS inter,
       sa.n_sh + sb.n_sh - count(*) AS union_sz,
       count(*) * 10000 // (sa.n_sh + sb.n_sh - count(*)) AS jaccard_bp
FROM ke a JOIN ke b ON a.s = b.s AND a.doc_id < b.doc_id
JOIN sz sa ON sa.doc_id = a.doc_id
JOIN sz sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, sa.n_sh, sb.n_sh
""",
    doc="n-gram Jaccard near-dup pairs via df-capped inverted index: shingles "
        "with document frequency > cap are stop-shingles (removed from pairing "
        "AND set sizes), bounding pair work per shingle at cap²/2. NOTE "
        "(changed r04): df_cap defaults on — jaccard_bp/union_sz are over the "
        "kept-shingle universe; pass df_cap=None for exact full-universe "
        "Jaccard on small corpora",
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_signature",
    _SHINGLE_CTE
    + f"""
SELECT doc_id,
       array_to_string({_MINHASH_SIG_SQL}, ',') AS sig
FROM sh WHERE len(shingles) >= 1
""",
    doc="MinHash signatures (k=8, md5-derived hash family), row-local",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signature(load_table(spark, sf_dir, "documents"))
    return sigs.select("doc_id", F.expr("array_join(sig, ',')").alias("sig"))


@register(
    "dedup_minhash_lsh",
    _SHINGLE_CTE
    + f"""
, sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh WHERE len(shingles) >= 1
), bands AS (
  SELECT doc_id, g.band,
         printf('%d:%d', sig[2 * g.band + 1], sig[2 * g.band + 2]) AS v
  FROM sigs, (SELECT unnest(range({dd.MINHASH_BANDS})) AS band) g
), sized AS (
  SELECT band, v FROM bands GROUP BY band, v HAVING count(*) <= {dd.LSH_BUCKET_CAP}
), bf AS (
  SELECT b.* FROM bands b JOIN sized s ON b.band = s.band AND b.v = s.v
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bf a JOIN bf b
  ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
    doc="MinHash-LSH candidate pairs (b=4 bands × r=2, oversized buckets capped; "
        "only (doc,band) rows shuffle)",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


_SIMHASH_SQL = (
    f"CAST(list_sum(list_transform(range(32), b -> "
    f"CASE WHEN list_sum(list_transform("
    f"list_transform(list_distinct(tokens), t -> {h32_sql('t')}), "
    f"h -> CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
    f"THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END)) AS BIGINT)"
)


@register(
    "dedup_simhash",
    _TOK_CTE + f"SELECT doc_id, {_SIMHASH_SQL} AS simhash FROM tok",
    doc="32-bit SimHash signatures over the token vocabulary, row-local",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    _TOK_CTE
    + f"""
, sh AS (SELECT doc_id, {_SIMHASH_SQL} AS simhash FROM tok),
chunks AS (
  SELECT doc_id, simhash, g.c AS chunk, (simhash >> CAST(g.c * 8 AS INTEGER)) & 255 AS v
  FROM sh, (SELECT unnest(range(4)) AS c) g
), sized AS (
  SELECT chunk, v FROM chunks GROUP BY chunk, v HAVING count(*) <= {dd.LSH_BUCKET_CAP}
), cf AS (
  SELECT c.* FROM chunks c JOIN sized s ON c.chunk = s.chunk AND c.v = s.v
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM cf a JOIN cf b
  ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""",
    doc="SimHash near-dup pairs: 8-bit chunk LSH prefilter + Hamming≤6 verify",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=6)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


@register(
    "dedup_embedding_exact",
    _QUANT_CTE
    + """
SELECT md5(array_to_string(q, ',')) AS qhash,
       min(vec_id) AS canonical_vec_id,
       count(*) AS n_copies
FROM base GROUP BY 1
""",
    doc="Embedding exact dedup on quantized-vector digest",
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_exact_dedup(load_table(spark, sf_dir, "embeddings"))


# ===========================================================================
# Similarity search
# ===========================================================================
@register(
    "sim_cosine_topk",
    _QUANT_CTE
    + """
, scored AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(round(
           CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qr.q[i])) AS BIGINT)
           / (sqrt(CAST(c.norm_sq AS DOUBLE)) * sqrt(CAST(qr.norm_sq AS DOUBLE))) * 10000
         ) AS BIGINT) AS cos_bp
  FROM base c JOIN base qr ON qr.vec_id < 20 AND c.vec_id <> qr.vec_id
)
SELECT query_id, neighbor_id, rank, cos_bp FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_bp DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
""",
    doc="Brute-force exact cosine top-10 (integer-quantized dot products)",
    bench=True,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.brute_force_topk(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "sim_cosine_topk_kernel",
    CATALOG["sim_cosine_topk"].oracle,
    doc="Brute-force exact cosine top-10 through the numpy matmul "
        "mapInPandas kernel, forced (use_kernel=True) — keeps the "
        "at-scale scoring branch externally oracle-checked below the "
        "KERNEL_MIN_ROWS dispatch crossover (r18, VERDICT #5); results "
        "are bit-identical to sim_cosine_topk by construction",
)
def sim_cosine_topk_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), use_kernel=True
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_BUCKET_SQL = (
    "CAST(list_sum(list_transform(range(8), p -> "
    "CASE WHEN list_sum(list_transform(range(1, 65), d -> q[d] * "
    f"(({h32_sql(chr(39) + 'pl' + chr(39) + ' || CAST(p AS VARCHAR) || ' + chr(39) + '_' + chr(39) + ' || CAST(d AS VARCHAR)')} % 2001) - 1000))) > 0 "
    "THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END)) AS BIGINT)"
)


@register(
    "sim_lsh_bucket",
    _QUANT_CTE + f"SELECT vec_id, {_BUCKET_SQL} AS bucket FROM base",
    doc="Sign-random-projection LSH bucket id per vector (8 deterministic planes)",
)
def sim_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.lsh_bucket(load_table(spark, sf_dir, "embeddings"))
    return out.select("vec_id", "bucket")


@register(
    "sim_ann_lsh_topk",
    _QUANT_CTE
    + f"""
, bucketed AS (
  SELECT vec_id, q, norm_sq, {_BUCKET_SQL} AS bucket FROM base
), scored AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(round(
           CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qr.q[i])) AS BIGINT)
           / (sqrt(CAST(c.norm_sq AS DOUBLE)) * sqrt(CAST(qr.norm_sq AS DOUBLE))) * 10000
         ) AS BIGINT) AS cos_bp
  FROM bucketed c JOIN bucketed qr
    ON qr.vec_id < 20 AND c.bucket = qr.bucket AND c.vec_id <> qr.vec_id
)
SELECT query_id, neighbor_id, rank, cos_bp FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_bp DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="ANN top-5 via LSH bucket prefilter — the 100 TB scale path",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.ann_lsh_topk(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ===========================================================================
# Multimodal plumbing
# ===========================================================================
@register(
    "multimodal_binary_meta",
    """
SELECT doc_id, 'image/bmp' AS mime,
       CAST(54 + rs * h AS BIGINT) AS n_bytes,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(24 AS BIGINT) AS bpp,
       CAST(list_sum(list_transform(range(h), r ->
              list_sum(list_transform(range(w * 3), c ->
                (doc_id * 31 + r * rs + c) % 256))))
            // (w * h * 3) AS BIGINT) AS mean_px
FROM (
  SELECT doc_id, w, h, (w * 3 + 3) // 4 * 4 AS rs
  FROM (SELECT doc_id, doc_id % 6 + 2 AS w, doc_id % 4 + 1 AS h
        FROM documents)
)
""",
    doc="REAL container-header parse (no stub): a VALID 24-bit BMP file "
        "per doc is synthesized JVM-side (magic, file header, "
        "BITMAPINFOHEADER, bottom-up 4-byte-padded pixel rows), then "
        "struct.unpack-parsed inside Arrow mapInPandas — size, "
        "dimensions, depth and the mean pixel all come from the BYTES "
        "(stride padding excluded), and the oracle reproduces every "
        "parsed field arithmetically. 1 row in / 1 row out, zero "
        "shuffle; malformed payloads raise for the dead-letter path",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.multimodal import parse_bmp_meta, synth_bmp

    docs = load_table(spark, sf_dir, "documents")
    return parse_bmp_meta(synth_bmp(docs))


@register(
    "multimodal_png_decode",
    """
WITH ids AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 5 = 0
), px AS (
  SELECT i.img_id, x.range AS x, y.range AS y
  FROM ids i CROSS JOIN range(24) x CROSS JOIN range(16) y
), sums AS (
  SELECT img_id,
    CAST(SUM((img_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS s_r,
    CAST(SUM((img_id * 31 + x * 7 + y * 13 + 17) % 256) AS BIGINT) AS s_g,
    CAST(SUM((img_id * 31 + x * 7 + y * 13 + 34) % 256) AS BIGINT) AS s_b
  FROM px GROUP BY img_id
)
SELECT img_id,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 24 END AS BIGINT) AS width,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 16 END AS BIGINT) AS height,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 3 END AS BIGINT)
    AS channels,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_r END AS sum_r,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_g END AS sum_g,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_b END AS sum_b,
  CAST(CASE WHEN img_id % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM sums
""",
    doc="REAL entropy-coded image decode — NO stub left on the "
        "multimodal path: a valid 24x16 truecolor PNG per document is "
        "synthesized on the EXECUTORS (chunk framing + CRC-32 + DEFLATE "
        "via stdlib zlib, scanline filters varied y%5 so the decoder "
        "must invert all five predictors: None/Sub/Up/Average/Paeth — "
        "RFC 2083 / W3C PNG spec), then decoded by an independent "
        "from-spec parser (functions/png.py) inside Arrow mapInPandas: "
        "signature + per-chunk CRC validation, zlib inflate, full "
        "unfiltering. Per-image channel sums must reproduce the known "
        "pixel formula arithmetically (the oracle never sees bytes); "
        "every 97th image is corrupted in transit and must land in the "
        "dead-letter lane (decode_ok=0, null fields) via CRC mismatch, "
        "not crash the task. Zero shuffle, 1 row in / 1 row out",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.png import decode_png_features, png_encode

    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").cast("bigint").alias("img_id"))
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                d = int(img_id)
                pixels = [
                    [[(d * 31 + x * 7 + y * 13 + c * 17) % 256
                      for c in range(3)] for x in range(24)]
                    for y in range(16)
                ]
                data = png_encode(pixels)  # filters vary per row (y%5)
                if d % 97 == 0:
                    # corrupt ONE byte inside IHDR: the decoder's chunk
                    # CRC check must catch it (dead-letter, not garbage)
                    b = bytearray(data)
                    b[25] ^= 0xFF
                    data = bytes(b)
                rows.append((d, data))
            yield pd.DataFrame(rows, columns=["img_id", "data"])

    imgs = ids.mapInPandas(gen, "img_id bigint, data binary")
    return decode_png_features(imgs)


@register(
    "multimodal_jpeg_decode",
    """
WITH ids AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 7 = 0
), mb AS (
  SELECT i.img_id, mx.range AS mx, my.range AS my
  FROM ids i CROSS JOIN range(2) mx CROSS JOIN range(2) my
), rgb AS (
  SELECT img_id, mx, my,
    CAST((img_id * 37 + mx * 11 + my * 23) % 256 AS DOUBLE) AS r,
    CAST((img_id * 37 + mx * 11 + my * 23 + 85) % 256 AS DOUBLE) AS g,
    CAST((img_id * 37 + mx * 11 + my * 23 + 170) % 256 AS DOUBLE) AS b
  FROM mb
), ycc AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    least(255.0, greatest(0.0,
      floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    least(255.0, greatest(0.0,
      floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM rgb
), back AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(y + 1.402 * (cr - 128.0) + 0.5))) AS r2,
    least(255.0, greatest(0.0,
      floor(y - 0.344136 * (cb - 128.0)
              - 0.714136 * (cr - 128.0) + 0.5))) AS g2,
    least(255.0, greatest(0.0,
      floor(y + 1.772 * (cb - 128.0) + 0.5))) AS b2
  FROM ycc
), sums AS (
  SELECT img_id,
    CAST(256 * SUM(r2) AS BIGINT) AS s_r,
    CAST(256 * SUM(g2) AS BIGINT) AS s_g,
    CAST(256 * SUM(b2) AS BIGINT) AS s_b
  FROM back GROUP BY img_id
)
SELECT img_id,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 32 END AS BIGINT) AS width,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 32 END AS BIGINT) AS height,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 3 END AS BIGINT)
    AS channels,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_r END AS sum_r,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_g END AS sum_g,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_b END AS sum_b,
  CAST(CASE WHEN img_id % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM sums
""",
    doc="From-spec JPEG baseline decode (ITU-T T.81) — the PNG "
        "precedent extended to the Huffman-entropy-coded format, "
        "retiring the multimodal_resize stub note: a valid 32x32 4:2:0 "
        "JFIF file per document is synthesized on the EXECUTORS by a "
        "general FDCT+quantize+Huffman encoder, then decoded by the "
        "independent from-spec parser (functions/jpeg.py: marker/DQT/"
        "DHT/SOF0/SOS parse, canonical Huffman rebuild from the file's "
        "BITS/HUFFVAL, byte unstuffing, DC prediction, AC run-length, "
        "dezigzag, dequant, matrix IDCT, 4:2:0 upsample, YCbCr->RGB) "
        "inside Arrow mapInPandas. Fixtures are flat 16x16 macroblocks "
        "whose pipeline has a CLOSED FORM (DC quant step 8 makes the "
        "DCT round trip exact), so per-image channel sums reproduce "
        "pure color-conversion arithmetic in the oracle — the oracle "
        "never sees bytes; non-flat AC content is covered by the "
        "spec-accuracy pytest round trips. Every 97th image is "
        "corrupted inside its DHT segment and must dead-letter "
        "(decode_ok=0) via the BITS/HUFFVAL consistency check, not "
        "crash the task. Zero shuffle, 1 row in / 1 row out",
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.jpeg import decode_jpeg_features, jpeg_encode

    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").cast("bigint").alias("img_id"))
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                d = int(img_id)
                img = np.zeros((32, 32, 3), dtype=np.int64)
                for my in range(2):
                    for mx in range(2):
                        base = (d * 37 + mx * 11 + my * 23) % 256
                        img[my * 16:(my + 1) * 16,
                            mx * 16:(mx + 1) * 16] = [
                            base, (base + 85) % 256, (base + 170) % 256]
                data = jpeg_encode(img)
                if d % 97 == 0:
                    # corrupt a BITS byte inside the first DHT segment:
                    # the decoder's canonical-table consistency check
                    # must catch it (dead-letter, not garbage pixels)
                    b = bytearray(data)
                    b[data.index(b"\xff\xc4") + 5] ^= 0xFF
                    data = bytes(b)
                rows.append((d, data))
            yield pd.DataFrame(rows, columns=["img_id", "data"])

    imgs = ids.mapInPandas(gen, "img_id bigint, data binary")
    return decode_jpeg_features(imgs)


@register(
    "multimodal_adpcm_decode",
    """
WITH RECURSIVE steps AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767] AS stl),
ids AS (SELECT doc_id AS clip FROM documents WHERE doc_id % 7 = 3),
dec AS (
  SELECT clip, 0 AS j,
         CAST((clip * 211) % 65536 - 32768 AS BIGINT) AS pred,
         CAST(clip % 89 AS BIGINT) AS idx,
         CAST((clip * 211) % 65536 - 32768 AS BIGINT) AS s,
         CAST((clip * 211) % 65536 - 32768 AS BIGINT) AS mn,
         CAST((clip * 211) % 65536 - 32768 AS BIGINT) AS mx
  FROM ids
  UNION ALL
  SELECT clip, j + 1, npred,
         greatest(0, least(88, idx +
           CASE code & 7 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                WHEN 7 THEN 8 ELSE -1 END)) AS idx,
         s + npred, least(mn, npred), greatest(mx, npred)
  FROM (
    SELECT clip, j, idx, s, mn, mx, code,
      greatest(-32768, least(32767,
        CASE WHEN code & 8 = 8 THEN pred - diff ELSE pred + diff END)) AS npred
    FROM (
      SELECT clip, j, pred, idx, s, mn, mx, code,
        (step >> 3)
        + CASE WHEN code & 1 = 1 THEN step >> 2 ELSE 0 END
        + CASE WHEN code & 2 = 2 THEN step >> 1 ELSE 0 END
        + CASE WHEN code & 4 = 4 THEN step ELSE 0 END AS diff
      FROM (
        SELECT d.*, CAST((d.clip * 7 + d.j * 13) % 16 AS BIGINT) AS code,
               stl[CAST(d.idx AS INT) + 1] AS step
        FROM dec d, steps
        WHERE d.j < 255
      ) a
    ) b
  ) c
)
SELECT clip AS clip_id,
  CAST(CASE WHEN clip % 97 = 0 THEN NULL ELSE 8000 END AS BIGINT)
    AS sample_rate,
  CAST(CASE WHEN clip % 97 = 0 THEN NULL ELSE 256 END AS BIGINT)
    AS n_samples,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE s END AS sum_pcm,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE mn END AS min_pcm,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE mx END AS max_pcm,
  CAST(CASE WHEN clip % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM dec WHERE j = 255
""",
    doc="From-spec IMA ADPCM audio decode (WAV format tag 0x11) — the "
        "audio member of the from-spec codec family (PNG r10, JPEG "
        "r11): a valid one-block 256-sample mono WAV per document is "
        "synthesized on the EXECUTORS (RIFF container + int16/index "
        "state header + packed 4-bit nibbles), decoded by the "
        "independent parser (functions/adpcm.py: chunk walk, block "
        "geometry validation, the IMA step/index recurrence with int16 "
        "clamping) inside Arrow mapInPandas. The recurrence is pure "
        "integer arithmetic, so the oracle replays it bit-exactly in a "
        "recursive CTE — every decoded sample depends on ALL prior "
        "nibbles, making the aggregate a whole-stream integrity check. "
        "Every 97th clip is corrupted in the RIFF magic and must "
        "dead-letter (decode_ok=0). Zero shuffle, 1 row in / 1 row out",
)
def multimodal_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.adpcm import (
        decode_adpcm_features,
        wav_ima_encode,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 3)
        .select(F.col("doc_id").cast("bigint").alias("clip_id"))
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for clip_id in pdf["clip_id"]:
                d = int(clip_id)
                pred0 = ((d * 211) % 65536) - 32768
                idx0 = d % 89
                nibs = [(d * 7 + j * 13) % 16 for j in range(255)]
                data = wav_ima_encode([(pred0, idx0, nibs)])
                if d % 97 == 0:
                    b = bytearray(data)
                    b[9] ^= 0xFF  # inside 'WAVE': container magic breaks
                    data = bytes(b)
                rows.append((d, data))
            yield pd.DataFrame(rows, columns=["clip_id", "data"])

    clips = ids.mapInPandas(gen, "clip_id bigint, data binary")
    return decode_adpcm_features(clips)


@register(
    "multimodal_gif_decode",
    """
WITH ids AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 7 = 5
), px AS (
  SELECT i.img_id,
         (i.img_id * 31 + x.range * 5 + y.range * 11) % 256 AS idx
  FROM ids i CROSS JOIN range(24) x CROSS JOIN range(16) y
), sums AS (
  SELECT img_id,
    CAST(SUM((idx * 7) % 256) AS BIGINT) AS s_r,
    CAST(SUM((idx * 13) % 256) AS BIGINT) AS s_g,
    CAST(SUM((idx * 29) % 256) AS BIGINT) AS s_b
  FROM px GROUP BY img_id
)
SELECT img_id,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 24 END AS BIGINT) AS width,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 16 END AS BIGINT) AS height,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 3 END AS BIGINT)
    AS channels,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_r END AS sum_r,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_g END AS sum_g,
  CASE WHEN img_id % 97 = 0 THEN NULL ELSE s_b END AS sum_b,
  CAST(CASE WHEN img_id % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM sums
""",
    doc="From-spec GIF89a decode — the FOURTH from-spec codec family "
        "on the multimodal path (PNG/DEFLATE r10, JPEG/Huffman+DCT "
        "r11, ADPCM r11, now LZW): a valid 24x16 palettized GIF per "
        "document is synthesized on the EXECUTORS by a REAL "
        "dictionary-building LZW compressor (CLEAR/EOI codes, width "
        "bumps, 12-bit cap re-CLEAR), then decoded by the independent "
        "from-spec parser (functions/gif.py: LSD/color-table/image-"
        "descriptor parse, variable-width LZW with the KwKwK case, "
        "palette application) inside Arrow mapInPandas. GIF is "
        "lossless, so per-image channel sums reproduce the pixel-index "
        "formula + palette arithmetic exactly; every 97th image is "
        "corrupted in the header magic and dead-letters. Zero shuffle",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.gif import decode_gif_features, gif_encode

    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 5)
        .select(F.col("doc_id").cast("bigint").alias("img_id"))
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                d = int(img_id)
                idx = [[(d * 31 + x * 5 + y * 11) % 256
                        for x in range(24)] for y in range(16)]
                data = gif_encode(idx)
                if d % 97 == 0:
                    b = bytearray(data)
                    b[0] ^= 0xFF  # header magic breaks
                    data = bytes(b)
                rows.append((d, data))
            yield pd.DataFrame(rows, columns=["img_id", "data"])

    imgs = ids.mapInPandas(gen, "img_id bigint, data binary")
    return decode_gif_features(imgs)


@register(
    "dedup_image_ahash",
    """
WITH ids AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 7 = 1
), px AS (
  SELECT i.img_id, x.range AS x, y.range AS y,
         ((i.img_id % 31) * 31 + x.range * 5 + y.range * 11) % 256 AS idx
  FROM ids i CROSS JOIN range(24) x CROSS JOIN range(16) y
), g AS (
  SELECT img_id, x // 3 AS bx, y // 2 AS by,
         299 * ((idx * 7) % 256) + 587 * ((idx * 13) % 256)
         + 114 * ((idx * 29) % 256) AS gv
  FROM px
), blocks AS (
  SELECT img_id, by, bx, CAST(SUM(gv) AS BIGINT) AS bsum
  FROM g GROUP BY 1, 2, 3
), tot AS (
  SELECT img_id, CAST(SUM(bsum) AS BIGINT) AS total FROM blocks GROUP BY 1
), bits AS (
  SELECT b.img_id,
    CAST(SUM(CASE WHEN by * 8 + bx < 32 AND 64 * bsum > total
             THEN CAST(1 AS BIGINT) << CAST(31 - (by * 8 + bx) AS INT)
             ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN by * 8 + bx >= 32 AND 64 * bsum > total
             THEN CAST(1 AS BIGINT) << CAST(63 - (by * 8 + bx) AS INT)
             ELSE 0 END) AS BIGINT) AS lo
  FROM blocks b JOIN tot t ON b.img_id = t.img_id
  GROUP BY b.img_id
), hashes AS (
  SELECT img_id, printf('%08x%08x', hi, lo) AS ahash FROM bits
)
SELECT img_id, ahash,
       CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_dups
FROM hashes
""",
    doc="Image near-dup via perceptual average-hash over DECODED pixels "
        "— the from-spec codec family composed with the dedup family in "
        "one verified pipeline: each document's GIF is synthesized on "
        "executors (content keyed by doc_id %% 31, so real duplicate "
        "classes exist), LZW-decoded by functions/gif.py, and the "
        "decoded RGB reduced to a 64-bit aHash (8x8 block luma means vs "
        "the global mean, all INTEGER comparisons: 64*block_sum > total "
        "— no float rounding to diverge between engines) in the same "
        "Arrow batch; identical-hash groups counted with one hash agg. "
        "The oracle recomputes the hash from the pixel formula alone — "
        "matching proves the LZW decode and the kernel jointly exact. "
        "At 100 TB the per-image work stays in the scan stage and only "
        "(img_id, 16-char hash) rows shuffle — dedup_exact's profile",
)
def dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 1)
        .select(F.col("doc_id").cast("bigint").alias("img_id"))
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from tigate_spark.functions.gif import gif_decode, gif_encode

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                d = int(img_id)
                e = d % 31
                idx = [[(e * 31 + x * 5 + y * 11) % 256
                        for x in range(24)] for y in range(16)]
                w, h, rgb = gif_decode(gif_encode(idx))
                arr = np.array(rgb, dtype=np.int64).reshape(h, w, 3)
                g = (299 * arr[:, :, 0] + 587 * arr[:, :, 1]
                     + 114 * arr[:, :, 2])
                total = int(g.sum())
                bits = 0
                for by in range(8):
                    for bx in range(8):
                        bsum = int(g[by * 2:(by + 1) * 2,
                                     bx * 3:(bx + 1) * 3].sum())
                        bits = (bits << 1) | (1 if 64 * bsum > total else 0)
                rows.append(
                    (d, f"{bits >> 32:08x}{bits & 0xFFFFFFFF:08x}"))
            yield pd.DataFrame(rows, columns=["img_id", "ahash"])

    hashed = ids.mapInPandas(gen, "img_id bigint, ahash string")
    counts = hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_dups"))
    return hashed.join(counts, "ahash").select("img_id", "ahash", "n_dups")


@register(
    "dedup_audio_fingerprint",
    """
WITH RECURSIVE steps AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767] AS stl),
ids AS (SELECT doc_id AS clip FROM documents WHERE doc_id % 7 = 2),
dec AS (
  SELECT clip, 0 AS j,
         CAST(((clip % 29) * 211) % 65536 - 32768 AS BIGINT) AS pred,
         CAST((clip % 29) % 89 AS BIGINT) AS idx
  FROM ids
  UNION ALL
  SELECT clip, j + 1, npred,
         greatest(0, least(88, idx +
           CASE code & 7 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                WHEN 7 THEN 8 ELSE -1 END)) AS idx
  FROM (
    SELECT clip, j, idx, code,
      greatest(-32768, least(32767,
        CASE WHEN code & 8 = 8 THEN pred - diff ELSE pred + diff END)) AS npred
    FROM (
      SELECT clip, j, pred, idx, code,
        (step >> 3)
        + CASE WHEN code & 1 = 1 THEN step >> 2 ELSE 0 END
        + CASE WHEN code & 2 = 2 THEN step >> 1 ELSE 0 END
        + CASE WHEN code & 4 = 4 THEN step ELSE 0 END AS diff
      FROM (
        SELECT d.*,
               CAST(((d.clip % 29) * 7 + d.j * 13) % 16 AS BIGINT) AS code,
               stl[CAST(d.idx AS INT) + 1] AS step
        FROM dec d, steps
        WHERE d.j < 255
      ) a
    ) b
  ) c
),
segs AS (
  SELECT clip, j // 4 AS seg, CAST(SUM(abs(pred)) AS BIGINT) AS e
  FROM dec GROUP BY 1, 2
), tot AS (
  SELECT clip, CAST(SUM(e) AS BIGINT) AS total FROM segs GROUP BY 1
), bits AS (
  SELECT s.clip,
    CAST(SUM(CASE WHEN seg < 32 AND 64 * e > total
         THEN CAST(1 AS BIGINT) << CAST(31 - seg AS INT)
         ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN seg >= 32 AND 64 * e > total
         THEN CAST(1 AS BIGINT) << CAST(63 - seg AS INT)
         ELSE 0 END) AS BIGINT) AS lo
  FROM segs s JOIN tot t ON s.clip = t.clip GROUP BY s.clip
), fps AS (
  SELECT clip AS clip_id, printf('%08x%08x', hi, lo) AS fingerprint
  FROM bits
)
SELECT clip_id, fingerprint,
       CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_dups
FROM fps
""",
    doc="Audio near-dup via energy fingerprint over DECODED PCM — the "
        "audio twin of dedup_image_ahash, completing the modality "
        "symmetry (text MinHash / image aHash / audio energy-bands): "
        "each document's one-block IMA ADPCM WAV is synthesized on "
        "executors (content keyed by doc_id %% 29 so duplicate classes "
        "exist), decoded from-spec (functions/adpcm.py), and the PCM "
        "reduced to a 64-bit fingerprint (64 segments of 4 samples, "
        "|energy| vs the global mean, INTEGER comparisons 64*seg > "
        "total) in the same Arrow batch; fingerprint-equal clips "
        "counted with one hash agg. The oracle replays the decode "
        "recurrence in a recursive CTE and folds the same bits — "
        "matching proves decoder and kernel jointly bit-exact. Only "
        "(clip_id, 16-char fingerprint) rows shuffle at any scale",
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 2)
        .select(F.col("doc_id").cast("bigint").alias("clip_id"))
    )

    def gen(batches):
        import pandas as pd

        from tigate_spark.functions.adpcm import (
            wav_ima_decode,
            wav_ima_encode,
        )

        for pdf in batches:
            rows = []
            for clip_id in pdf["clip_id"]:
                d = int(clip_id)
                e = d % 29
                pred0 = ((e * 211) % 65536) - 32768
                idx0 = e % 89
                nibs = [(e * 7 + j * 13) % 16 for j in range(255)]
                _, pcm = wav_ima_decode(
                    wav_ima_encode([(pred0, idx0, nibs)]))
                total = sum(abs(v) for v in pcm)
                bits = 0
                for s in range(64):
                    seg = sum(abs(v) for v in pcm[s * 4:(s + 1) * 4])
                    bits = (bits << 1) | (1 if 64 * seg > total else 0)
                rows.append(
                    (d, f"{bits >> 32:08x}{bits & 0xFFFFFFFF:08x}"))
            yield pd.DataFrame(rows, columns=["clip_id", "fingerprint"])

    fps = ids.mapInPandas(gen, "clip_id bigint, fingerprint string")
    counts = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_dups"))
    return fps.join(counts, "fingerprint").select(
        "clip_id", "fingerprint", "n_dups")


@register(
    "multimodal_jpeg_resize",
    """
WITH ids AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 7 = 6
), rgb0 AS (
  SELECT img_id,
    CAST((img_id * 37) % 256 AS DOUBLE) AS r,
    CAST((img_id * 37 + 85) % 256 AS DOUBLE) AS g,
    CAST((img_id * 37 + 170) % 256 AS DOUBLE) AS b
  FROM ids
)
, cc1_y AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    least(255.0, greatest(0.0,
      floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    least(255.0, greatest(0.0,
      floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM rgb0
), cc1 AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(y + 1.402 * (cr - 128.0) + 0.5))) AS r,
    least(255.0, greatest(0.0,
      floor(y - 0.344136 * (cb - 128.0)
              - 0.714136 * (cr - 128.0) + 0.5))) AS g,
    least(255.0, greatest(0.0,
      floor(y + 1.772 * (cb - 128.0) + 0.5))) AS b
  FROM cc1_y
)
, cc2_y AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))) AS y,
    least(255.0, greatest(0.0,
      floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5))) AS cb,
    least(255.0, greatest(0.0,
      floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5))) AS cr
  FROM cc1
), cc2 AS (
  SELECT img_id,
    least(255.0, greatest(0.0,
      floor(y + 1.402 * (cr - 128.0) + 0.5))) AS r,
    least(255.0, greatest(0.0,
      floor(y - 0.344136 * (cb - 128.0)
              - 0.714136 * (cr - 128.0) + 0.5))) AS g,
    least(255.0, greatest(0.0,
      floor(y + 1.772 * (cb - 128.0) + 0.5))) AS b
  FROM cc2_y
)
SELECT img_id,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 16 END AS BIGINT) AS width,
  CAST(CASE WHEN img_id % 97 = 0 THEN NULL ELSE 16 END AS BIGINT) AS height,
  CASE WHEN img_id % 97 = 0 THEN NULL
       ELSE CAST(256 * r AS BIGINT) END AS sum_r,
  CASE WHEN img_id % 97 = 0 THEN NULL
       ELSE CAST(256 * g AS BIGINT) END AS sum_g,
  CASE WHEN img_id % 97 = 0 THEN NULL
       ELSE CAST(256 * b AS BIGINT) END AS sum_b,
  CAST(CASE WHEN img_id % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM cc2
""",
    doc="REAL image resize end to end through our OWN codec — the "
        "resize step is no longer a PIL-stub anywhere on the JPEG "
        "path: each document's 32x32 JPEG is synthesized on executors, "
        "DECODED from-spec (functions/jpeg.py), box-resized 2x2 to "
        "16x16 (exact integer means), RE-ENCODED as a baseline JPEG, "
        "and decoded again — the full thumbnail pipeline a multimodal "
        "training-data flow runs, with every entropy/DCT/color stage "
        "real. Solid-color fixtures give the double color-roundtrip a "
        "closed form the oracle reproduces arithmetically (non-flat "
        "resize accuracy is bounded in the jpeg pytest); every 97th "
        "payload is corrupted and dead-letters through the chain. "
        "Zero shuffle, 1 row in / 1 row out",
)
def multimodal_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 6)
        .select(F.col("doc_id").cast("bigint").alias("img_id"))
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from tigate_spark.functions.jpeg import jpeg_decode, jpeg_encode

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                d = int(img_id)
                img = np.full(
                    (32, 32, 3),
                    [(d * 37) % 256, (d * 37 + 85) % 256,
                     (d * 37 + 170) % 256], dtype=np.int64)
                data = jpeg_encode(img)
                if d % 97 == 0:
                    b = bytearray(data)
                    b[data.index(b"\xff\xc4") + 5] ^= 0xFF
                    data = bytes(b)
                try:
                    w, h, c, px = jpeg_decode(data)
                    a1 = np.array(px, dtype=np.int64).reshape(h, w, 3)
                    small = np.floor(
                        a1.reshape(h // 2, 2, w // 2, 2, 3).mean((1, 3))
                        + 0.5).astype(np.int64)
                    _, _, _, px2 = jpeg_decode(jpeg_encode(small))
                    a2 = np.array(px2, dtype=np.int64)
                    rows.append((d, h // 2, w // 2,
                                 int(a2[0::3].sum()), int(a2[1::3].sum()),
                                 int(a2[2::3].sum()), 1))
                except (ValueError, KeyError, IndexError):
                    rows.append((d, None, None, None, None, None, 0))
            yield pd.DataFrame(rows, columns=[
                "img_id", "width", "height", "sum_r", "sum_g", "sum_b",
                "decode_ok"])

    return ids.mapInPandas(
        gen, "img_id bigint, width bigint, height bigint, sum_r bigint, "
             "sum_g bigint, sum_b bigint, decode_ok bigint")


# ===========================================================================
# Embedding near-dup + IVF ANN (SURVEY §7 M6 extensions)
# ===========================================================================
@register(
    "dedup_embedding_cosine",
    _QUANT_CTE
    + f"""
, bucketed AS (
  SELECT vec_id, q, norm_sq, {_BUCKET_SQL} AS bucket FROM base
), sized AS (
  SELECT bucket FROM bucketed GROUP BY bucket
  HAVING count(*) <= {sim.SIM_BUCKET_CAP}
), bf AS (
  SELECT b.* FROM bucketed b JOIN sized s ON b.bucket = s.bucket
)
SELECT vec_a, vec_b, cos_bp FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    CAST(round(
      CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)
      / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) * 10000
    ) AS BIGINT) AS cos_bp
  FROM bf a JOIN bf b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cos_bp >= 3000
""",
    doc="Embedding-cosine near-dup pairs: LSH-bucket prefilter (oversized "
        "buckets dropped — cap mirrors the pair-work bound) + exact integer "
        "cosine ≥ 0.30 (only same-bucket pairs shuffle)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_cosine_near_dup(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivf_topk",
    _QUANT_CTE
    + """
, cents AS (SELECT vec_id AS cent_id, q AS cq FROM base WHERE vec_id < 16),
assign AS (
  SELECT b.vec_id, b.q, b.norm_sq, c.cent_id,
         row_number() OVER (PARTITION BY b.vec_id ORDER BY
           list_sum(list_transform(range(1, 65),
                                   i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i]))),
           c.cent_id) AS rn
  FROM base b CROSS JOIN cents c
), cells AS (
  SELECT vec_id, q, norm_sq, cent_id AS cell FROM assign WHERE rn = 1
), scored AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(round(
      CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qr.q[i])) AS BIGINT)
      / (sqrt(CAST(c.norm_sq AS DOUBLE)) * sqrt(CAST(qr.norm_sq AS DOUBLE))) * 10000
    ) AS BIGINT) AS cos_bp
  FROM cells c JOIN cells qr
    ON qr.vec_id < 20 AND c.cell = qr.cell AND c.vec_id <> qr.vec_id
)
SELECT query_id, neighbor_id, rank, cos_bp FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_bp DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="IVF ANN top-5: broadcast codebook, exact L2 argmin cell assignment, "
        "nprobe=1 probe — corpus scanned once",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.ivf_topk(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("bigint"))


#: exact integer L2 between a base vector and a codebook centroid
_KM_DIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i])))"
)


def _km_cte(k: int = 8, iters: int = 2) -> str:
    """Unrolled Lloyd's k-means CTE chain mirroring
    ``similarity.kmeans_train`` bit-for-bit: init = first-k vectors,
    assignment by L2 argmin (ties → lowest cent_id), update = element-wise
    truncating integer mean (DuckDB ``//`` ⇄ Spark ``div``)."""
    sql = f"\n, c0 AS (SELECT vec_id AS cent_id, q AS cq FROM base WHERE vec_id < {k})"
    for it in range(iters):
        sql += f"""
, a{it} AS (
  SELECT vec_id, q, cell FROM (
    SELECT b.vec_id, b.q, c.cent_id AS cell,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_KM_DIST}, c.cent_id) AS rn
    FROM base b CROSS JOIN c{it} c) WHERE rn = 1
)
, e{it} AS (SELECT cell, generate_subscripts(q, 1) AS pos, unnest(q) AS x FROM a{it})
, c{it + 1} AS (
  SELECT cell AS cent_id, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cq FROM (
    SELECT cell, pos, sum(x) AS s, count(*) AS n FROM e{it} GROUP BY 1, 2)
  GROUP BY 1
)"""
    return sql


@register(
    "embed_kmeans_clusters",
    _QUANT_CTE
    + _km_cte(8, 2)
    + f"""
SELECT vec_id, cell AS cluster, CAST(d AS BIGINT) AS dist_sq FROM (
  SELECT b.vec_id, c.cent_id AS cell, {_KM_DIST} AS d,
         row_number() OVER (PARTITION BY b.vec_id
                            ORDER BY {_KM_DIST}, c.cent_id) AS rn
  FROM base b CROSS JOIN c2 c) WHERE rn = 1
""",
    doc="Corpus clustering for curation: deterministic Lloyd's k-means "
        "(k=8, 2 iterations, first-k init, exact integer arithmetic) — "
        "cluster id + L2 distance per vector; Lloyd update is posexplode "
        "→ (cell, dim) partial sums, never whole vectors per cell",
)
def embed_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.kmeans_clusters(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivf_trained_topk",
    _QUANT_CTE
    + _km_cte(8, 2)
    + """
, cells AS (
  SELECT vec_id, q, norm_sq, cell FROM (
    SELECT b.vec_id, b.q, b.norm_sq, c.cent_id AS cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
                                     i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i]))),
             c.cent_id) AS rn
    FROM base b CROSS JOIN c2 c) WHERE rn = 1
), scored AS (
  SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(round(
      CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * qr.q[i])) AS BIGINT)
      / (sqrt(CAST(c.norm_sq AS DOUBLE)) * sqrt(CAST(qr.norm_sq AS DOUBLE))) * 10000
    ) AS BIGINT) AS cos_bp
  FROM cells c JOIN cells qr
    ON qr.vec_id < 20 AND c.cell = qr.cell AND c.vec_id <> qr.vec_id
)
SELECT query_id, neighbor_id, rank, cos_bp FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_bp DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="IVF ANN top-5 with the k-means-trained codebook (replaces the "
        "first-k stand-in): same nprobe=1 probe dataflow, coarse quantizer "
        "from embed_kmeans_clusters' trainer",
)
def sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.ivf_trained_topk(load_table(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "multimodal_frame_sample",
    """
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(doc_id % 5 + 2 AS BIGINT) AS n_frames,
       CAST(list_sum(list_transform(range(16), j ->
         (doc_id * 17 + f * 16 + j) % 256)) AS BIGINT) AS frame_sum,
       md5(array_to_string(list_transform(range(16), j ->
         lpad(lower(hex((doc_id * 17 + f * 16 + j) % 256)), 2, '0')),
         '')) AS frame_hex_md5
FROM documents, (SELECT unnest(range(0, 6, 2)) AS f) g
WHERE f < doc_id % 5 + 2
""",
    doc="REAL video frame sampling (no stub): a raw headerless frame "
        "stream (fixed 16-byte frames back to back, count implied by "
        "length — the YUV-raw contract) is synthesized JVM-side as "
        "genuine bytes, np.frombuffer-stride-decoded and every-2nd-frame "
        "sampled inside Arrow mapInPandas — the 1-payload-to-N-frames "
        "batch shape, zero shuffle. Per-frame pixel sum and hex digest "
        "come from the bytes; the oracle reproduces both arithmetically. "
        "Only entropy-coded video (H.264) stays env-stubbed",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.multimodal import sample_frames, synth_raw_video

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(synth_raw_video(docs), every_n=2)


@register(
    "multimodal_resize",
    """
SELECT doc_id,
       CAST(224 AS BIGINT) AS width, CAST(224 AS BIGINT) AS height,
       md5(substring(repeat(md5(text), 50), 1, 1568)) AS resized_md5
FROM documents
""",
    doc="Multimodal image resize: mapInPandas 1→1 batch shape, zero "
        "shuffle (PIL decode stubbed; schema/partitioning real); the "
        "deterministic digest-tiling fake is hex-string arithmetic, so the "
        "oracle value-hashes it — no rows-only entries remain",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.multimodal import attach_binary_payload, resize_images

    docs = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return resize_images(docs).select("doc_id", "width", "height", "resized_md5")


# ===========================================================================
# End-to-end corpus cleaning (the LLM-ingest flagship composite)
# ===========================================================================
@register(
    "llm_clean_corpus",
    _TOK_CTE
    + f"""
, qual AS (
  SELECT doc_id, text, tokens FROM tok
  WHERE len(tokens) BETWEEN 20 AND 2000
    AND len(list_distinct(tokens)) * 10000 // len(tokens) >= 1000
), exact AS (
  SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)
), surv AS (
  SELECT t.doc_id, t.text, t.tokens FROM tok t JOIN exact e ON t.doc_id = e.doc_id
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(tokens) - 3, 1)),
           i -> array_to_string(tokens[i:i+4], ' '))) AS shingles
  FROM surv
), sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh WHERE len(shingles) >= 1
), bands AS (
  SELECT doc_id, g.band,
         printf('%d:%d', sig[2 * g.band + 1], sig[2 * g.band + 2]) AS v
  FROM sigs, (SELECT unnest(range({dd.MINHASH_BANDS})) AS band) g
), sized AS (
  SELECT band, v FROM bands GROUP BY band, v HAVING count(*) <= {dd.LSH_BUCKET_CAP}
), bf AS (
  SELECT b.* FROM bands b JOIN sized s ON b.band = s.band AND b.v = s.v
), dropped AS (
  SELECT DISTINCT b.doc_id FROM bf a JOIN bf b
    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
)
SELECT s.doc_id, md5(s.text) AS content_hash
FROM surv s WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
""",
    doc="Corpus cleaning pipeline: quality filter → exact dedup (canonical "
        "min doc_id per content hash) → MinHash-LSH near-dup removal — the "
        "composed LLM-ingest flow, one declarative plan",
)
def llm_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qual_ids = tx.quality_score(docs).filter(F.col("quality_ok")).select("doc_id")
    qual_docs = docs.join(qual_ids, "doc_id")
    canonical = qual_docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    survivors = docs.join(canonical, "doc_id")
    pairs = dd.minhash_lsh_pairs(survivors)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    clean = survivors.join(dropped, "doc_id", "left_anti")
    return clean.select("doc_id", F.md5("text").alias("content_hash"))


_LSH_PAIRS_CTES = _SHINGLE_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1) + f"""
, sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh WHERE len(shingles) >= 1
), bands AS (
  SELECT doc_id, g.band,
         printf('%d:%d', sig[2 * g.band + 1], sig[2 * g.band + 2]) AS v
  FROM sigs, (SELECT unnest(range({dd.MINHASH_BANDS})) AS band) g
), sized AS (
  SELECT band, v FROM bands GROUP BY band, v HAVING count(*) <= {dd.LSH_BUCKET_CAP}
), bf AS (
  SELECT b.* FROM bands b JOIN sized s ON b.band = s.band AND b.v = s.v
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bf a JOIN bf b
    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""


#: Connected components over the LSH pair graph (shared by the cluster
#: report and the leakage-safe splitter): recursive min-label
#: reachability, `comp` = (doc_id, cluster_id).
_COMPONENTS_CTES = _LSH_PAIRS_CTES + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  SELECT a AS node, a AS lab FROM edges
  UNION
  SELECT e.b AS node, r.lab
  FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
)
"""


@register(
    "dedup_duplicate_clusters",
    _COMPONENTS_CTES
    + """
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM comp
""",
    doc="Near-duplicate clusters: connected components over the MinHash-LSH "
        "pair graph via iterative min-label propagation (the GraphFrames/"
        "Pregel pattern — each round one shuffle join + one min-agg, "
        "lineage cut per round with localCheckpoint, loop until fixpoint; "
        "converges in O(component diameter) rounds, and near-dup "
        "components are shallow by construction). Oracle: DuckDB "
        "recursive-CTE reachability. The fixpoint is iteration-order "
        "independent, so both engines agree exactly.",
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).persist()
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(20):
        prop = edges.join(labels, edges["doc_b"] == labels["node"]).select(
            edges["doc_a"].alias("node"), labels["cluster_id"].alias("cluster_id")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("cluster_id", "new_id")
            .join(labels, "node")
            .filter(F.col("new_id") != F.col("cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


#: truth threshold for the LSH quality report: pairs with (df-capped)
#: n-gram Jaccard >= 0.5 are "true" near-dups (b=4 x r=2 gives
#: P(candidate) = 1-(1-j^2)^4 ~ 0.68 at j=0.5, ~0.98 at j=0.8)
_LSH_QUALITY_TAU_BP = 5000


def _lsh_quality_oracle() -> str:
    from tigate_spark.catalog import CATALOG

    jac = CATALOG["dedup_ngram_jaccard"].oracle
    lsh = CATALOG["dedup_minhash_lsh"].oracle
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({jac}) WHERE jaccard_bp >= {_LSH_QUALITY_TAU_BP}
), cand AS (
  SELECT doc_a, doc_b FROM ({lsh})
), hits AS (
  SELECT t.doc_a FROM truth t JOIN cand c USING (doc_a, doc_b)
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
       CAST((SELECT count(*) FROM hits) * 10000
            // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_bp,
       CAST((SELECT count(*) FROM hits) * 10000
            // greatest((SELECT count(*) FROM cand), 1) AS BIGINT)
         AS precision_bp
"""


@register(
    "dedup_lsh_quality_report",
    _lsh_quality_oracle(),
    doc="Dedup-stack quality gate (the sim_ann_recall_report twin for "
        "the fuzzy-dedup family): MinHash-LSH candidate pairs evaluated "
        "against the exact df-capped n-gram Jaccard truth at "
        "tau=0.5 — recall (true near-dup pairs LSH surfaced) and "
        "precision (candidates that are real) in basis points, "
        "composed by REUSING both stages' oracles as subqueries so the "
        "measurement itself is hash-verified. A pipeline operator, not "
        "a test: real curation runs ship this report next to the dedup "
        "output so a banding/threshold misconfiguration is visible "
        "before training. Scale: both inputs are the already-bounded "
        "pair aggregates (bucket-capped); the report is three counts",
)
def dedup_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        dd.ngram_jaccard_pairs(docs)
        .filter(F.col("jaccard_bp") >= _LSH_QUALITY_TAU_BP)
        .select("doc_a", "doc_b")
    )
    cand = dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"])
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        t.crossJoin(c).crossJoin(h)
        .select(
            "n_true", "n_cand", "n_hits",
            F.expr("n_hits * 10000 div greatest(n_true, 1)")
            .alias("recall_bp"),
            F.expr("n_hits * 10000 div greatest(n_cand, 1)")
            .alias("precision_bp"),
        )
    )


_SPLIT_REP = "coalesce(c.cluster_id, d.doc_id)"


@register(
    "split_leakage_safe",
    _COMPONENTS_CTES + f"""
SELECT d.doc_id,
       CAST({_SPLIT_REP} AS BIGINT) AS rep_id,
       CAST({h32_sql(_SPLIT_REP)} % 100 AS BIGINT) AS bucket,
       CASE WHEN {h32_sql(_SPLIT_REP)} % 100 < 90 THEN 'train'
            WHEN {h32_sql(_SPLIT_REP)} % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
""",
    doc="Leakage-safe train/val/test split (the eval-contamination guard "
        "a training pipeline needs BEFORE any random split: if two "
        "near-duplicate documents land in different splits, the held-out "
        "set leaks into training — Lee et al. 2022 'Deduplicating "
        "Training Data Makes Language Models Better' documents exactly "
        "this val-set inflation): every doc's split is decided by the "
        "md5 hash-bucket of its near-dup CLUSTER representative "
        "(connected components over the MinHash-LSH pair graph; "
        "singletons represent themselves), so an entire duplicate "
        "cluster always lands in one split by construction — 90/5/5 "
        "via the same deterministic h32 bucketing as sample_hash_bucket "
        "(replayable, no RNG). Scale: components run on the PAIR graph "
        "only (near-dup components are shallow; bucket-capped pairs), "
        "the split itself is a broadcast-join + scan-filter over the "
        "corpus — no corpus-sized shuffle",
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.phash import h32

    comp = dedup_duplicate_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = docs.alias("d").join(
        comp.alias("c"), F.col("d.doc_id") == F.col("c.doc_id"), "left")
    rep = F.expr("coalesce(c.cluster_id, d.doc_id)").cast("bigint")
    bucket = (h32(rep) % 100).cast("bigint")
    return out.select(
        F.col("d.doc_id").alias("doc_id"),
        rep.alias("rep_id"),
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "corpus_top_tokens",
    _TOK_CTE
    + """
, df AS (SELECT unnest(list_distinct(tokens)) AS token FROM tok)
SELECT token, count(*) AS doc_freq
FROM df GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT 50
""",
    doc="Corpus vocabulary profile: top-50 tokens by document frequency "
        "(distinct-per-doc explode → count → deterministic top-k) — the "
        "wordcount shape with map-side partial aggregation; at 100 TB the "
        "explode dominates and the agg output is vocabulary-sized, so the "
        "final top-k is a cheap single-partition sort",
)
def corpus_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.text import TOKENS_EXPR

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.expr(f"array_distinct({TOKENS_EXPR})")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(50)
    )


@register(
    "embed_int8_quantize",
    _QUANT_CTE + """
SELECT vec_id, norm_sq,
       CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS max_abs,
       array_to_string(list_transform(q, v ->
         CASE WHEN list_max(list_transform(q, x -> abs(x))) = 0 THEN 0
              WHEN v < 0 THEN -((-v) * 127 // list_max(list_transform(q, x -> abs(x))))
              ELSE (v * 127) // list_max(list_transform(q, x -> abs(x))) END), ',') AS int8_vec
FROM base
""",
    doc="Embedding int8 quantization for storage/serving (the standard "
        "training-pipeline compaction step): per-vector max-abs scaling "
        "to [-127,127] in exact integer math (sign-split floor division "
        "matches across engines), plus the exact norm witness; all "
        "array-local (F.transform/aggregate) — zero shuffles, scales "
        "embarrassingly",
)
def embed_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
    )
    qd = emb.select("vec_id", q.alias("q"))
    norm_sq = F.expr("aggregate(q, 0L, (a, v) -> a + v * v)")
    max_abs = F.expr("array_max(transform(q, x -> abs(x)))")
    int8_vec = F.expr(
        "array_join(transform(q, v -> CASE"
        " WHEN array_max(transform(q, x -> abs(x))) = 0 THEN 0L"
        " WHEN v < 0 THEN -((-v) * 127 div array_max(transform(q, x -> abs(x))))"
        " ELSE (v * 127) div array_max(transform(q, x -> abs(x))) END), ',')"
    )
    return qd.select(
        "vec_id",
        norm_sq.cast("bigint").alias("norm_sq"),
        max_abs.cast("bigint").alias("max_abs"),
        int8_vec.alias("int8_vec"),
    )


# ===========================================================================
# Training-data pipeline extensions, round 4: decontamination, PII masking,
# sequence packing
# ===========================================================================
@register(
    "decontaminate_vs_eval",
    _SHINGLE_CTE
    + """
, e AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
, ev AS (SELECT doc_id, s FROM e WHERE doc_id % 50 = 0)
SELECT t.doc_id,
       count(DISTINCT t.s) AS n_shared_shingles,
       count(DISTINCT ev.doc_id) AS n_eval_docs
FROM e t JOIN ev ON t.s = ev.s AND t.doc_id % 50 <> 0
GROUP BY 1
""",
    doc="Benchmark decontamination: flag training docs sharing >=1 distinct "
        "5-gram shingle with the eval holdout (doc_id % 50 = 0 stand-in). "
        "Eval-side shingle index broadcasts (eval sets are small); the "
        "training corpus streams through one scan — the standard n-gram "
        "overlap decontamination check at any corpus size",
)
def decontaminate_vs_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ex = dd.with_shingles(docs).select(
        "doc_id", F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    ev = ex.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    train = ex.filter(F.col("doc_id") % 50 != 0)
    return (
        train.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


#: deterministic PII injection so the masking path is exercised on every
#: row (the synthetic corpus carries no real emails/phones); the operator
#: itself is corpus-agnostic
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_NUM_RE = "[0-9]{6,}"


@register(
    "text_mask_pii",
    """
SELECT doc_id,
  len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
    AS n_emails,
  len(regexp_extract_all(
    regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{6,}')) AS n_long_nums,
  regexp_replace(
    regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{6,}', '<NUM>', 'g') AS masked_text
FROM (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com tel 555123' || CAST(doc_id AS VARCHAR) AS pii_text
  FROM documents
)
""",
    doc="PII masking for training corpora: emails -> <EMAIL>, >=6-digit "
        "runs -> <NUM> (pure regexp_replace, JVM-side; deterministic PII "
        "injection exercises the path on every row of the synthetic corpus)",
)
def text_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii = F.expr(
        "concat(text, ' contact user', cast(doc_id as string),"
        " '@example.com tel 555123', cast(doc_id as string))"
    )
    d = docs.select("doc_id", pii.alias("pii_text"))
    email_masked = F.regexp_replace(F.col("pii_text"), _PII_EMAIL_RE, "<EMAIL>")
    return d.select(
        "doc_id",
        F.expr(
            f"cast(size(regexp_extract_all(pii_text, '{_PII_EMAIL_RE}', 0)) as bigint)"
        ).alias("n_emails"),
        F.expr(
            f"cast(size(regexp_extract_all("
            f"regexp_replace(pii_text, '{_PII_EMAIL_RE}', '<EMAIL>'), "
            f"'{_PII_NUM_RE}', 0)) as bigint)"
        ).alias("n_long_nums"),
        F.regexp_replace(email_masked, _PII_NUM_RE, "<NUM>").alias("masked_text"),
    )


@register(
    "pack_sequences",
    _TOK_CTE
    + """
, sized AS (
  SELECT doc_id, doc_id // 1000 AS shard, CAST(len(tokens) AS BIGINT) AS n_tokens
  FROM tok
), packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT)
           - n_tokens AS start_tok
  FROM sized
)
SELECT doc_id, n_tokens,
       shard * 1000000 + start_tok // 2048 AS pack_id,
       start_tok % 2048 AS offset_in_pack
FROM packed
""",
    doc="Sequence packing (concat-and-chunk, the standard LLM pretraining "
        "layout): docs are concatenated in doc_id order and chunked into "
        "2048-token packs; packing is shard-local (doc_id div 1000) so the "
        "running-sum window parallelizes across shards instead of one "
        "global sort — the 100 TB layout",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.expr("doc_id div 1000").alias("shard"),
        F.expr(f"cast(size({tx.TOKENS_EXPR}) as bigint)").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = sized.withColumn(
        "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        (F.col("shard") * 1_000_000 + F.expr("start_tok div 2048")).alias("pack_id"),
        F.expr("start_tok % 2048").alias("offset_in_pack"),
    )


@register(
    "text_repetition_score",
    _TOK_CTE
    + """
, shr AS (
  SELECT doc_id, tokens,
         list_transform(range(1, len(tokens) - 3),
                        i -> array_to_string(tokens[i:i+4], ' ')) AS sh_all
  FROM tok WHERE len(tokens) >= 5
)
SELECT doc_id,
       CAST(len(sh_all) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh_all)) AS BIGINT) AS n_distinct_shingles,
       CAST((len(sh_all) - len(list_distinct(sh_all))) * 10000 // len(sh_all)
            AS BIGINT) AS dup_shingle_bp,
       CAST(list_max(list_transform(list_distinct(tokens),
              t -> len(list_filter(tokens, x -> x = t)))) * 10000 // len(tokens)
            AS BIGINT) AS top_token_bp
FROM shr
""",
    doc="Repetition scoring (the Gopher-style repetition filter, Rae et al. "
        "2021): duplicate-5-gram fraction + most-frequent-token share, both "
        "integer basis points, fully row-local — no shuffle at any scale",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.expr(f"size({tx.TOKENS_EXPR}) >= 5"))
        .withColumn("tokens", F.expr(tx.TOKENS_EXPR))
        .withColumn("sh_all", F.expr(dd.SHINGLES_EXPR))
    )
    return base.select(
        "doc_id",
        F.expr("cast(size(sh_all) as bigint)").alias("n_shingles"),
        F.expr("cast(size(array_distinct(sh_all)) as bigint)").alias(
            "n_distinct_shingles"
        ),
        F.expr(
            "cast((size(sh_all) - size(array_distinct(sh_all))) * 10000 "
            "div size(sh_all) as bigint)"
        ).alias("dup_shingle_bp"),
        F.expr(
            "cast(array_max(transform(array_distinct(tokens), "
            "t -> size(filter(tokens, x -> x = t)))) * 10000 "
            "div size(tokens) as bigint)"
        ).alias("top_token_bp"),
    )


@register(
    "sample_quality_weighted",
    _TOK_CTE
    + f"""
SELECT doc_id,
       CAST(len(list_distinct(tokens)) * 10000 // len(tokens) AS BIGINT) AS ttr_bp
FROM tok
WHERE len(tokens) > 0
  AND {h32_sql('doc_id')} % 10000 <
      len(list_distinct(tokens)) * 10000 // len(tokens)
""",
    doc="Quality-weighted deterministic sampling: keep probability "
        "proportional to lexical diversity (ttr_bp / 10000) via the "
        "hash-bucket trick — importance sampling for training mixes that "
        "stays a stateless, replayable scan-filter at 100 TB",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.withColumn("tokens", F.expr(tx.TOKENS_EXPR)).filter(
        F.expr("size(tokens) > 0")
    )
    ttr = F.expr("cast(size(array_distinct(tokens)) * 10000 div size(tokens) as bigint)")
    from tigate_spark.functions.phash import h32

    return (
        t.withColumn("ttr_bp", ttr)
        .filter(h32(F.col("doc_id")) % 10000 < F.col("ttr_bp"))
        .select("doc_id", "ttr_bp")
    )


@register(
    "corpus_mix_stats",
    _TOK_CTE
    + """
, per AS (
  SELECT d.source, d.lang,
         count(*) AS n_docs,
         CAST(sum(len(t.tokens)) AS BIGINT) AS n_tokens
  FROM documents d JOIN tok t USING (doc_id)
  GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens * 10000 // sum(n_tokens) OVER () AS BIGINT) AS token_share_bp
FROM per
""",
    doc="Corpus mixture statistics: docs + token mass per (source, lang) "
        "with basis-point shares — the numbers a training-mix weighting "
        "step consumes; map-side partial agg + a scalar total, no heavy "
        "shuffle at any corpus size",
)
def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.withColumn("n_tok", F.expr(f"size({tx.TOKENS_EXPR})"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    return per.withColumn(
        "token_share_bp",
        F.expr("cast(n_tokens * 10000 div sum(n_tokens) over () as bigint)"),
    )


@register(
    "embed_dim_stats",
    _QUANT_CTE
    + """
, ex AS (
  SELECT generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x FROM base
)
SELECT pos,
       count(*) AS n,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(x * x) AS BIGINT) AS sum_sq,
       CAST(sum(x) * 100 // count(*) AS BIGINT) AS mean_x100
FROM ex GROUP BY 1
""",
    doc="Per-dimension embedding statistics (exact integer sum / sum-sq / "
        "mean) — the inputs to whitening or normalization diagnostics; "
        "posexplode partial aggregation, 64 output rows at any corpus size",
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.with_quantized(emb).select("vec_id", "q")
    ex = q.select(F.posexplode("q").alias("pos", "x"))
    return ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sum_sq"),
        F.expr("cast(sum(x) * 100 div count(*) as bigint)").alias("mean_x100"),
    ).withColumn("pos", F.col("pos").cast("bigint"))


@register(
    "corpus_length_histogram",
    _TOK_CTE
    + """
SELECT CAST(floor(log2(len(tokens))) AS BIGINT) AS bucket_log2,
       count(*) AS n_docs,
       CAST(min(len(tokens)) AS BIGINT) AS min_tokens,
       CAST(max(len(tokens)) AS BIGINT) AS max_tokens
FROM tok WHERE len(tokens) > 0
GROUP BY 1
""",
    doc="Log2-bucketed document-length histogram (token counts) — the "
        "shape a curriculum/packing step inspects; one map-side agg",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.expr(f"size({tx.TOKENS_EXPR})").alias("n_tok")).filter(
        F.col("n_tok") > 0
    )
    return t.groupBy(
        F.expr("cast(floor(log2(n_tok)) as bigint)").alias("bucket_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").cast("bigint").alias("min_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    )


@register(
    "corpus_dup_rate_summary",
    """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST((count(*) - count(DISTINCT md5(text))) * 10000 // count(*) AS BIGINT)
         AS dup_rate_bp,
       CAST(max(cnt) AS BIGINT) AS largest_dup_group
FROM documents,
     (SELECT max(c) AS cnt FROM
        (SELECT count(*) AS c FROM documents GROUP BY md5(text)))
""",
    doc="Corpus duplication summary: doc count, unique content count, "
        "duplication rate (bp), largest duplicate group — the one-line "
        "health stat a curation run reports; two map-side aggregations",
)
def corpus_dup_rate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return groups.agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.expr(
            "cast((sum(c) - count(1)) * 10000 div sum(c) as bigint)"
        ).alias("dup_rate_bp"),
        F.max("c").cast("bigint").alias("largest_dup_group"),
    )


@register(
    "sample_source_token_budget",
    _TOK_CTE
    + f"""
, doc AS (
  SELECT d.doc_id, d.source, CAST(len(t.tokens) AS BIGINT) AS n_tok,
         {h32_sql('d.doc_id')} AS h
  FROM documents d JOIN tok t USING (doc_id)
), budget AS (
  SELECT source, CAST(sum(n_tok) * 4 // 10 AS BIGINT) AS budget
  FROM doc GROUP BY source
), run AS (
  SELECT doc.*, budget.budget,
         CAST(sum(n_tok) OVER (PARTITION BY doc.source
              ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tok
  FROM doc JOIN budget USING (source)
)
SELECT doc_id, source, n_tok, cum_tok, budget
FROM run WHERE cum_tok <= budget
""",
    doc="Per-source token-budget sampling: each source contributes at "
        "most 40% of its token mass, filled greedily in deterministic "
        "hash order (the domain-mixing knob of a pretraining recipe). "
        "One shuffle on source for the window cumsum; the budget agg is "
        "partial/map-side — at 100 TB the per-source lanes stream "
        "independently",
)
def sample_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.phash import h32

    docs = load_table(spark, sf_dir, "documents")
    doc = docs.select(
        "doc_id", "source",
        F.expr(f"cast(size({tx.TOKENS_EXPR}) as bigint)").alias("n_tok"),
        h32(F.col("doc_id")).alias("h"),
    )
    budget = doc.groupBy("source").agg(
        F.expr("cast(sum(n_tok) * 4 div 10 as bigint)").alias("budget")
    )
    run = doc.join(F.broadcast(budget), "source").withColumn(
        "cum_tok",
        F.expr("cast(sum(n_tok) over (partition by source order by h, doc_id "
               "rows unbounded preceding) as bigint)"),
    )
    return run.filter(F.col("cum_tok") <= F.col("budget")).select(
        "doc_id", "source", "n_tok", "cum_tok", "budget"
    )


@register(
    "embed_label_outliers",
    """
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
  FROM embeddings
), cen AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         list_transform(range(1, 65),
           d -> CAST(list_sum(list_transform(list(q), v -> v[d])) AS BIGINT))
           AS s
  FROM base GROUP BY label
), dist AS (
  SELECT b.vec_id, b.label, cen.n,
         CAST(list_sum(list_transform(range(1, 65),
           d -> (b.q[d] * cen.n - cen.s[d]) * (b.q[d] * cen.n - cen.s[d])))
           AS BIGINT) AS dist2_scaled
  FROM base b JOIN cen USING (label)
)
SELECT vec_id, label, dist2_scaled, rk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY label
             ORDER BY dist2_scaled DESC, vec_id) AS BIGINT) AS rk
  FROM dist) WHERE rk <= 5
""",
    doc="Embedding label-outlier detection: per-label centroid (integer "
        "partial sums via posexplode — never whole-vectors-per-group), "
        "exact integer distance-to-centroid scaled by n (engine-exact, "
        "no float reduction order), top-5 farthest per label — the "
        "mislabeled-example audit of an embedding corpus. Centroids are "
        "|labels|×64 rows broadcast back; corpus side is one scan",
)
def embed_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(sim.QUANT_EXPR).alias("q")
    )
    ex = emb.select("label", F.posexplode("q").alias("pos", "x"))
    cen = (
        ex.groupBy("label", "pos").agg(F.sum("x").alias("sx"))
        .groupBy("label").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, sx))), "
                   "p -> p.sx)").alias("s")
        )
    )
    n_per = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    joined = emb.join(F.broadcast(cen), "label").join(
        F.broadcast(n_per), "label"
    )
    dist = joined.select(
        "vec_id", "label",
        F.expr(
            "cast(aggregate(zip_with(q, s, (qd, sd) -> "
            "(qd * n - sd) * (qd * n - sd)), 0L, (acc, v) -> acc + v) "
            "as bigint)"
        ).alias("dist2_scaled"),
    )
    return dist.withColumn(
        "rk",
        F.expr("cast(row_number() over (partition by label "
               "order by dist2_scaled desc, vec_id) as bigint)"),
    ).filter(F.col("rk") <= 5).select("vec_id", "label", "dist2_scaled", "rk")


# ===========================================================================
# Training-data pipeline extensions, round 5: semantic dedup (SemDeDup),
# DSIR importance weights, fuzzy MinHash decontamination, global shuffle
# ===========================================================================
@register(
    "dedup_semantic_semdedup",
    _QUANT_CTE
    + _km_cte(8, 2)
    + f"""
, asg AS (
  SELECT vec_id, q, norm_sq, cell, d FROM (
    SELECT b.vec_id, b.q, b.norm_sq, c.cent_id AS cell, {_KM_DIST} AS d,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_KM_DIST}, c.cent_id) AS rn
    FROM base b CROSS JOIN c2 c) WHERE rn = 1
), chunked AS (
  SELECT vec_id, q, norm_sq, cell,
         (row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) - 1)
           // 100 AS chka,
         (row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) - 1 + 50)
           // 100 AS chkb
  FROM asg
), pr AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    CAST(round(
      CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)
      / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) * 10000
    ) AS BIGINT) AS cos_bp
  FROM chunked a JOIN chunked b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
   AND (a.chka = b.chka OR a.chkb = b.chkb)
), pairs AS (SELECT * FROM pr WHERE cos_bp >= 3000),
part AS (
  SELECT vec_a AS vec_id, 0 AS is_b FROM pairs
  UNION ALL
  SELECT vec_b AS vec_id, 1 AS is_b FROM pairs
), stats AS (
  SELECT vec_id, count(*) AS n_near_dups, max(is_b) AS removed FROM part GROUP BY 1
)
SELECT a.vec_id, a.cell AS cluster,
       CAST(COALESCE(s.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       CAST(COALESCE(s.removed, 0) AS BIGINT) AS removed
FROM asg a LEFT JOIN stats s ON a.vec_id = s.vec_id
""",
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): k-means cells "
        "scope the near-dup search; within a cell, members are ranked by "
        "centroid distance and pairs form in two half-offset 100-rank "
        "chunkings — every within-cell pair ≤50 ranks apart is compared "
        "exactly once, and same-chunk pairs up to 99 ranks apart also "
        "compare (near-dups rank adjacently by the triangle inequality; "
        "only pairs >50 ranks apart can be missed — the stated recall "
        "bound). Pair work stays linear in cell size, never "
        "quadratic; each vector with a lower-id near-dup is marked "
        "removed (deterministic keep-one) — one curation-decision row "
        "per vector; in production k scales with the corpus so cells "
        "stay small",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sim.semantic_dedup(load_table(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id", "cluster", "n_near_dups",
        F.col("removed").cast("bigint").alias("removed"),
    )


#: DSIR hashed-feature bucket count (fixed — the broadcast table is 256
#: rows at any corpus size)
_DSIR_BUCKETS = 256


@register(
    "sample_importance_dsir",
    _TOK_CTE
    + f"""
, inst AS (
  SELECT doc_id, {h32_sql('t')} % {_DSIR_BUCKETS} AS bkt
  FROM (SELECT doc_id, unnest(tokens) AS t FROM tok)
), btab AS (
  SELECT bkt,
         sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END) AS cr
  FROM inst GROUP BY 1
), rtab AS (
  SELECT bkt, ((ct + 1) * 10000) // (cr + 1) AS ratio_bp FROM btab
)
SELECT i.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(r.ratio_bp) AS BIGINT) AS imp_weight_sum
FROM inst i JOIN rtab r ON i.bkt = r.bkt
WHERE i.doc_id % 50 <> 0
GROUP BY 1
""",
    doc="DSIR-style importance weights (Xie et al. 2023, 'Data selection "
        "for language models via importance resampling'): hashed unigram "
        "features (256 md5 buckets), target = the eval holdout "
        "(doc_id % 50 = 0 stand-in), raw = the rest; per-bucket "
        "add-one-smoothed target/raw ratio in integer basis points, doc "
        "weight = sum of its token-instance ratios (integer sum — "
        "order-independent, bit-equal cross-engine). The bucket table is "
        "256 rows at any corpus size → broadcast; scoring is one corpus "
        "scan + broadcast join, no shuffle of the corpus",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.phash import h32

    docs = load_table(spark, sf_dir, "documents")
    inst = (
        tx.with_tokens(docs)
        .select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", (h32(F.col("t")) % _DSIR_BUCKETS).alias("bkt"))
    )
    btab = inst.groupBy("bkt").agg(
        F.sum(F.when(F.col("doc_id") % 50 == 0, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("doc_id") % 50 != 0, 1).otherwise(0)).alias("cr"),
    )
    rtab = btab.select("bkt", F.expr("((ct + 1) * 10000) div (cr + 1)").alias("ratio_bp"))
    return (
        inst.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(rtab), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("ratio_bp").alias("imp_weight_sum"),
        )
    )


@register(
    "decontaminate_fuzzy_minhash",
    _SHINGLE_CTE
    + f"""
, sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh WHERE len(shingles) >= 1
), bands AS (
  SELECT doc_id, g.band,
         printf('%d:%d', sig[2 * g.band + 1], sig[2 * g.band + 2]) AS v
  FROM sigs, (SELECT unnest(range({dd.MINHASH_BANDS})) AS band) g
), ev AS (SELECT doc_id AS eval_doc, band, v FROM bands WHERE doc_id % 50 = 0),
tr AS (SELECT * FROM bands WHERE doc_id % 50 <> 0)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_band_hits,
       CAST(count(DISTINCT e.eval_doc) AS BIGINT) AS n_eval_docs
FROM tr t JOIN ev e ON t.band = e.band AND t.v = e.v
GROUP BY 1
""",
    doc="Fuzzy benchmark decontamination: training docs whose MinHash LSH "
        "bands (b=4, r=2) collide with an eval-holdout doc's bands — the "
        "near-duplicate contamination check (the exact-overlap twin is "
        "decontaminate_vs_eval). The eval band index broadcasts (eval "
        "sets are tiny); the corpus streams through one signature scan + "
        "broadcast join, no corpus shuffle at any scale",
)
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.fuzzy_decontaminate(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_shuffle_assign",
    f"""
SELECT doc_id,
       {h32_sql("'shuf:' || CAST(doc_id AS VARCHAR)")} % 64 AS shard,
       CAST(row_number() OVER (
         PARTITION BY {h32_sql("'shuf:' || CAST(doc_id AS VARCHAR)")} % 64
         ORDER BY {h32_sql("'ord:' || CAST(doc_id AS VARCHAR)")}, doc_id
       ) AS BIGINT) AS pos
FROM documents
""",
    doc="Deterministic global shuffle for training-data layout: every doc "
        "gets a salted-hash shard (64 shards) and a hash-ordered position "
        "within its shard — the reproducible corpus shuffle before "
        "sequence packing. At 100 TB this is exactly one shuffle on the "
        "shard key (the shuffle you must pay to randomize order) and a "
        "per-shard sort; no global sort, no driver state",
)
def corpus_shuffle_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tigate_spark.functions.phash import h32

    docs = load_table(spark, sf_dir, "documents")
    shard = (h32(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))) % 64)
    okey = h32(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
    d = docs.select("doc_id", shard.alias("shard"), okey.alias("okey"))
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return d.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@register(
    "multimodal_resize_box",
    """
SELECT doc_id,
       CAST(4 AS BIGINT) AS out_w,
       CAST(4 AS BIGINT) AS out_h,
       array_to_string(list_transform(range(16), o ->
         ( ((doc_id * 31 + ((o // 4) * 2) * 8 + (o % 4) * 2) % 256)
         + ((doc_id * 31 + ((o // 4) * 2) * 8 + (o % 4) * 2 + 1) % 256)
         + ((doc_id * 31 + ((o // 4) * 2 + 1) * 8 + (o % 4) * 2) % 256)
         + ((doc_id * 31 + ((o // 4) * 2 + 1) * 8 + (o % 4) * 2 + 1) % 256)
         ) // 4), ',') AS resized_csv
FROM documents
""",
    doc="REAL image resize kernel (no stub): a deterministic raw grayscale "
        "bitmap payload is decoded with np.frombuffer and 2x2 box-filter "
        "downsampled (truncating integer average pooling) in vectorized "
        "numpy inside Arrow mapInPandas — 8x8 -> 4x4, 1 row in / 1 row "
        "out, zero shuffle. The oracle reproduces every output pixel "
        "arithmetically. Complements multimodal_resize (whose JPEG decode "
        "step is env-stubbed): kernel math and Arrow plumbing are the "
        "production path; only entropy codecs stay stubbed",
)
def multimodal_resize_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.multimodal import resize_box, synth_raw_image

    docs = load_table(spark, sf_dir, "documents")
    out = resize_box(synth_raw_image(docs))
    return out.select("doc_id", "out_w", "out_h", "resized_csv")


@register(
    "multimodal_audio_energy",
    """
SELECT doc_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(16 AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(range(16), i ->
         (((doc_id * 7 + (f * 16 + i) * 13) % 4096) - 2048)
         * (((doc_id * 7 + (f * 16 + i) * 13) % 4096) - 2048)
       )) // 16 AS BIGINT) AS energy_ms
FROM documents, (SELECT unnest(range(4)) AS f) g
""",
    doc="REAL audio feature extraction (no stub): deterministic raw int16 "
        "little-endian PCM payloads generated JVM-side as genuine bytes, "
        "decoded with np.frombuffer and reduced to per-frame signal "
        "energy (mean-square, truncating integer division) by a "
        "vectorized numpy kernel over Arrow mapInPandas — the 1-payload-"
        "to-N-frames batch shape, zero shuffle. Oracle reproduces every "
        "frame energy arithmetically; only entropy-coded audio decode "
        "(MP3/AAC) stays env-stubbed",
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.multimodal import (
        audio_frame_energy,
        synth_raw_pcm,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_frame_energy(synth_raw_pcm(docs))


@register(
    "embed_pca_project",
    _QUANT_CTE
    + """
, pos AS (SELECT unnest(range(64)) AS i)
, gm AS (
  SELECT p1.i AS i, p2.i AS j,
         CAST(sum(b.q[p1.i + 1] * b.q[p2.i + 1]) AS BIGINT) AS g
  FROM base b, pos p1, pos p2 GROUP BY 1, 2
), nrm AS (SELECT greatest(1, max(abs(g)) // 1099511627776) AS n FROM gm)
, gs AS (SELECT i, j, g // (SELECT n FROM nrm) AS g FROM gm)
, w1 AS (SELECT i, CAST(sum(g * 1000) AS BIGINT) AS w FROM gs GROUP BY 1)
, m1 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w1)
, v1 AS (SELECT i, (w * 1000) // (SELECT m FROM m1) AS v FROM w1)
, w2 AS (SELECT gs.i AS i, CAST(sum(gs.g * v1.v) AS BIGINT) AS w
         FROM gs JOIN v1 ON gs.j = v1.i GROUP BY 1)
, m2 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w2)
, v2 AS (SELECT i, (w * 1000) // (SELECT m FROM m2) AS v FROM w2)
, ex AS (SELECT b.vec_id, p.i AS i, b.q[p.i + 1] AS x FROM base b, pos p)
SELECT e.vec_id, CAST(sum(e.x * v2.v) AS BIGINT) AS pc1_proj
FROM ex e JOIN v2 ON e.i = v2.i GROUP BY 1
""",
    doc="Top-principal-direction projection by EXACT INTEGER power "
        "iteration (von Mises 1929; 2 iterations, all-ones init, "
        "truncating renormalization to 1e3, Gram clamped to 2^40 per "
        "entry so every intermediate fits int64 at any corpus size) — "
        "the PCA-outlier / whitening diagnostic for embedding curation. "
        "Gram = one corpus scan with an array-local outer product "
        "(4096-key map-side partial agg, no join); the 64x64 result is a "
        "fixed-size codebook, iterated driver-side exactly like a "
        "broadcast IVF codebook, then the direction broadcasts back for "
        "a one-pass projection. No float reduction anywhere — the oracle "
        "reproduces every projection bit-for-bit",
)
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.pca_project(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_exact_canonical",
    """
WITH variants AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- deterministic casing/punctuation mutants (every 3rd doc) so the
  -- canonical grouping path is exercised on a corpus with no raw dups
  SELECT doc_id + 1000000, upper(text) || '!!  ' FROM documents
  WHERE doc_id % 3 = 0
), canon AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
              ' +', ' ', 'g')) AS ctext
  FROM variants
)
SELECT md5(ctext) AS canon_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM canon GROUP BY 1
""",
    doc="Canonicalized exact dedup (the normalize-then-hash step of "
        "C4/RefinedWeb-style pipelines): lowercase, strip non-"
        "alphanumerics, collapse whitespace, then hash-group — catches "
        "casing/punctuation/spacing near-copies that byte-exact dedup "
        "misses, at exactly the same scan + single-agg cost; keep = "
        "lowest doc_id per canonical hash. Deterministic casing/"
        "punctuation mutants (every 3rd doc) exercise the grouping on "
        "the otherwise dup-free synthetic corpus",
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mutants = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!  ")).alias("text"),
    )
    variants = docs.select("doc_id", "text").unionByName(mutants)
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +", " ",
        )
    )
    return (
        variants.select("doc_id", F.md5(canon).alias("canon_hash"))
        .groupBy("canon_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
    )


@register(
    "dedup_keep_best_quality",
    _LSH_PAIRS_CTES
    + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  SELECT a AS node, a AS lab FROM edges
  UNION
  SELECT e.b AS node, r.lab
  FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
), qual AS (
  SELECT doc_id,
         CAST(len(list_distinct(tokens)) * 10000 // len(tokens) AS BIGINT)
           AS ttr_bp
  FROM tok WHERE len(tokens) >= 1
), allq AS (
  SELECT q.doc_id, coalesce(c.cluster_id, q.doc_id) AS cluster_id, q.ttr_bp
  FROM qual q LEFT JOIN comp c ON q.doc_id = c.doc_id
), best AS (
  SELECT cluster_id, doc_id AS best_doc FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY ttr_bp DESC, doc_id) AS rk
    FROM allq) WHERE rk = 1
)
SELECT f.doc_id, f.cluster_id, f.ttr_bp,
       CAST(CASE WHEN f.doc_id = b.best_doc THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM allq f JOIN best b ON f.cluster_id = b.cluster_id
""",
    doc="Cluster-aware keep policy: within each near-dup cluster "
        "(connected components over the MinHash-LSH pair graph) keep the "
        "HIGHEST-QUALITY member (type-token ratio, doc_id tiebreak) "
        "instead of the lowest id — the keep rule production curation "
        "pipelines actually use; singletons keep themselves. One decision "
        "row per doc; the per-cluster argmax is a cluster-keyed agg "
        "(co-shuffled, nothing driver-side)",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cl = dedup_duplicate_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    q = tx.quality_score(docs).select("doc_id", "ttr_bp")
    full = q.join(cl, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    best = full.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"), F.struct(F.col("ttr_bp"), -F.col("doc_id"))
        ).alias("best_doc")
    )
    return (
        full.join(best, "cluster_id")
        .select(
            "doc_id", "cluster_id", "ttr_bp",
            (F.col("doc_id") == F.col("best_doc")).cast("bigint").alias("keep"),
        )
    )


@register(
    "text_search_bm25_topk",
    _TOK_CTE
    + """
, ex AS (SELECT doc_id, unnest(tokens) AS t FROM tok)
, dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1)
, stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST((1000 * sum(dl)) // count(*) AS BIGINT)
                     AS avgdl_x1000 FROM dl)
, qt AS (SELECT * FROM ex WHERE t IN ('join', 'scan', 'filter'))
, dft AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM qt GROUP BY 1)
, tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
         FROM qt GROUP BY 1, 2)
, scored AS (
  SELECT tf.doc_id,
         CAST(sum(
           (((s.n_docs - dft.df + 1) * 1000000) // (dft.df + 1))
           * ((22000 * tf.tf * s.avgdl_x1000) //
              (10 * tf.tf * s.avgdl_x1000 + 3 * s.avgdl_x1000
               + 9000 * dl.dl))
         ) AS BIGINT) AS score,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dft ON tf.t = dft.t CROSS JOIN stats s
  GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, score, n_terms_hit
FROM scored ORDER BY score DESC, doc_id LIMIT 10
""",
    doc="Full-text keyword search: BM25-style top-10 (Robertson & "
        "Zaragoza 2009; k1=1.2, b=0.75) in exact integer arithmetic — "
        "rational log-free idf and fraction-cleared tf saturation, so "
        "the ranking is bit-identical cross-engine. One token-explode "
        "scan feeds document-length and term-frequency aggs; the "
        "term-stats and corpus-stats tables broadcast; global top-k is "
        "a distributed take-ordered, no global sort materialized",
)
def text_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bm25_topk(load_table(spark, sf_dir, "documents"))


_PQ_D = ("list_sum(list_transform(range(1, 9), "
         "i -> (sub.subq[i] - c.cq[i]) * (sub.subq[i] - c.cq[i])))")


def _pq_cte(iters: int = 2, src: str = "base") -> str:
    """Unrolled per-subspace Lloyd chain mirroring ``similarity.pq_train``
    bit-for-bit (subspace ``s`` rides as a group key; init = first-16
    subvectors; truncating integer centroid means). ``src`` is the
    (vec_id, q) relation to quantize — ``base`` for plain PQ, the
    residual relation for IVF-PQ."""
    sql = f"""
, subs AS (
  SELECT b.vec_id, g.s, b.q[g.s * 8 + 1 : g.s * 8 + 8] AS subq
  FROM {src} b, (SELECT unnest(range(8)) AS s) g
), pc0 AS (SELECT s, vec_id AS cent_id, subq AS cq FROM subs WHERE vec_id < 16)"""
    for it in range(iters):
        sql += f"""
, pa{it} AS (
  SELECT vec_id, s, subq, code, d FROM (
    SELECT sub.vec_id, sub.s, sub.subq, c.cent_id AS code, {_PQ_D} AS d,
           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                              ORDER BY {_PQ_D}, c.cent_id) AS rn
    FROM subs sub JOIN pc{it} c ON sub.s = c.s) WHERE rn = 1
)
, pe{it} AS (SELECT s, code AS cell, generate_subscripts(subq, 1) AS pos,
                    unnest(subq) AS x FROM pa{it})
, pc{it + 1} AS (
  SELECT s, cell AS cent_id, list(CAST(sm // n AS BIGINT) ORDER BY pos) AS cq
  FROM (SELECT s, cell, pos, sum(x) AS sm, count(*) AS n
        FROM pe{it} GROUP BY 1, 2, 3)
  GROUP BY 1, 2)"""
    sql += f"""
, paF AS (
  SELECT vec_id, s, code, d FROM (
    SELECT sub.vec_id, sub.s, c.cent_id AS code, {_PQ_D} AS d,
           row_number() OVER (PARTITION BY sub.vec_id, sub.s
                              ORDER BY {_PQ_D}, c.cent_id) AS rn
    FROM subs sub JOIN pc{iters} c ON sub.s = c.s) WHERE rn = 1
)"""
    return sql


@register(
    "embed_pq_encode",
    _QUANT_CTE
    + _pq_cte(2)
    + """
SELECT vec_id,
       array_to_string(list(CAST(code AS VARCHAR) ORDER BY s), ',') AS codes,
       CAST(sum(d) AS BIGINT) AS quant_err
FROM paF GROUP BY 1
""",
    doc="Product quantization (Jégou/Douze/Schmid, TPAMI 2011): 8 "
        "independent 16-code subspace codebooks trained in one grouped "
        "Lloyd dataflow (subspace id as a group key, exact integer "
        "arithmetic, first-16 init), then every vector encoded as 8 code "
        "labels + its exact quantization error — the 8-byte-per-vector "
        "ANN compression layout. The 8x16-row codebook broadcasts; "
        "training sums shuffle (s, cell, dim) partials only, never whole "
        "vectors per cell — scales like the IVF trainer",
)
def embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.pq_encode(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_pq_adc_topk",
    _QUANT_CTE
    + _pq_cte(2)
    + f"""
, qsubs AS (
  SELECT vec_id AS query_id, s, subq AS qsub FROM subs WHERE vec_id < 5
), dt AS (
  SELECT q.query_id, q.s, c.cent_id AS code,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (q.qsub[i] - c.cq[i]) * (q.qsub[i] - c.cq[i]))) AS BIGINT)
           AS dpart
  FROM qsubs q JOIN pc2 c ON q.s = c.s
), scored AS (
  SELECT dt.query_id, a.vec_id,
         CAST(sum(dt.dpart) AS BIGINT) AS adc_dist
  FROM paF a JOIN dt ON a.s = dt.s AND a.code = dt.code
  WHERE a.vec_id <> dt.query_id
  GROUP BY 1, 2 HAVING count(*) = 8
)
SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="PQ asymmetric-distance (ADC) top-5 search: queries keep exact "
        "subvectors, corpus vectors are only their 8 code labels, and "
        "distance = 8 lookups in the broadcast per-query distance table "
        "(5x8x16 rows) — the classic PQ query path where the corpus is "
        "touched once as codes, never as full vectors (Jégou et al., "
        "TPAMI 2011, §ADC)",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "corpus_bigram_counts",
    _TOK_CTE
    + """
, bg AS (
  SELECT t.tokens[i] AS w1, t.tokens[i + 1] AS w2
  FROM tok t, unnest(range(1, greatest(len(t.tokens), 1))) AS g(i)
)
SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
FROM bg GROUP BY 1, 2
HAVING count(*) >= 5
""",
    doc="Adjacent-pair (bigram) counts over the corpus — the merge-step "
        "statistic a BPE tokenizer trainer consumes each round (Sennrich "
        "et al. 2016): one explode of consecutive token pairs + a "
        "partial-first agg, thresholded to the pairs worth merging; "
        "map-side combine keeps the shuffle at vocabulary² worst case, "
        "ngram-frequency bounded in practice",
)
def corpus_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # size(tokens) < 2 would make sequence(1, 0) yield the DESCENDING
    # [1, 0] and element_at(tokens, 0) throw — gate short/empty docs out
    # before the explode (they contribute no bigrams anyway).
    pairs = F.expr(
        "transform(sequence(1, size(tokens) - 1), "
        "i -> struct(element_at(tokens, i) as w1, "
        "element_at(tokens, i + 1) as w2))"
    )
    return (
        tx.with_tokens(docs)
        .filter(F.expr("size(tokens) >= 2"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "sim_ivfpq_topk",
    _QUANT_CTE
    + _km_cte(8, 2)
    + f"""
, cellsK AS (
  SELECT vec_id, q, cell FROM (
    SELECT b.vec_id, b.q, c.cent_id AS cell,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_KM_DIST}, c.cent_id) AS rn
    FROM base b CROSS JOIN c2 c) WHERE rn = 1
), res AS (
  SELECT l.vec_id, l.cell,
         list_transform(range(1, 65), i -> l.q[i] - c.cq[i]) AS q
  FROM cellsK l JOIN c2 c ON l.cell = c.cent_id
)"""
    + _pq_cte(2, src="res")
    + """
, qres AS (SELECT vec_id AS query_id, s, subq AS qsub FROM subs WHERE vec_id < 5)
, qcell AS (SELECT vec_id AS query_id, cell AS q_cell FROM res WHERE vec_id < 5)
, dt AS (
  SELECT q.query_id, qc.q_cell, q.s, c.cent_id AS code,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (q.qsub[i] - c.cq[i]) * (q.qsub[i] - c.cq[i]))) AS BIGINT)
           AS dpart
  FROM qres q JOIN qcell qc ON q.query_id = qc.query_id
  JOIN pc2 c ON q.s = c.s
), scored AS (
  SELECT dt.query_id, a.vec_id, CAST(sum(dt.dpart) AS BIGINT) AS adc_dist
  FROM paF a JOIN res r ON a.vec_id = r.vec_id
  JOIN dt ON a.s = dt.s AND a.code = dt.code AND r.cell = dt.q_cell
  WHERE a.vec_id <> dt.query_id
  GROUP BY 1, 2 HAVING count(*) = 8
)
SELECT query_id, vec_id AS neighbor_id, rank, adc_dist FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, vec_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="IVF-PQ with residual encoding — the production ANN index "
        "(Jégou et al. 2011 §IVFADC; the FAISS IVFxPQy layout): k-means "
        "coarse quantizer routes vectors to cells, the RESIDUAL "
        "(vector − centroid) is PQ-encoded by grouped-subspace "
        "codebooks, and a query probes its own cell (nprobe=1) scoring "
        "candidates by asymmetric distance over the residual codebooks. "
        "Corpus state = cell id + 8 code labels per vector; all "
        "codebooks broadcast; exact integer arithmetic end to end",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivfpq_topk(load_table(spark, sf_dir, "embeddings"))


def _recall_oracle() -> str:
    from tigate_spark.catalog import CATALOG

    exact = CATALOG["sim_cosine_topk"].oracle
    approx = CATALOG["sim_ivfpq_topk"].oracle
    return f"""
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(5 AS BIGINT) AS k
FROM ({exact}) e
LEFT JOIN ({approx}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
WHERE e.query_id < 5 AND e.rank <= 5
GROUP BY 1
"""


@register(
    "sim_ann_recall_report",
    _recall_oracle(),
    doc="ANN quality evaluation: recall@5 of the IVF-PQ index against the "
        "exact brute-force ranking, per query — the measurement you run "
        "to tune nprobe/codebook size before trusting an ANN index at "
        "scale. Both rankings come from the engine's own operators; the "
        "report is one broadcast join of two top-k tables (25 rows each)",
)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = (
        sim.brute_force_topk(emb, n_queries=20, k=10)
        .filter((F.col("query_id") < 5) & (F.col("rank") <= 5))
        .select("query_id", "neighbor_id")
    )
    approx = sim.ivfpq_topk(emb).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    return (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx["a_neighbor"]),
            "left",
        )
        .groupBy(exact["query_id"].alias("query_id"))
        .agg(
            F.count("a_neighbor").cast("bigint").alias("n_overlap"),
            F.lit(5).cast("bigint").alias("k"),
        )
    )


def _curation_manifest_oracle() -> str:
    from tigate_spark.catalog import CATALOG

    keep = CATALOG["dedup_keep_best_quality"].oracle
    contam = CATALOG["decontaminate_vs_eval"].oracle
    dsir = CATALOG["sample_importance_dsir"].oracle
    return f"""
SELECT k.doc_id, k.cluster_id, k.ttr_bp, w.n_tokens, w.imp_weight_sum
FROM ({keep}) k
LEFT JOIN ({contam}) c ON k.doc_id = c.doc_id
JOIN ({dsir}) w ON k.doc_id = w.doc_id
WHERE k.keep = 1 AND c.doc_id IS NULL AND k.ttr_bp >= 1000
"""


@register(
    "llm_curation_manifest",
    _curation_manifest_oracle(),
    doc="The composed modern curation pipeline as ONE declarative plan: a "
        "doc survives iff it is its near-dup cluster's best-quality "
        "member (SemDeDup-family keep policy), shares no 5-gram shingle "
        "with the eval holdout (decontamination), and passes the lexical-"
        "diversity floor; survivors carry their token count and DSIR "
        "importance weight for downstream sampling. Every stage is an "
        "already-oracle-checked operator — the manifest oracle composes "
        "their oracles as subqueries, so the composition itself is "
        "hash-verified end to end",
)
def llm_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    keep = dedup_keep_best_quality(spark, sf_dir)
    contam = decontaminate_vs_eval(spark, sf_dir).select(
        F.col("doc_id").alias("c_doc")
    )
    dsir = sample_importance_dsir(spark, sf_dir)
    return (
        keep.filter((F.col("keep") == 1) & (F.col("ttr_bp") >= 1000))
        .join(contam, keep["doc_id"] == contam["c_doc"], "left_anti")
        .join(dsir, "doc_id")
        .select("doc_id", "cluster_id", "ttr_bp", "n_tokens", "imp_weight_sum")
    )


@register(
    "sample_temperature_mix",
    _TOK_CTE
    + """
, per_src AS (
  SELECT d.source, CAST(sum(len(t.tokens)) AS BIGINT) AS n_tokens
  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
  GROUP BY 1
), rooted AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS root
  FROM per_src
)
SELECT source, n_tokens,
       CAST(root * 10000 // (SELECT sum(root) FROM rooted) AS BIGINT)
         AS mix_weight_bp,
       CAST(n_tokens * 10000 // (SELECT sum(n_tokens) FROM rooted) AS BIGINT)
         AS natural_bp
FROM rooted
""",
    doc="Temperature-scaled source mixing (the mT5/XLM-R multinomial "
        "rule, Conneau et al. 2020, at alpha=0.5): per-source sampling "
        "weight proportional to n_tokens^alpha, upweighting low-resource "
        "sources relative to their natural share. sqrt is IEEE "
        "correctly-rounded on both engines and the weights are floored "
        "to integers before the normalizing sum, so the whole "
        "computation is deterministic — output = mixing weight vs "
        "natural share in basis points per source; one token-count scan "
        "+ a sources-sized (broadcastable) table",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        tx.with_tokens(docs)
        .groupBy("source")
        .agg(F.sum(F.expr("size(tokens)")).cast("bigint").alias("n_tokens"))
    )
    rooted = per_src.withColumn(
        "root",
        F.expr("cast(floor(sqrt(cast(n_tokens as double))) as bigint)"),
    )
    totals = rooted.agg(
        F.sum("root").alias("t_root"), F.sum("n_tokens").alias("t_tok")
    )
    return (
        rooted.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_tokens",
            F.expr("root * 10000 div t_root").cast("bigint")
            .alias("mix_weight_bp"),
            F.expr("n_tokens * 10000 div t_tok").cast("bigint")
            .alias("natural_bp"),
        )
    )


# ===========================================================================
# Training-data pipeline extensions, round 6: exact substring-span dedup
# (Lee et al. 2022), bigram-LM quality scoring (CCNet twin), and a full
# BPE merge-round application (completes the corpus_bigram_counts loop)
# ===========================================================================
@register(
    "dedup_substring_spans",
    _TOK_CTE
    + """
, spans AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS span_start,
         array_to_string(tokens[g.i:g.i+4], ' ') AS shingle
  FROM tok, unnest(range(1, greatest(len(tokens) - 3, 1))) AS g(i)
  WHERE len(tokens) >= 5
)
SELECT s.doc_id, s.span_start, s.shingle,
       CAST(d2.n_docs AS BIGINT) AS n_docs_sharing
FROM spans s JOIN (
  SELECT shingle, count(DISTINCT doc_id) AS n_docs FROM spans
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
) d2 ON s.shingle = d2.shingle
""",
    doc="Exact substring-span dedup (Lee et al. 2022, 'Deduplicating "
        "Training Data Makes Language Models Better', the ExactSubstr "
        "pass at 5-token granularity): every token position whose 5-gram "
        "window recurs in at least one OTHER document is flagged with its "
        "span start and sharing count — the spans a curation pass would "
        "excise. One posexplode scan + a per-shingle distinct-doc agg + "
        "one shuffle join back on the shingle key; no pair generation, "
        "so no cap is needed — output is bounded by the duplicated-span "
        "count itself",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = (
        tx.with_tokens(docs)
        .filter(F.expr("size(tokens) >= 5"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 4), "
                    "i -> concat_ws(' ', slice(tokens, i, 5)))"
                )
            ).alias("pos0", "shingle"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("span_start"),
            "shingle",
        )
    )
    dup = (
        spans.groupBy("shingle")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs_sharing"))
        .filter(F.col("n_docs_sharing") >= 2)
    )
    return spans.join(dup, "shingle").select(
        "doc_id", "span_start", "shingle", "n_docs_sharing"
    )


#: surprisal clip (1000× the base) — bounds the per-doc integer sum at
#: ~1e7 per bigram so a 10⁹-bigram document still fits int64
_LM_SURPRISE_CAP = 10_000_000


@register(
    "text_lm_score",
    _TOK_CTE
    + """
, bg AS (
  SELECT doc_id, tokens[g.i] AS w1, tokens[g.i + 1] AS w2
  FROM tok, unnest(range(1, greatest(len(tokens), 1))) AS g(i)
  WHERE len(tokens) >= 2
), c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(least((c1.c1 * 10000) // c2.c2, 10000000)) // count(*)
            AS BIGINT) AS surprise_bp
FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
JOIN c1 ON bg.w1 = c1.w1
GROUP BY 1
""",
    doc="Bigram-LM quality score (the log-free exact-integer twin of "
        "CCNet's KenLM perplexity filter, Wenzek et al. 2020): the corpus "
        "itself is the LM — per bigram, surprise = 10000·C(w1)/C(w1,w2) "
        "(how unusual this continuation is), clipped at 1000× and "
        "averaged per document; high scores mark incoherent/rare-"
        "continuation text, the CCNet 'tail' bucket. One bigram-explode "
        "scan feeds both count tables; scoring joins shuffle on the "
        "bigram/left-token keys (the stats tables scale with vocabulary², "
        "too big to broadcast at corpus scale) and the per-doc agg is "
        "map-side combined. Intermediates fit int64 up to ~9e14 corpus "
        "bigrams (C(w1)·10⁴ < 2⁶³)",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        tx.with_tokens(docs)
        .filter(F.expr("size(tokens) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1), "
                    "i -> struct(element_at(tokens, i) as w1, "
                    "element_at(tokens, i + 1) as w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # One corpus pass: reduce occurrences to per-doc distinct bigrams with
    # multiplicity k first (the (doc, w1, w2) exchange is then REUSED by
    # the corpus count table via AQE), and derive the left-token counts
    # from the bigram counts instead of a third corpus aggregation —
    # Σ_occurrences surprise ≡ Σ_distinct k·surprise, so values are
    # unchanged and the oracle stays as-is.
    bgc = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    c2 = bgc.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return (
        bgc.join(c2, ["w1", "w2"]).join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.expr(
                f"cast(sum(k * least((c1 * 10000L) div c2, {_LM_SURPRISE_CAP}L)) "
                "div sum(k) as bigint)"
            ).alias("surprise_bp"),
        )
    )


@register(
    "bpe_merge_apply",
    _TOK_CTE
    + """
, bg AS (
  SELECT doc_id, g.i AS i, tokens[g.i] AS w1, tokens[g.i + 1] AS w2
  FROM tok, unnest(range(1, greatest(len(tokens), 1))) AS g(i)
  WHERE len(tokens) >= 2
), top AS (
  SELECT w1, w2 FROM bg GROUP BY 1, 2
  ORDER BY count(*) DESC, w1, w2 LIMIT 1
), m AS (
  SELECT bg.doc_id, bg.i,
         bg.i - row_number() OVER (PARTITION BY bg.doc_id ORDER BY bg.i) AS grp
  FROM bg JOIN top ON bg.w1 = top.w1 AND bg.w2 = top.w2
), runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
  FROM m GROUP BY doc_id, grp
), merged AS (
  SELECT doc_id, CAST(sum((run_len + 1) // 2) AS BIGINT) AS n_merges
  FROM runs GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.tokens) AS BIGINT) AS n_tokens_before,
       CAST(COALESCE(md.n_merges, 0) AS BIGINT) AS n_merges,
       CAST(len(t.tokens) - COALESCE(md.n_merges, 0) AS BIGINT)
         AS n_tokens_after,
       (SELECT w1 || ' ' || w2 FROM top) AS merged_pair
FROM tok t LEFT JOIN merged md ON t.doc_id = md.doc_id
""",
    doc="BPE merge-round application (Sennrich et al. 2016 — the step "
        "corpus_bigram_counts computes the statistic FOR): pick the "
        "corpus-max adjacent pair (deterministic tie-break) and apply it "
        "left-to-right non-overlapping to every document, the way a BPE "
        "trainer rewrites the token stream each round. LTR non-overlap "
        "over a run of k consecutive matches merges ceil(k/2) pairs — "
        "computed as gaps-and-islands over match positions, no per-token "
        "iteration. The winning pair is resolved driver-side (a 1-row, "
        "scale-independent argmax, the codebook precedent) and pushed "
        "into the match scan as a literal FILTER — no join at all on the "
        "corpus side; per-doc window + agg are one shuffle each; per doc "
        "emits before/after lengths and the merge count (a corpus with "
        "no bigrams reports every doc with 0 merges and a NULL pair, "
        "matching the oracle's NULL scalar subquery)",
)
def bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tx.with_tokens(docs).select("doc_id", "tokens")
    bg = (
        toks.filter(F.expr("size(tokens) >= 2"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1), "
                    "i -> struct(element_at(tokens, i) as w1, "
                    "element_at(tokens, i + 1) as w2))"
                )
            ).alias("i0", "p"),
        )
        .select(
            "doc_id", (F.col("i0") + 1).alias("i"),
            F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
        )
    )
    # The winning pair is a 1-row, scale-independent argmax — resolve it
    # on the driver once (the PCA/codebook precedent) instead of letting
    # two lazy consumers re-run the corpus-wide count+sort per action. An
    # empty result (corpus with no bigrams) mirrors the oracle's NULL
    # scalar subquery: merged_pair NULL, every doc reported with 0 merges.
    top_rows = (
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2").limit(1)
        .collect()
    )
    if top_rows:
        w1, w2 = top_rows[0]["w1"], top_rows[0]["w2"]
        pair_col = F.lit(f"{w1} {w2}")
        m = bg.filter((F.col("w1") == w1) & (F.col("w2") == w2)).withColumn(
            "grp",
            F.col("i") - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            ),
        )
        merged = (
            m.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
            .groupBy("doc_id")
            .agg(F.expr("sum((run_len + 1) div 2)").alias("n_merges"))
        )
        out = toks.join(merged, "doc_id", "left")
    else:
        pair_col = F.lit(None).cast("string")
        out = toks.withColumn("n_merges", F.lit(None).cast("bigint"))
    return out.select(
        "doc_id",
        F.expr("cast(size(tokens) as bigint)").alias("n_tokens_before"),
        F.coalesce("n_merges", F.lit(0)).cast("bigint").alias("n_merges"),
        F.expr("cast(size(tokens) - coalesce(n_merges, 0) as bigint)")
        .alias("n_tokens_after"),
        pair_col.alias("merged_pair"),
    )


@register(
    "dedup_substring_excise",
    _TOK_CTE
    + """
, spans AS (
  SELECT doc_id, g.i AS i, array_to_string(tokens[g.i:g.i+4], ' ') AS shingle
  FROM tok, unnest(range(1, greatest(len(tokens) - 3, 1))) AS g(i)
  WHERE len(tokens) >= 5
), dup AS (
  SELECT shingle FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), covered AS (
  SELECT DISTINCT s.doc_id, s.i + g.o AS tokpos
  FROM spans s JOIN dup d ON s.shingle = d.shingle,
       unnest(range(0, 5)) AS g(o)
), cut AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_covered
  FROM covered GROUP BY 1
)
SELECT t.doc_id, CAST(len(t.tokens) AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_tokens_covered, 0) AS BIGINT) AS n_tokens_covered,
       CAST(len(t.tokens) - COALESCE(c.n_tokens_covered, 0) AS BIGINT)
         AS n_tokens_after
FROM tok t LEFT JOIN cut c ON t.doc_id = c.doc_id
""",
    doc="Substring-span excision (the actionable form of "
        "dedup_substring_spans, Lee et al. 2022: the ExactSubstr pass "
        "CUTS the duplicated ranges, it doesn't drop documents): every "
        "token covered by a cross-document-recurring 5-gram window is "
        "marked, coverage is counted distinct per document, and each doc "
        "reports before/covered/after token counts — the corpus-size "
        "delta a curation run would realize. Span flagging + a 5-wide "
        "position explode + distinct — work linear in flagged spans, "
        "no pair generation",
)
def dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.with_tokens(docs).select("doc_id", "tokens")
    spans = (
        toks.filter(F.expr("size(tokens) >= 5"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 4), "
                    "i -> concat_ws(' ', slice(tokens, i, 5)))"
                )
            ).alias("pos0", "shingle"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("i"), "shingle")
    )
    dup = (
        spans.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("shingle")
    )
    covered = (
        spans.join(dup, "shingle")
        .select("doc_id", F.explode(F.expr("sequence(i, i + 4)")).alias("tokpos"))
        .distinct()
    )
    cut = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_covered")
    )
    return (
        toks.join(cut, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("cast(size(tokens) as bigint)").alias("n_tokens"),
            F.coalesce("n_tokens_covered", F.lit(0)).cast("bigint")
            .alias("n_tokens_covered"),
            F.expr("cast(size(tokens) - coalesce(n_tokens_covered, 0) "
                   "as bigint)").alias("n_tokens_after"),
        )
    )


def _curation_manifest_v2_oracle() -> str:
    from tigate_spark.catalog import CATALOG

    lm = CATALOG["text_lm_score"].oracle
    excise = CATALOG["dedup_substring_excise"].oracle
    return f"""
SELECT m.doc_id, m.cluster_id, m.ttr_bp, m.n_tokens, m.imp_weight_sum,
       lm.surprise_bp, ex.n_tokens_covered, ex.n_tokens_after
FROM ({_curation_manifest_oracle()}) m
JOIN ({lm}) lm ON m.doc_id = lm.doc_id
JOIN ({excise}) ex ON m.doc_id = ex.doc_id
"""


@register(
    "llm_curation_manifest_v2",
    _curation_manifest_v2_oracle(),
    doc="The round-6 curation manifest: every surviving document of "
        "llm_curation_manifest additionally carries its bigram-LM "
        "surprisal (text_lm_score — the CCNet-style quality signal) and "
        "its substring-excision accounting (dedup_substring_excise — "
        "tokens the ExactSubstr cut would remove), so one table holds "
        "every per-doc decision and weight a training-data build needs. "
        "Pure column composition over already-oracle-checked operators; "
        "the oracle nests their oracles as subqueries, hash-verifying "
        "the composition end to end",
)
def llm_curation_manifest_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = text_lm_score(spark, sf_dir).select("doc_id", "surprise_bp")
    ex = dedup_substring_excise(spark, sf_dir).select(
        "doc_id", "n_tokens_covered", "n_tokens_after"
    )
    return llm_curation_manifest(spark, sf_dir).join(lm, "doc_id").join(
        ex, "doc_id"
    )


# ===========================================================================
# Training-data pipeline extensions, round 7: Gopher rule-based quality
# gating (Rae et al. 2021 App. A), multi-epoch mixture planning under a
# token budget (Muennighoff et al. 2023), paragraph-level dup fraction
# (MassiveText / CCNet paragraph dedup signal)
# ===========================================================================
_GOPHER_STOP = ", ".join(f"'{w}'" for w in tx.EN_STOPWORDS)


@register(
    "text_gopher_quality_flags",
    _TOK_CTE
    + f"""
, m AS (
  SELECT doc_id,
         CAST(len(tokens) AS BIGINT) AS n_words,
         CAST(COALESCE(list_sum(list_transform(tokens, x -> length(x))), 0)
              * 1000 // greatest(len(tokens), 1) AS BIGINT)
           AS mean_word_len_milli,
         CAST(len(list_filter(tokens, x -> regexp_matches(x, '[a-z]')))
              * 10000 // greatest(len(tokens), 1) AS BIGINT)
           AS alpha_frac_bp,
         CAST(len(list_intersect(list_distinct(tokens), [{_GOPHER_STOP}]))
              AS BIGINT) AS n_stop_distinct
  FROM tok
)
SELECT doc_id, n_words, mean_word_len_milli, alpha_frac_bp, n_stop_distinct,
       CAST(CAST(n_words BETWEEN 50 AND 100000 AS INT) AS BIGINT)
         AS f_word_count,
       CAST(CAST(mean_word_len_milli BETWEEN 3000 AND 10000 AS INT)
            AS BIGINT) AS f_mean_word_len,
       CAST(CAST(alpha_frac_bp >= 8000 AS INT) AS BIGINT) AS f_alpha_words,
       CAST(CAST(n_stop_distinct >= 2 AS INT) AS BIGINT) AS f_stopwords,
       CAST(CAST(n_words BETWEEN 50 AND 100000
                 AND mean_word_len_milli BETWEEN 3000 AND 10000
                 AND alpha_frac_bp >= 8000
                 AND n_stop_distinct >= 2 AS INT) AS BIGINT) AS keep
FROM m
""",
    doc="Gopher rule-based quality gate (Rae et al. 2021, Appendix A — "
        "the MassiveText filter): per document, word count in [50, 1e5], "
        "mean word length in [3, 10] (milli-chars, exact integer), "
        "fraction of words containing an alphabetic character >= 80% "
        "(basis points), and >= 2 distinct stop words present; `keep` is "
        "the conjunction. Every ratio is floored integer arithmetic so "
        "both engines agree bit-for-bit. Pure per-row array math inside "
        "the scan — no shuffle at all, trivially 100 TB-safe (the flags "
        "then feed partial-agg mix stats or a filter pushed to the scan)",
)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = tx.with_tokens(docs).select(
        "doc_id",
        F.expr("cast(size(tokens) as bigint)").alias("n_words"),
        F.expr(
            "cast(aggregate(tokens, 0L, (a, x) -> a + length(x)) * 1000 "
            "div greatest(size(tokens), 1) as bigint)"
        ).alias("mean_word_len_milli"),
        F.expr(
            "cast(size(filter(tokens, x -> x rlike '[a-z]')) * 10000 "
            "div greatest(size(tokens), 1) as bigint)"
        ).alias("alpha_frac_bp"),
        F.expr(
            f"cast(size(array_intersect(array_distinct(tokens), "
            f"array({_GOPHER_STOP}))) as bigint)"
        ).alias("n_stop_distinct"),
    )
    return m.select(
        "*",
        F.expr("cast(n_words between 50 and 100000 as bigint)")
        .alias("f_word_count"),
        F.expr("cast(mean_word_len_milli between 3000 and 10000 as bigint)")
        .alias("f_mean_word_len"),
        F.expr("cast(alpha_frac_bp >= 8000 as bigint)").alias("f_alpha_words"),
        F.expr("cast(n_stop_distinct >= 2 as bigint)").alias("f_stopwords"),
        F.expr(
            "cast(n_words between 50 and 100000 "
            "and mean_word_len_milli between 3000 and 10000 "
            "and alpha_frac_bp >= 8000 and n_stop_distinct >= 2 as bigint)"
        ).alias("keep"),
    )


#: multi-epoch mixture plan constants: budget = 2x corpus, repeat cap =
#: 4 epochs (Muennighoff et al. 2023: value of repeated data decays fast
#: past ~4 epochs)
_MIX_BUDGET_X = 2
_MIX_MAX_EPOCHS = 4


@register(
    "sample_mixture_epochs",
    _TOK_CTE
    + f"""
, per_src AS (
  SELECT d.source, CAST(sum(len(t.tokens)) AS BIGINT) AS n_tokens
  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
  GROUP BY 1
), c AS (
  SELECT CAST({_MIX_BUDGET_X} * sum(n_tokens) AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS n_src
  FROM per_src
), base AS (
  SELECT p.source, p.n_tokens,
         CAST(c.budget // c.n_src AS BIGINT) AS base_target,
         CAST({_MIX_MAX_EPOCHS} * p.n_tokens AS BIGINT) AS cap_tokens
  FROM per_src p, c
), pool AS (
  SELECT CAST(COALESCE(sum(CASE WHEN base_target > cap_tokens
                        THEN base_target - cap_tokens END), 0) AS BIGINT)
           AS surplus,
         CAST(COALESCE(sum(CASE WHEN base_target <= cap_tokens
                        THEN n_tokens END), 0) AS BIGINT) AS uncapped_tokens
  FROM base
), planned AS (
  SELECT b.source, b.n_tokens, b.base_target, b.cap_tokens,
         CAST(CASE WHEN b.base_target > b.cap_tokens THEN b.cap_tokens
              ELSE least(b.base_target
                         + b.n_tokens
                           * (p.surplus * 10000
                              // greatest(p.uncapped_tokens, 1)) // 10000,
                         b.cap_tokens) END AS BIGINT) AS planned_tokens
  FROM base b, pool p
)
SELECT source, n_tokens, base_target, planned_tokens,
       CAST(planned_tokens * 1000 // n_tokens AS BIGINT) AS epochs_milli,
       CAST(planned_tokens * 10000
            // (SELECT sum(planned_tokens) FROM planned) AS BIGINT)
         AS share_bp
FROM planned
""",
    doc="Multi-epoch mixture planning under a global token budget "
        "(Muennighoff et al. 2023, 'Scaling Data-Constrained Language "
        f"Models'): budget = {_MIX_BUDGET_X}x corpus tokens split "
        "uniformly across sources; any source whose uniform share "
        f"exceeds {_MIX_MAX_EPOCHS} epochs of its own data is capped "
        "there, and ONE waterfill round redistributes the surplus to "
        "uncapped sources proportional to their token mass (still "
        "cap-clamped; single-round by design — documented, both engines "
        "identical). The redistribution uses a x10000-scaled per-token "
        "rate instead of the naive surplus*n_tokens product: the naive "
        "product overflows int64 past ~3e9-token corpora, while every "
        "intermediate here is bounded by 10000*surplus <= 20000*corpus "
        "tokens — int64-safe to ~4.6e14 tokens (>> 100 TB of text). "
        "Emits per-source planned tokens, epochs (milli) and "
        "final share (bp), all floored int64. One token-count scan + a "
        "sources-sized table with two scalar aggregates — the plan table "
        "is broadcast-sized at any corpus scale",
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        tx.with_tokens(docs)
        .groupBy("source")
        .agg(F.sum(F.expr("size(tokens)")).cast("bigint").alias("n_tokens"))
    )
    c = per_src.agg(
        (F.lit(_MIX_BUDGET_X) * F.sum("n_tokens")).cast("bigint")
        .alias("budget"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    base = per_src.crossJoin(F.broadcast(c)).select(
        "source", "n_tokens",
        F.expr("budget div n_src").cast("bigint").alias("base_target"),
        (F.lit(_MIX_MAX_EPOCHS) * F.col("n_tokens")).cast("bigint")
        .alias("cap_tokens"),
    )
    pool = base.agg(
        F.expr(
            "cast(coalesce(sum(case when base_target > cap_tokens "
            "then base_target - cap_tokens end), 0) as bigint)"
        ).alias("surplus"),
        F.expr(
            "cast(coalesce(sum(case when base_target <= cap_tokens "
            "then n_tokens end), 0) as bigint)"
        ).alias("uncapped_tokens"),
    )
    planned = base.crossJoin(F.broadcast(pool)).select(
        "source", "n_tokens", "base_target",
        F.expr(
            "cast(case when base_target > cap_tokens then cap_tokens "
            "else least(base_target + n_tokens * (surplus * 10000 "
            "div greatest(uncapped_tokens, 1)) div 10000, cap_tokens) "
            "end as bigint)"
        ).alias("planned_tokens"),
    )
    tot = planned.agg(F.sum("planned_tokens").alias("t_planned"))
    return planned.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", "base_target", "planned_tokens",
        F.expr("planned_tokens * 1000 div n_tokens").cast("bigint")
        .alias("epochs_milli"),
        F.expr("planned_tokens * 10000 div t_planned").cast("bigint")
        .alias("share_bp"),
    )


@register(
    "dedup_paragraph_fraction",
    _TOK_CTE
    + """
, par AS (
  SELECT doc_id,
         md5(array_to_string(tokens[g.i*32+1:g.i*32+32], ' ')) AS ph
  FROM tok, unnest(range(0, (len(tokens) - 1) // 32 + 1)) AS g(i)
  WHERE len(tokens) >= 1
), dup AS (
  SELECT ph FROM par GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
), per_doc AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_paragraphs,
         CAST(count(d.ph) AS BIGINT) AS n_dup_paragraphs
  FROM par p LEFT JOIN dup d ON p.ph = d.ph
  GROUP BY 1
)
SELECT doc_id, n_paragraphs, n_dup_paragraphs,
       CAST(n_dup_paragraphs * 10000 // n_paragraphs AS BIGINT)
         AS dup_frac_bp,
       CAST(CAST(n_dup_paragraphs * 10000 // n_paragraphs <= 3000 AS INT)
            AS BIGINT) AS keep
FROM per_doc
""",
    doc="Cross-corpus paragraph-dedup signal (the CCNet / MassiveText "
        "paragraph pass, Wenzek et al. 2020): documents are cut into "
        "non-overlapping 32-token paragraphs, each md5-fingerprinted (a "
        "fixed-width shuffle key — at 100 TB you never shuffle paragraph "
        "TEXT, only 32-byte digests); a paragraph is duplicated when it "
        "occurs in >= 2 distinct documents. Per doc: paragraph counts, "
        "duplicated-paragraph fraction (bp), and keep = frac <= 30%. "
        "Complements text_repetition_score (within-doc) and "
        "dedup_substring_spans (5-gram spans): this is the coarse "
        "cross-doc boilerplate detector. One posexplode scan, one "
        "digest-keyed agg, one digest join back — all shuffle keys are "
        "digests, work linear in corpus size",
)
def dedup_paragraph_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    par = (
        tx.with_tokens(docs)
        .filter(F.expr("size(tokens) >= 1"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, (size(tokens) - 1) div 32), "
                    "i -> md5(concat_ws(' ', slice(tokens, i*32 + 1, 32))))"
                )
            ).alias("ph"),
        )
    )
    dup = (
        par.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ph")
    )
    per_doc = (
        par.join(dup.withColumn("is_dup", F.lit(1)), "ph", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
            F.count("is_dup").cast("bigint").alias("n_dup_paragraphs"),
        )
    )
    return per_doc.select(
        "doc_id", "n_paragraphs", "n_dup_paragraphs",
        F.expr("cast(n_dup_paragraphs * 10000 div n_paragraphs as bigint)")
        .alias("dup_frac_bp"),
        F.expr(
            "cast(n_dup_paragraphs * 10000 div n_paragraphs <= 3000 "
            "as bigint)"
        ).alias("keep"),
    )


#: C4 span-dedup unit size (tokens per "sentence" unit) and window (units
#: per span). The testdata corpus is a word stream with no sentence
#: punctuation, so the unit segmenter is a fixed 8-token chunker; on
#: natural text swap it for a punctuation splitter — every downstream
#: step (window, keep-first, excision) is segmenter-agnostic.
_C4_UNIT = 8
_C4_WIN = 3


@register(
    "dedup_c4_span_excise",
    f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
  FROM documents
), base AS (
  SELECT doc_id, tokens,
         CAST((len(tokens) - 1) // {_C4_UNIT} + 1 AS BIGINT) AS n_units
  FROM tok WHERE len(tokens) >= 1
), spans AS (
  SELECT doc_id, CAST(g.j AS BIGINT) AS j,
         md5(array_to_string(
           tokens[(g.j - 1) * {_C4_UNIT} + 1 :
                  (g.j - 1) * {_C4_UNIT} + {_C4_UNIT * _C4_WIN}],
           ' ')) AS h
  FROM base, unnest(range(1, n_units - {_C4_WIN - 2})) AS g(j)
  WHERE n_units >= {_C4_WIN}
), occ AS (
  SELECT doc_id, j,
         count(*) OVER (PARTITION BY h) AS n_occ,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, j) AS rn
  FROM spans
), removed AS (
  SELECT doc_id, j FROM occ WHERE n_occ > 1 AND rn > 1
), removed_units AS (
  SELECT DISTINCT doc_id, j + d.k AS u
  FROM removed, unnest(range(0, {_C4_WIN})) AS d(k)
)
SELECT b.doc_id, b.n_units,
       CAST(greatest(b.n_units - {_C4_WIN - 1}, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(r.n_rm, 0) AS BIGINT) AS n_removed_spans,
       CAST(coalesce(ru.n_ru, 0) AS BIGINT) AS n_removed_units,
       CAST(b.n_units - coalesce(ru.n_ru, 0) AS BIGINT) AS n_kept_units
FROM base b
LEFT JOIN (SELECT doc_id, count(*) AS n_rm FROM removed GROUP BY 1) r
  USING (doc_id)
LEFT JOIN (SELECT doc_id, count(*) AS n_ru FROM removed_units GROUP BY 1) ru
  USING (doc_id)
""",
    doc="C4 duplicate-span excision (Raffel et al. 2020 §2.2: 'we "
        "discarded any duplicate three-sentence span, keeping one "
        f"occurrence'): documents segment into {_C4_UNIT}-token units "
        "(the corpus is a word stream with no sentence punctuation, so "
        "the unit segmenter is a fixed chunker — on natural text swap "
        "in a punctuation splitter; window/keep-first/excision are "
        f"segmenter-agnostic), overlapping {_C4_WIN}-unit sliding "
        "windows md5-fingerprinted, GLOBAL keep-first by (doc_id, "
        "position): every later occurrence of a repeated span is "
        "dropped and the units it covers excised (distinct per doc — "
        "overlapping removed spans don't double-count). Distinct from "
        "dedup_paragraph_fraction (non-overlapping blocks, distinct-DOC "
        "fraction signal, no keep rule) and dedup_substring_spans "
        "(5-gram match spans): this is the exact C4 keep-one-occurrence "
        "excision. Scale: only (digest, doc_id, pos) ever shuffles — "
        "span TEXT stays in the scan stage; keep-first is a "
        "partial-aggregable groupBy(h) min-struct+count (NO window "
        "partitioned by digest — a boilerplate span duplicated 10^8x "
        "map-side-combines instead of landing in one task) joined back "
        "on h, linear in corpus size",
)
def dedup_c4_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u, w = _C4_UNIT, _C4_WIN
    base = (
        tx.with_tokens(docs)
        .filter(F.expr("size(tokens) >= 1"))
        .select(
            "doc_id", "tokens",
            F.expr(f"cast((size(tokens) - 1) div {u} + 1 as bigint)")
            .alias("n_units"),
        )
    )
    spans = (
        base.filter(F.col("n_units") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, n_units - {w - 1}), "
                    f"j -> md5(concat_ws(' ', "
                    f"slice(tokens, (j - 1) * {u} + 1, {u * w}))))"
                )
            ).alias("j0", "h"),
        )
        .select(
            "doc_id", (F.col("j0") + 1).cast("bigint").alias("j"), "h"
        )
    )
    # Keep-first as ONE partial-aggregable groupBy (skew-safe): a window
    # partitioned by h would route every occurrence of one span digest to
    # a single task, and boilerplate spans (cookie banners, license
    # headers — exactly what C4 excision targets) duplicate 10^6-10^8x in
    # real web corpora. min(struct(doc_id, j)) is lexicographic on the
    # fields, so it IS row_number(... ORDER BY doc_id, j) == 1 — the
    # keep-first result is bit-identical. Map-side combine collapses a
    # hot digest to one row per map task before the shuffle; the join
    # back on h has exactly one build row per digest, so AQE skew-join
    # splits any hot probe partition cleanly.
    firsts = (
        spans.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "j")).alias("first"),
        )
        .filter("n_occ > 1")
        .select("h", "first")
    )
    removed = (
        spans.join(firsts, "h")
        .filter("NOT (doc_id = first.doc_id AND j = first.j)")
        .select("doc_id", "j")
    )
    removed_units = removed.select(
        "doc_id",
        F.explode(F.expr(f"transform(sequence(0, {w - 1}), k -> j + k)"))
        .alias("u"),
    ).distinct()
    n_rm = removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed_spans")
    )
    n_ru = removed_units.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed_units")
    )
    return (
        base.join(n_rm, "doc_id", "left")
        .join(n_ru, "doc_id", "left")
        .select(
            "doc_id", "n_units",
            F.expr(f"cast(greatest(n_units - {w - 1}, 0) as bigint)")
            .alias("n_spans"),
            F.coalesce("n_removed_spans", F.lit(0)).cast("bigint")
            .alias("n_removed_spans"),
            F.coalesce("n_removed_units", F.lit(0)).cast("bigint")
            .alias("n_removed_units"),
            F.expr("cast(n_units - coalesce(n_removed_units, 0) as bigint)")
            .alias("n_kept_units"),
        )
    )


#: BPE training rounds for bpe_train_merges (codebook-sized output; each
#: round is a full-corpus rewrite, so K is a constant, not data-driven)
_BPE_ROUNDS = 3


def _bpe_cte_chain() -> str:
    """The K-round rewrite CTE chain (tok0 -> tok{K}), shared by the
    trainer and the vocab-apply oracle: round r consumes tok{r},
    picks top{r} (count desc, w1, w2 tie-break), marks LTR non-overlap
    merge starts via gaps-and-islands (odd positions within each run of
    consecutive matches), and rebuilds tok{r+1} positionally (merge
    starts render 'w1 w2', consumed successors drop)."""
    parts = [_TOK_CTE, ", tok0 AS (SELECT doc_id, tokens FROM tok)"]
    for r in range(_BPE_ROUNDS):
        parts.append(f"""
, bg{r} AS (
  SELECT t.doc_id, CAST(g.i AS BIGINT) AS i,
         t.tokens[g.i] AS w1, t.tokens[g.i + 1] AS w2
  FROM tok{r} t, unnest(range(1, greatest(len(t.tokens), 1))) AS g(i)
  WHERE len(t.tokens) >= 2
), top{r} AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
  FROM bg{r} GROUP BY 1, 2
  ORDER BY count(*) DESC, w1, w2 LIMIT 1
), stt{r} AS (
  SELECT doc_id, i FROM (
    SELECT doc_id, i,
           row_number() OVER (PARTITION BY doc_id, grp ORDER BY i) AS k
    FROM (
      SELECT b.doc_id, b.i,
             b.i - row_number() OVER (PARTITION BY b.doc_id ORDER BY b.i)
               AS grp
      FROM bg{r} b JOIN top{r} t ON b.w1 = t.w1 AND b.w2 = t.w2
    )
  ) WHERE (k - 1) % 2 = 0
), tok{r + 1} AS (
  SELECT p.doc_id,
         list(CASE WHEN s.i IS NOT NULL
              THEN p.tok || ' ' || (SELECT w2 FROM top{r}) ELSE p.tok END
              ORDER BY p.i) AS tokens
  FROM (SELECT t.doc_id, CAST(g.i AS BIGINT) AS i, t.tokens[g.i] AS tok
        FROM tok{r} t, unnest(range(1, len(t.tokens) + 1)) AS g(i)) p
  LEFT JOIN stt{r} s ON p.doc_id = s.doc_id AND p.i = s.i
  LEFT JOIN stt{r} c ON p.doc_id = c.doc_id AND p.i = c.i + 1
  WHERE c.i IS NULL
  GROUP BY p.doc_id
)""")
    return "".join(parts)


def _bpe_train_oracle() -> str:
    rounds_sql = "\nUNION ALL\n".join(
        f"""SELECT CAST({r + 1} AS BIGINT) AS merge_rank, w1, w2,
       cnt AS pair_count,
       (SELECT CAST(sum(len(tokens)) AS BIGINT) FROM tok{r + 1})
         AS corpus_tokens_after
FROM top{r}"""
        for r in range(_BPE_ROUNDS)
    )
    return _bpe_cte_chain() + "\n" + rounds_sql


def _bpe_bigrams(cur):
    """Adjacent-pair frame (doc_id, i, w1, w2) over a (doc_id, tokens)
    frame — one posexplode scan, shared by the argmax trainer and the
    batched top-M trainer so their pair counting cannot drift."""
    return (
        cur.filter(F.expr("size(tokens) >= 2"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1), "
                    "i -> struct(element_at(tokens, i) as w1, "
                    "element_at(tokens, i + 1) as w2))"
                )
            ).alias("i0", "p"),
        )
        .select(
            "doc_id", (F.col("i0") + 1).cast("bigint").alias("i"),
            F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
        )
    )


def _bpe_rewrite_round(cur):
    """One BPE merge round over a (doc_id, tokens) frame: corpus argmax
    pair (count desc, lexicographic tie-break; driver-side 1-row collect
    — the codebook precedent) and the LTR non-overlap rewrite via
    gaps-and-islands. Returns ``(top_row | None, new_cur)``; the rewritten
    frame is localCheckpointed so the caller's next actions scan a
    materialized frame. Shared by the trainer and the vocab-apply entry
    so their corpus rewrites cannot drift."""
    from pyspark.sql import Window

    bg = _bpe_bigrams(cur)
    top = (
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2").limit(1).collect()
    )
    if not top:
        return None, cur
    w1, w2 = top[0]["w1"], top[0]["w2"]
    matches = bg.filter((F.col("w1") == w1) & (F.col("w2") == w2)).select(
        "doc_id", "i"
    )
    w_isl = Window.partitionBy("doc_id").orderBy("i")
    mm = matches.withColumn("grp", F.col("i") - F.row_number().over(w_isl))
    w_grp = Window.partitionBy("doc_id", "grp").orderBy("i")
    starts = (
        mm.withColumn("k", F.row_number().over(w_grp))
        .filter((F.col("k") - 1) % 2 == 0)
        .select("doc_id", "i")
    )
    pos = cur.select(
        "doc_id", F.posexplode("tokens").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).cast("bigint").alias("i"), "tok")
    s = starts.withColumn("is_start", F.lit(True))
    c = starts.select(
        "doc_id", (F.col("i") + 1).alias("i"),
        F.lit(True).alias("is_consumed"),
    )
    reb = (
        pos.join(s, ["doc_id", "i"], "left")
        .join(c, ["doc_id", "i"], "left")
        .filter(F.col("is_consumed").isNull())
        .select(
            "doc_id", "i",
            F.when(
                F.col("is_start"), F.concat(F.col("tok"), F.lit(" " + w2))
            ).otherwise(F.col("tok")).alias("tok"),
        )
    )
    new_cur = reb.groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, tok))), "
            "x -> x.tok)"
        ).alias("tokens")
    ).localCheckpoint()
    return top[0], new_cur




@register(
    "bpe_train_merges",
    _bpe_train_oracle(),
    doc=f"BPE vocabulary training, {_BPE_ROUNDS} merge rounds (Sennrich "
        "et al. 2016 — the iterative loop bpe_merge_apply runs ONE round "
        "of): each round counts adjacent pairs over the CURRENT token "
        "stream, picks the corpus argmax (count desc, then lexicographic "
        "— resolved driver-side, a 1-row codebook-sized collect), and "
        "rewrites every document left-to-right non-overlapping (merge "
        "starts = odd positions within each run of consecutive matches, "
        "the gaps-and-islands trick — no per-token iteration). The "
        "rewritten corpus is localCheckpointed between rounds so round "
        "r+1's two actions (argmax + token count) scan a materialized "
        "frame, not a growing lineage. Output = the ranked merge table "
        "a BPE trainer produces: (rank, pair, count at selection, corpus "
        "tokens after) — merged tokens render as 'w1 w2', atomic in "
        "later rounds exactly like real BPE symbols. Per round: one "
        "pair-explode scan + one window pass + one positional rebuild "
        "agg — linear in corpus size, rounds x that at any scale. "
        "PRODUCTION SHAPE NOTE: rounds are sequential driver round-trips "
        "(argmax collect + rewrite per round) — exact and fine at the "
        f"demo K={_BPE_ROUNDS}, but a real 32k-merge vocab must NOT "
        "scale K as-is: select a top-M batch of non-interacting merges "
        "per round instead (pairs sharing no symbol merge "
        "order-independently, so M merges apply in ONE rewrite pass — "
        "~K/M driver round-trips; the standard trick in distributed BPE "
        "trainers). The per-round plan shape is unchanged; only the "
        "selection widens from argmax to top-M + conflict filter",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    docs = load_table(spark, sf_dir, "documents")
    cur = tx.with_tokens(docs).select("doc_id", "tokens").localCheckpoint()
    out = []
    for r in range(_BPE_ROUNDS):
        top, cur = _bpe_rewrite_round(cur)
        if top is None:
            break
        n_after = cur.agg(
            F.sum(F.expr("size(tokens)")).cast("bigint").alias("n")
        ).collect()[0]["n"]
        out.append((r + 1, top["w1"], top["w2"], int(top["n"]),
                    int(n_after)))
    schema = StructType([
        StructField("merge_rank", LongType()),
        StructField("w1", StringType()),
        StructField("w2", StringType()),
        StructField("pair_count", LongType()),
        StructField("corpus_tokens_after", LongType()),
    ])
    return spark.createDataFrame(out, schema)


def _bpe_apply_oracle() -> str:
    """Per-doc accounting after applying the full trained merge table:
    reuse the trainer's nested round CTEs and join tok0 vs tokK sizes."""
    k = _BPE_ROUNDS
    return _bpe_cte_chain() + f"""
SELECT t0.doc_id,
       CAST(len(t0.tokens) AS BIGINT) AS n_tokens_before,
       CAST(len(tk.tokens) AS BIGINT) AS n_tokens_after,
       CAST(len(t0.tokens) - len(tk.tokens) AS BIGINT) AS n_merges_applied
FROM tok0 t0 JOIN tok{k} tk ON t0.doc_id = tk.doc_id
"""


@register(
    "bpe_vocab_apply",
    _bpe_apply_oracle(),
    doc=f"Tokenizer application: run the {_BPE_ROUNDS}-merge trained "
        "vocabulary (bpe_train_merges) over the corpus and report per-"
        "document before/after token counts — the 'encode with trained "
        "vocab' API a data pipeline calls after training. Shares the "
        "trainer's _bpe_rewrite_round helper (one argmax + LTR rewrite "
        "per round — a single implementation, so the two cannot drift); "
        "the oracle reuses the trainer's templated round CTEs and joins "
        "initial vs final token arrays, so the two entries cross-check "
        "each other's corpus rewrite end to end. Per-doc token counts "
        "shrink monotonically; total matches the trainer's "
        "corpus_tokens_after at rank K by construction",
)
def bpe_vocab_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # size >= 1: the oracle's positional rebuild (unnest over range(1,
    # len+1)) drops 0-token docs from tok1 onward, so they can never
    # appear in its final tok0 JOIN tokK — mirror that up front (the
    # engine's early-break path would otherwise keep them when round 1
    # finds no pair at all)
    base = (
        tx.with_tokens(docs).select("doc_id", "tokens")
        .filter(F.expr("size(tokens) >= 1"))
        .localCheckpoint()
    )
    before = base.select(
        "doc_id", F.expr("cast(size(tokens) as bigint)").alias("n_tokens_before")
    )
    cur = base
    for _ in range(_BPE_ROUNDS):
        top, cur = _bpe_rewrite_round(cur)
        if top is None:
            break
    after = cur.select(
        "doc_id", F.expr("cast(size(tokens) as bigint)").alias("n_tokens_after")
    )
    return before.join(after, "doc_id").select(
        "doc_id", "n_tokens_before", "n_tokens_after",
        (F.col("n_tokens_before") - F.col("n_tokens_after")).cast("bigint")
        .alias("n_merges_applied"),
    )


# --- batched top-M BPE training (the production merge-selection shape) ---

#: Batched trainer constants: per round, rank the top C candidate pairs
#: by (count desc, w1, w2), greedily keep up to M that share no symbol
#: with any earlier-kept pair, and apply ALL kept merges in one rewrite
#: pass.  Symbol-disjoint pairs can never produce overlapping matches
#: (a match of (a,b) at position i occupies tokens i,i+1; a match of a
#: different selected pair at i-1 or i+1 would need one of a/b as its
#: own symbol), so the single-pass rewrite is exact.
_BPE_BATCH_ROUNDS = 2
_BPE_BATCH_M = 3
_BPE_BATCH_C = 12


def _bpe_batched_cte_chain() -> str:
    """The batched-round rewrite chain (tok0 -> tok{R}): per round,
    cand = top-C ranked pairs, greedy = a recursive rank-order walk
    carrying the accumulated symbol set (picked iff neither symbol seen
    in an earlier pick), sel = first M picks, stt = per-pair LTR merge
    starts (gaps-and-islands partitioned by doc AND pair), tok{r+1} =
    one positional rebuild applying every selected merge at once."""
    c, m = _BPE_BATCH_C, _BPE_BATCH_M
    parts = [_TOK_CTE.replace("WITH ", "WITH RECURSIVE ", 1),
             ", tok0 AS (SELECT doc_id, tokens FROM tok)"]
    for r in range(_BPE_BATCH_ROUNDS):
        parts.append(f"""
, bg{r} AS (
  SELECT t.doc_id, CAST(g.i AS BIGINT) AS i,
         t.tokens[g.i] AS w1, t.tokens[g.i + 1] AS w2
  FROM tok{r} t, unnest(range(1, greatest(len(t.tokens), 1))) AS g(i)
  WHERE len(t.tokens) >= 2
), cand{r} AS (
  SELECT w1, w2, cnt, rn FROM (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt,
           row_number() OVER (ORDER BY count(*) DESC, w1, w2) AS rn
    FROM bg{r} GROUP BY 1, 2
  ) WHERE rn <= {c}
), greedy{r} AS (
  SELECT rn, w1, w2, cnt, TRUE AS picked, [w1, w2] AS syms
  FROM cand{r} WHERE rn = 1
  UNION ALL
  SELECT nxt.rn, nxt.w1, nxt.w2, nxt.cnt,
         NOT list_contains(g.syms, nxt.w1)
           AND NOT list_contains(g.syms, nxt.w2) AS picked,
         CASE WHEN NOT list_contains(g.syms, nxt.w1)
                   AND NOT list_contains(g.syms, nxt.w2)
              THEN list_concat(g.syms, [nxt.w1, nxt.w2])
              ELSE g.syms END AS syms
  FROM greedy{r} g JOIN cand{r} nxt ON nxt.rn = g.rn + 1
), sel{r} AS (
  SELECT w1, w2, cnt, CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS m
  FROM (SELECT * FROM greedy{r} WHERE picked ORDER BY rn LIMIT {m})
), stt{r} AS (
  SELECT doc_id, i, w2 FROM (
    SELECT doc_id, i, w2,
           row_number() OVER (PARTITION BY doc_id, w1, w2, grp
                              ORDER BY i) AS k
    FROM (
      SELECT b.doc_id, b.i, b.w1, b.w2,
             b.i - row_number() OVER (PARTITION BY b.doc_id, b.w1, b.w2
                                      ORDER BY b.i) AS grp
      FROM bg{r} b JOIN sel{r} s ON b.w1 = s.w1 AND b.w2 = s.w2
    )
  ) WHERE (k - 1) % 2 = 0
), tok{r + 1} AS (
  SELECT p.doc_id,
         list(CASE WHEN s.i IS NOT NULL THEN p.tok || ' ' || s.w2
              ELSE p.tok END ORDER BY p.i) AS tokens
  FROM (SELECT t.doc_id, CAST(g.i AS BIGINT) AS i, t.tokens[g.i] AS tok
        FROM tok{r} t, unnest(range(1, len(t.tokens) + 1)) AS g(i)) p
  LEFT JOIN stt{r} s ON p.doc_id = s.doc_id AND p.i = s.i
  LEFT JOIN (SELECT doc_id, i + 1 AS i FROM stt{r}) con
    ON p.doc_id = con.doc_id AND p.i = con.i
  WHERE con.i IS NULL
  GROUP BY p.doc_id
)""")
    return "".join(parts)


def _bpe_batched_train_oracle() -> str:
    rounds_sql = "\nUNION ALL\n".join(
        f"""SELECT CAST({r + 1} AS BIGINT) AS merge_round, m AS merge_seq,
       w1, w2, cnt AS pair_count,
       (SELECT CAST(sum(len(tokens)) AS BIGINT) FROM tok{r + 1})
         AS corpus_tokens_after
FROM sel{r}"""
        for r in range(_BPE_BATCH_ROUNDS)
    )
    return _bpe_batched_cte_chain() + "\n" + rounds_sql


def _bpe_greedy_select(cands, m):
    """Greedy conflict-free pick over ranked (w1, w2, cnt) candidates:
    keep a pair iff neither symbol appeared in an earlier keep; stop at
    m keeps. Driver-side over a C-row codebook-sized list."""
    sel, syms = [], set()
    for row in cands:
        if row["w1"] in syms or row["w2"] in syms:
            continue
        sel.append(row)
        syms.update((row["w1"], row["w2"]))
        if len(sel) >= m:
            break
    return sel


@register(
    "bpe_train_merges_batched",
    _bpe_batched_train_oracle(),
    doc=f"BPE training, batched top-M merge selection — the production "
        "shape bpe_train_merges' docstring prescribes (the standard "
        "distributed-BPE trick: symbol-disjoint merges apply order-"
        f"independently). Per round: ONE driver collect of the top "
        f"C={_BPE_BATCH_C} ranked candidate pairs (count desc, w1, w2 "
        "— a codebook-sized list), a driver-side greedy conflict filter "
        f"keeping up to M={_BPE_BATCH_M} pairs that share no symbol "
        "with an earlier keep, then ONE distributed rewrite pass "
        "applying all kept merges (per-pair gaps-and-islands LTR "
        "starts; cross-pair matches cannot overlap because symbols are "
        "disjoint). ~K/M driver round-trips for a K-merge vocab vs K "
        "in the argmax trainer; per-round plan shape unchanged (one "
        "pair-explode scan + window pass + positional rebuild, corpus "
        "localCheckpointed between rounds). The oracle reproduces the "
        "greedy walk exactly via a recursive rank-order CTE carrying "
        "the accumulated symbol set. Output = (round, seq) -> merge "
        "with selection-time count and corpus size after the batch",
)
def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    docs = load_table(spark, sf_dir, "documents")
    cur = tx.with_tokens(docs).select("doc_id", "tokens").localCheckpoint()
    out = []
    for r in range(_BPE_BATCH_ROUNDS):
        bg = _bpe_bigrams(cur)
        cands = (
            bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "w1", "w2")
            .limit(_BPE_BATCH_C).collect()
        )
        sel = _bpe_greedy_select(cands, _BPE_BATCH_M)
        if not sel:
            break
        sel_df = spark.createDataFrame(
            [(s["w1"], s["w2"]) for s in sel],
            StructType([StructField("w1", StringType()),
                        StructField("w2", StringType())]),
        )
        matches = bg.join(F.broadcast(sel_df), ["w1", "w2"]).select(
            "doc_id", "i", "w1", "w2"
        )
        w_isl = Window.partitionBy("doc_id", "w1", "w2").orderBy("i")
        mm = matches.withColumn(
            "grp", F.col("i") - F.row_number().over(w_isl)
        )
        w_grp = Window.partitionBy("doc_id", "w1", "w2", "grp").orderBy("i")
        starts = (
            mm.withColumn("k", F.row_number().over(w_grp))
            .filter((F.col("k") - 1) % 2 == 0)
            .select("doc_id", "i", F.col("w2").alias("mw2"))
        )
        pos = cur.select(
            "doc_id", F.posexplode("tokens").alias("i0", "tok")
        ).select(
            "doc_id", (F.col("i0") + 1).cast("bigint").alias("i"), "tok"
        )
        consumed = starts.select(
            "doc_id", (F.col("i") + 1).alias("i"),
            F.lit(True).alias("is_consumed"),
        )
        reb = (
            pos.join(starts, ["doc_id", "i"], "left")
            .join(consumed, ["doc_id", "i"], "left")
            .filter(F.col("is_consumed").isNull())
            .select(
                "doc_id", "i",
                F.when(
                    F.col("mw2").isNotNull(),
                    F.concat(F.col("tok"), F.lit(" "), F.col("mw2")),
                ).otherwise(F.col("tok")).alias("tok"),
            )
        )
        cur = reb.groupBy("doc_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, tok))), "
                "x -> x.tok)"
            ).alias("tokens")
        ).localCheckpoint()
        n_after = cur.agg(
            F.sum(F.expr("size(tokens)")).cast("bigint").alias("n")
        ).collect()[0]["n"]
        for seq, s in enumerate(sel, start=1):
            out.append((r + 1, seq, s["w1"], s["w2"], int(s["cnt"]),
                        int(n_after)))
    schema = StructType([
        StructField("merge_round", LongType()),
        StructField("merge_seq", LongType()),
        StructField("w1", StringType()),
        StructField("w2", StringType()),
        StructField("pair_count", LongType()),
        StructField("corpus_tokens_after", LongType()),
    ])
    return spark.createDataFrame(out, schema)


@register(
    "multimodal_flac_decode",
    """
WITH ids AS (
  SELECT doc_id AS clip FROM documents WHERE doc_id % 7 = 4
), px AS (
  SELECT i.clip,
         CAST((i.clip * 211 + 17 * j.range * j.range + 37 * j.range)
              % 4096 - 2048 AS BIGINT) AS s
  FROM ids i CROSS JOIN range(256) j
), sums AS (
  SELECT clip, CAST(SUM(s) AS BIGINT) AS sm, CAST(MIN(s) AS BIGINT) AS mn,
         CAST(MAX(s) AS BIGINT) AS mx
  FROM px GROUP BY clip
)
SELECT clip AS clip_id,
  CAST(CASE WHEN clip % 97 = 0 THEN NULL ELSE 8000 END AS BIGINT)
    AS sample_rate,
  CAST(CASE WHEN clip % 97 = 0 THEN NULL ELSE 256 END AS BIGINT)
    AS n_samples,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE sm END AS sum_pcm,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE mn END AS min_pcm,
  CASE WHEN clip % 97 = 0 THEN NULL ELSE mx END AS max_pcm,
  CAST(CASE WHEN clip % 97 = 0 THEN 0 ELSE 1 END AS BIGINT) AS decode_ok
FROM sums
""",
    doc="From-spec FLAC decode (RFC 9639 subset) — the SIXTH from-spec "
        "codec family (PNG r10, JPEG r11, GIF r11, ADPCM r11): a valid "
        "256-sample mono 16-bit FLAC per document is synthesized on the "
        "EXECUTORS by the real subset encoder (STREAMINFO + four "
        "64-sample frames deliberately spanning the subframe matrix — "
        "VERBATIM, FIXED order clip%5, quantized-LPC [3,-1]>>1, FIXED "
        "order 2 — with best-fit Rice residual partitions and CRC-8/"
        "CRC-16 framing), then decoded by the independent from-spec "
        "parser (functions/flac.py: metadata walk, frame-header parse + "
        "CRC-8, subframe dispatch, Rice/escape residuals, fixed & LPC "
        "prediction, frame CRC-16) inside Arrow mapInPandas. FLAC is "
        "LOSSLESS, so the oracle reproduces the aggregates from the "
        "closed-form sample formula alone — no codec state replay. "
        "Every 97th clip is corrupted inside the last frame body and "
        "must dead-letter via CRC-16 (decode_ok=0). Zero shuffle, 1 row "
        "in / 1 row out",
)
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigate_spark.functions.flac import decode_flac_features

    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 4)
        .select(F.col("doc_id").cast("bigint").alias("clip_id"))
    )

    def gen(batches):
        import pandas as pd

        from tigate_spark.functions.flac import flac_encode

        for pdf in batches:
            rows = []
            for clip_id in pdf["clip_id"]:
                d = int(clip_id)
                samples = [((d * 211 + 17 * j * j + 37 * j) % 4096) - 2048
                           for j in range(256)]
                plan = {0: ("verbatim",), 1: ("fixed", d % 5),
                        2: ("lpc", [3, -1], 1, 5), 3: ("fixed", 2)}
                data = flac_encode(samples,
                                   frame_plan=lambda f: plan[f])
                if d % 97 == 0:
                    b = bytearray(data)
                    b[-5] ^= 0xFF  # inside the last frame: CRC-16 breaks
                    data = bytes(b)
                rows.append((d, data))
            yield pd.DataFrame(rows, columns=["clip_id", "data"])

    clips = ids.mapInPandas(gen, "clip_id bigint, data binary")
    return decode_flac_features(clips)


@register(
    "dedup_audio_fingerprint_flac",
    """
WITH ids AS (
  SELECT doc_id AS clip FROM documents WHERE doc_id % 7 = 1
), px AS (
  SELECT i.clip, j.range AS j,
    CAST(((i.clip % 29) * 211 + 17 * j.range * j.range + 37 * j.range)
         % 4096 - 2048 AS BIGINT) AS s
  FROM ids i CROSS JOIN range(256) j
), segs AS (
  SELECT clip, j // 4 AS seg, CAST(SUM(abs(s)) AS BIGINT) AS e
  FROM px GROUP BY 1, 2
), tot AS (
  SELECT clip, CAST(SUM(e) AS BIGINT) AS total FROM segs GROUP BY 1
), bits AS (
  SELECT s.clip,
    CAST(SUM(CASE WHEN seg < 32 AND 64 * e > total
         THEN CAST(1 AS BIGINT) << CAST(31 - seg AS INT)
         ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN seg >= 32 AND 64 * e > total
         THEN CAST(1 AS BIGINT) << CAST(63 - seg AS INT)
         ELSE 0 END) AS BIGINT) AS lo
  FROM segs s JOIN tot t ON s.clip = t.clip GROUP BY s.clip
), fps AS (
  SELECT clip AS clip_id, printf('%08x%08x', hi, lo) AS fingerprint
  FROM bits
)
SELECT clip_id, fingerprint,
       CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_dups
FROM fps
""",
    doc="The audio energy-fingerprint dedup chain over a SECOND real "
        "audio container: per-document FLAC clips (content keyed by "
        "doc_id %% 29 so duplicate classes exist) are encoded by the "
        "real subset compressor, decoded from-spec (functions/flac.py), "
        "and the PCM reduced to the same 64-bit energy fingerprint the "
        "ADPCM chain uses (64 segments x 4 samples, INTEGER comparison "
        "64*seg > total) in one Arrow batch; fingerprint-equal clips "
        "counted with one hash agg. FLAC is lossless so the oracle "
        "folds the bits straight from the sample formula — matching "
        "proves container+decoder+kernel jointly exact. Only (clip_id, "
        "16-char fingerprint) rows shuffle at any scale",
)
def dedup_audio_fingerprint_flac(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 1)
        .select(F.col("doc_id").cast("bigint").alias("clip_id"))
    )

    def gen(batches):
        import pandas as pd

        from tigate_spark.functions.flac import flac_decode, flac_encode

        for pdf in batches:
            rows = []
            for clip_id in pdf["clip_id"]:
                d = int(clip_id)
                e = d % 29
                samples = [((e * 211 + 17 * j * j + 37 * j) % 4096) - 2048
                           for j in range(256)]
                plan = {0: ("verbatim",), 1: ("fixed", e % 5),
                        2: ("lpc", [3, -1], 1, 5), 3: ("fixed", 2)}
                _, pcm = flac_decode(
                    flac_encode(samples, frame_plan=lambda f: plan[f]))
                total = sum(abs(v) for v in pcm)
                bits = 0
                for seg in range(64):
                    en = sum(abs(v) for v in pcm[seg * 4:(seg + 1) * 4])
                    if 64 * en > total:
                        bits |= 1 << (63 - seg)
                rows.append(
                    (d, f"{bits >> 32:08x}{bits & 0xFFFFFFFF:08x}"))
            yield pd.DataFrame(rows, columns=["clip_id", "fingerprint"])

    fps = ids.mapInPandas(gen, "clip_id bigint, fingerprint string")
    counts = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_dups"))
    return fps.join(counts, "fingerprint").select(
        "clip_id", "fingerprint", "n_dups")
