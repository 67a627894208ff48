"""Similarity search over embedding columns (SURVEY §7 M6).

The embedding column is ``array<float>``; all arithmetic runs on a
**quantized integer copy** (``round(x·10⁴)``) so dot products are exact
64-bit integers and the DuckDB oracle reproduces ranking bit-for-bit
(float reduction order would otherwise differ between engines).

Scale design:
- Brute-force top-k broadcasts the (small) query set against the corpus —
  one pass, no shuffle of the corpus, perfectly parallel. This is the
  exact baseline.
- The LSH path (8 deterministic hyperplanes → 256 buckets) prefilters
  candidates to the query's bucket — the 100 TB path where brute force is
  off the table. An IVF variant is the same shape with learned centroids.

Everything is higher-order array functions — JVM-side, no Python —
except the brute-force scoring kernel, which (r17) hands whole Arrow
batches to one numpy int64 matmul per partition (guide §4.2) when the
corpus is large enough to amortize the Python task dispatch
(:data:`KERNEL_MIN_ROWS` gate; below it the all-JVM expression
form wins and is used instead). The kernel math is pinned bit-identical
to the JVM spelling in tests/test_cosine_topk_np.py.

Published bases: sign-random-projection LSH (Charikar, STOC 2002 — cosine
LSH), IVF coarse quantization (Jégou/Douze/Schmid, "Product quantization
for nearest neighbor search", TPAMI 2011 — the inverted-file part).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tigate_spark.functions.rounding import round_half_away_sql

_H32 = "cast(conv(substr(md5({e}), 1, 8), 16, 10) as bigint)"

#: integer quantization of the embedding (exact cross-engine arithmetic)
# guarded floor form of cast(round(v) as bigint) — exact HALF_UP twin
# without the per-value BigDecimal allocation (functions/rounding.py)
QUANT_EXPR = (
    "transform(embedding, x -> "
    + round_half_away_sql("cast(x as double) * 10000")
    + ")"
)

N_PLANES = 8
DIM = 64
#: drop LSH buckets bigger than this before pairing — one dense bucket
#: (a popular region of the embedding space) would pair O(n²) otherwise
SIM_BUCKET_CAP = 100


# --------------------------------------------------------------------------
# Index-loop vector kernels (optimization guide §1.2 step 2).
#
# The natural `aggregate(zip_with(a, b, *), 0L, +)` dot product pays two
# interpreted lambda invocations per element plus an intermediate pair
# array per row pair. Folding over a constant-folded `sequence(0, dim-1)`
# index instead halves the lambda count and allocates nothing — measured
# ~13-30% faster warm on the brute-force cosine scan, identical results
# (r17 probe). NOTE the fully-unrolled 64-term form was measured 2.55×
# WORSE in the cold interleaved A/B (commit 1f58df4, reverted e752d50):
# giant expression trees re-cost Catalyst analysis/optimization on every
# action. These kernels keep the tree O(1) in dim.
#
# Equivalence with the zip_with forms on this module's fixed-DIM arrays:
# same terms, same integer +, same null propagation (an out-of-range
# index yields NULL and nulls the whole sum, exactly like zip_with's
# null padding when either side is shorter than dim).
#
# Every scalar fold in this module goes through these two kernels (the
# high-volume brute-force site measured +13-30% warm; the small sites —
# LSH plane dots, PQ sub-L2, PCA projection, semdedup pair cosine —
# measured in-band at sf0.1 and were converted for the same per-element
# form, r17 probe). The one remaining zip_with (the IVF residual
# q − cq) PRODUCES an array, where the index form saves nothing — the
# result allocation dominates either spelling; left deliberately.
# --------------------------------------------------------------------------
def dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """Σ a[i]·b[i] over two int64 array columns, index-loop form."""
    return (f"aggregate(sequence(0, {dim - 1}), 0L, "
            f"(acc, i) -> acc + {a}[i] * {b}[i])")


def l2_sql(a: str, b: str, dim: int = DIM) -> str:
    """Σ (a[i]−b[i])² over two int64 array columns, index-loop form."""
    return (f"aggregate(sequence(0, {dim - 1}), 0L, "
            f"(acc, i) -> acc + ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))")


def with_quantized(df: DataFrame) -> DataFrame:
    # fan out: a single parquet split would serialize the vector math;
    # bytes-gated since r18 (no-op once the scan itself has enough splits)
    from tigate_spark.sources.batch import fan_out_if_small

    df = fan_out_if_small(df)
    return df.withColumn("q", F.expr(QUANT_EXPR)).withColumn(
        "norm_sq", F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)")
    )


def quantize_np(v):
    """Numpy twin of :data:`QUANT_EXPR` (round-half-away of ``x·10⁴``) on a
    float64 ndarray — bit-identical to the SQL spelling: float32→float64 is
    exact, ``*10000.0``/``+0.5``/``floor`` are single correctly-rounded IEEE
    ops on both sides, and the guard handles the one divergent double just
    below 0.5 the same way (see functions/rounding.py). Pinned against the
    SQL form in tests/test_cosine_topk_np.py."""
    import numpy as np

    v = v * 10000.0
    av = np.abs(v)
    r = np.where(av < 0.5, 0.0, np.floor(av + 0.5))
    return np.where(v >= 0, r, -r).astype(np.int64)


#: corpus-rows crossover between the two exact scoring forms (below:
#: all-JVM expression scoring; at/above or unknown: the numpy matmul
#: kernel). Measured on the r17 bench host, interleaved same-JVM
#: min-of-4 at 2k/6k/10k/20k corpus rows: the JVM form wins up to ~10k
#: rows (0.37-0.44 s vs 0.50-0.53 s — the kernel's ~0.45 s Python/Arrow
#: task dispatch dominates tiny inputs) and the kernel wins from ~20k
#: rows (0.623 vs 0.655 s), with a ~2.5× shallower per-row slope
#: (≈6.5 µs/row vs ≈16 µs/row of interpreted fold) — i.e. strictly
#: dominant at scale. Rows, not file bytes: parquet dictionary-encodes
#: repetitive vector payloads (a replicated 10× corpus compresses to
#: the 1× size), and the measured crossover is a per-row quantity.
KERNEL_MIN_ROWS = 20_000


#: cap on the number of parquet footers _corpus_input_rows will read on
#: the driver — past it the corpus is presumed large and the kernel (the
#: at-scale default) is used without paying per-file plan-time latency
_FOOTER_READ_CAP = 64


def _corpus_input_rows(df: DataFrame) -> int | None:
    """UPPER BOUND on the corpus row count: the summed parquet-footer
    ``num_rows`` of the plan's input FILES (driver-side metadata read, no
    Spark job), or None when the inputs cannot be sized that way
    (non-file source, remote FS, non-parquet, or more than
    ``_FOOTER_READ_CAP`` files). Same plan-time trigger pattern as
    ``sources.batch.fan_out_if_small``.

    Files, not rows-after-filters: a filtered view of a large file — or
    a frame whose lineage spans other parquet tables — is counted at
    full file size, so ``brute_force_topk`` may pick the kernel below
    the true crossover. That is the at-scale-safe direction (the kernel
    is the asymptotically dominant form), accepted deliberately."""
    from tigate_spark.sources.batch import local_paths_from_input_files

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > _FOOTER_READ_CAP:
        return None
    paths = local_paths_from_input_files(files)
    if paths is None:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for p in paths:
            with pq.ParquetFile(p) as pf:
                total += pf.metadata.num_rows
        return total
    except Exception:
        return None


def brute_force_topk(df: DataFrame, n_queries: int = 20, k: int = 10,
                     use_kernel: bool | None = None) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) × corpus.

    cos = dot / (√|q|·√|c|) on exact integer dot/norms; rank ties broken by
    neighbor id so results are fully deterministic.

    Two scoring forms, bit-identical rows (tests/test_cosine_topk_np.py
    pins them against each other and the oracle drives both):

    - **numpy matmul kernel** (guide §4.2, r17): an Arrow ``mapInPandas``
      kernel scores each corpus partition against the broadcast query
      matrix with ONE int64 matmul and emits its partition-local top-k
      per query (tie-break included) — one corpus scan, no join node,
      ≈6.5 µs/row·20q vs the fold form's ≈16 µs/row on the r17 bench
      host. The at-scale form.
    - **all-JVM expression scoring** (the pre-r17 spelling): broadcast
      cross join + index-loop ``aggregate`` fold per pair. No Python
      task dispatch, which the kernel pays ~0.45 s for per execution on
      the bench host — faster below ~20k corpus rows.

    ``use_kernel=None`` picks by corpus row count from the parquet
    footers (:data:`KERNEL_MIN_ROWS`, measured crossover; unknown size →
    kernel, the at-scale-correct default) — scale-adaptive like
    ``fan_out_if_small``, not a local-mode constant: a lake-sized corpus
    always takes the kernel. The numpy math is bit-identical to the JVM
    expression chain (exact int64 dots; the float steps are the same
    correctly-rounded IEEE ops in the same order). The 20-row query
    collect is codebook-sized, same as the IVF/PQ training collects.
    """
    if use_kernel is None:
        nrows = _corpus_input_rows(df)
        use_kernel = nrows is None or nrows >= KERNEL_MIN_ROWS
    if use_kernel:
        scored = _bf_scored_kernel(df, n_queries, k)
    else:
        scored = _bf_scored_jvm(df, n_queries)

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_bp").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_bp")
    )


def _bf_scored_jvm(df: DataFrame, n_queries: int) -> DataFrame:
    """(query_id, neighbor_id, cos_bp) via broadcast cross join + integer
    fold — the pre-r17 all-JVM spelling, kept for sub-crossover corpora."""
    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    queries = F.broadcast(
        base.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm_sq").alias("q_norm"),
        )
    )
    joined = base.crossJoin(queries).filter(F.col("vec_id") != F.col("query_id"))
    return (
        joined.withColumn("dot", F.expr(dot_sql("q", "qq")))
        .withColumn(
            "cos_bp",
            F.expr(
                round_half_away_sql(
                    "dot / (sqrt(cast(norm_sq as double)) * "
                    "sqrt(cast(q_norm as double))) * 10000"
                )
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cos_bp")
    )


def _bf_scored_kernel(df: DataFrame, n_queries: int, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos_bp) partition-local top-k via the Arrow
    numpy matmul kernel (self-contained closure, pickled by value)."""
    import numpy as np

    sc = df.sparkSession.sparkContext
    qrows = (
        df.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "query_id bigint, neighbor_id bigint, cos_bp bigint"
    if not qrows:
        scored = df.sparkSession.createDataFrame([], out_schema)
    else:
        qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
        qmat = quantize_np(np.array([r.embedding for r in qrows],
                                    dtype=np.float64))
        qsqrt = np.sqrt((qmat * qmat).sum(axis=1).astype(np.float64))
        bc = sc.broadcast((qids, qmat, qsqrt))

        # NOTE the kernel is fully self-contained (its helpers are nested,
        # not module references) so cloudpickle ships it BY VALUE — the
        # executor Python workers never need tigate_spark importable,
        # which the bench/driver environment does not guarantee.
        def score(it):
            import numpy as np
            import pandas as pd

            def quant(v):  # nested twin of quantize_np (pickled by value)
                v = v * 10000.0
                av = np.abs(v)
                r = np.where(av < 0.5, 0.0, np.floor(av + 0.5))
                return np.where(v >= 0, r, -r).astype(np.int64)

            ids_q, qm, sq = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                vid = pdf["vec_id"].to_numpy(dtype=np.int64)
                cm = quant(np.array(list(pdf["embedding"]), dtype=np.float64))
                cn = np.sqrt((cm * cm).sum(axis=1).astype(np.float64))
                cos = ((cm @ qm.T).astype(np.float64)
                       / (cn[:, None] * sq[None, :]) * 10000.0)
                acs = np.abs(cos)
                rr = np.where(acs < 0.5, 0.0, np.floor(acs + 0.5))
                bp = np.where(cos >= 0, rr, -rr).astype(np.int64)
                out = []
                for j in range(len(ids_q)):
                    mask = vid != ids_q[j]
                    v_ids, v_bp = vid[mask], bp[mask, j]
                    if not len(v_ids):
                        continue
                    # partition-local top-k, same total order as the
                    # final window (cos_bp desc, neighbor_id asc)
                    order = np.lexsort((v_ids, -v_bp))[:k]
                    out.append(pd.DataFrame({
                        "query_id": ids_q[j],
                        "neighbor_id": v_ids[order],
                        "cos_bp": v_bp[order],
                    }))
                if out:
                    yield pd.concat(out)

        fanned = _corpus_fan_out(df.select("vec_id", "embedding"))
        scored = fanned.mapInPandas(score, out_schema)
    return scored


def _corpus_fan_out(df: DataFrame) -> DataFrame:
    """Round-robin the raw corpus ahead of the scoring kernel — same
    single-split rationale (and r18 bytes gate) as :func:`with_quantized`."""
    from tigate_spark.sources.batch import fan_out_if_small

    return fan_out_if_small(df)


def _plane_coefs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplane coefficients in [-1000, 1000],
    md5-derived — identical to the oracle's inline derivation, but computed
    once at plan time instead of 512 md5 calls per row."""
    from tigate_spark.functions.phash import h32_py

    return [
        [(h32_py(f"pl{p}_{d}") % 2001) - 1000 for d in range(1, dim + 1)]
        for p in range(n_planes)
    ]


def lsh_bucket(df: DataFrame, n_planes: int = N_PLANES, dim: int = DIM) -> DataFrame:
    """Sign-random-projection bucket id (0..2^n_planes-1) per vector."""
    coefs = _plane_coefs(n_planes, dim)
    bucket = None
    for p in range(n_planes):
        arr = "array(" + ", ".join(f"{c}L" for c in coefs[p]) + ")"
        dot_p = dot_sql("q", arr, dim)
        bit = F.when(F.expr(dot_p) > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        bucket = bit if bucket is None else bucket + bit
    return with_quantized(df).withColumn("bucket", bucket)


def ann_lsh_topk(df: DataFrame, n_queries: int = 20, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket —
    the bucket id is the join/shuffle key, so the corpus is scanned once
    and only same-bucket pairs are scored."""
    base = lsh_bucket(df).select("vec_id", "q", "norm_sq", "bucket")
    queries = F.broadcast(
        base.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm_sq").alias("q_norm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    joined = base.join(
        queries,
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = joined.withColumn(
        "dot", F.expr(dot_sql("q", "qq"))
    ).withColumn(
        "cos_bp",
        F.expr(
            round_half_away_sql(
                "dot / (sqrt(cast(norm_sq as double)) * "
                "sqrt(cast(q_norm as double))) * 10000"
            )
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_bp").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_bp")
    )


def embedding_exact_dedup(df: DataFrame) -> DataFrame:
    """Exact embedding dedup on the quantized-vector digest."""
    q = with_quantized(df).withColumn(
        "qhash", F.md5(F.expr("array_join(q, ',')"))
    )
    return q.groupBy("qhash").agg(
        F.min("vec_id").alias("canonical_vec_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def embedding_cosine_near_dup(df: DataFrame, threshold_bp: int = 3000,
                              bucket_cap: int = SIM_BUCKET_CAP) -> DataFrame:
    """Embedding-cosine near-dup pairs — the dedup-by-meaning operator.

    Candidates must share a sign-random-projection bucket (the 100 TB
    prefilter: only same-bucket pairs shuffle, never the O(n²) cross
    join); buckets larger than ``bucket_cap`` are dropped before pairing —
    a dense bucket is a popular embedding region, and pairing it is
    quadratic in its size. The exact integer cosine then keeps pairs
    ≥ ``threshold_bp``. Prefilter + cap are part of the operator's
    *defined semantics* (like every LSH dedup it trades recall for
    scale), so the oracle reproduces both bit-for-bit.

    Pairs are generated bucket-locally (array combinations inside each
    ≤cap bucket row — same layout as ``minhash_lsh_pairs``): one
    clustering shuffle, no self-join.
    """
    base = lsh_bucket(df).select("vec_id", "q", "norm_sq", "bucket")
    buckets = (
        base.groupBy("bucket")
        .agg(F.expr("array_sort(collect_list(struct(vec_id, q, norm_sq)))").alias("vs"))
        .filter((F.size("vs") >= 2) & (F.size("vs") <= bucket_cap))
    )
    pairs = F.expr(
        "flatten(transform(sequence(0, size(vs) - 2), i -> "
        "transform(sequence(i + 1, size(vs) - 1), j -> "
        "struct(vs[i] as a, vs[j] as b))))"
    )
    scored = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.a.vec_id").alias("vec_a"),
            F.col("p.b.vec_id").alias("vec_b"),
            F.expr(
                dot_sql("p.a.q", "p.b.q")
            ).alias("dot"),
            F.col("p.a.norm_sq").alias("na"),
            F.col("p.b.norm_sq").alias("nb"),
        )
        .withColumn(
            "cos_bp",
            F.expr(
                round_half_away_sql(
                    "dot / (sqrt(cast(na as double)) * "
                    "sqrt(cast(nb as double))) * 10000"
                )
            ),
        )
    )
    return scored.filter(F.col("cos_bp") >= threshold_bp).select(
        "vec_a", "vec_b", "cos_bp"
    )


def ivf_topk(df: DataFrame, n_centroids: int = 16,
             n_queries: int = 20, k: int = 5) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into centroid
    cells, then probe only the query's cell (nprobe=1).

    The centroid "codebook" here is the first ``n_centroids`` vectors —
    a deterministic stand-in for a k-means fit (the assignment/probe
    dataflow, which is what scales, is identical; swapping in trained
    centroids changes one broadcast). Assignment is exact integer L2
    argmin against the broadcast codebook — corpus scanned once, no
    shuffle until the per-cell candidate join.
    """
    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    cents = F.broadcast(
        base.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("q").alias("cq")
        )
    )
    dist = F.expr(
        l2_sql("q", "cq")
    )
    cells = (
        base.crossJoin(cents)
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(
            F.min_by(F.col("cent_id"), F.struct(F.col("dist"), F.col("cent_id"))).alias("cell"),
            F.first("q").alias("q"),
            F.first("norm_sq").alias("norm_sq"),
        )
    )
    queries = F.broadcast(
        cells.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm_sq").alias("q_norm"),
            F.col("cell").alias("q_cell"),
        )
    )
    joined = cells.join(
        queries,
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = joined.withColumn(
        "dot", F.expr(dot_sql("q", "qq"))
    ).withColumn(
        "cos_bp",
        F.expr(
            round_half_away_sql(
                "dot / (sqrt(cast(norm_sq as double)) * "
                "sqrt(cast(q_norm as double))) * 10000"
            )
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_bp").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_bp")
    )


def _assign_cells(base: DataFrame, cents: DataFrame,
                  with_dist: bool = False) -> DataFrame:
    """Exact integer L2 argmin assignment against a broadcast codebook
    (the IVF coarse-quantization step, reused by the k-means trainer).
    ``base``: (vec_id, q, norm_sq); ``cents``: (cent_id, cq). With
    ``with_dist`` the assigned cell's exact L2 distance rides along as
    ``cdist`` (SemDeDup orders cell members by it)."""
    dist = F.expr(
        l2_sql("q", "cq")
    )
    aggs = [
        F.min_by(F.col("cent_id"), F.struct(F.col("dist"), F.col("cent_id"))).alias("cell"),
        F.first("q").alias("q"),
        F.first("norm_sq").alias("norm_sq"),
    ]
    if with_dist:
        aggs.append(F.min("dist").alias("cdist"))
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(*aggs)
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Lloyd update, element-wise integer mean per cell.

    Scalable layout: posexplode → partial sums keyed by (cell, dimension)
    → rebuild the centroid array. The shuffle payload is (cell, pos, sum)
    — 64 rows per cell regardless of corpus size; never collect_list of
    whole vectors per cell. Mean uses truncating integer division
    (Spark ``div`` ⇄ DuckDB ``//`` — both truncate toward zero) so the
    trained codebook is bit-identical cross-engine."""
    ex = assigned.select("cell", F.posexplode("q").alias("pos", "x"))
    comp = ex.groupBy("cell", "pos").agg(
        F.expr("sum(x) div count(*)").alias("c")
    )
    return (
        comp.groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))), p -> p.c)"
            ).alias("cq")
        )
        .select(F.col("cell").alias("cent_id"), "cq")
    )


def kmeans_train(df: DataFrame, k: int = 8, iters: int = 2,
                 sample_mod: int | None = None) -> DataFrame:
    """Deterministic Lloyd's k-means over the quantized embeddings:
    init = the first ``k`` vectors (by vec_id), ``iters`` assignment/update
    rounds, exact integer arithmetic throughout. A cell that loses all
    members drops out (k shrinks) — deterministic on both engines.

    ``sample_mod``: train on the deterministic hash-sample
    ``vec_id % sample_mod == 0`` instead of the full corpus — the 100 TB
    posture (IVF coarse quantizers are always fit on a sample; the full
    corpus is only *assigned*, one broadcast pass, after training). The
    default (None) trains on everything, which is exact and fine up to
    ~10⁸ vectors per iteration.

    Published basis: Lloyd 1982 ("Least squares quantization in PCM") as
    used for IVF coarse quantizers (Jégou et al., TPAMI 2011).
    """
    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    train = base if sample_mod is None else base.filter(
        F.col("vec_id") % sample_mod == 0
    )
    # init = first k vectors OF THE TRAINING SET (k lowest vec_ids) —
    # ordered limit, deterministic on any engine; equals vec_id < k on the
    # dense-id full corpus, so the default path matches the SQL oracle
    cents = (
        train.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("q").alias("cq"))
    )
    for _ in range(iters):
        # materialize the codebook each round (it is k rows): without
        # this the rounds NEST lazily and the final consumer plan embeds
        # iters copies of the training scan — deep-lineage recompute the
        # planner cannot always dedup, and a real hazard at corpus scale
        cents = _recompute_centroids(
            _assign_cells(train, cents)
        ).localCheckpoint()
    return cents


def kmeans_clusters(df: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Corpus clustering for curation: final cluster id + exact L2
    distance per vector under the trained codebook."""
    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    cents = kmeans_train(df, k, iters)
    dist = F.expr(
        l2_sql("q", "cq")
    )
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("dist", dist)
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col("cent_id"), F.col("dist")),
                F.struct(F.col("dist"), F.col("cent_id")),
            ).alias("w")
        )
    )
    return assigned.select(
        "vec_id",
        F.col("w.cent_id").alias("cluster"),
        F.col("w.dist").alias("dist_sq"),
    )


def ivf_trained_topk(df: DataFrame, k_cents: int = 8, iters: int = 2,
                     n_queries: int = 20, k: int = 5) -> DataFrame:
    """IVF ANN with the k-means-trained codebook (nprobe=1): same probe
    dataflow as :func:`ivf_topk`, coarse quantizer trained by
    :func:`kmeans_train` instead of the first-k stand-in."""
    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    cents = kmeans_train(df, k_cents, iters)
    cells = _assign_cells(base, cents)
    queries = F.broadcast(
        cells.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("norm_sq").alias("q_norm"),
            F.col("cell").alias("q_cell"),
        )
    )
    joined = cells.join(
        queries,
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = joined.withColumn(
        "dot", F.expr(dot_sql("q", "qq"))
    ).withColumn(
        "cos_bp",
        F.expr(
            round_half_away_sql(
                "dot / (sqrt(cast(norm_sq as double)) * "
                "sqrt(cast(q_norm as double))) * 10000"
            )
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_bp").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos_bp")
    )


#: chunk size for within-cell pair generation in semantic dedup — bounds
#: pair work at CAP²/2 per chunk (linear in cell size, never quadratic)
SEMDEDUP_CHUNK = 100


def semantic_dedup(df: DataFrame, k: int = 8, iters: int = 2,
                   threshold_bp: int = 3000,
                   chunk: int = SEMDEDUP_CHUNK) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with the k-means coarse quantizer,
    compare members within a cluster along a centroid-distance-ordered
    sliding band, and mark every vector that has a lower-id near-duplicate
    for removal (keep the lowest id of each near-dup group — SemDeDup's
    keep-one policy made deterministic).

    Pairing scope (the recall property, stated exactly): each cell's
    members are ranked by (distance-to-centroid, vec_id); pairs form
    inside ``chunk``-sized runs of that ranking AND inside a second
    chunking offset by ``chunk/2``, so **every within-cell pair whose
    ranks differ by ≤ chunk/2 is compared, exactly once** (straddling
    pairs are produced only by the offset chunking; pairs sharing a
    chunk are compared at rank gaps up to ``chunk − 1``). A pair can be
    MISSED only when its rank gap exceeds ``chunk/2`` — but by the triangle
    inequality |d(a,c) − d(b,c)| ≤ d(a,b), true near-duplicates have
    near-equal centroid distances and therefore adjacent ranks, which is
    why Abbas et al. rank by centroid distance within the cell. (The
    previous vec_id-ordered chunking had no such property: adjacency in
    id order says nothing about similarity.)

    Scale design: per-cell pair work is linear in cell size (≤ cells ×
    chunk² pairs total, two offset passes), never quadratic. In
    production k scales with the corpus (SemDeDup fits k ≈ N/10⁴
    clusters) so cells stay small; the banding is the engine-side
    guarantee that a pathological cell cannot blow up the plan. Output:
    one curation-decision row per vector —
    (vec_id, cluster, n_near_dups, removed).
    """
    from pyspark.sql import Window

    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    cents = kmeans_train(df, k, iters)
    cells = _assign_cells(base, cents, with_dist=True)
    half = chunk // 2
    rn = F.row_number().over(
        Window.partitionBy("cell").orderBy("cdist", "vec_id")
    )
    chunked = (
        cells.withColumn("rn", rn)
        .withColumn("chka", F.expr(f"(rn - 1) div {chunk}"))
        .withColumn("chkb", F.expr(f"(rn - 1 + {half}) div {chunk}"))
    )

    def window_pairs(chk_col: str, straddle_only: bool):
        buckets = (
            chunked.groupBy("cell", chk_col)
            .agg(F.expr(
                "array_sort(collect_list(struct(rn, vec_id, q, norm_sq, chka)))"
            ).alias("vs"))
            .filter(F.size("vs") >= 2)
        )
        pairs = F.expr(
            "flatten(transform(sequence(0, size(vs) - 2), i -> "
            "transform(sequence(i + 1, size(vs) - 1), j -> "
            "struct(vs[i] as a, vs[j] as b))))"
        )
        out = buckets.select(F.col("cell"), F.explode(pairs).alias("p"))
        if straddle_only:
            # pairs inside one chka run were already produced by the
            # base chunking — keep only boundary-straddling pairs so
            # every unordered pair is generated exactly once
            out = out.filter(F.expr("p.a.chka <> p.b.chka"))
        return out.select(
            "cell",
            F.least("p.a.vec_id", "p.b.vec_id").alias("vec_a"),
            F.greatest("p.a.vec_id", "p.b.vec_id").alias("vec_b"),
            F.expr(
                round_half_away_sql(
                    dot_sql("p.a.q", "p.b.q") + " / "
                    "(sqrt(cast(p.a.norm_sq as double)) * "
                    "sqrt(cast(p.b.norm_sq as double))) * 10000"
                )
            ).alias("cos_bp"),
        )

    scored = (
        window_pairs("chka", straddle_only=False)
        .unionByName(window_pairs("chkb", straddle_only=True))
        .filter(F.col("cos_bp") >= threshold_bp)
    )
    part = scored.select(
        F.col("vec_a").alias("vec_id"), F.lit(False).alias("is_b")
    ).unionByName(
        scored.select(F.col("vec_b").alias("vec_id"), F.lit(True).alias("is_b"))
    )
    stats = part.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_near_dups"),
        F.max("is_b").alias("removed"),
    )
    return (
        cells.select("vec_id", F.col("cell").alias("cluster"))
        .join(stats, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_near_dups", F.lit(0)).cast("bigint").alias("n_near_dups"),
            F.coalesce("removed", F.lit(False)).alias("removed"),
        )
    )


#: power-iteration fixed point scale and Gram clamp (exact integer PCA)
PCA_SCALE = 1000
PCA_GRAM_CLAMP = 1 << 40


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark ``div`` / DuckDB
    ``//`` semantics (Python's ``//`` floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def pca_top_direction(df: DataFrame, iters: int = 2,
                      scale: int = PCA_SCALE, dim: int = DIM) -> list[int]:
    """Top principal direction of the quantized embedding corpus by
    EXACT INTEGER power iteration — deterministic cross-engine, no float
    reduction anywhere.

    Dataflow: the Gram matrix ``G = Σ q qᵀ`` is built with an array-local
    outer product (4096 products per row, posexplode → 64²-key partial
    agg — map-side combine, no join, one scan of the corpus); the 64×64
    result is a fixed-size codebook-style object, so iterating on the
    driver is scale-independent (exactly like broadcasting a trained IVF
    codebook). Overflow discipline: G is clamped to ≤2⁴⁰ per entry by a
    deterministic truncating divisor, and the iterate is renormalized to
    ≤``scale`` after every multiply, so every intermediate fits int64 at
    any corpus size. Init = all-ones × scale; ties and signs are fixed by
    the data (no randomness).

    Published basis: the power method (von Mises & Pollaczek-Geiringer
    1929) as used for top-PC corpus diagnostics.
    """
    base = with_quantized(df).select("q")
    prod = F.expr("flatten(transform(q, x -> transform(q, y -> x * y)))")
    g_rows = (
        base.select(F.posexplode(prod).alias("k", "p"))
        .groupBy("k").agg(F.sum("p").alias("g"))
        .collect()
    )
    g = {int(r["k"]): int(r["g"]) for r in g_rows}
    maxabs = max(abs(v) for v in g.values()) or 1
    nrm = max(1, maxabs // PCA_GRAM_CLAMP)
    gs = {k: _tdiv(v, nrm) for k, v in g.items()}
    v = [scale] * dim
    for _ in range(iters):
        w = [
            sum(gs.get(i * dim + j, 0) * v[j] for j in range(dim))
            for i in range(dim)
        ]
        m = max(abs(x) for x in w) or 1
        v = [_tdiv(x * scale, m) for x in w]
    return v


def pca_project(df: DataFrame, iters: int = 2) -> DataFrame:
    """Per-vector projection onto the corpus' top principal direction —
    the PCA-outlier / whitening diagnostic as one broadcast pass."""
    v = pca_top_direction(df, iters)
    arr = "array(" + ",".join(f"{x}L" for x in v) + ")"
    base = with_quantized(df).select("vec_id", "q")
    return base.select(
        "vec_id",
        F.expr(dot_sql("q", arr)).alias("pc1_proj"),
    )


#: product-quantization geometry: 64 dims → 8 subspaces × 8 dims, 16 codes
PQ_SUBSPACES = 8
PQ_SUBDIM = 8
PQ_K = 16


def _pq_split(qdf: DataFrame) -> DataFrame:
    """(vec_id, s, subq) from a prepared (vec_id, q) frame: each vector
    exploded into its 8 subvectors."""
    subs = F.expr(
        f"transform(sequence(0, {PQ_SUBSPACES - 1}), "
        f"s -> struct(s as s, slice(q, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) as subq))"
    )
    return qdf.select(
        "vec_id", F.explode(subs).alias("e")
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.subq").alias("subq"))


def _pq_base(df: DataFrame) -> DataFrame:
    """(vec_id, s, subq) straight from the embeddings table."""
    return _pq_split(with_quantized(df).select("vec_id", "q"))


_PQ_DIST = l2_sql("subq", "cq", PQ_SUBDIM)


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmin code per (vec, subspace) against the broadcast codebook."""
    joined = sub.join(F.broadcast(cents), "s")
    return (
        joined.withColumn("d", F.expr(_PQ_DIST))
        .groupBy("vec_id", "s")
        .agg(
            F.min(F.struct(F.col("d"), F.col("cent_id"))).alias("_w"),
            F.first("subq").alias("subq"),
        )
        .select(
            "vec_id", "s", F.col("_w.cent_id").alias("code"),
            F.col("_w.d").alias("d"), "subq",
        )
    )


def pq_train(df: DataFrame, iters: int = 2) -> DataFrame:
    """Per-subspace Lloyd's k-means codebooks (Jégou/Douze/Schmid, TPAMI
    2011 — product quantization): 8 independent 16-code codebooks trained
    in ONE grouped dataflow (subspace id rides as a group key through the
    same assignment/update shapes as :func:`kmeans_train`); exact integer
    arithmetic, init = the first 16 vectors' subvectors. The whole
    codebook is 8×16 rows — broadcast-sized at any corpus size."""
    return _pq_train_subs(_pq_base(df), iters)


def pq_encode(df: DataFrame, iters: int = 2) -> DataFrame:
    """PQ codes per vector: 8 one-of-16 code labels (rendered as a csv
    string — 8 bytes of storage per vector in production) plus the exact
    integer quantization error. Encoding is one broadcast pass over the
    corpus; at 100 TB this is the standard 8-byte-per-vector ANN
    compression layout."""
    cents = pq_train(df, iters)
    assigned = _pq_assign(_pq_base(df), cents)
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(s, code))), "
                "p -> cast(p.code as string)), ',')"
            ).alias("codes"),
            F.sum("d").cast("bigint").alias("quant_err"),
        )
    )


def pq_adc_topk(df: DataFrame, n_queries: int = 5, k: int = 5,
                iters: int = 2) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search: queries keep their exact
    subvectors; every corpus vector is represented only by its 8 code
    labels, and its approximate distance is the sum of 8 lookups in the
    per-query distance table (n_queries × 8 × 16 rows — broadcast). This
    is the classic PQ search dataflow: the corpus is touched once as
    codes, never as full vectors — the 100 TB ANN query path."""
    from pyspark.sql import Window

    cents = pq_train(df, iters)
    assigned = _pq_assign(_pq_base(df), cents).select("vec_id", "s", "code")
    qsubs = (
        _pq_base(df).filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), "s",
                F.col("subq").alias("qsub"))
    )
    dt = (
        qsubs.join(cents, "s")
        .select(
            "query_id", "s", F.col("cent_id").alias("code"),
            F.expr(l2_sql("qsub", "cq", PQ_SUBDIM)).alias("dpart"),
        )
    )
    scored = (
        assigned.join(F.broadcast(dt), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"),
             F.count(F.lit(1)).alias("n_sub"))
        .filter(F.col("n_sub") == PQ_SUBSPACES)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "rank", "adc_dist")
    )


def _pq_train_subs(sub: DataFrame, iters: int = 2) -> DataFrame:
    """Grouped-subspace Lloyd loop over a prepared (vec_id, s, subq)
    frame (shared by :func:`pq_train` and the IVF-PQ residual trainer)."""
    cents = (
        sub.filter(F.col("vec_id") < PQ_K)
        .select("s", F.col("vec_id").alias("cent_id"), F.col("subq").alias("cq"))
    )
    for _ in range(iters):
        assigned = _pq_assign(sub, cents)
        ex = assigned.select("s", F.col("code").alias("cell"),
                             F.posexplode("subq").alias("pos", "x"))
        comp = ex.groupBy("s", "cell", "pos").agg(
            F.expr("sum(x) div count(*)").alias("c")
        )
        cents = (
            comp.groupBy("s", "cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))), p -> p.c)"
                ).alias("cq")
            )
            .select("s", F.col("cell").alias("cent_id"), "cq")
            # codebook-sized: materialize per round (see kmeans_train)
            .localCheckpoint()
        )
    return cents


def ivfpq_topk(df: DataFrame, k_cents: int = 8, km_iters: int = 2,
               pq_iters: int = 2, n_queries: int = 5, k: int = 5) -> DataFrame:
    """IVF-PQ with residual encoding — the production ANN index layout
    (Jégou et al. 2011 §IVFADC; the FAISS ``IVFxPQy`` architecture): a
    k-means coarse quantizer routes each vector to a cell, the RESIDUAL
    (vector − its centroid) is PQ-encoded, and a query probes its own
    cell (nprobe=1) scoring candidates by asymmetric distance over the
    residual codebooks. Corpus state = cell id + 8 code labels per
    vector; everything broadcast-sized except the one cell-keyed lookup.
    Exact integer arithmetic end to end."""
    from pyspark.sql import Window

    base = with_quantized(df).select("vec_id", "q", "norm_sq")
    coarse = kmeans_train(df, k_cents, km_iters)
    cells = _assign_cells(base, coarse)
    res = (
        cells.join(F.broadcast(coarse.withColumnRenamed("cent_id", "cell")),
                   "cell")
        .select(
            "vec_id", "cell",
            F.expr("zip_with(q, cq, (x, y) -> x - y)").alias("q"),
        )
        # the residual frame feeds FOUR downstream branches (PQ training,
        # assignment, query split, query cells) of one final plan —
        # materialize it once instead of re-deriving base->assign->join
        # per branch; an ANN index is a materialized artifact at scale
        .localCheckpoint()
    )
    sub = _pq_split(res.select("vec_id", "q"))
    cents = _pq_train_subs(sub, pq_iters)
    assigned = _pq_assign(sub, cents).select("vec_id", "s", "code")
    codes = assigned.join(res.select("vec_id", "cell"), "vec_id")
    qres = (
        _pq_split(
            res.filter(F.col("vec_id") < n_queries).select("vec_id", "q")
        )
        .select(F.col("vec_id").alias("query_id"), "s",
                F.col("subq").alias("qsub"))
        .join(
            res.filter(F.col("vec_id") < n_queries)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("cell").alias("q_cell")),
            "query_id",
        )
    )
    dt = (
        qres.join(cents, "s")
        .select(
            "query_id", "q_cell", "s", F.col("cent_id").alias("code"),
            F.expr(l2_sql("qsub", "cq", PQ_SUBDIM)).alias("dpart"),
        )
    )
    scored = (
        codes.join(
            F.broadcast(dt),
            (codes["s"] == dt["s"]) & (codes["code"] == dt["code"])
            & (codes["cell"] == dt["q_cell"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").cast("bigint").alias("adc_dist"),
             F.count(F.lit(1)).alias("n_sub"))
        .filter(F.col("n_sub") == PQ_SUBSPACES)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "rank", "adc_dist")
    )
