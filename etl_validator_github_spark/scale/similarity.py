"""Similarity search over the embeddings table (array<float> column).

Two paths:

- ``embed_cosine_topk`` — brute-force cosine top-k: the correctness
  baseline. Query set × candidate set via a broadcast join; per-pair dot
  products fold JVM-side (zip_with + aggregate), no Python in the loop.
- ``embed_ann_lsh`` — the scale path: random-hyperplane LSH buckets.
  Each vector gets a b-bit signature (sign of dot with b pseudo-random
  ±1 hyperplanes); neighbor search only compares vectors sharing a
  bucket. At 100 TB the bucket key is the shuffle key; no all-pairs.

Determinism: components are quantized to integer millionths, so dot
products and norms are exact BIGINTs under any partitioning; the final
cosine is a single IEEE double expression (identical in any engine).
Hyperplane signs derive from md5 parity, so Python, Spark SQL, and
DuckDB all reconstruct the same planes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_validator_github_spark.contract import Query, load

EMBED_DIM = 64
N_QUERIES = 8
TOP_K = 10
N_PLANES = 8

# The float→double cast is explicit on BOTH sides: DuckDB would otherwise
# multiply in float32, where e.g. 337052.494 lands on 337052.5 and rounds
# the other way.
_QUANT = ("transform({col}, x -> "
          "cast(round(cast(x as double) * 1000000.0d) as bigint))")
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "cast(0 as bigint), (acc, v) -> acc + v)"
)


def quantized(docs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """vec_id, qv (BIGINT components), norm2 (exact self-dot)."""
    q = docs.select(
        F.col(id_col),
        F.expr(_QUANT.format(col="embedding")).alias("qv"),
    )
    return q.withColumn("norm2", F.expr(_DOT.format(a="qv", b="qv")))


def cosine_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors."""
    vecs = quantized(embeddings)
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_norm2"),
    )
    pairs = vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    dot = F.expr(_DOT.format(a="q_qv", b="qv"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.sqrt("q_norm2") * F.sqrt("norm2"))).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(load(spark, sf_dir, "embeddings"))


_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS norm2
  FROM vecs
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i])) AS BIGINT)
           / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_sim
  FROM with_norm q JOIN with_norm c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank,
       cos_sim
FROM pairs
QUALIFY rank <= {TOP_K}
"""


def _plane_signs(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 parity — reproducible in any
    engine/language with md5 (Python here, inlined as literals into both
    the Spark plan and the oracle SQL)."""
    return [
        [
            1 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """vec_id, qv, norm2, bucket (b-bit signature string)."""
    vecs = quantized(embeddings)
    signs = _plane_signs()
    bits = []
    for p in range(N_PLANES):
        arr = "array(%s)" % ", ".join(str(s) for s in signs[p])
        proj = _DOT.format(a="qv", b=arr)
        bits.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    return vecs.withColumn("bucket", F.expr("concat(%s)" % ", ".join(bits)))


def ann_pairs(embeddings: DataFrame, min_cos: float = 0.0) -> DataFrame:
    """Same-bucket candidate pairs with exact cosine (the ANN scale path).

    Zero-norm vectors (all components quantize to 0) are excluded from
    pairing: their cosine is undefined, and the engines disagree on the
    0/0 result (Spark NULL — dropped by any ``>=`` filter — vs DuckDB
    NaN, which compares greater than every threshold), so the guard
    keeps the pair set identical cross-engine."""
    b = lsh_buckets(embeddings).filter(F.col("norm2") > 0)
    a, c = b.alias("a"), b.alias("c")
    dot = F.expr(_DOT.format(a="a.qv", b="c.qv"))
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("c.vec_id").alias("v2"),
            F.col("a.bucket").alias("bucket"),
            (dot / (F.sqrt("a.norm2") * F.sqrt("c.norm2"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cos)
    )


def _ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_pairs(load(spark, sf_dir, "embeddings"))


#: Near-duplicate threshold for embedding-cosine dedup. Exact comparison
#: is safe cross-engine because cos_sim derives from identical integers.
NEAR_DUP_COS = 0.9

#: vec_id offset for the seeded near-dup copies (mirrors dedup.COPY_OFFSET).
VEC_COPY_OFFSET = 1_000_000

#: Seeded-copy selection strides: every 25th vector gets an exact copy
#: (cos exactly 1.0 — guaranteed above threshold, same LSH bucket), the
#: next residue gets a +0.01 jitter (near but not exact), the next a
#: reversed-component copy (a decoy far below the threshold).
_VEC_COPY_MOD = 25


def with_vector_copies(embeddings: DataFrame) -> DataFrame:
    """embeddings ∪ seeded duplicate/decoy copies, so the near-dup query
    has a non-vacuous witness: the sf fixtures contain no natural vector
    pair above cos 0.9, and a 0-row == 0-row parity check proves
    nothing.

    The jitter adds 0.01 in DOUBLE and rounds once to FLOAT — both
    engines perform the identical IEEE double add and double→float
    rounding, so the copies are bit-identical cross-engine. The reversed
    copy needs no float math at all.
    """
    base = embeddings.select("vec_id", "embedding")
    mod = F.col("vec_id") % _VEC_COPY_MOD
    exact = embeddings.filter(mod == 0).select(
        (F.col("vec_id") + VEC_COPY_OFFSET).alias("vec_id"), "embedding"
    )
    near = embeddings.filter(mod == 1).select(
        (F.col("vec_id") + 2 * VEC_COPY_OFFSET).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> "
            "cast(cast(x as double) + 0.01d as float))"
        ).alias("embedding"),
    )
    far = embeddings.filter(mod == 2).select(
        (F.col("vec_id") + 3 * VEC_COPY_OFFSET).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    return base.unionAll(exact).unionAll(near).unionAll(far)


_VEC_COPIES_SQL = f"""
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {VEC_COPY_OFFSET}, embedding
  FROM embeddings WHERE vec_id % {_VEC_COPY_MOD} = 0
  UNION ALL
  SELECT vec_id + {2 * VEC_COPY_OFFSET},
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01 AS FLOAT))
  FROM embeddings WHERE vec_id % {_VEC_COPY_MOD} = 1
  UNION ALL
  SELECT vec_id + {3 * VEC_COPY_OFFSET}, list_reverse(embedding)
  FROM embeddings WHERE vec_id % {_VEC_COPY_MOD} = 2
"""


def embedding_near_dups(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucketed candidates whose
    exact cosine clears the near-dup threshold. The dedup variant of
    ``ann_pairs`` — at 100 TB both share the bucket-key shuffle."""
    return ann_pairs(embeddings, min_cos=NEAR_DUP_COS).select(
        "v1", "v2", "cos_sim"
    )


def _near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(
        with_vector_copies(load(spark, sf_dir, "embeddings"))
    )


def _near_dup_sql() -> str:
    base = _ann_sql(
        source="emb_aug",
        prelude=f"emb_aug AS ({_VEC_COPIES_SQL}),",
        min_cos=NEAR_DUP_COS,
    )
    return "SELECT v1, v2, cos_sim FROM (" + base + ") t"


def _ann_sql(source: str = "embeddings", prelude: str = "",
             min_cos: float = 0.0) -> str:
    signs = _plane_signs()
    bits = []
    for p in range(N_PLANES):
        arr = "[%s]" % ", ".join(str(s) for s in signs[p])
        proj = (f"CAST(list_sum(list_transform(range(1, len(qv) + 1), "
                f"i -> qv[i] * ({arr})[i])) AS BIGINT)")
        bits.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    bucket = "concat(%s)" % ", ".join(bits)
    return f"""
WITH {prelude}
vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM {source}
), with_norm AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS norm2,
         {bucket} AS bucket
  FROM vecs
)
SELECT a.vec_id AS v1, c.vec_id AS v2, a.bucket AS bucket,
       CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * c.qv[i])) AS BIGINT)
         / (sqrt(a.norm2) * sqrt(c.norm2)) AS cos_sim
FROM with_norm a JOIN with_norm c
  ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE a.norm2 > 0 AND c.norm2 > 0
  AND CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * c.qv[i])) AS BIGINT)
        / (sqrt(a.norm2) * sqrt(c.norm2)) >= {min_cos}
"""


# ---------------------------------------------------------------------------
# Int8 scalar quantization report — the vector-compression step before
# shipping an ANN index (4x smaller than float32, 8x than float64).
# Everything is exact integer arithmetic on the micros grid: per-dim
# global min/max (tiny 64-row table, broadcast back), code = linear map
# onto 0..254 via integer division, reconstruction error measured
# exactly in micros. Both engines floor identical non-negative integer
# divisions, so the report is bit-identical — no float rounding anywhere.
# At 100 TB: the declarative plan explodes the corpus twice (once into
# the per-dim min/max aggregate, once into the broadcast-join probe) —
# persist the exploded (pos, x) projection first so the corpus explodes
# once, exactly like the MinHash fingerprint-table note in SCALE.md.
# Either way the corpus shuffles only (dim, err) pairs.
# ---------------------------------------------------------------------------

INT8_LEVELS = 254


def quantize_int8_report(embeddings: DataFrame) -> DataFrame:
    """Per-dim quantization-error report: (dim, min_us, max_us,
    max_abs_err_us, sum_abs_err_us, n_vals)."""
    vecs = quantized(embeddings).select("vec_id", "qv")
    dims = vecs.select("vec_id", F.posexplode("qv").alias("pos", "x"))
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    rng = F.col("mx") - F.col("mn")
    coded = (
        dims.join(F.broadcast(stats), "pos")
        .withColumn(
            "q",
            F.when(rng == 0, F.lit(0)).otherwise(
                F.expr(f"((x - mn) * {INT8_LEVELS}) div (mx - mn)")
            ),
        )
        .withColumn(
            "err",
            F.abs(
                F.col("mn")
                + F.expr(f"(q * (mx - mn)) div {INT8_LEVELS}")
                - F.col("x")
            ),
        )
    )
    return (
        coded.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.min("mn").alias("min_us"),
            F.max("mx").alias("max_us"),
            F.max("err").alias("max_abs_err_us"),
            F.sum("err").alias("sum_abs_err_us"),
            F.count(F.lit(1)).alias("n_vals"),
        )
    )


def _quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantize_int8_report(load(spark, sf_dir, "embeddings"))


_QUANTIZE_SQL = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), vals AS (
  SELECT dim, qv[dim] AS x FROM vecs CROSS JOIN dims
), stats AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM vals GROUP BY 1
), coded AS (
  SELECT v.dim, v.x, s.mn, s.mx,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE ((v.x - s.mn) * {INT8_LEVELS}) // (s.mx - s.mn) END AS q
  FROM vals v JOIN stats s USING (dim)
), errs AS (
  SELECT dim, mn, mx,
         abs(mn + (q * (mx - mn)) // {INT8_LEVELS} - x) AS err
  FROM coded
)
SELECT CAST(dim AS INT) AS dim,
       MIN(mn) AS min_us,
       MAX(mx) AS max_us,
       CAST(MAX(err) AS BIGINT) AS max_abs_err_us,
       CAST(SUM(err) AS BIGINT) AS sum_abs_err_us,
       COUNT(*) AS n_vals
FROM errs
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Per-label centroid build — the IVF coarse-quantizer building block.
# posexplode → (label, dim) partial sums: one shuffle on a tiny key
# space; means are exact-int sums divided once (cross-engine identical).
# ---------------------------------------------------------------------------


def label_centroids(embeddings: DataFrame) -> DataFrame:
    vecs = embeddings.select(
        "label", F.expr(_QUANT.format(col="embedding")).alias("qv")
    )
    exploded = vecs.select(
        "label", F.posexplode("qv").alias("pos", "q")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("q").alias("sum_q"),
        )
        .withColumn("mean_q", F.col("sum_q") / F.col("n_vecs"))
    )


def _centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(load(spark, sf_dir, "embeddings"))


_CENTROIDS_SQL = """
WITH vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, 65)) AS dim
)
SELECT label, CAST(dim AS INT) AS dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(qv[dim]) AS BIGINT) AS sum_q,
       CAST(SUM(qv[dim]) AS BIGINT) / COUNT(*) AS mean_q
FROM vecs CROSS JOIN dims
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Embedding-space outlier detection — the curation pass that flags
# samples pointing AWAY from their own class direction (mislabeled or
# off-distribution examples; the embedding-space counterpart of the
# text quality filters). Per vector: exact-BIGINT dot with its label's
# summed direction (ivf_cells — cosine is scale-invariant, so the SUM
# vector works without a mean division), one IEEE double cosine,
# flagged when negative. Scale shape: the centroid table is one row
# per label (tiny) and broadcasts; everything else is the map-side
# join + per-row fold — the only shuffles are ivf_cells' two
# label×dim-bounded aggs.
# ---------------------------------------------------------------------------

#: cos_milli below this flags the vector (0 = anti-correlated with its
#: own label direction; ~28% of the fixture, so the flag is exercised).
OUTLIER_COS_MILLI = 0


def embedding_outliers(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, cos_milli, is_outlier): cosine of each vector to
    its own label centroid, exact-integer milli, negative → outlier."""
    vecs = embeddings.select(
        "vec_id", "label", F.expr(_QUANT.format(col="embedding")).alias("qv")
    ).withColumn("norm2", F.expr(_DOT.format(a="qv", b="qv")))
    cells = ivf_cells(embeddings)
    dot = _DOT.format(a="qv", b="cv")
    cos_milli = F.round(
        F.expr(f"{dot} / (sqrt(norm2) * sqrt(cnorm2))") * 1000
    ).cast("long")
    return (
        vecs.join(F.broadcast(cells), "label")
        .select(
            "vec_id", "label",
            cos_milli.alias("cos_milli"),
            (cos_milli < OUTLIER_COS_MILLI).cast("int").alias("is_outlier"),
        )
    )


def _outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_outliers(load(spark, sf_dir, "embeddings"))


def _outliers_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    return f"""
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, label, qv,
         {_SQL_DOT.format(a="qv", b="qv")} AS norm2
  FROM vecs
), dims AS (
  SELECT unnest(range(1, 65)) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
)
SELECT v.vec_id, v.label,
       CAST(round({dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) * 1000)
            AS BIGINT) AS cos_milli,
       CAST(CAST(round({dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) * 1000)
                 AS BIGINT) < {OUTLIER_COS_MILLI} AS INT) AS is_outlier
FROM with_norm v JOIN cells c USING (label)
"""


# ---------------------------------------------------------------------------
# IVF search: coarse-quantize into cells, assign every vector to its
# nearest cell, probe the nprobe nearest cells per query, exact-rescore
# inside the probed cells. Cosine is scale-invariant, so the per-label
# SUM vector works as the cell direction with exact BIGINT math — no
# mean division, no float accumulation. At 100 TB: the assignment is a
# broadcast of K tiny centroids against the corpus (ONE map pass — the
# centroid table folds into a single broadcast array row and every
# vector scores all cells in-row via transform + array_sort + slice, so
# no exchange ever touches the corpus × n_cells expansion). The probe
# co-partitions members and (query, cell) probe rows on the cell id and
# scores each cell with one blockwise gram, so the only other shuffle
# is the final per-query top-k over the per-cell top-k rows.
# ---------------------------------------------------------------------------

N_PROBE = 2

_SQL_DOT = ("CAST(list_sum(list_transform(range(1, len({a}) + 1), "
            "i -> {a}[i] * {b}[i])) AS BIGINT)")


def ivf_cells(embeddings: DataFrame) -> DataFrame:
    """label → summed direction vector (array<bigint>) + its norm².

    Built via posexplode → per-(label, dim) partial sums → re-assembled
    sorted by dim: the shuffle key space is labels × dims (tiny), and
    partial aggregation happens map-side — never a collect_list of raw
    vectors per cell.
    """
    vecs = embeddings.select(
        "label", F.expr(_QUANT.format(col="embedding")).alias("qv")
    )
    partial = (
        vecs.select("label", F.posexplode("qv").alias("pos", "q"))
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"))
    )
    cells = partial.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
        .alias("cv")
    )
    return cells.withColumn("cnorm2", F.expr(_DOT.format(a="cv", b="cv")))


def cell_assignments(vectors: DataFrame, cells: DataFrame,
                     nprobe: int = N_PROBE) -> DataFrame:
    """Per-vector nearest-cell list, computed entirely map-side.

    ``vectors`` is the output of ``quantized`` (vec_id, qv, norm2);
    ``cells`` the output of ``ivf_cells``. The centroid table (one row
    per label — tiny by construction) folds into a single
    array-of-structs row that broadcasts onto the corpus; each vector
    then scores every cell in-row (``transform``), orders by (cos desc,
    label asc) via ``array_sort`` on a (negated-cos, label) struct, and
    keeps the best ``nprobe`` with ``slice``. No Window, no Exchange
    keyed on vec_id: at 100 TB the corpus × n_cells expansion never
    leaves the map stage (round-5 verdict finding; the previous shape
    shuffled N×L rows through a vec_id window just to rank cells).

    Returns vec_id, qv, norm2, top_cells (array<struct<negcos,label>>,
    strongest cell first).

    Zero-norm convention: a vector (or centroid) whose norm² is 0 has
    no defined cosine; the engines disagree on 0/0 (Spark ANSI raises
    DIVIDE_BY_ZERO, numpy yields NaN, DuckDB NaN-sorts-greatest), so
    all three formulations pin cos := 0 for those entries — every cell
    ties and the label-asc tie-break assigns deterministically. The
    identical CASE guards the oracle SQL assignment CTEs.
    """
    cells_one = cells.agg(
        F.collect_list(F.struct("label", "cv", "cnorm2")).alias("cells")
    )
    dot = _DOT.format(a="qv", b="c.cv")
    return (
        vectors.crossJoin(F.broadcast(cells_one))
        .withColumn(
            "top_cells",
            F.expr(
                f"slice(array_sort(transform(cells, c -> struct("
                f"CASE WHEN norm2 = 0 OR c.cnorm2 = 0 THEN 0.0d "
                f"ELSE -({dot} / (sqrt(norm2) * sqrt(c.cnorm2))) END "
                f"AS negcos, "
                f"c.label AS label))), 1, {nprobe})"
            ),
        )
        .drop("cells")
    )


def cell_assignments_np(vectors: DataFrame, cells: DataFrame,
                        nprobe: int = N_PROBE) -> DataFrame:
    """Arrow/numpy twin of ``cell_assignments`` — bit-identical output
    (pinned by tests/test_similarity_np.py), ~2 orders of magnitude
    faster when the cell count grows.

    The expression path evaluates an interpreted lambda fold per
    (vector × cell × dim): measured 45 s per 100k vectors at 1024
    cells × 64 dims on local[32] — the IVF family's scale bend. Here
    the same dots are ONE dgemm per Arrow batch: quantized components
    are ≤10⁶ in magnitude, so every product (≤10¹²) and 64-term
    partial sum (≤6.4·10¹³) is exactly representable in float64 —
    BLAS may reassociate freely and still return the exact integer
    dot, and the cos = dot / (sqrt·sqrt) arithmetic is then the same
    IEEE ops as the expression path. Ordering mirrors array_sort on
    (negcos, label) via lexsort.

    The centroid table is fetched driver-side once (the numpy twin of
    ``F.broadcast`` — bounded by construction: one row per label) and
    closed over by the mapInPandas batches; the corpus streams through
    Arrow, nothing vector-sized ever collects.
    """
    import numpy as np

    cell_rows = sorted(
        ((r["label"], r["cv"], r["cnorm2"]) for r in cells.collect()),
        key=lambda t: t[0],
    )
    labels = np.array([t[0] for t in cell_rows], dtype=np.int64)
    cmat = np.array([t[1] for t in cell_rows], dtype=np.float64)  # L×d
    cnorm = np.sqrt(np.array([t[2] for t in cell_rows],
                             dtype=np.float64))

    out_schema = (
        "vec_id bigint, qv array<bigint>, norm2 bigint, "
        "top_cells array<struct<negcos: double, label: int>>"
    )

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(pdf["qv"].tolist(), dtype=np.float64)  # n×d
            vnorm = np.sqrt(pdf["norm2"].to_numpy(dtype=np.float64))
            # exact integer dots via dgemm (see docstring), then the
            # same (dot / (sqrt*sqrt)) the expression path computes.
            denom = vnorm[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                negcos = -(v @ cmat.T) / denom
            # zero-norm convention (see cell_assignments): cos := 0.
            negcos[denom == 0.0] = 0.0
            # array_sort orders struct(negcos, label) ascending with
            # label as tie-break: lexsort(minor first).
            order = np.lexsort(
                (np.broadcast_to(labels, negcos.shape), negcos), axis=1
            )[:, :nprobe]
            top = [
                [{"negcos": float(negcos[i, j]), "label": int(labels[j])}
                 for j in row]
                for i, row in enumerate(order)
            ]
            pdf = pdf[["vec_id", "qv", "norm2"]].copy()
            pdf["top_cells"] = top
            yield pdf

    return vectors.mapInPandas(_assign, out_schema)


def ivf_assignments(embeddings: DataFrame,
                    nprobe: int = N_PROBE) -> DataFrame:
    """Nearest-cell list against centroids built from the same corpus."""
    return cell_assignments(
        quantized(embeddings), ivf_cells(embeddings), nprobe
    )


def _probe_topk(assign: DataFrame, probes: DataFrame,
                k: int) -> DataFrame:
    """The IVF probe + per-query top-k shared by every serve path
    (``ivf_topk``, ``ivf_topk_from_assignment``, ``ivf_topk_for_queries``,
    ``external_topk``): per probed cell, a blockwise gram between the
    probing queries and the cell's members (member axis streamed
    through fixed-size blocks with a running top-k — see the kernel
    comment), keeping each query's per-cell top-k (the global top-k is
    a subset of the per-cell top-k union because cells partition the
    candidates); the tiny union then ranks through one window with the
    deterministic (cos desc, id asc) tie-break. Dots are exact in
    float64 (quantized micros) and the cos arithmetic is the same IEEE
    ops as an exact-cosine join over (query, probed cell) — equality
    with that join pinned in tests/test_similarity_np.py. Zero-norm
    rows (all components quantize to 0) have no defined cosine and drop
    up front, as in the oracle SQL."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    assign = assign.filter(F.col("norm2") > 0)
    probes = probes.filter(F.col("q_norm2") > 0)
    members = assign.select(
        "cell", "vec_id", "qv", "norm2",
        F.lit(None).cast("long").alias("query_id"),
    )
    probers = probes.select(
        "cell",
        F.lit(None).cast("long").alias("vec_id"),
        F.col("q_qv").alias("qv"),
        F.col("q_norm2").alias("norm2"),
        "query_id",
    )
    both = members.unionByName(probers)

    def _per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        is_q = pdf["query_id"].notna().to_numpy()
        q, m = pdf[is_q], pdf[~is_q]
        empty = pd.DataFrame({
            "query_id": np.empty(0, dtype=np.int64),
            "neighbor_id": np.empty(0, dtype=np.int64),
            "cos_sim": np.empty(0),
        })
        if len(q) == 0 or len(m) == 0:
            return empty
        v_q = np.array(q["qv"].tolist(), dtype=np.float64)
        sn_q = np.sqrt(q["norm2"].to_numpy(dtype=np.float64))
        qid = q["query_id"].to_numpy(dtype=np.int64)
        nq = len(q)
        kk = min(k, len(m))
        # Running per-query top-k over MEMBER-AXIS blocks (the
        # _per_vec_max_cos blockwise gram): the gram slab is nq × block
        # instead of nq × cell_pop, so a frozen index whose cells grow
        # 100× under delta ingest never materializes a pop-wide slab.
        # Top-k under the total order (cos desc, id asc) is associative
        # across blocks, and each gram entry is the same exact-in-
        # float64 64-term integer dot whatever the blocking — so the
        # result is bit-identical to the one-slab formulation.
        best_s = np.full((nq, kk), -np.inf)
        best_i = np.full((nq, kk), np.iinfo(np.int64).max, dtype=np.int64)
        block = 4096
        for j0 in range(0, len(m), block):
            mb = m.iloc[j0:j0 + block]
            v_m = np.array(mb["qv"].tolist(), dtype=np.float64)
            sn_m = np.sqrt(mb["norm2"].to_numpy(dtype=np.float64))
            mid = mb["vec_id"].to_numpy(dtype=np.int64)
            g = (v_q @ v_m.T) / (sn_q[:, None] * sn_m[None, :])
            g[qid[:, None] == mid[None, :]] = -np.inf  # self-match
            all_s = np.hstack([best_s, g])
            all_i = np.hstack(
                [best_i, np.broadcast_to(mid, (nq, len(mid)))]
            )
            order = np.lexsort((all_i, -all_s), axis=1)[:, :kk]
            best_s = np.take_along_axis(all_s, order, axis=1)
            best_i = np.take_along_axis(all_i, order, axis=1)
        keep = best_s > -np.inf
        return pd.DataFrame({
            "query_id": np.repeat(qid, keep.sum(axis=1)),
            "neighbor_id": best_i[keep],
            "cos_sim": best_s[keep],
        })

    cands = both.groupBy("cell").applyInPandas(
        _per_cell, "query_id bigint, neighbor_id bigint, cos_sim double"
    )
    w_topk = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w_topk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
             k: int = TOP_K, nprobe: int = N_PROBE) -> DataFrame:
    """Approximate top-k neighbors via IVF cell probing."""
    assigned = ivf_assignments(embeddings, nprobe=nprobe)
    # Lazy barrier (the file's standing idiom, see semdedup/pq paths):
    # the member and probe branches below both consume ``assigned``, and
    # without it Catalyst plans the whole quantize → centroid build
    # (2 exchanges) → all-cell scoring pipeline TWICE — the r13 before-
    # plan shows the duplicated subtree. One materialization, two reads.
    assigned = assigned.localCheckpoint(eager=False)
    assign = assigned.select(
        "vec_id",
        F.col("top_cells")[0]["label"].alias("cell"),
        "qv", "norm2",
    )
    probes = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr("transform(top_cells, t -> t.label)")).alias("cell"),
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_norm2"),
    )
    return _probe_topk(assign, probes, k)


# ---------------------------------------------------------------------------
# Persisted IVF index — the OPERATIONAL ANN path (the vector-side
# analogue of the BM25 persist/delta/score trio): pay the corpus
# assignment once, append per-ingest deltas with work ∝ delta (a
# vector's cell is a pure function of itself and the frozen centroids
# — earlier rows never rewrite), and serve standing query batches from
# the persisted assignment without touching the corpus again. Search
# cost is queries × probed-cell populations, independent of how the
# index was built.
# ---------------------------------------------------------------------------


def home_cell_assignment(vectors: DataFrame, cells: DataFrame,
                         np_assign: bool = False) -> DataFrame:
    """(vec_id, cell, qv, norm2) — each vector's single home cell, the
    one assignment row shape every index store writes and every serve
    path reads (persist / delta append / streaming maintenance /
    external_topk / the SemDeDup family). ``vectors`` is the output of
    ``quantized``."""
    assign = cell_assignments_np if np_assign else cell_assignments
    return assign(vectors, cells, nprobe=1).select(
        "vec_id",
        F.col("top_cells")[0]["label"].alias("cell"),
        "qv", "norm2",
    )


def persist_ivf_cells(centroid_source: DataFrame, index_dir: str) -> None:
    """Write just the frozen centroid table (cells.parquet — labels ×
    (cv, cnorm2), tiny) — the bootstrap a pure streaming-maintenance
    deployment needs, without paying a corpus assignment it will never
    read."""
    ivf_cells(centroid_source).write.mode("overwrite").parquet(
        f"{index_dir}/cells.parquet"
    )


def persist_ivf_index(corpus: DataFrame, centroid_source: DataFrame,
                      index_dir: str, np_assign: bool = False) -> None:
    """Write the two tables an ANN deployment keeps: the centroid table
    (via ``persist_ivf_cells``) and the corpus assignment
    (assign.parquet — vec_id, cell, qv, norm2)."""
    spark = corpus.sparkSession
    persist_ivf_cells(centroid_source, index_dir)
    cells = spark.read.parquet(f"{index_dir}/cells.parquet")
    home_cell_assignment(quantized(corpus), cells, np_assign).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/assign.parquet")


def append_ivf_index(delta: DataFrame, index_dir: str,
                     np_assign: bool = False,
                     delta_id: str | None = None) -> None:
    """Assign a newly ingested vector delta against the FROZEN centroid
    table and append — the index never rewrites earlier vectors, so
    ingest work is ∝ |delta| (the postings-delta contract).

    Replay safety: each delta lands in its own
    ``assign.parquet/delta-<delta_id>`` subdirectory with
    ``mode("overwrite")``, so a RETRIED append whose prior write
    actually committed overwrites the same files instead of
    duplicating rows (the batch-store twin of the streamed log's
    batch_id discipline — a duplicated vector would otherwise occupy
    multiple top-k slots and displace real neighbors). Callers with
    at-least-once delivery MUST pass a stable ``delta_id`` per logical
    delta; with the default (a fresh uuid) a retry is a new delta and
    the caller owns dedup, as before. Distinct deltas must still carry
    disjoint vec_ids (the documented index contract).
    ``read_ivf_index_assignment`` reads the store recursively, so the
    flat root files persist writes and these subdirectories serve as
    one table."""
    import uuid as _uuid

    spark = delta.sparkSession
    cells = spark.read.parquet(f"{index_dir}/cells.parquet")
    sub = f"delta-{delta_id if delta_id is not None else _uuid.uuid4().hex[:12]}"
    home_cell_assignment(quantized(delta), cells, np_assign).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/assign.parquet/{sub}")


def ivf_topk_from_assignment(assign_t: DataFrame, cells: DataFrame,
                             n_queries: int = N_QUERIES, k: int = TOP_K,
                             nprobe: int = N_PROBE,
                             np_assign: bool = False) -> DataFrame:
    """Top-k for the standing query batch over an already-materialized
    (vec_id, cell, qv, norm2) assignment frame: only the QUERY vectors
    are (re)assigned at query time (against the tiny broadcast centroid
    table, with the full nprobe fan-out); the corpus side is used
    as-is. The core shared by the batch-persisted index reader and the
    streaming assignment log."""
    qvecs = assign_t.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "qv", "norm2"
    )
    probes = _query_probes(qvecs, cells, nprobe, np_assign)
    return _probe_topk(assign_t, probes, k)


def _query_probes(qvecs: DataFrame, cells: DataFrame, nprobe: int,
                  np_assign: bool) -> DataFrame:
    """(query_id, cell, q_qv, q_norm2) — one row per (query, probed
    cell): assign the query vectors against the frozen centroid table
    with the full nprobe fan-out and explode the probe list. Shared by
    the standing-query serve path and the external-query serve path."""
    assign_fn = cell_assignments_np if np_assign else cell_assignments
    return assign_fn(qvecs, cells, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr("transform(top_cells, t -> t.label)")).alias("cell"),
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_norm2"),
    )


def read_ivf_index_assignment(spark: SparkSession,
                              index_dir: str) -> DataFrame:
    """The UNIFIED (vec_id, cell, qv, norm2) view over BOTH index
    stores: the batch assignment (``assign.parquet``, written by
    persist/append) and the streamed assignment log
    (``assign_log.parquet``, written by
    streaming/corpus.py::stream_ivf_index_maintenance). Serving from
    either store alone silently drops the other's vectors — a
    truncated candidate set no query can detect — so every serve path
    goes through this reader. Batch rows take generation −1 (they
    precede every streamed batch), then the standard log fold applies:
    ``distinct`` absorbs foreachBatch retries, first-batch-wins drops
    redeliveries and re-streams of batch-persisted vectors. Local-FS
    existence probe (the sandbox contract; swap for a FileSystem call
    on a cluster).

    Before concluding a deployment is batch-only, the reader runs the
    shared crash-recovery preamble (streaming/corpus.py::
    restore_log_aside): a ``compact_log`` crash between its two
    renames leaves the log as a complete ``.old-*`` aside — serving
    the batch store alone in that window would be exactly the
    truncated-candidate-set failure this reader exists to prevent.
    The batch store is read recursively: ``persist_ivf_index`` writes
    flat root files, ``append_ivf_index`` one ``delta-*`` subdirectory
    per delta (its replay-idempotence mechanism)."""
    import os

    from etl_validator_github_spark.streaming.corpus import (
        restore_log_aside,
    )

    parts = []
    batch_p = f"{index_dir}/assign.parquet"
    log_p = f"{index_dir}/assign_log.parquet"
    restore_log_aside(log_p)
    if os.path.exists(batch_p):
        parts.append(
            spark.read.option("recursiveFileLookup", "true")
            .parquet(batch_p)
            .withColumn("batch_id", F.lit(-1).cast("long"))
        )
    if os.path.exists(log_p):
        parts.append(spark.read.parquet(log_p))
    if not parts:
        raise ValueError(f"no assignment store under {index_dir}")
    if not os.path.exists(log_p):
        # Batch store only: persist overwrites and every append delta
        # overwrites its own delta-id subdirectory, so replayed writes
        # converge file-for-file — exactly one row per vector, nothing
        # to fold, serve as-is (the measured 1M serve path).
        return parts[0].drop("batch_id")
    log = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # Assignment rows are unique per (vec_id, batch_id) by construction
    # (one home cell per vector per generation), so retry dedup hashes
    # just the two key longs — never the 64-element qv array a full
    # distinct would shuffle (the postings/counts logs, with many rows
    # per key, still need _fold_log's full-row distinct).
    log = log.dropDuplicates(["vec_id", "batch_id"])
    first = log.groupBy("vec_id").agg(F.min("batch_id").alias("batch_id"))
    return log.join(first, ["vec_id", "batch_id"]).drop("batch_id")


def ivf_topk_from_index(spark: SparkSession, index_dir: str,
                        n_queries: int = N_QUERIES, k: int = TOP_K,
                        nprobe: int = N_PROBE,
                        np_assign: bool = False) -> DataFrame:
    """Top-k straight from the persisted index directories — served
    over the unified batch+stream view (``read_ivf_index_assignment``).
    Identical results to the in-memory ``ivf_topk`` when the stores
    hold the same corpus — pinned in tests/test_scale.py."""
    return ivf_topk_from_assignment(
        read_ivf_index_assignment(spark, index_dir),
        spark.read.parquet(f"{index_dir}/cells.parquet"),
        n_queries=n_queries, k=k, nprobe=nprobe,
        np_assign=np_assign,
    )


def ivf_topk_for_queries(spark: SparkSession, index_dir: str,
                         queries_df: DataFrame, k: int = TOP_K,
                         nprobe: int = N_PROBE,
                         np_assign: bool = False) -> DataFrame:
    """Top-k neighbors in the persisted index for an ARBITRARY external
    query frame — the real serving contract (``ivf_topk_from_index``
    sources its standing query batch from the index itself, which only
    fits the benchmark's self-retrieval shape). ``queries_df`` carries
    (vec_id, embedding) — any vector frame, never required to be in
    the index; it is quantized and assigned against the frozen
    centroids (tiny broadcast table, full nprobe fan-out) and probes
    the unified batch+stream store. Per serve the corpus-side cost is
    queries × probed-cell populations, independent of index history.

    Query ids share the index's id space for the self-match exclusion:
    an external query whose vec_id collides with an index vector
    excludes that one vector from its own candidates (harmless for
    disjoint id ranges — the documented caller contract)."""
    assign_t = read_ivf_index_assignment(spark, index_dir)
    cells = spark.read.parquet(f"{index_dir}/cells.parquet")
    probes = _query_probes(quantized(queries_df), cells, nprobe, np_assign)
    return _probe_topk(assign_t, probes, k)


#: External-query holdout size for the oracled serve query: the md5
#: order makes the split a pure function of vec_id (both engines hash
#: the decimal string), and 100 queries against a ≥400-vector index
#: exercises the full fan-out at every fixture scale.
EXT_QUERY_HOLDOUT = 100


def external_topk(index_corpus: DataFrame, queries: DataFrame,
                  k: int = TOP_K, nprobe: int = N_PROBE,
                  np_assign: bool = False) -> DataFrame:
    """In-memory core of the external-query serve contract — exactly
    ``ivf_topk_for_queries`` minus the persisted stores: build the
    coarse quantizer from the labeled ``index_corpus``, assign the
    corpus to home cells, assign the ARBITRARY (vec_id, embedding)
    query frame against the same frozen centroids with the full nprobe
    fan-out, probe, exact-rescore. Shares ``_query_probes`` and the
    probe kernel with the persisted path, so an oracle gate on this
    function covers the serve math itself (the store plumbing is
    pinned separately in tests/test_scale.py)."""
    cells = ivf_cells(index_corpus)
    assign_t = home_cell_assignment(
        quantized(index_corpus), cells, np_assign
    )
    probes = _query_probes(quantized(queries), cells, nprobe, np_assign)
    return _probe_topk(assign_t, probes, k)


def _external_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    held = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(EXT_QUERY_HOLDOUT)
    )
    queries = emb.join(F.broadcast(held), "vec_id").select(
        "vec_id", "embedding"
    )
    index = emb.join(F.broadcast(held), "vec_id", "left_anti")
    return external_topk(index, queries)


def _external_topk_sql() -> str:
    dot_qc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_qq = _SQL_DOT.format(a="p.q_qv", b="a.qv")
    return f"""
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), held AS (
  SELECT vec_id FROM vecs
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {EXT_QUERY_HOLDOUT}
), with_norm AS (
  SELECT vec_id, label, qv,
         {_SQL_DOT.format(a="qv", b="qv")} AS norm2,
         vec_id IN (SELECT vec_id FROM held) AS is_q
  FROM vecs
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM with_norm CROSS JOIN dims
  WHERE NOT is_q
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, v.is_q, c.label,
         CAST(row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_qc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS INT) AS cell_rank
  FROM with_norm v CROSS JOIN cells c
), assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM ranked
  WHERE NOT is_q AND cell_rank = 1 AND norm2 > 0
), probes AS (
  SELECT vec_id AS query_id, label AS cell, qv AS q_qv, norm2 AS q_norm2
  FROM ranked WHERE is_q AND cell_rank <= {N_PROBE} AND norm2 > 0
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dot_qq} / (sqrt(p.q_norm2) * sqrt(a.norm2)) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank,
       cos_sim
FROM cand
QUALIFY rank <= {TOP_K}
"""


def _ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(load(spark, sf_dir, "embeddings"))


def _ivf_sql() -> str:
    dot_qc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_qq = _SQL_DOT.format(a="p.q_qv", b="a.qv")
    return f"""
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, label, qv,
         {_SQL_DOT.format(a="qv", b="qv")} AS norm2
  FROM vecs
), dims AS (
  SELECT unnest(range(1, 65)) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         CAST(row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_qc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS INT) AS cell_rank
  FROM with_norm v CROSS JOIN cells c
), assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM ranked WHERE cell_rank = 1
), probes AS (
  SELECT vec_id AS query_id, label AS cell, qv AS q_qv, norm2 AS q_norm2
  FROM ranked WHERE vec_id < {N_QUERIES} AND cell_rank <= {N_PROBE}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dot_qq} / (sqrt(p.q_norm2) * sqrt(a.norm2)) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank,
       cos_sim
FROM cand
QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 — public
# method): coarse-cluster the corpus with the IVF cells, compare
# embeddings ONLY within a cluster, and drop every vector whose cosine
# to a lower-id vector in the same cell clears the threshold (the
# deterministic greedy: cluster representatives are the lowest ids).
# The family of dedup the shingle/MinHash pipelines can't express —
# paraphrases with disjoint token sets but near-identical embeddings.
# At 100 TB: assignment is the map-side broadcast pass above; the pair
# pass shuffles on the cell id, and K (n_cells) is chosen ∝ corpus size
# so per-cell populations stay bounded — the within-cell quadratic is
# the SemDeDup design cost, bounded by K, never corpus-global.
# ---------------------------------------------------------------------------


#: Mega-cell cap (the `MAX_BUCKET_SIZE` precedent from the LSH path,
#: dedup.py): a cell whose population exceeds this contributes NO pairs
#: — the within-cell quadratic is SemDeDup's design cost only while
#: per-cell populations stay bounded, and a degenerate quantizer (or a
#: corpus of near-identical vectors) must degrade to "flag nothing for
#: this cell" rather than an O(cell²) blowup. Mirrored in the oracles,
#: never triggered by the fixtures.
MAX_CELL_PAIR_POP = 10_000


def _pairable_cells(assigned: DataFrame,
                    max_pop: int) -> DataFrame:
    """Cells whose population permits pairwise comparison."""
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__pop"))
        .filter(F.col("__pop") <= max_pop)
        .select("cell")
    )


def _pairable_assignment(corpus: DataFrame, centroid_source: DataFrame,
                         max_cell_pop: int,
                         np_assign: bool) -> tuple[DataFrame, DataFrame]:
    """(assigned, pairable) — the prefix the SemDeDup family shares:
    each ``corpus`` vector's home cell (vec_id, cell, qv, norm2) against
    IVF cells built from ``centroid_source``, and the subset in cells
    whose population permits pairwise comparison.

    The assignment sits behind a lazy ``localCheckpoint`` barrier (the
    ``ivf_topk`` idiom): it feeds the pairable-cell census, the pair
    pass and the caller's output, and without the barrier Catalyst
    plans the quantize → centroid build → all-cell scoring pipeline
    once per consumer. Building the barrier runs the exchanges below it
    (the centroid build) as Spark jobs at build time, as ``ivf_topk``'s
    barrier does. ``np_assign`` routes the assignment through the dgemm
    kernel (``cell_assignments_np`` — values identical)."""
    assigned = home_cell_assignment(
        quantized(corpus), ivf_cells(centroid_source), np_assign
    ).localCheckpoint(eager=False)
    pairable = assigned.join(
        F.broadcast(_pairable_cells(assigned, max_cell_pop)), "cell"
    )
    return assigned, pairable


def _per_vec_max_cos(pairable: DataFrame) -> DataFrame:
    """Per vector: max cosine against any LOWER-id vector in the same
    cell — the SemDeDup pair pass. A join over within-cell pairs would
    evaluate one interpreted 64-dim lambda fold per pair (~500M at 1M
    vectors); here it is one blockwise gram per cell via applyInPandas.
    Dots are exact in float64 (quantized micros, see
    cell_assignments_np) and the cos arithmetic is the same IEEE ops as
    the pair join's expression, so the per-vector max is over an
    identical value set (pinned against that join in
    tests/test_similarity_np.py). Emits every vector with at least one
    lower-id cellmate. Block size bounds the gram slab at ~cell_pop ×
    1024 doubles (≤80 MB at the 10k pop cap). Zero-norm vectors drop up
    front (as in ``_probe_topk``): their cosine is undefined and the
    engines disagree on 0/0 (Spark NULL vs numpy NaN vs DuckDB
    NaN-sorts-greatest), so the oracle SQL excludes them too."""
    import numpy as np
    import pandas as pd

    pairable = pairable.filter(F.col("norm2") > 0)

    def _per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        p = len(pdf)
        ids = pdf["vec_id"].to_numpy()
        if p < 2:
            return pd.DataFrame(
                {"vec_id": ids[:0], "max_cos": np.empty(0)}
            )
        v = np.array(pdf["qv"].tolist(), dtype=np.float64)
        sn = np.sqrt(pdf["norm2"].to_numpy(dtype=np.float64))
        out = np.empty(p - 1)
        block = 1024
        for j0 in range(1, p, block):
            j1 = min(j0 + block, p)
            g = (v[:j1] @ v[j0:j1].T) / (sn[:j1, None] * sn[None, j0:j1])
            rows = np.arange(j1)[:, None]
            cols = np.arange(j0, j1)[None, :]
            g[rows >= cols] = -np.inf  # strict upper triangle: i < j
            out[j0 - 1:j1 - 1] = g.max(axis=0)
        return pd.DataFrame({"vec_id": ids[1:], "max_cos": out})

    return pairable.groupBy("cell").applyInPandas(
        _per_cell, "vec_id bigint, max_cos double"
    )


def semantic_dedup_keep(corpus: DataFrame, centroid_source: DataFrame,
                        threshold: float = NEAR_DUP_COS,
                        max_cell_pop: int = MAX_CELL_PAIR_POP,
                        np_assign: bool = False) -> DataFrame:
    """(vec_id, cell, keep) for every corpus vector.

    ``centroid_source`` supplies the labeled vectors the IVF cells are
    built from (the coarse quantizer); ``corpus`` is what gets assigned
    and deduplicated — so an augmented/unlabeled delta can be deduped
    against centroids trained on the base corpus. Cells above
    ``max_cell_pop`` are excluded from pairing (their vectors all keep).

    Plan note: the assignment has three consumers (pairable census,
    pair pass, keep-list output) and is evaluated once behind the
    barrier in ``_pairable_assignment``; the pair pass shuffles on the
    cell id only.
    """
    assigned, pairable = _pairable_assignment(
        corpus, centroid_source, max_cell_pop, np_assign
    )
    drops = (
        _per_vec_max_cos(pairable)
        .filter(F.col("max_cos") >= threshold)
        .select("vec_id")
    )
    return assigned.join(
        drops.withColumn("__drop", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.when(F.col("__drop").isNotNull(), F.lit(0))
        .otherwise(F.lit(1)).cast("int").alias("keep"),
    )


def _semantic_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "embeddings")
    return semantic_dedup_keep(with_vector_copies(base), base)


def _semantic_keep_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_ab = _SQL_DOT.format(a="a.qv", b="b.qv")
    return f"""
WITH emb_aug AS ({_VEC_COPIES_SQL}),
vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM emb_aug
), with_norm AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM vecs
), base_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM base_vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM with_norm v CROSS JOIN cells c
), assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM ranked WHERE rnk = 1
), pop AS (
  SELECT cell, COUNT(*) AS n FROM assign GROUP BY 1
), small AS (
  SELECT cell FROM pop WHERE n <= {MAX_CELL_PAIR_POP}
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a
  JOIN small sc ON a.cell = sc.cell
  JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.norm2 > 0 AND b.norm2 > 0
    AND {dot_ab} / (sqrt(a.norm2) * sqrt(b.norm2)) >= {NEAR_DUP_COS}
)
SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM assign s LEFT JOIN drops d ON s.vec_id = d.vec_id
"""


# ---------------------------------------------------------------------------
# Semantic-dedup threshold sweep — the tuning readout a curation run
# wants BEFORE committing to a cosine cutoff: survivors at every
# candidate threshold from ONE pair pass. The expensive work (cell
# assignment + within-cell pairs) is identical to a single
# `semantic_dedup_keep` run; the sweep reduces pairs to a per-vector
# max-cosine once and then evaluates every threshold as a conditional
# counter over that tiny table — k thresholds cost k comparisons, not
# k dedup runs.
# ---------------------------------------------------------------------------

#: Candidate cosine cutoffs, in milli (0.80 … 0.99).
SWEEP_THRESHOLDS_MILLI = (800, 850, 900, 950, 990)


def semantic_threshold_sweep(
    corpus: DataFrame,
    centroid_source: DataFrame,
    max_cell_pop: int = MAX_CELL_PAIR_POP,
    np_assign: bool = False,
) -> DataFrame:
    """(threshold_milli, n_total, n_dropped, n_kept) per candidate
    cutoff; drop rule identical to ``semantic_dedup_keep`` (the larger
    vec_id of a ≥-threshold within-cell pair drops).

    Plan note: the assignment (three consumers: pairable census, pair
    pass, total) is evaluated once behind the barrier in
    ``_pairable_assignment``; ``np_assign`` routes it through the dgemm
    kernel (values identical).
    """
    assigned, pairable = _pairable_assignment(
        corpus, centroid_source, max_cell_pop, np_assign
    )
    per_vec = _per_vec_max_cos(pairable)
    total = assigned.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    counters = per_vec.agg(*[
        F.coalesce(
            F.sum((F.col("max_cos") >= F.lit(t) / F.lit(1000.0))
                  .cast("long")),
            F.lit(0),
        ).alias(f"d_{t}")
        for t in SWEEP_THRESHOLDS_MILLI
    ])
    rows = [
        F.struct(
            F.lit(t).cast("int").alias("threshold_milli"),
            F.col("n_total"),
            F.col(f"d_{t}").cast("long").alias("n_dropped"),
            (F.col("n_total") - F.col(f"d_{t}")).cast("long")
            .alias("n_kept"),
        )
        for t in SWEEP_THRESHOLDS_MILLI
    ]
    # 1-row fold × 1-row fold, exploded into one row per threshold.
    return (
        counters.crossJoin(F.broadcast(total))
        .select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
    )


def _sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "embeddings")
    return semantic_threshold_sweep(with_vector_copies(base), base)


def _sweep_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_ab = _SQL_DOT.format(a="a.qv", b="b.qv")
    values = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS_MILLI)
    return f"""
WITH emb_aug AS ({_VEC_COPIES_SQL}),
vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM emb_aug
), with_norm AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM vecs
), base_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM base_vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM with_norm v CROSS JOIN cells c
), assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM ranked WHERE rnk = 1
), pop AS (
  SELECT cell, COUNT(*) AS n FROM assign GROUP BY 1
), small AS (
  SELECT cell FROM pop WHERE n <= {MAX_CELL_PAIR_POP}
), per_vec AS (
  SELECT b.vec_id,
         MAX({dot_ab} / (sqrt(a.norm2) * sqrt(b.norm2))) AS max_cos
  FROM assign a
  JOIN small sc ON a.cell = sc.cell
  JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.norm2 > 0 AND b.norm2 > 0
  GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM assign),
t(threshold_milli) AS (VALUES {values}),
counted AS (
  SELECT t.threshold_milli,
         CAST(COALESCE(SUM(CASE WHEN p.max_cos >= t.threshold_milli / 1000.0
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped
  FROM t LEFT JOIN per_vec p ON TRUE
  GROUP BY 1
)
SELECT CAST(c.threshold_milli AS INT) AS threshold_milli,
       tot.n_total, c.n_dropped,
       CAST(tot.n_total - c.n_dropped AS BIGINT) AS n_kept
FROM counted c CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Semantic split-leakage audit — the eval-integrity complement to the
# exact-hash `docs_split_leakage` (snapshots.py): an eval example whose
# TRAIN-split near-duplicate clears the cosine threshold inflates every
# benchmark number without any byte-identical text to catch. Same
# IVF-cell machinery as semantic_dedup_keep (assignment + within-cell
# pairs, over-populated cells excluded), restricted to cross-split
# (eval × train) pairs — so at 100 TB the cost class is identical to
# one semantic-dedup pass and strictly smaller on the join output. The
# split rule is vec_id-deterministic with a modulus coprime to the
# planted-copy offsets, so the fixture's exact/jitter copies land
# across splits and the audit is non-vacuous. Public method: SemDeDup
# (Abbas 2023) cells applied to the decontamination question of
# Brown 2020 §4 (train-test overlap), embedding-space instead of
# n-gram.
# ---------------------------------------------------------------------------

#: Eval split = vec_id % 3 == 0 (coprime to the %5-aligned copy
#: offsets, so copies of train vectors can land in eval and vice
#: versa).
SPLIT_EVAL_MOD = 3


def _split_leak_counts(pairable: DataFrame,
                       threshold: float) -> DataFrame:
    """The cross-split pair pass (the ``_per_vec_max_cos`` kernel
    family): per cell, one blockwise gram between the eval rows and the
    train rows, counting train neighbors at cos ≥ threshold per eval
    vector. Dots are exact in float64 (quantized micros) and the cos
    arithmetic is the same IEEE ops as an eval × train join's
    expression, so the ≥-threshold count is over an identical value set
    — parity with that join pinned in tests/test_similarity_np.py.
    Zero-norm vectors drop up front (as in ``_per_vec_max_cos``)."""
    import numpy as np
    import pandas as pd

    pairable = pairable.filter(F.col("norm2") > 0)

    def _per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        is_eval = (pdf["vec_id"] % SPLIT_EVAL_MOD == 0).to_numpy()
        ev, tr = pdf[is_eval], pdf[~is_eval]
        empty = pd.DataFrame({
            "vec_id": np.empty(0, dtype=np.int64),
            "cell": np.empty(0, dtype=np.int32),
            "n_train_dups": np.empty(0, dtype=np.int64),
        })
        if len(ev) == 0 or len(tr) == 0:
            return empty
        v_e = np.array(ev["qv"].tolist(), dtype=np.float64)
        v_t = np.array(tr["qv"].tolist(), dtype=np.float64)
        sn_e = np.sqrt(ev["norm2"].to_numpy(dtype=np.float64))
        sn_t = np.sqrt(tr["norm2"].to_numpy(dtype=np.float64))
        counts = np.zeros(len(ev), dtype=np.int64)
        block = 1024
        for j0 in range(0, len(tr), block):
            j1 = min(j0 + block, len(tr))
            g = (v_e @ v_t[j0:j1].T) / (sn_e[:, None] * sn_t[None, j0:j1])
            counts += (g >= threshold).sum(axis=1)
        keep = counts > 0
        return pd.DataFrame({
            "vec_id": ev["vec_id"].to_numpy()[keep],
            "cell": ev["cell"].to_numpy(dtype=np.int32)[keep],
            "n_train_dups": counts[keep],
        })

    return pairable.groupBy("cell").applyInPandas(
        _per_cell, "vec_id bigint, cell int, n_train_dups bigint"
    )


def semantic_split_leakage(corpus: DataFrame, centroid_source: DataFrame,
                           threshold: float = NEAR_DUP_COS,
                           max_cell_pop: int = MAX_CELL_PAIR_POP,
                           np_assign: bool = False) -> DataFrame:
    """(vec_id, cell, n_train_dups) for every EVAL vector that has at
    least one train-split near-duplicate (cos ≥ threshold) in its IVF
    cell — the rows an eval-decontamination pass must quarantine.
    Same assignment prefix as ``semantic_dedup_keep``
    (``_pairable_assignment``)."""
    _, pairable = _pairable_assignment(
        corpus, centroid_source, max_cell_pop, np_assign
    )
    return _split_leak_counts(pairable, threshold)


def _split_leak_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "embeddings")
    return semantic_split_leakage(with_vector_copies(base), base)


def _split_leak_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_et = _SQL_DOT.format(a="e.qv", b="t.qv")
    return f"""
WITH emb_aug AS ({_VEC_COPIES_SQL}),
vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM emb_aug
), with_norm AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM vecs
), base_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM base_vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM with_norm v CROSS JOIN cells c
), assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM ranked WHERE rnk = 1
), pop AS (
  SELECT cell, COUNT(*) AS n FROM assign GROUP BY 1
), small AS (
  SELECT cell FROM pop WHERE n <= {MAX_CELL_PAIR_POP}
), pairable AS (
  SELECT a.* FROM assign a JOIN small s ON a.cell = s.cell
)
SELECT e.vec_id, CAST(e.cell AS INT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_train_dups
FROM pairable e JOIN pairable t ON e.cell = t.cell
WHERE e.vec_id % {SPLIT_EVAL_MOD} = 0
  AND t.vec_id % {SPLIT_EVAL_MOD} <> 0
  AND e.norm2 > 0 AND t.norm2 > 0
  AND {dot_et} / (sqrt(e.norm2) * sqrt(t.norm2)) >= {NEAR_DUP_COS}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means — the iterative-algorithm representative,
# with FULL oracle parity: a fixed iteration count unrolls into plain
# SQL, so DuckDB recomputes the identical clustering (seeds are the
# first K vectors, assignment ranks by the same cos-desc/label-asc
# order every other cell pass uses, and centroids stay (sum, count)
# pairs in exact BIGINTs — no mean division ever happens, cosine being
# scale-invariant). Per iteration at 100 TB: one map-side broadcast
# assignment pass over the corpus + one (cell, dim) partial-sum shuffle
# on a K×64 key space. Empty clusters simply drop out (deterministic in
# both engines).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


def _centroids_from(assigned: DataFrame) -> DataFrame:
    """(label, cv, cnorm2) summed-direction centroids from an
    assignment frame (vec_id, cell, qv, norm2)."""
    partial = (
        assigned.select("cell", F.posexplode("qv").alias("pos", "q"))
        .groupBy("cell", "pos")
        .agg(F.sum("q").alias("s"))
    )
    cells = partial.groupBy(F.col("cell").alias("label")).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
        .alias("cv")
    )
    return cells.withColumn("cnorm2", F.expr(_DOT.format(a="cv", b="cv")))


def _nearest_cell(vectors_q: DataFrame, cells: DataFrame) -> DataFrame:
    return cell_assignments(vectors_q, cells, nprobe=1).select(
        "vec_id",
        F.col("top_cells")[0]["label"].alias("cell"),
        "qv", "norm2",
    )


def kmeans_clusters(embeddings: DataFrame, k: int = KMEANS_K,
                    n_iters: int = KMEANS_ITERS) -> DataFrame:
    """(cell, n_vecs, dim, sum_q) after ``n_iters`` Lloyd iterations —
    the exploded exact-integer centroid table (sum per dimension plus
    member count; consumers divide once if they want means).

    Plan note: the unrolled lineage nests each iteration's centroid
    build inside the next assignment, and the final output references
    the last assignment twice, so the corpus takes O(n_iters) map
    passes per output reference. A production run at 100 TB persists
    (or writes) each iteration's assignment — standard for iterative
    algorithms on Spark; the fixture-scale catalog query stays
    materialization-free so the oracle comparison sees one pure plan.
    """
    vecs = quantized(embeddings)
    # Deterministic seeding: the first k vectors ARE the initial
    # centroids (their own label = vec_id).
    cells = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("label"),
        F.col("qv").alias("cv"),
        F.col("norm2").alias("cnorm2"),
    )
    assigned = None
    for _ in range(n_iters):
        assigned = _nearest_cell(vecs, cells)
        cells = _centroids_from(assigned)
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(
            assigned.select("cell", F.posexplode("qv").alias("pos", "q"))
            .groupBy("cell", (F.col("pos") + 1).alias("dim"))
            .agg(F.sum("q").alias("sum_q")),
            "cell",
        )
        .select("cell", "n_vecs", F.col("dim").cast("int").alias("dim"),
                "sum_q")
    )


def _kmeans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_clusters(load(spark, sf_dir, "embeddings"))


def _kmeans_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")

    def assign(vec_cte: str, cell_cte: str, out: str) -> str:
        return f"""{out}_r AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM {vec_cte} v CROSS JOIN {cell_cte} c
), {out} AS (
  SELECT vec_id, qv, norm2, label AS cell FROM {out}_r WHERE rnk = 1
)"""

    def centroids(assign_cte: str, out: str) -> str:
        return f"""{out}_p AS (
  SELECT cell, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM {assign_cte} CROSS JOIN dims
  GROUP BY 1, 2
), {out}_0 AS (
  SELECT cell AS label, list(s ORDER BY dim) AS cv FROM {out}_p GROUP BY 1
), {out} AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2
  FROM {out}_0
)"""

    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM vecs
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), seeds AS (
  SELECT CAST(vec_id AS INT) AS label, qv AS cv, norm2 AS cnorm2
  FROM with_norm WHERE vec_id < {KMEANS_K}
),
{assign("with_norm", "seeds", "a1")},
{centroids("a1", "c1")},
{assign("with_norm", "c1", "a2")}
SELECT a.cell, n.n_vecs, CAST(d.dim AS INT) AS dim,
       CAST(SUM(a.qv[d.dim]) AS BIGINT) AS sum_q
FROM a2 a
JOIN (SELECT cell, COUNT(*) AS n_vecs FROM a2 GROUP BY 1) n
  ON a.cell = n.cell
CROSS JOIN dims d
GROUP BY a.cell, n.n_vecs, d.dim
"""


# ---------------------------------------------------------------------------
# Incremental semantic dedup — the daily-ingest shape for SemDeDup,
# completing the incremental family (exact hashes + LSH bands in
# scale/dedup.py, embeddings here): a delta batch is assigned to the
# BASE corpus's cells and compared only against base vectors in the same
# cell. Work ∝ |delta| × per-cell population (bounded by choosing K ∝
# corpus size); the base side is the same per-cell index a production
# deployment persists once and appends per ingest. The base corpus is
# never pairwise-compared with itself.
# ---------------------------------------------------------------------------


def semantic_dedup_incremental(delta: DataFrame, base: DataFrame,
                               threshold: float = NEAR_DUP_COS,
                               max_cell_pop: int = MAX_CELL_PAIR_POP,
                               ) -> DataFrame:
    """(vec_id, cell, n_base_near_dups, is_semantic_dup) per delta vector.

    Cells are built from ``base`` (the coarse quantizer a deployment
    trains once); both sides are assigned map-side; the probe joins on
    the cell id with the cosine threshold inside the join condition, so
    clean delta vectors survive the left join with a zero count. Base
    cells above ``max_cell_pop`` contribute no hits (mega-cell cap).
    """
    cells = ivf_cells(base)
    b_assigned = cell_assignments(quantized(base), cells, nprobe=1).select(
        F.col("vec_id"),
        F.col("top_cells")[0]["label"].alias("cell"),
        "qv", "norm2",
    )
    b = b_assigned.join(
        F.broadcast(_pairable_cells(b_assigned, max_cell_pop)), "cell"
    ).select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("cell").alias("b_cell"),
        F.col("qv").alias("b_qv"),
        F.col("norm2").alias("b_norm2"),
    )
    d = cell_assignments(quantized(delta), cells, nprobe=1).select(
        "vec_id",
        F.col("top_cells")[0]["label"].alias("cell"),
        "qv", "norm2",
    )
    cos = (
        F.expr(_DOT.format(a="qv", b="b_qv"))
        / (F.sqrt("norm2") * F.sqrt("b_norm2"))
    )
    # Zero-norm guard inside the LEFT-join condition: an undefined
    # cosine (0/0 — Spark NULL vs DuckDB NaN-sorts-greatest) can never
    # count as a hit, but the delta row itself still survives with a
    # zero count in both engines.
    return (
        d.join(b, (F.col("cell") == F.col("b_cell"))
               & (F.col("norm2") > 0) & (F.col("b_norm2") > 0)
               & (cos >= threshold),
               "left")
        .groupBy("vec_id", "cell")
        .agg(F.count("b_vec_id").alias("n_base_near_dups"))
        .select(
            "vec_id", "cell", "n_base_near_dups",
            (F.col("n_base_near_dups") > 0).cast("int")
            .alias("is_semantic_dup"),
        )
    )


def _semantic_incr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delta fixture: the seeded copies (exact / jittered / reversed) —
    # exactly the three outcomes an ingest probe must separate.
    base = load(spark, sf_dir, "embeddings")
    delta = with_vector_copies(base).filter(
        F.col("vec_id") >= VEC_COPY_OFFSET
    )
    return semantic_dedup_incremental(delta, base)


def _semantic_incr_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    dot_db = _SQL_DOT.format(a="d.qv", b="b.qv")
    return f"""
WITH emb_aug AS ({_VEC_COPIES_SQL}),
delta AS (
  SELECT vec_id, embedding FROM emb_aug WHERE vec_id >= {VEC_COPY_OFFSET}
),
base_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM base_vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), base_q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), delta_q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM delta
), base_n AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM base_q
), delta_n AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM delta_q
), base_ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM base_n v CROSS JOIN cells c
), delta_ranked AS (
  SELECT v.vec_id, v.qv, v.norm2, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM delta_n v CROSS JOIN cells c
), base_assign0 AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM base_ranked WHERE rnk = 1
), base_pop AS (
  SELECT cell, COUNT(*) AS n FROM base_assign0 GROUP BY 1
), base_assign AS (
  SELECT a.* FROM base_assign0 a
  JOIN base_pop p ON a.cell = p.cell AND p.n <= {MAX_CELL_PAIR_POP}
), delta_assign AS (
  SELECT vec_id, label AS cell, qv, norm2 FROM delta_ranked WHERE rnk = 1
)
SELECT d.vec_id, CAST(d.cell AS INT) AS cell,
       CAST(COUNT(b.vec_id) AS BIGINT) AS n_base_near_dups,
       CAST(COUNT(b.vec_id) > 0 AS INT) AS is_semantic_dup
FROM delta_assign d LEFT JOIN base_assign b
  ON d.cell = b.cell
 AND d.norm2 > 0 AND b.norm2 > 0
 AND {dot_db} / (sqrt(d.norm2) * sqrt(b.norm2)) >= {NEAR_DUP_COS}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the two approximate paths (LSH
# buckets, IVF probing) against the brute-force exact top-k. Hits are
# exact integer set-intersection counts, so the whole evaluation is
# oracle-checkable bit-for-bit. This is the query a pipeline owner runs
# before trusting an ANN index at scale: recall too low → raise nprobe /
# add hash tables; recall ≈ k → the approximate path can replace
# brute force.
# ---------------------------------------------------------------------------


def ann_recall(embeddings: DataFrame, n_queries: int = N_QUERIES,
               k: int = TOP_K) -> DataFrame:
    """(method, query_id, hits, k): |approx top-k ∩ exact top-k| per query.

    The LSH path ranks same-bucket candidates by exact cosine and takes
    its best k; the IVF path is ``ivf_topk`` as shipped. Both are scored
    against ``cosine_topk`` ground truth with a left join + non-null
    count, so a query with zero overlap still reports hits=0.
    """
    from pyspark.sql import Window

    truth = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(embeddings, n_queries, k).select("query_id", "neighbor_id")
    pairs = ann_pairs(embeddings)
    cand = (
        pairs.select(
            F.col("v1").alias("query_id"),
            F.col("v2").alias("neighbor_id"),
            "cos_sim",
        )
        .unionAll(
            pairs.select(
                F.col("v2").alias("query_id"),
                F.col("v1").alias("neighbor_id"),
                "cos_sim",
            )
        )
        .filter(F.col("query_id") < n_queries)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    lsh = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )

    def score(approx: DataFrame, name: str) -> DataFrame:
        j = truth.join(
            approx.withColumn("__hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        return j.groupBy("query_id").agg(
            F.count("__hit").alias("hits")
        ).select(
            F.lit(name).alias("method"),
            "query_id",
            "hits",
            F.lit(k).alias("k"),
        )

    return score(lsh, "lsh").unionAll(score(ivf, "ivf"))


def _recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall(load(spark, sf_dir, "embeddings"))


def _recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({_TOPK_SQL}) t
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({_ivf_sql()}) t
),
lshp AS (
  SELECT v1, v2, cos_sim FROM ({_ann_sql()}) t
),
lshc AS (
  SELECT v1 AS query_id, v2 AS neighbor_id, cos_sim FROM lshp
  WHERE v1 < {N_QUERIES}
  UNION ALL
  SELECT v2, v1, cos_sim FROM lshp WHERE v2 < {N_QUERIES}
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
    FROM lshc
  ) r WHERE rnk <= {TOP_K}
)
SELECT 'lsh' AS method, t.query_id, CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits,
       CAST({TOP_K} AS INT) AS k
FROM truth t LEFT JOIN lsh m
  ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
GROUP BY t.query_id
UNION ALL
SELECT 'ivf', t.query_id, CAST(COUNT(m.neighbor_id) AS BIGINT),
       CAST({TOP_K} AS INT)
FROM truth t LEFT JOIN ivf m
  ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
GROUP BY t.query_id
"""


# ---------------------------------------------------------------------------
# IVF nprobe tuning sweep — the knob-vs-recall readout an ANN operator
# reads BEFORE freezing nprobe (the probe-depth analogue of the
# semantic-dedup threshold sweep): candidate recall@k at EVERY probe
# depth 1..max from ONE assignment pass. Candidate recall = fraction
# of exact top-k neighbors whose home cell sits within the query's
# first p probed cells — the standard IVF proxy (once the cell is
# probed, the exact-cosine ranking inside it finds the neighbor), and
# an exact integer count, so the whole sweep is oracle-checkable. Cost
# is one brute-force truth pass over the standing query batch + one
# home-cell assignment + a k-row-per-query join — sweeping more depths
# is free by construction.
# ---------------------------------------------------------------------------

NPROBE_SWEEP_MAX = 4


def ivf_nprobe_recall_sweep(embeddings: DataFrame,
                            n_queries: int = N_QUERIES, k: int = TOP_K,
                            max_probe: int = NPROBE_SWEEP_MAX) -> DataFrame:
    """(nprobe, n_pairs, n_hits, recall_milli) for every probe depth
    1..max_probe."""
    vecs = quantized(embeddings)
    cells = ivf_cells(embeddings)
    truth = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    home = cell_assignments(vecs, cells, nprobe=1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("top_cells")[0]["label"].alias("home_cell"),
    )
    qranks = cell_assignments(
        vecs.filter(F.col("vec_id") < n_queries), cells, nprobe=max_probe
    ).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode("top_cells").alias("pos", "c"),
    ).select(
        "query_id",
        F.col("c.label").alias("home_cell"),
        (F.col("pos") + 1).cast("int").alias("cell_rank"),
    )
    j = truth.join(home, "neighbor_id").join(
        F.broadcast(qranks), ["query_id", "home_cell"], "left"
    )
    counters = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        *[
            F.coalesce(
                F.sum((F.col("cell_rank") <= p).cast("long")), F.lit(0)
            ).cast("long").alias(f"h_{p}")
            for p in range(1, max_probe + 1)
        ],
    )
    rows = [
        F.struct(
            F.lit(p).cast("int").alias("nprobe"),
            F.col("n_pairs"),
            F.col(f"h_{p}").alias("n_hits"),
            F.expr(f"cast((1000 * h_{p}) div n_pairs as int)")
            .alias("recall_milli"),
        )
        for p in range(1, max_probe + 1)
    ]
    return counters.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


def _nprobe_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_nprobe_recall_sweep(load(spark, sf_dir, "embeddings"))


def _nprobe_sweep_sql() -> str:
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    values = ", ".join(f"({p})" for p in range(1, NPROBE_SWEEP_MAX + 1))
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({_TOPK_SQL}) t
), vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2 FROM vecs
), base_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM base_vecs CROSS JOIN dims
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM partial GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), ranked AS (
  SELECT v.vec_id, c.label,
         row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS rnk
  FROM with_norm v CROSS JOIN cells c
), home AS (
  SELECT vec_id AS neighbor_id, label AS home_cell
  FROM ranked WHERE rnk = 1
), qranks AS (
  SELECT vec_id AS query_id, label AS home_cell,
         CAST(rnk AS INT) AS cell_rank
  FROM ranked WHERE vec_id < {N_QUERIES} AND rnk <= {NPROBE_SWEEP_MAX}
), j AS (
  SELECT t.query_id, q.cell_rank
  FROM truth t
  JOIN home h ON t.neighbor_id = h.neighbor_id
  LEFT JOIN qranks q
    ON t.query_id = q.query_id AND h.home_cell = q.home_cell
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM j
), p(nprobe) AS (VALUES {values}),
hits AS (
  SELECT p.nprobe,
         CAST(COALESCE(SUM(CASE WHEN j.cell_rank <= p.nprobe
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
  FROM p LEFT JOIN j ON TRUE
  GROUP BY 1
)
SELECT CAST(h.nprobe AS INT) AS nprobe, a.n_pairs, h.n_hits,
       CAST((1000 * h.n_hits) // a.n_pairs AS INT) AS recall_milli
FROM hits h CROSS JOIN agg a
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ, Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — public method), the inner-product/ADC
# variant: split each 64-dim vector into PQ_M=4 subspaces of 16 dims,
# learn a PQ_K=8-entry codebook per subspace, and store each corpus
# vector as 4 small codes. Query scoring is asymmetric distance
# computation (ADC): the query precomputes, per subspace, its projection
# onto every codebook direction (a 4×8 lookup table), and each corpus
# vector's approximate dot folds as 4 table lookups — after encoding,
# search never touches the original floats (64 floats → 4 bytes/vector,
# PQ's memory story).
#
# Determinism: codebook training follows the kmeans_clusters recipe —
# seeds are the first PQ_K vectors' subvectors, one Lloyd refinement
# with SUM-direction centroids (exact BIGINT, scale-invariant under the
# cosine/projection metric, so no mean division), assignment ranked
# (projection desc, code asc). Projections are BIGINT-dot / IEEE-sqrt
# doubles — bit-identical cross-engine — and the 4-term ADC sum is
# written as explicit left-to-right additions on BOTH sides (float
# addition is not associative; a SUM() aggregate's order would not be
# pinned). Lookups key on the CODE value (map on the Spark side, an
# (m, code) equi-join in SQL), never on array position, so the pipeline
# stays correct even if a codebook entry went empty.
#
# 100 TB shape: the codebook (32 rows) folds into ONE broadcast row;
# seeding, refinement assignment, and encoding are all map-side over
# the corpus (the corpus × codes expansion never leaves its stage, the
# cell_assignments precedent). The refinement shuffle keys on
# (m, code, dim) ≤ 512 entries. Scoring broadcasts the 8-query LUT;
# the only corpus-keyed shuffle is the final per-query top-k.
# ---------------------------------------------------------------------------

PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8


def _pq_subs(vecs: DataFrame) -> DataFrame:
    """vec_id + the PQ_M quantized subvectors as sub_0..sub_{M-1}."""
    return vecs.select(
        "vec_id",
        *[
            F.expr(f"slice(qv, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})")
            .alias(f"sub_{m}")
            for m in range(PQ_M)
        ],
    )


def _pq_fold(cb: DataFrame):
    """Codebook (m, code, dir, dnorm2) folded into one broadcast row."""
    return F.broadcast(cb.agg(
        F.expr("array_sort(collect_list(struct(m, code, dir, dnorm2)))")
        .alias("cb")
    ))


def _pq_code_expr(m: int) -> F.Column:
    """Argmax-projection code for subspace ``m``, computed in-row
    against the folded codebook (tie → lowest code)."""
    dot = _DOT.format(a=f"sub_{m}", b="c.dir")
    return F.expr(
        f"array_sort(transform(filter(cb, c -> c.m = {m}), "
        f"c -> struct(-({dot} / sqrt(c.dnorm2)) AS negproj, "
        f"c.code AS code)))[0].code"
    )


def _pq_assign(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """vec_id, sub_*, code_0..code_{M-1} — one map pass, codebook
    broadcast (the 1-row fold join is the intended BNLJ)."""
    return subs.join(_pq_fold(cb)).select(
        "vec_id",
        *[f"sub_{m}" for m in range(PQ_M)],
        *[_pq_code_expr(m).alias(f"code_{m}") for m in range(PQ_M)],
    )


def pq_codebooks(embeddings: DataFrame) -> DataFrame:
    """(m, code, dir, dnorm2) after one Lloyd refinement of the
    first-PQ_K-subvector seeding."""
    subs = _pq_subs(quantized(embeddings))
    seeds = (
        subs.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("m"), F.col(f"sub_{m}").alias("dir"))
                for m in range(PQ_M)
            ])).alias("e"),
        )
        .select("e.m", "code", "e.dir")
        .withColumn("dnorm2", F.expr(_DOT.format(a="dir", b="dir")))
    )
    assigned = _pq_assign(subs, seeds)
    long = assigned.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(m).alias("m"),
                F.col(f"code_{m}").alias("code"),
                F.col(f"sub_{m}").alias("sub"),
            )
            for m in range(PQ_M)
        ])).alias("e")
    ).select("e.m", "e.code", F.posexplode("e.sub").alias("pos", "q"))
    partial = long.groupBy("m", "code", "pos").agg(F.sum("q").alias("s"))
    refined = partial.groupBy("m", "code").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
        .alias("dir")
    )
    return refined.withColumn("dnorm2", F.expr(_DOT.format(a="dir", b="dir")))


def pq_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
            k: int = TOP_K) -> DataFrame:
    """ADC top-k: 4 map lookups per (query, corpus vector), ranked by
    the approximate dot (score desc, neighbor_id asc)."""
    from pyspark.sql import Window

    subs = _pq_subs(quantized(embeddings))
    # The 32-row codebook feeds BOTH the corpus encoding and the query
    # LUT; without a lineage barrier Spark re-derives the whole
    # refinement tree (including its corpus assignment pass) once per
    # consumer. localCheckpoint materializes it once — it is
    # codebook-sized, never corpus-sized.
    cb = pq_codebooks(embeddings).localCheckpoint(eager=False)
    enc = _pq_assign(subs, cb).select(
        "vec_id", *[f"code_{m}" for m in range(PQ_M)]
    )
    luts = (
        subs.filter(F.col("vec_id") < n_queries)
        .join(_pq_fold(cb))
        .select(
            F.col("vec_id").alias("query_id"),
            *[
                F.expr(
                    f"map_from_entries(transform(filter(cb, c -> c.m = {m}), "
                    f"c -> struct(c.code, "
                    f"{_DOT.format(a=f'sub_{m}', b='c.dir')} / sqrt(c.dnorm2))))"
                ).alias(f"lut_{m}")
                for m in range(PQ_M)
            ],
        )
    )
    # Fixed left-to-right addition order — mirrored verbatim in the SQL.
    score = (
        (F.element_at("lut_0", F.col("code_0"))
         + F.element_at("lut_1", F.col("code_1")))
        + F.element_at("lut_2", F.col("code_2"))
    ) + F.element_at("lut_3", F.col("code_3"))
    cands = (
        enc.join(F.broadcast(luts), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            score.alias("approx_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_score")
    )


def _pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_topk(load(spark, sf_dir, "embeddings"))


def pq_recall(embeddings: DataFrame, n_queries: int = N_QUERIES,
              k: int = TOP_K) -> DataFrame:
    """(query_id, hits, k): |PQ top-k ∩ exact top-k| per query — the
    eval that closes the PQ loop the way `ann_recall` closes LSH/IVF.
    PQ pays quantization error for its 16× compression; this measures
    exactly how much, per query, against brute-force ground truth."""
    truth = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = pq_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    j = truth.join(
        approx.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return j.groupBy("query_id").agg(F.count("__hit").alias("hits")).select(
        "query_id", "hits", F.lit(k).alias("k")
    )


def _pq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_recall(load(spark, sf_dir, "embeddings"))


def _pq_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({_TOPK_SQL}) t
), pq AS (
  SELECT query_id, neighbor_id FROM ({_pq_sql()}) t
)
SELECT t.query_id, CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
       CAST({TOP_K} AS INT) AS k
FROM truth t LEFT JOIN pq p
  ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
GROUP BY t.query_id
"""


def _pq_sql() -> str:
    sub_expr = (f"list_slice(qv, m * {PQ_SUBDIM} + 1, "
                f"(m + 1) * {PQ_SUBDIM})")
    dot_ss = _SQL_DOT.format(a="s.sub", b="sd.dir")
    dot_sr = _SQL_DOT.format(a="s.sub", b="r.dir")
    dot_qr = _SQL_DOT.format(a="q.sub", b="r.dir")
    ms = ", ".join(str(m) for m in range(PQ_M))
    adc = " + ".join(
        f"MAX(CASE WHEN l.m = {m} THEN term END)" for m in range(PQ_M)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), subs AS (
  SELECT vec_id, m, {sub_expr} AS sub
  FROM vecs, UNNEST([{ms}]) t(m)
), seeds AS (
  SELECT m, CAST(vec_id AS INT) AS code, sub AS dir,
         {_SQL_DOT.format(a="sub", b="sub")} AS dnorm2
  FROM subs WHERE vec_id < {PQ_K}
), assign0 AS (
  SELECT s.vec_id, s.m, sd.code,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {dot_ss} / sqrt(sd.dnorm2) DESC,
                                     sd.code ASC) AS rn
  FROM subs s JOIN seeds sd ON s.m = sd.m
), partial AS (
  SELECT a.m, a.code, d.dim, CAST(SUM(s.sub[d.dim]) AS BIGINT) AS ds
  FROM assign0 a
  JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m
  CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS dim) d
  WHERE a.rn = 1
  GROUP BY 1, 2, 3
), refined0 AS (
  SELECT m, code, list(ds ORDER BY dim) AS dir FROM partial GROUP BY 1, 2
), refined AS (
  SELECT m, code, dir, {_SQL_DOT.format(a="dir", b="dir")} AS dnorm2
  FROM refined0
), enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, r.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {dot_sr} / sqrt(r.dnorm2) DESC,
                                       r.code ASC) AS rn
    FROM subs s JOIN refined r ON s.m = r.m
  ) x WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, r.m, r.code,
         {dot_qr} / sqrt(r.dnorm2) AS term
  FROM subs q JOIN refined r ON q.m = r.m
  WHERE q.vec_id < {N_QUERIES}
), scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, {adc} AS approx_score
  FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_score DESC,
                                        neighbor_id ASC) AS INT) AS rank,
       approx_score
FROM scored
QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-PQ: the combined FAISS-style index (Jégou et al. 2011, "Product
# quantization for nearest neighbor search") — IVF cells prune the
# candidate set, PQ/ADC scores the survivors from 4 table lookups per
# vector. The two halves above compose: `ivf_assignments` is the
# map-side cell pass, `pq_codebooks`/ADC the compressed scorer; this
# variant scores raw subvectors (not cell residuals) so the existing
# codebook oracle carries over — the residual-encoding refinement is
# the production FAISS step and changes only what feeds _pq_subs.
#
# Scale shape: corpus-side work is ONE map pass (cell + 4 codes per
# vector, centroids and codebook both broadcast 1-row folds); the
# probe join is a broadcast hash join on the cell key; only the
# candidate subset (nprobe/K of the corpus per query) reaches the
# top-k window. This is the 100 TB search architecture: memory per
# vector is 4 codes + a cell id, and scan cost drops by the IVF
# pruning factor on top of PQ's 16× compression.
# ---------------------------------------------------------------------------


def ivfpq_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
               k: int = TOP_K, nprobe: int = N_PROBE) -> DataFrame:
    """Approximate top-k via IVF cell probing + PQ/ADC scoring."""
    from pyspark.sql import Window

    assigned = ivf_assignments(embeddings, nprobe=nprobe)
    cb = pq_codebooks(embeddings).localCheckpoint(eager=False)
    corpus = (
        assigned.select(
            "vec_id",
            F.col("top_cells")[0]["label"].alias("cell"),
            *[
                F.expr(f"slice(qv, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})")
                .alias(f"sub_{m}")
                for m in range(PQ_M)
            ],
        )
        .join(_pq_fold(cb))
        .select(
            "vec_id", "cell",
            *[_pq_code_expr(m).alias(f"code_{m}") for m in range(PQ_M)],
        )
    )
    queries = assigned.filter(F.col("vec_id") < n_queries)
    luts = (
        _pq_subs(queries.select("vec_id", "qv"))
        .join(_pq_fold(cb))
        .select(
            F.col("vec_id").alias("query_id"),
            *[
                F.expr(
                    f"map_from_entries(transform(filter(cb, c -> c.m = {m}), "
                    f"c -> struct(c.code, "
                    f"{_DOT.format(a=f'sub_{m}', b='c.dir')} / sqrt(c.dnorm2))))"
                ).alias(f"lut_{m}")
                for m in range(PQ_M)
            ],
        )
    )
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.expr("transform(top_cells, t -> t.label)"))
            .alias("cell"),
        )
        .join(luts, "query_id")
    )
    # Fixed left-to-right addition — same convention as pq_topk's ADC.
    score = (
        (F.element_at("lut_0", F.col("code_0"))
         + F.element_at("lut_1", F.col("code_1")))
        + F.element_at("lut_2", F.col("code_2"))
    ) + F.element_at("lut_3", F.col("code_3"))
    cands = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            score.alias("approx_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_score"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_score")
    )


def _ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_topk(load(spark, sf_dir, "embeddings"))


def _ivfpq_sql() -> str:
    sub_expr = (f"list_slice(qv, m * {PQ_SUBDIM} + 1, "
                f"(m + 1) * {PQ_SUBDIM})")
    dot_ss = _SQL_DOT.format(a="s.sub", b="sd.dir")
    dot_sr = _SQL_DOT.format(a="s.sub", b="r.dir")
    dot_qr = _SQL_DOT.format(a="q.sub", b="r.dir")
    dot_vc = _SQL_DOT.format(a="v.qv", b="c.cv")
    ms = ", ".join(str(m) for m in range(PQ_M))
    adc = " + ".join(
        f"MAX(CASE WHEN l.m = {m} THEN term END)" for m in range(PQ_M)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), wn AS (
  SELECT vec_id, label, qv, {_SQL_DOT.format(a="qv", b="qv")} AS norm2
  FROM vecs
), cpart AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM vecs CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
  GROUP BY 1, 2
), cells0 AS (
  SELECT label, list(s ORDER BY dim) AS cv FROM cpart GROUP BY 1
), cells AS (
  SELECT label, cv, {_SQL_DOT.format(a="cv", b="cv")} AS cnorm2 FROM cells0
), cranked AS (
  SELECT v.vec_id, c.label,
         CAST(row_number() OVER (
           PARTITION BY v.vec_id
           ORDER BY CASE WHEN v.norm2 = 0 OR c.cnorm2 = 0 THEN 0.0 ELSE {dot_vc} / (sqrt(v.norm2) * sqrt(c.cnorm2)) END DESC,
                    c.label ASC) AS INT) AS cell_rank
  FROM wn v CROSS JOIN cells c
), cassign AS (
  SELECT vec_id, label AS cell FROM cranked WHERE cell_rank = 1
), cprobes AS (
  SELECT vec_id AS query_id, label AS cell
  FROM cranked WHERE vec_id < {N_QUERIES} AND cell_rank <= {N_PROBE}
), subs AS (
  SELECT vec_id, m, {sub_expr} AS sub
  FROM vecs, UNNEST([{ms}]) t(m)
), seeds AS (
  SELECT m, CAST(vec_id AS INT) AS code, sub AS dir,
         {_SQL_DOT.format(a="sub", b="sub")} AS dnorm2
  FROM subs WHERE vec_id < {PQ_K}
), assign0 AS (
  SELECT s.vec_id, s.m, sd.code,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {dot_ss} / sqrt(sd.dnorm2) DESC,
                                     sd.code ASC) AS rn
  FROM subs s JOIN seeds sd ON s.m = sd.m
), ppart AS (
  SELECT a.m, a.code, d.dim, CAST(SUM(s.sub[d.dim]) AS BIGINT) AS ds
  FROM assign0 a
  JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m
  CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS dim) d
  WHERE a.rn = 1
  GROUP BY 1, 2, 3
), refined0 AS (
  SELECT m, code, list(ds ORDER BY dim) AS dir FROM ppart GROUP BY 1, 2
), refined AS (
  SELECT m, code, dir, {_SQL_DOT.format(a="dir", b="dir")} AS dnorm2
  FROM refined0
), enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, r.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {dot_sr} / sqrt(r.dnorm2) DESC,
                                       r.code ASC) AS rn
    FROM subs s JOIN refined r ON s.m = r.m
  ) x WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, r.m, r.code,
         {dot_qr} / sqrt(r.dnorm2) AS term
  FROM subs q JOIN refined r ON q.m = r.m
  WHERE q.vec_id < {N_QUERIES}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM cprobes p JOIN cassign a
    ON p.cell = a.cell AND a.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id, {adc} AS approx_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = e.m AND l.code = e.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_score DESC,
                                        neighbor_id ASC) AS INT) AS rank,
       approx_score
FROM scored
QUALIFY rank <= {TOP_K}
"""


def matryoshka_recall(embeddings: DataFrame, prefix_dims: int = 16,
                      n_queries: int = N_QUERIES,
                      k: int = TOP_K) -> DataFrame:
    """Recall@k of PREFIX-truncated cosine search vs full-dimension
    ground truth — the Matryoshka representation eval (Kusupati et al.
    2022, arXiv:2205.13147): if embeddings were MRL-trained, the first
    ``prefix_dims`` dims retrieve almost as well at dims/64 of the
    memory and dot-product cost. On non-MRL vectors (this fixture) the
    measured loss is the point: it quantifies what naive truncation
    costs, per query. Same exact-integer machinery as cosine_topk —
    truncation is a ``slice`` before quantization."""
    truncated = embeddings.select(
        "vec_id",
        F.expr(f"slice(embedding, 1, {prefix_dims})").alias("embedding"),
    )
    truth = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = cosine_topk(truncated, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    j = truth.join(
        approx.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return j.groupBy("query_id").agg(F.count("__hit").alias("hits")).select(
        "query_id", "hits", F.lit(k).alias("k"),
        F.lit(prefix_dims).alias("prefix_dims"),
    )


def _matryoshka_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return matryoshka_recall(load(spark, sf_dir, "embeddings"))


_MATRYOSHKA_PREFIX = 16

_MATRYOSHKA_SQL = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), with_norm AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS norm2
  FROM vecs
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i])) AS BIGINT)
             / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_sim
    FROM with_norm q JOIN with_norm c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) t
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cos_sim DESC, neighbor_id ASC)
          <= {TOP_K}
), tvecs AS (
  SELECT vec_id,
         list_transform(embedding[1:{_MATRYOSHKA_PREFIX}],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), twn AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS norm2
  FROM tvecs
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i])) AS BIGINT)
             / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_sim
    FROM twn q JOIN twn c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) t
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cos_sim DESC, neighbor_id ASC)
          <= {TOP_K}
)
SELECT t.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
       CAST({TOP_K} AS INT) AS k,
       CAST({_MATRYOSHKA_PREFIX} AS INT) AS prefix_dims
FROM truth t LEFT JOIN approx a
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY t.query_id
"""


def ivfpq_recall(embeddings: DataFrame, n_queries: int = N_QUERIES,
                 k: int = TOP_K) -> DataFrame:
    """(query_id, hits, k): |IVF-PQ top-k ∩ exact top-k| — the combined
    index pays BOTH pruning loss (IVF) and quantization loss (PQ);
    this measures the stack end-to-end vs brute-force ground truth."""
    truth = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivfpq_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    j = truth.join(
        approx.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return j.groupBy("query_id").agg(F.count("__hit").alias("hits")).select(
        "query_id", "hits", F.lit(k).alias("k")
    )


def _ivfpq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_recall(load(spark, sf_dir, "embeddings"))


def _ivfpq_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM ({_TOPK_SQL}) t
), ivfpq AS (
  SELECT query_id, neighbor_id FROM ({_ivfpq_sql()}) t
)
SELECT t.query_id, CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
       CAST({TOP_K} AS INT) AS k
FROM truth t LEFT JOIN ivfpq p
  ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
GROUP BY t.query_id
"""


# ---------------------------------------------------------------------------
# Binary sign quantization + Hamming search: the most aggressive point
# on the compression curve (int8 report = 8 bits/dim, PQ = 0.5
# bits/dim here, sign = 1 bit/dim). EMBED_DIM = 64 makes the packed
# representation EXACTLY one BIGINT per vector — a 256× reduction over
# float32 — and Hamming distance one `bit_count(xor(a, b))` per pair:
# pure JVM integer ops inside whole-stage codegen, no arrays touched
# at scoring time. The candidate scan is the cosine_topk brute-force
# shape (bounded 8-query broadcast; at 100 TB this is the rerank-free
# first pass, with sign-bucket prefixes playing the IVF role). The
# true quantized-exact cosine rides along per returned neighbor so the
# proxy's fidelity is visible in the output itself.
#
# Bit 63 packs via the dhash convention (shiftleft wraps to MIN_BIGINT
# in Spark; DuckDB spells the constant explicitly since its << raises
# on overflow). Sign rule: quantized micros >= 0 → bit set — exact on
# both engines because the micros ARE integers.
# ---------------------------------------------------------------------------

#: Spark: fold the 64 sign bits of qv into one BIGINT.
_SIGN_PACK_SPARK = (
    "aggregate(sequence(0, 63), cast(0 as bigint), (acc, d) -> "
    "acc | if(element_at(qv, d + 1) >= 0, "
    "shiftleft(cast(1 as bigint), d), cast(0 as bigint)))"
)

#: DuckDB: identical packing; bit 63 is the explicit MIN_BIGINT term.
_SIGN_PACK_DUCK = (
    "CAST(list_sum(list_transform(range(1, 65), i -> "
    "CASE WHEN qv[i] < 0 THEN 0 "
    "WHEN i = 64 THEN -9223372036854775807 - 1 "
    "ELSE (CAST(1 AS BIGINT) << (i - 1)) END)) AS BIGINT)"
)


def sign_pack(embeddings: DataFrame) -> DataFrame:
    """vec_id, sig (one BIGINT of sign bits), plus qv/norm2 retained
    for the fidelity column."""
    return quantized(embeddings).withColumn(
        "sig", F.expr(_SIGN_PACK_SPARK)
    )


def hamming_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                 k: int = TOP_K) -> DataFrame:
    """Top-k by Hamming distance over the packed sign bits, ties broken
    by neighbor_id; the exact quantized cosine reported alongside."""
    from pyspark.sql import Window

    vecs = sign_pack(embeddings)
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("q_sig"),
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_norm2"),
    )
    pairs = vecs.join(F.broadcast(queries),
                      F.col("vec_id") != F.col("query_id"))
    dot = F.expr(_DOT.format(a="q_qv", b="qv"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr("bit_count(sig ^ q_sig)").cast("int").alias("hamming"),
        (dot / (F.sqrt("q_norm2") * F.sqrt("norm2"))).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hamming", "cos_sim")
    )


def _hamming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hamming_topk(load(spark, sf_dir, "embeddings"))


_HAMMING_SQL = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), packed AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS norm2,
         {_SIGN_PACK_DUCK} AS sig
  FROM vecs
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(c.sig, q.sig)) AS INT) AS hamming,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i])) AS BIGINT)
           / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_sim
  FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS INT) AS rank,
       hamming, cos_sim
FROM pairs
QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Centroid drift between corpus snapshots — the embedding-space
# monitoring readout (did this week's crawl shift the per-label
# direction vectors?). Centroids are exact BIGINT component sums
# (ivf_cells), so the per-label cosine between snapshot A's and
# snapshot B's centroid is one exact integer dot over two tiny tables —
# at 100 TB each snapshot contributes one map-side partial-sum pass and
# a labels × dims shuffle, and the drift join itself is label-sized.
# The zero-norm convention (cos := 0) matches cell_assignments.
# ---------------------------------------------------------------------------


def centroid_drift(snap_a: DataFrame, snap_b: DataFrame) -> DataFrame:
    """(label, n_a, n_b, cos_micro): per-label centroid cosine between
    two embedding snapshots (micro-units; 10⁶ = unchanged direction)."""
    ca = ivf_cells(snap_a).select(
        "label", F.col("cv").alias("cva"), F.col("cnorm2").alias("na2"))
    cb = ivf_cells(snap_b).select(
        "label", F.col("cv").alias("cvb"), F.col("cnorm2").alias("nb2"))
    cnt_a = snap_a.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"))
    cnt_b = snap_b.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"))
    dot = _DOT.format(a="cva", b="cvb")
    return (
        ca.join(cb, "label").join(cnt_a, "label").join(cnt_b, "label")
        .select(
            F.col("label").cast("int").alias("label"), "n_a", "n_b",
            F.expr(
                f"cast(round(CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0 "
                f"ELSE {dot} / (sqrt(na2) * sqrt(nb2)) END * 1000000) "
                f"as bigint)"
            ).alias("cos_micro"),
        )
    )


def _centroid_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def _centroid_drift_sql() -> str:
    def cells(src_pred: str, out: str) -> str:
        return f"""{out}_vecs AS (
  SELECT label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings WHERE {src_pred}
), {out}_partial AS (
  SELECT label, dim, CAST(SUM(qv[dim]) AS BIGINT) AS s
  FROM {out}_vecs CROSS JOIN dims
  GROUP BY 1, 2
), {out}_cnt AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings WHERE {src_pred} GROUP BY 1
), {out} AS (
  SELECT c.label, c.cv, {_SQL_DOT.format(a="c.cv", b="c.cv")} AS cn2, k.n
  FROM (SELECT label, list(s ORDER BY dim) AS cv
        FROM {out}_partial GROUP BY 1) c
  JOIN {out}_cnt k ON c.label = k.label
)"""

    dot_ab = _SQL_DOT.format(a="a.cv", b="b.cv")
    return f"""
WITH dims AS (
  SELECT unnest(range(1, {EMBED_DIM + 1})) AS dim
), {cells("vec_id % 2 = 0", "ca")}, {cells("vec_id % 2 = 1", "cb")}
SELECT CAST(a.label AS INT) AS label,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       CAST(round(CASE WHEN a.cn2 = 0 OR b.cn2 = 0 THEN 0.0
                       ELSE {dot_ab} / (sqrt(a.cn2) * sqrt(b.cn2)) END
                  * 1000000) AS BIGINT) AS cos_micro
FROM ca a JOIN cb b ON a.label = b.label
"""


SIMILARITY_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("embed_cosine_topk", _topk_q, _TOPK_SQL,
              "Brute-force cosine top-k (quantized exact math).", bench=True),
        Query("embed_hamming_topk", _hamming_q, _HAMMING_SQL,
              "Binary sign quantization: 64 dims pack to ONE BIGINT "
              "(256× vs float32), Hamming = bit_count(xor) per pair in "
              "pure codegen; true cosine rides along per neighbor."),
        Query("embed_split_leakage", _split_leak_q, _split_leak_sql(),
              "Semantic train/eval split-leakage audit: eval vectors "
              "with a train near-dup (cos ≥ 0.9) in their IVF cell — "
              "the embedding-space decontamination readout."),
        Query("embed_ivf_nprobe_sweep", _nprobe_sweep_q,
              _nprobe_sweep_sql(),
              "IVF nprobe tuning sweep: candidate recall@k at every "
              "probe depth 1..4 from ONE assignment pass — exact "
              "integer hits vs the brute-force truth, the probe-depth "
              "analogue of the dedup threshold sweep."),
        Query("embed_centroid_drift", _centroid_drift_q,
              _centroid_drift_sql(),
              "Per-label centroid cosine between two corpus snapshots "
              "(exact BIGINT component sums, zero-norm convention "
              "cos := 0): the embedding-space drift monitor — two "
              "map-side partial-sum passes + a label-sized join."),
        Query("dedup_semantic_threshold_sweep", _sweep_q, _sweep_sql(),
              "Cutoff tuning from ONE pair pass: survivors at every "
              "candidate cosine threshold via a per-vector max-cos "
              "reduction + conditional counters."),
        Query("embed_pq_topk", _pq_q, _pq_sql(),
              "Product-quantization ADC search: 4×16-dim codebooks "
              "(first-K seeds + one Lloyd step, exact-integer "
              "directions), corpus stored as 4 codes, query scored by "
              "table lookup."),
        Query("embed_pq_recall", _pq_recall_q, _pq_recall_sql(),
              "Recall@k of the PQ/ADC path vs brute-force ground "
              "truth — measures the quantization cost of the 16× "
              "compression per query (exact integer hit counts)."),
        Query("embed_ivfpq_topk", _ivfpq_q, _ivfpq_sql(),
              "IVF-PQ combined index (Jégou 2011): map-side cell + "
              "4-code encoding per vector, broadcast probe join on the "
              "cell key, ADC table-lookup scoring — the 100 TB search "
              "architecture (pruning × 16× compression)."),
        Query("embed_matryoshka_recall", _matryoshka_q, _MATRYOSHKA_SQL,
              "Matryoshka truncation eval (MRL, Kusupati 2022): "
              "recall@k of 16-dim-prefix cosine search vs 64-dim "
              "ground truth — what 4× cheaper dot products cost, per "
              "query."),
        Query("embed_ivfpq_recall", _ivfpq_recall_q, _ivfpq_recall_sql(),
              "Recall@k of the combined IVF-PQ stack vs brute-force "
              "ground truth — pruning loss + quantization loss "
              "measured end-to-end."),
        Query("embed_ann_lsh", _ann_q, _ann_sql(),
              "Random-hyperplane LSH bucketed ANN candidate pairs."),
        Query("embed_label_centroids", _centroids_q, _CENTROIDS_SQL,
              "Per-label centroid build (IVF coarse quantizer)."),
        Query("embed_outliers", _outliers_q, _outliers_sql(),
              "Embedding-space outlier flags: cosine of each vector to "
              "its own label centroid (exact-integer milli), negative → "
              "mislabeled/off-distribution candidate."),
        Query("embed_ivf_topk", _ivf_q, _ivf_sql(),
              "IVF search: cell assignment → nprobe=2 probing → exact "
              "rescoring inside probed cells.", bench=True),
        Query("embed_external_topk", _external_topk_q,
              _external_topk_sql(),
              "External-query ANN serving (the ivf_topk_for_queries "
              "contract): 100 md5-held-out vectors served as an "
              "arbitrary (vec_id, embedding) frame against an index "
              "built from the rest — query-side assignment against "
              "frozen centroids, probe join, exact rescoring."),
        Query("dedup_embedding_cosine", _near_dup_q, _near_dup_sql(),
              "Embedding-cosine near-dup pairs over LSH buckets."),
        Query("embed_ann_recall", _recall_q, _recall_sql(),
              "Recall@k of the LSH and IVF approximate paths vs "
              "brute-force ground truth (exact integer hit counts)."),
        Query("dedup_semantic_keep", _semantic_keep_q, _semantic_keep_sql(),
              "SemDeDup-style semantic dedup: IVF-cell clustering, "
              "within-cell cosine threshold, lowest-id representative "
              "keep-list (catches paraphrase near-dups with disjoint "
              "token sets)."),
        Query("embed_kmeans", _kmeans_q, _kmeans_sql(),
              "Deterministic Lloyd k-means (2 iterations, first-K "
              "seeding): exact-integer (sum, count) centroid table — "
              "the iterative algorithm unrolled into the oracle for "
              "full cross-engine parity."),
        Query("dedup_semantic_incremental", _semantic_incr_q,
              _semantic_incr_sql(),
              "Incremental SemDeDup probe: delta batch assigned to "
              "base-corpus cells, within-cell cosine flags vs the base "
              "index only — work scales with the batch, never "
              "base-pairwise."),
        Query("embed_quantize_int8", _quantize_q, _QUANTIZE_SQL,
              "Int8 scalar-quantization error report: exact-integer "
              "per-dim min/max coding + reconstruction error in "
              "micros."),
    ]
}
