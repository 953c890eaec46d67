"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB point):

- **Exact** dedup is a hash-groupBy — one shuffle on a 128-bit content
  hash, map-side partial agg, no skew (hashes are uniform).
- **Jaccard** never runs all-pairs: candidate pairs come from the
  MinHash LSH band buckets (bounded by the mega-bucket cap), and exact
  token-set Jaccard runs only on candidates as the verify step. All-pairs
  at 100 TB is impossible; bucket populations under length/lang blocking
  grow with the corpus, so LSH banding is the only blocking that stays
  bounded.
- **MinHash** signatures use ``min(md5(seed || shingle))`` over fixed-width
  hex strings: the lexicographic min equals the numeric min, every engine
  with md5 agrees on it, and signatures are order/partitioning-independent.
- **SimHash** packs 64 md5-derived bits into a signed BIGINT (bit 63 via
  two's complement); near-dup candidates are pairs with small Hamming
  distance (bit_count(xor)) sharing a 16-bit pigeonhole segment.

The testdata corpus has no exact duplicates, so dedup queries run over
``documents ∪ (documents with shifted doc_id)`` — every doc then has
exactly one true duplicate, which the operators must find.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_validator_github_spark.contract import Query, load

#: doc_id offset for the injected duplicate copy.
COPY_OFFSET = 1_000_000

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS


def with_copies(docs: DataFrame) -> DataFrame:
    """documents ∪ identical copy at doc_id + COPY_OFFSET.

    If the parquet scan yielded fewer splits than cores (small files),
    repartition so the CPU-bound hashing stages use the whole machine.
    At real scale the scan already produces enough splits and this is a
    no-op — an unconditional repartition would be a harmful full shuffle.
    """
    base = docs.select("doc_id", "text", "lang")
    copy = docs.select(
        (F.col("doc_id") + F.lit(COPY_OFFSET)).alias("doc_id"), "text", "lang"
    )
    out = base.unionAll(copy)
    parallelism = out.sparkSession.sparkContext.defaultParallelism
    if out.rdd.getNumPartitions() < parallelism:
        out = out.repartition(parallelism)
    return out


_COPIES_SQL = f"""
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET}, text, lang FROM documents
"""

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy, keep the min doc_id per content hash.
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(with_copies(load(spark, sf_dir, "documents")))


_EXACT_SQL = f"""
WITH all_docs AS ({_COPIES_SQL})
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM all_docs
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# N-gram (token-set) Jaccard near-dup: LSH candidates → exact verify.
# Candidate pairs come from the MinHash band buckets (below), so the
# quadratic pair expansion is bounded by bucket sizes regardless of
# corpus growth; exact token-set Jaccard then runs ONLY on candidates
# as the verify step. (The previous (lang, length-bucket) blocking
# self-join grew bucket populations linearly with the corpus — an
# O(corpus²/buckets) scale-killer at 100 TB.) Jaccard is computed from
# exact integer intersection/union sizes → the double ratio is a single
# IEEE division, identical across engines.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.96


def _jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs (shared ≥1 LSH band) whose exact token-set
    Jaccard clears ``threshold``.

    Shape at scale: the candidate set is |pairs from bounded buckets|;
    joining it back to the token sets is two equi-joins on doc_id — a
    uniform key, one shuffle each, never an all-pairs or length-bucket
    self-join. Docs under 3 tokens have no shingles, so they cannot be
    candidates (they were equally invisible to the old length blocking
    at any realistic threshold). Declared as one dataflow, the corpus
    is scanned for the signature pipeline and once per token-set join;
    at the 100 TB point persist the (doc_id, ts) projection first so
    the text is tokenized once — same note as the MinHash fingerprint
    table in SCALE.md.
    """
    cands = minhash_candidate_pairs(docs).select("d1", "d2")
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    pairs = (
        cands.join(toks.select(F.col("doc_id").alias("d1"),
                               F.col("ts").alias("ts1")), "d1")
        .join(toks.select(F.col("doc_id").alias("d2"),
                          F.col("ts").alias("ts2")), "d2")
    )
    inter = F.size(F.array_intersect("ts1", "ts2"))
    union = F.size(F.array_union("ts1", "ts2"))
    return (
        pairs.select(
            "d1",
            "d2",
            inter.alias("n_common"),
            union.alias("n_union"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _dedup_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(with_copies(load(spark, sf_dir, "documents")),
                          JACCARD_THRESHOLD)


def _jaccard_sql() -> str:
    # _minhash_sql is defined below; this function is only invoked at
    # catalog-registration time (module bottom), after it exists.
    return f"""
WITH cand AS ({_minhash_sql()}),
all_docs AS ({_COPIES_SQL}),
tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
  FROM all_docs
)
SELECT c.d1, c.d2,
       CAST(len(list_intersect(a.ts, b.ts)) AS INT) AS n_common,
       CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT) AS n_union,
       CAST(len(list_intersect(a.ts, b.ts)) AS INT)
         / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT) AS jaccard
FROM cand c
JOIN tok a ON a.doc_id = c.d1
JOIN tok b ON b.doc_id = c.d2
WHERE CAST(len(list_intersect(a.ts, b.ts)) AS INT)
        / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT) >= {JACCARD_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# MinHash + LSH banding: shingle → 16 minhash signatures → 4 bands of 4 →
# candidate pairs share a band bucket. The scale path: no all-pairs work,
# one shuffle on band keys.
# ---------------------------------------------------------------------------


def _shingles() -> Column:
    """3-token shingles as strings (guarded for docs < 3 tokens)."""
    return F.expr(
        "CASE WHEN size(__toks) >= 3 THEN "
        "transform(sequence(1, size(__toks) - 2), "
        "          i -> concat_ws(' ', slice(__toks, i, 3))) "
        "ELSE array() END"
    )


def windowed_shingles(toked: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, shingle): every k-token window of ``__toks``, with
    1-based start position — entirely inside whole-stage codegen.

    The straightforward form — ``transform(sequence(...), i ->
    concat_ws(' ', slice(__toks, i, k)))`` then ``explode`` — builds
    every shingle string inside a higher-order-function lambda, and HOF
    lambda bodies evaluate INTERPRETED (one boxed evaluator call per
    window; the same trap the Bloom hash path documented). This form
    explodes only the integer positions and assembles the string in a
    post-explode projection (``element_at`` per offset), so sequence →
    explode → concat_ws → any downstream md5 all stay in one codegen
    stage. Identical output values — callers' hashes and oracles are
    untouched; at 134M windows (1M synthetic docs) it cut the Bloom
    probe and span-dedup wall-clock by ~2× (tools/measure_1m.py).

    ``sequence(1, stop)`` DESCENDS when stop < 1, so short docs must
    take the empty-array branch, not a reversed sequence. ``pos + i``
    never exceeds ``size(__toks)``, so ``element_at`` is safe under
    ANSI semantics.
    """
    seq = (
        F.when(
            F.size("__toks") >= k,
            F.expr(f"sequence(1, size(__toks) - {k - 1})"),
        )
        .otherwise(F.expr("cast(array() as array<int>)"))
    )
    parts = ", ".join(f"element_at(__toks, pos + {i})" for i in range(k))
    return (
        toked.select("doc_id", "__toks", F.explode(seq).alias("pos"))
        .select("doc_id", "pos",
                F.expr(f"concat_ws(' ', {parts})").alias("shingle"))
    )


#: Affine-permutation minhash: ONE md5 per shingle (15 hex chars → 60-bit
#: int, reduced mod P), then n cheap ``(a*h + b) mod P`` permutations —
#: 16× fewer hash computations than hashing per-seed, which cut the
#: sf0.1 bench time of this operator from 11.5s to ~1s. a < 2^28 and
#: h < 2^31 keep a*h under 2^59, so the math never overflows signed
#: 64-bit in any engine (DuckDB errors on BIGINT overflow).
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _minhash_ab(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) | 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """doc_id + sig_0..sig_{n-1} BIGINT minhash columns over 3-token
    shingles.

    Physical shape: explode shingles → one codegen projection computing
    the base hash → hash-aggregate ``min((a_i*h + b_i) % P)`` per doc.
    Array higher-order functions (``transform``/``array_min``) evaluate
    interpreted per element in Spark; the explode + min-agg form keeps
    the whole stage in codegen and gets map-side partial aggregation for
    free (measured ~3× faster at sf0.1, and the agg shuffles only one
    row per doc regardless of document length — the 100 TB shape).
    Docs with < 3 tokens have no shingles and drop out via explode,
    matching the previous ``filter(size > 0)`` semantics.
    """
    hashed = (
        windowed_shingles(
            docs.select("doc_id", F.split("text", " ").alias("__toks")), 3)
        .withColumn(
            "__h",
            F.expr(
                f"cast(conv(substring(md5(shingle), 1, 15), 16, 10) as "
                f"bigint) % {MINHASH_P}L"
            ),
        )
    )

    def sig(i: int):
        a, b = _minhash_ab(i)
        return F.min(
            (F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)
        ).alias(f"sig_{i}")

    return hashed.groupBy("doc_id").agg(*[sig(i) for i in range(n_hashes)])


def lsh_band_buckets(sig_df: DataFrame, n_bands: int = N_BANDS,
                     rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """Explode signatures into (doc_id, band, band_key) bucket rows."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"sig_{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ])).alias("band_key"),
        )
        for b in range(n_bands)
    ])
    return (
        sig_df.select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"))
    )


#: Mega-bucket guard: buckets beyond this size are dropped before pair
#: expansion. A bucket this large is boilerplate/near-constant text, not
#: a meaningful near-dup cluster, and expanding it is O(size²) — the one
#: quadratic failure mode of LSH banding. 10⁴ members ≈ 5·10⁷ pairs per
#: bucket, the practical ceiling per reducer at the 100 TB design point.
MAX_BUCKET_SIZE = 10_000


def minhash_candidate_pairs(
    docs: DataFrame, max_bucket_size: int | None = MAX_BUCKET_SIZE
) -> DataFrame:
    """Distinct candidate near-dup pairs with shared-band counts.

    Pair generation groups bucket members per (band, band_key) and
    expands in-bucket combinations with an array transform — NOT a
    bucket-key self-join. A self-join plans each side independently, so
    the whole signature pipeline (shingle → md5 → min-agg, the dominant
    cost) would execute twice; the groupBy form runs it exactly once in
    a single dataflow and shuffles once on the band key instead of
    twice. The combination expansion is a per-bucket HOF (interpreted,
    outside codegen), but buckets are tiny next to the hashing stage.
    Quadratic blowup inside a degenerate mega-bucket is inherent to LSH
    banding regardless of pair-generation shape, so buckets beyond
    ``max_bucket_size`` are dropped before expansion (``None`` disables
    the guard); the size filter rides the same aggregate — no extra
    shuffle.
    """
    buckets = lsh_band_buckets(minhash_signatures(docs))
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else None
    size_ok = F.size("ids") >= 2
    if cap is not None:
        size_ok = size_ok & (F.size("ids") <= cap)
    grouped = (
        buckets.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(size_ok)
    )
    # ids is sorted, so pairing each element with its successors yields
    # every pair once with d1 < d2.
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS d1, y AS d2))))"
            )
        ).alias("p")
    ).select("p.d1", "p.d2")
    return pairs.groupBy("d1", "d2").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def _dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(with_copies(load(spark, sf_dir, "documents")))


def minhash_band_stats(
    docs: DataFrame, max_bucket_size: int = MAX_BUCKET_SIZE
) -> DataFrame:
    """Per-band LSH health readout: (band, n_buckets, n_docs, max_pop,
    n_cand_pairs, n_capped_buckets) — the report a pipeline owner reads
    BEFORE trusting banded dedup at scale. ``n_cand_pairs`` is the
    Σ n·(n−1)/2 pair expansion each band would ACTUALLY emit through
    ``minhash_candidate_pairs``: buckets above MAX_BUCKET_SIZE are
    dropped there before expansion, so they are excluded from the sum
    here too (they surface via n_capped_buckets/max_pop instead — a
    band whose max_pop rides the ceiling is boilerplate-dominated).
    Cost: the signature agg the pair join already pays + one
    band-keyed rollup — never the pair expansion itself."""
    sizes = (
        lsh_band_buckets(minhash_signatures(docs))
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_docs"),
        F.max("n").cast("long").alias("max_pop"),
        F.sum(F.expr(
            f"CASE WHEN n > {max_bucket_size} THEN 0L "
            "ELSE (n * (n - 1)) div 2 END"
        )).cast("long").alias("n_cand_pairs"),
        F.sum((F.col("n") > max_bucket_size).cast("long")).cast("long")
        .alias("n_capped_buckets"),
    ).select(
        F.col("band").cast("int").alias("band"),
        "n_buckets", "n_docs", "max_pop", "n_cand_pairs",
        "n_capped_buckets",
    )


def _band_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_band_stats(with_copies(load(spark, sf_dir, "documents")))


def _band_stats_sql() -> str:
    return f"""
WITH all_docs AS ({_COPIES_SQL}),
{_minhash_buckets_cte('all_docs')}
SELECT CAST(band AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(MAX(n) AS BIGINT) AS max_pop,
       CAST(SUM(CASE WHEN n > {MAX_BUCKET_SIZE} THEN 0
                ELSE (n * (n - 1)) // 2 END) AS BIGINT) AS n_cand_pairs,
       CAST(SUM(CASE WHEN n > {MAX_BUCKET_SIZE} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped_buckets
FROM bucket_sizes
GROUP BY 1
"""


def _minhash_sql(max_bucket_size: int | None = MAX_BUCKET_SIZE) -> str:
    """DuckDB oracle for ``minhash_candidate_pairs`` over the standard
    with_copies corpus; see ``_minhash_sql_for`` for an arbitrary
    source relation."""
    return (
        f"WITH all_docs AS ({_COPIES_SQL})\n"
        f"SELECT * FROM ({_minhash_sql_for('all_docs', max_bucket_size)}) mh"
    )


def _minhash_buckets_cte(source: str) -> str:
    """The shared CTE chain ``tok → sh → hs → sigs → buckets →
    bucket_sizes`` over an arbitrary source relation — the SQL mirror
    of ``minhash_signatures`` + ``lsh_band_buckets``, reused by the
    candidate-pair oracle and the band-health oracle."""
    sig_exprs = ",\n         ".join(
        "list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {p}), 'min') AS sig_{i}".format(
            a=_minhash_ab(i)[0], b=_minhash_ab(i)[1], p=MINHASH_P, i=i
        )
        for i in range(N_MINHASH)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, %d AS band, md5(concat_ws('|', %s)) AS band_key FROM sigs"
        % (b, ", ".join(f"CAST(sig_{b * ROWS_PER_BAND + r} AS VARCHAR)"
                        for r in range(ROWS_PER_BAND)))
        for b in range(N_BANDS)
    )
    return f"""tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM {source}
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' '))
         ELSE [] END AS sh
  FROM tok
),
hs AS (
  SELECT doc_id,
         list_transform(sh, s ->
           CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % {MINHASH_P}) AS hs
  FROM sh WHERE len(sh) > 0
),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hs
),
buckets AS (
{band_rows}
),
bucket_sizes AS (
  SELECT band, band_key, COUNT(*) AS n FROM buckets GROUP BY 1, 2
)"""


def _minhash_sql_for(source: str,
                     max_bucket_size: int | None = MAX_BUCKET_SIZE) -> str:
    """Band-candidate SQL parameterized by the source relation; the
    bucket cap is generated from the same parameter as the Python
    function so a non-default call site can build a matching oracle
    (``None`` disables the guard)."""
    cap_pred = (
        f"AND s.n <= {max_bucket_size}" if max_bucket_size is not None else ""
    )
    return f"""
WITH {_minhash_buckets_cte(source)}
SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_bands
FROM buckets a
JOIN buckets b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
JOIN bucket_sizes s
  ON a.band = s.band AND a.band_key = s.band_key
     {cap_pred}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# SimHash: 64 bits from two md5(token) 32-bit halves, weighted by
# occurrence; near-dups = small Hamming distance within a lang block.
# 64 bits matter for the BLOCKING, not just the fingerprint quality:
# with max_hamming=3 the pigeonhole split is 4 segments, and 16-bit
# segments give 65,536 bucket values per (lang, segment) — a 32-bit
# fingerprint's 8-bit segments (256 values) would make bucket
# populations grow linearly with the corpus.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
HAMMING_THRESHOLD = 3

#: Bit 63 in two's complement: setting the top bit of a signed BIGINT
#: means adding -(2^63), on both engines.
_TOP_BIT = -(1 << 63)


def simhash(docs: DataFrame) -> DataFrame:
    """doc_id, lang, simhash BIGINT from token md5 bit votes.

    The 64 hash bits come from two 32-bit md5 prefix halves (hex chars
    1-8 → bits 0-31, chars 9-16 → bits 32-63): each half fits a signed
    BIGINT in every engine, avoiding the unsigned-64 overflow a single
    16-hex-char parse would hit. Bit 63 packs as -(2^63) — the two's
    complement top bit — so the packed sum stays in signed-64 range.
    """
    tok = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .withColumn("__m", F.md5("tok"))
        .withColumn("h_lo", F.conv(F.substring("__m", 1, 8), 16, 10).cast("long"))
        .withColumn("h_hi", F.conv(F.substring("__m", 9, 8), 16, 10).cast("long"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("h_lo") if j < 32 else F.col("h_hi"), j % 32
                ).bitwiseAND(1)
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"c{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id", "lang").agg(*votes)
    packed = None
    for j in range(SIMHASH_BITS):
        val = _TOP_BIT if j == 63 else (1 << j)
        bit = F.when(F.col(f"c{j}") > 0, F.lit(val)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select("doc_id", "lang", packed.cast("long").alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = HAMMING_THRESHOLD) -> DataFrame:
    """Near-dup pairs with Hamming distance <= ``max_hamming``.

    Candidate generation uses pigeonhole segment blocking, not
    all-pairs: the 64-bit fingerprint splits into ``max_hamming + 1``
    segments (16 bits each at the default threshold → 65,536 bucket
    values per lang, keeping buckets bounded as the corpus grows), and
    any pair within the threshold must agree on at least one whole
    segment — so an equi-join on (lang, segment_index, segment_value)
    finds every qualifying pair while only comparing within segment
    buckets (the same bucket-key shuffle shape as the MinHash band
    join). The result set is exactly the all-pairs + filter answer;
    only the candidate set shrinks.
    """
    n_seg = max_hamming + 1
    seg_bits = SIMHASH_BITS // n_seg
    mask = (1 << seg_bits) - 1
    # Barrier the fingerprint table (lazy — materializes inside the
    # timed run): the segment self-join consumes it on BOTH sides, so
    # without it the whole tokenize→explode→md5→64-vote aggregation —
    # the operator's dominant cost — plans and executes twice (guide
    # §2.4). The checkpoint holds 3 narrow columns per doc (independent
    # of text length), the same per-doc-row trade the IVF assignment
    # barrier makes. Warm ~2.9 → ~2.4 s at sf0.01, first run 8.1 → 3.5;
    # pair set identical.
    sh = simhash(docs).localCheckpoint(eager=False)
    segs = F.array(*[
        F.struct(
            F.lit(s).alias("seg"),
            F.shiftright(F.col("simhash"), s * seg_bits)
            .bitwiseAND(mask).alias("seg_val"),
        )
        for s in range(n_seg)
    ])
    blocked = sh.select(
        "doc_id", "lang", "simhash", F.explode(segs).alias("b")
    ).select("doc_id", "lang", "simhash",
             F.col("b.seg").alias("seg"), F.col("b.seg_val").alias("seg_val"))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(with_copies(load(spark, sf_dir, "documents")))


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        "SUM(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS c{j}".format(
            h="h_lo" if j < 32 else "h_hi", b=j % 32, j=j
        )
        for j in range(SIMHASH_BITS)
    )
    # Bit 63 = -(2^63): the two's complement top bit of a signed BIGINT.
    packed = " + ".join(
        "(CASE WHEN c{j} > 0 THEN {v} ELSE 0 END)".format(
            j=j, v="(-9223372036854775807 - 1)" if j == 63 else (1 << j)
        )
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH all_docs AS ({_COPIES_SQL}),
tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM all_docs
),
hashed AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS h_lo,
         CAST(concat('0x', substring(md5(tok), 9, 8)) AS BIGINT) AS h_hi
  FROM tok
),
votes AS (
  SELECT doc_id, lang,
         {votes}
  FROM hashed GROUP BY 1, 2
),
packed AS (
  SELECT doc_id, lang, CAST({packed} AS BIGINT) AS simhash FROM votes
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM packed a JOIN packed b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Composed cleaning pipeline: the shape of a real training-data corpus
# pass — quality filter + exact-dup removal (keep the min doc_id), in one
# dataflow. Semi-join against the keep-list, never a collect.
# ---------------------------------------------------------------------------


def clean_corpus(docs: DataFrame) -> DataFrame:
    """Kept documents: exact-dedup canonical copies that pass quality.

    Single-pass shape (r13): the old two-branch form (quality filter ⋉
    keep-list semi-join) consumed ``docs`` twice, so Catalyst planned
    the scan + parallelism repartition TWICE — two full passes over the
    text payload at any scale. Because every copy in an exact-dup group
    shares the text byte-for-byte, the per-doc quality stats are
    constant within a group, so one groupBy(md5(text)) carrying
    (min doc_id, its lang, the shared stats) is value-identical to
    "canonical copy that passes quality" — one scan, and the shuffle
    carries ~50 bytes/doc of stats instead of the text (guide §2.3/§2.4;
    oracle parity pins the equivalence).
    """
    toks = F.split("text", " ")
    stats = docs.select(
        F.md5("text").alias("h"), "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        (F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "in", "to")))
         / F.size(toks)).alias("stop_ratio"),
    )
    # min(struct(doc_id, lang)): doc_id is unique, so the struct order
    # is total and the min carries the canonical copy's lang along.
    # This aggregate plans as SortAggregate (string-bearing buffers are
    # not hash-mutable — min_by, min(string) and min(struct) all demote
    # the same way), which is still the right trade: the sort runs on
    # ~50-byte stat rows with map-side partial aggregation and spills
    # gracefully, and it buys back a whole scan+repartition of the text
    # payload vs the two-branch form.
    canon = stats.groupBy("h").agg(
        F.min(F.struct("doc_id", "lang")).alias("c"),
        # n_tokens / stop_ratio are functions of the (identical) text:
        # min == the canonical copy's value.
        F.min("n_tokens").alias("n_tokens"),
        F.min("stop_ratio").alias("stop_ratio"),
    )
    return canon.filter(
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000)
        & (F.col("stop_ratio") < 0.5)
    ).select(F.col("c.doc_id").alias("doc_id"),
             F.col("c.lang").alias("lang"), "n_tokens")


def _clean_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_corpus(with_copies(load(spark, sf_dir, "documents")))


_CLEAN_SQL = f"""
WITH all_docs AS ({_COPIES_SQL}),
stats AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a', 'of', 'and', 'in', 'to')))
           / CAST(len(string_split(text, ' ')) AS INT) AS stop_ratio
  FROM all_docs
),
keep AS (
  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)
)
SELECT doc_id, lang, n_tokens
FROM stats
WHERE n_tokens >= 20 AND n_tokens <= 1000 AND stop_ratio < 0.5
  AND EXISTS (SELECT 1 FROM keep WHERE keep.doc_id = stats.doc_id)
"""


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over candidate pairs via
# min-label propagation. Near-dup pairs only say "A≈B"; deduplication
# needs the transitive closure (A≈B≈C → one cluster, keep one doc). The
# iteration is the standard Spark fixpoint pattern: labels start as the
# vertex id, each round every vertex takes the min label in its
# neighborhood, stop when a round changes nothing. Dup clusters have
# tiny diameter (near-dups of near-dups), so rounds ≈ 2-4; each round is
# one join + one aggregation, and the converged fixpoint is unique —
# which is what makes it oracle-checkable despite being iterative.
# ---------------------------------------------------------------------------

#: Safety valve only — min-label propagation converges within the
#: largest component's diameter, and the loop runs UNTIL convergence.
#: Hitting this cap raises rather than silently returning partial labels
#: (which would hash-mismatch the recursive-CTE oracle's true closure).
MAX_CC_ROUNDS = 64


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """(d1, d2) candidate pairs → (doc_id, cluster_id = min doc in its
    connected component).

    The per-round convergence check is a driver-side ``count()`` — the
    standard iterative-algorithm pattern (GraphX/MLlib do the same);
    the DATA never visits the driver. Each round's labels are eagerly
    localCheckpointed: it truncates the exponentially-growing lineage
    AND avoids recomputing the previous round inside the join.
    """
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .unionAll(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("v")).distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for round_no in range(1, MAX_CC_ROUNDS + 1):
        neighbor_min = (
            edges.join(labels, edges.src == labels.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.v == F.col("v2"), "left_outer")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge within {MAX_CC_ROUNDS} "
            "rounds — component diameter exceeds the safety cap; raise "
            "MAX_CC_ROUNDS (partial labels would be silently wrong)"
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def _dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_copies(load(spark, sf_dir, "documents"))
    return duplicate_clusters(minhash_candidate_pairs(docs))


def _clusters_sql() -> str:
    # Transitive closure by recursive CTE (UNION dedups, so it
    # terminates), then min reachable vertex = cluster id.
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
sym AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION
  SELECT d2, d1 FROM pairs
),
reach(v, u) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
)
SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Chunk-level (C4 "line-level") global dedup: hash fixed 20-token chunks
# of every document, count each chunk hash corpus-wide, and report the
# fraction of each document made of passages that occur more than once
# anywhere in the corpus. Two shuffles, both on uniform hash/id keys:
# (1) hash-agg on chunk_hash (map-side combine — shuffle volume is
# distinct hashes, not chunk occurrences), (2) the per-doc rollup.
# Joining occurrences back to the global counts plans as a broadcast of
# the (much smaller) aggregated side at test scale; the chunk pipeline
# itself is referenced by both join inputs and, being pure map work
# (split + md5), recomputing it is cheaper than a barrier here — at
# 100 TB persist the few-bytes/chunk (doc_id, chunk_hash) table first,
# exactly like the MinHash fingerprint note below.
# ---------------------------------------------------------------------------

DEDUP_CHUNK_TOKENS = 20
#: Keep a doc iff at most this fraction of its chunks is corpus-repeated.
DEDUP_CHUNK_MAX_SHARED = 0.5


def chunk_dedup_stats(docs: DataFrame,
                      chunk_tokens: int = DEDUP_CHUNK_TOKENS) -> DataFrame:
    from etl_validator_github_spark.scale.text import chunk_documents

    chunks = chunk_documents(docs, chunk_tokens).select("doc_id", "chunk_hash")
    counts = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("global_count")
    )
    per_doc = (
        chunks.join(counts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum((F.col("global_count") > 1).cast("int")).cast("int")
            .alias("n_shared_chunks"),
        )
    )
    shared_ratio = F.col("n_shared_chunks") / F.col("n_chunks")
    return per_doc.select(
        "doc_id", "n_chunks", "n_shared_chunks",
        shared_ratio.alias("shared_ratio"),
        (shared_ratio <= DEDUP_CHUNK_MAX_SHARED).cast("int")
        .alias("chunk_keep"),
    )


def _chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_dedup_stats(load(spark, sf_dir, "documents"))


_CHUNK_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {DEDUP_CHUNK_TOKENS}.0) AS INT)),
           i -> md5(array_to_string(list_slice(toks,
                      i * {DEDUP_CHUNK_TOKENS} + 1,
                      i * {DEDUP_CHUNK_TOKENS} + {DEDUP_CHUNK_TOKENS}), ' '))))
           AS chunk_hash
  FROM tok
), gc AS (
  SELECT chunk_hash, COUNT(*) AS global_count FROM ch GROUP BY 1
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_chunks,
         CAST(SUM(CASE WHEN global_count > 1 THEN 1 ELSE 0 END) AS INT)
           AS n_shared_chunks
  FROM ch JOIN gc USING (chunk_hash)
  GROUP BY 1
)
SELECT doc_id, n_chunks, n_shared_chunks,
       n_shared_chunks / n_chunks AS shared_ratio,
       CAST(n_shared_chunks / n_chunks <= {DEDUP_CHUNK_MAX_SHARED} AS INT)
         AS chunk_keep
FROM per_doc
"""

# ---------------------------------------------------------------------------
# Benchmark decontamination: the standard pre-training hygiene pass —
# find corpus documents sharing word n-grams with a held-out benchmark
# set (here a deterministic doc_id-keyed slice standing in for an eval
# suite). The benchmark shingle set is tiny relative to the corpus, so
# it is broadcast: the corpus side streams map-only through the hash
# join, and only the (rare) hits shuffle into the per-doc rollup. This
# is the shape that survives 100 TB — the corpus is never shuffled on
# shingles.
# ---------------------------------------------------------------------------

DECON_BENCH_MOD = 23
DECON_SHINGLE = 5

_SHINGLES_EXPR = (
    f"transform(sequence(1, size(__toks) - {DECON_SHINGLE - 1}), "
    f"          i -> concat_ws(' ', slice(__toks, i, {DECON_SHINGLE})))"
)


def _doc_shingles(docs: DataFrame) -> DataFrame:
    return (
        docs.select("doc_id", F.split("text", " ").alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(F.size("__toks") >= DECON_SHINGLE,
                       F.expr(_SHINGLES_EXPR))
                .otherwise(F.array().cast("array<string>"))
            ).alias("shingle"),
        )
    )


def decontaminate(docs: DataFrame,
                  bench_mod: int = DECON_BENCH_MOD) -> DataFrame:
    shingles = _doc_shingles(docs)
    bench = (
        shingles.filter(F.col("doc_id") % bench_mod == 0)
        .select("shingle").distinct()
    )
    corpus = shingles.filter(F.col("doc_id") % bench_mod != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").cast("int")
            .alias("n_overlap_shingles"),
            F.count(F.lit(1)).cast("int").alias("n_overlap_occurrences"),
        )
    )


def _decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(load(spark, sf_dir, "documents"))


_DECON_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {DECON_SHINGLE - 2}),
                i -> array_to_string(list_slice(toks, i,
                       i + {DECON_SHINGLE - 1}), ' '))) AS shingle
  FROM tok
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
)
SELECT doc_id,
       CAST(COUNT(DISTINCT shingle) AS INT) AS n_overlap_shingles,
       CAST(COUNT(*) AS INT) AS n_overlap_occurrences
FROM (SELECT * FROM sh WHERE doc_id % {DECON_BENCH_MOD} != 0)
JOIN bench USING (shingle)
GROUP BY 1
"""


DEDUP_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("dedup_exact", _dedup_exact_q, _EXACT_SQL,
              "Exact dedup via content-hash groupBy (keep min doc_id).",
              bench=True),
        Query("dedup_ngram_jaccard", _dedup_jaccard_q, _jaccard_sql(),
              "Token-set Jaccard near-dup pairs: LSH band candidates → "
              "exact-Jaccard verify (exact int ratio)."),
        Query("dedup_minhash_lsh", _dedup_minhash_q, _minhash_sql(),
              "MinHash signatures + LSH banding candidate pairs.", bench=True),
        Query("dedup_simhash", _dedup_simhash_q, _simhash_sql(),
              "SimHash bit-vote fingerprints + Hamming-distance pairs."),
        Query("corpus_clean", _clean_corpus_q, _CLEAN_SQL,
              "Composed pipeline: quality filter + exact-dedup keep-list "
              "semi-join.", bench=True),
        Query("dedup_clusters", _dedup_clusters_q, _clusters_sql(),
              "Connected components over near-dup pairs via iterative "
              "min-label propagation (oracle: recursive CTE closure)."),
        Query("dedup_chunk_global", _chunk_dedup_q, _CHUNK_DEDUP_SQL,
              "C4-style chunk-level dedup: per-doc fraction of 20-token "
              "passages repeated anywhere in the corpus."),
        Query("decontaminate", _decontaminate_q, _DECON_SQL,
              "Benchmark decontamination: 5-gram shingle overlap vs a "
              "broadcast held-out set."),
    ]
}


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW BATCH of documents joined against the
# EXISTING CORPUS's dedup index instead of re-deduplicating everything.
# This is the shape a production pipeline runs daily at 100 TB: the
# corpus's content hashes and LSH band keys are a precomputed index
# (here derived on the fly from the corpus split); the delta batch —
# orders of magnitude smaller — probes it with two semi-joins. Work
# scales with |batch| + |index|, never |corpus|² and never a re-scan
# of corpus text.
# ---------------------------------------------------------------------------

#: Deterministic batch split: every 7th doc (offset 3) plays the role
#: of the newly arrived delta; the rest are the already-ingested corpus.
_BATCH_MOD, _BATCH_REM = 7, 3


def build_dedup_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(exact content hashes, distinct LSH band keys) of a corpus — the
    precomputed index a delta batch probes. At 100 TB this pair is a
    few bytes per document, persisted once and appended per ingest."""
    hashes = corpus.select(F.md5("text").alias("h")).distinct()
    bands = (
        lsh_band_buckets(minhash_signatures(corpus))
        .select("band", "band_key")
        .distinct()
    )
    return hashes, bands


def probe_dedup_index(
    batch: DataFrame, corpus_hashes: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """(doc_id, is_exact_dup, n_corpus_band_hits) per batch doc.

    Two semi-joins against the index — work scales with
    |batch| + |index|, and the corpus text is never re-scanned.
    """
    b_hash = batch.select("doc_id", F.md5("text").alias("h"))
    exact_ids = b_hash.join(corpus_hashes, "h", "left_semi").select("doc_id")
    b_bands = lsh_band_buckets(minhash_signatures(batch))
    hits = (
        b_bands.join(corpus_bands, ["band", "band_key"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_corpus_band_hits"))
    )
    return (
        batch.select("doc_id")
        .join(exact_ids.withColumn("e", F.lit(1)), "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("e"), F.lit(0)).alias("is_exact_dup"),
            F.coalesce(F.col("n_corpus_band_hits"), F.lit(0)).cast("long")
            .alias("n_corpus_band_hits"),
        )
    )


def incremental_dedup(docs: DataFrame) -> DataFrame:
    """Per new-batch doc: exact-dup flag + count of corpus band hits.

    ``is_exact_dup`` — the batch doc's content md5 exists in the corpus.
    ``n_corpus_band_hits`` — how many of its LSH band keys collide with
    any corpus doc's band key (0 = genuinely novel; >0 = near-dup
    suspect to route to full verification).

    Odd-id batch docs get a deterministic suffix appended so the delta
    contains all three interesting classes — exact dups, near-dup
    suspects (suffix keeps most shingles shared), and novels — instead
    of only re-sends.
    """
    is_batch = F.pmod("doc_id", F.lit(_BATCH_MOD)) == F.lit(_BATCH_REM)
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch).withColumn(
        "text",
        F.when(
            F.pmod("doc_id", F.lit(2)) == 1,
            F.concat(F.col("text"), F.lit(" novel variant "),
                     F.col("doc_id").cast("string")),
        ).otherwise(F.col("text")),
    )

    c_hash, c_bands = build_dedup_index(corpus)
    return probe_dedup_index(batch, c_hash, c_bands)


def _incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_validator_github_spark.contract import load

    return incremental_dedup(with_copies(load(spark, sf_dir, "documents")))


def _incremental_sql() -> str:
    sig_exprs = ",\n         ".join(
        "list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {p}), 'min') AS sig_{i}".format(
            a=_minhash_ab(i)[0], b=_minhash_ab(i)[1], p=MINHASH_P, i=i
        )
        for i in range(N_MINHASH)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, %d AS band, md5(concat_ws('|', %s)) AS band_key FROM sigs"
        % (b, ", ".join(f"CAST(sig_{b * ROWS_PER_BAND + r} AS VARCHAR)"
                        for r in range(ROWS_PER_BAND)))
        for b in range(N_BANDS)
    )
    return f"""
WITH all_docs AS ({_COPIES_SQL}),
roled AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_BATCH_MOD} = {_BATCH_REM} AND doc_id % 2 = 1
              THEN text || ' novel variant ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text,
         doc_id % {_BATCH_MOD} = {_BATCH_REM} AS is_batch
  FROM all_docs
),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM roled
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(list_slice(toks, i, i + 2), ' '))
         ELSE [] END AS sh
  FROM tok
),
hs AS (
  SELECT doc_id,
         list_transform(sh, s ->
           CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % {MINHASH_P}) AS hs
  FROM sh WHERE len(sh) > 0
),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hs
),
buckets AS (
{band_rows}
),
corpus_hash AS (
  SELECT DISTINCT md5(text) AS h FROM roled WHERE NOT is_batch
),
corpus_bands AS (
  SELECT DISTINCT band, band_key
  FROM buckets JOIN roled USING (doc_id)
  WHERE NOT is_batch
),
hits AS (
  SELECT b.doc_id, COUNT(*) AS n
  FROM buckets b JOIN roled r USING (doc_id)
  WHERE r.is_batch
    AND EXISTS (SELECT 1 FROM corpus_bands c
                WHERE c.band = b.band AND c.band_key = b.band_key)
  GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN md5(d.text) IN (SELECT h FROM corpus_hash)
            THEN 1 ELSE 0 END AS is_exact_dup,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_corpus_band_hits
FROM roled d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.is_batch
"""


# ---------------------------------------------------------------------------
# End-to-end fuzzy dedup pass — the composed operator a corpus-cleaning
# job actually ships: LSH band candidates → exact-Jaccard verify →
# connected components over verified pairs → keep the min doc_id per
# cluster. Every stage is the scale-safe variant proven above; the final
# keep-list join is a left join of the (tiny: only docs with a verified
# near-dup) cluster table against the corpus ids — broadcast-able at any
# corpus size because cluster membership, not corpus size, bounds it.
# ---------------------------------------------------------------------------


def fuzzy_dedup_keep(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, keep) for the whole corpus.

    ``cluster_id`` is the min doc_id of the doc's verified near-dup
    component (its own id if it has none); ``keep`` marks the one
    canonical survivor per cluster. Filtering ``keep = 1`` IS the
    deduplicated corpus — the composition of minhash_candidate_pairs,
    _jaccard_pairs, and duplicate_clusters in one dataflow.
    """
    pairs = _jaccard_pairs(docs, JACCARD_THRESHOLD).select("d1", "d2")
    clusters = duplicate_clusters(pairs)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "keep", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
    )


def _fuzzy_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_dedup_keep(with_copies(load(spark, sf_dir, "documents")))


def _fuzzy_keep_sql() -> str:
    return f"""
WITH RECURSIVE jp AS ({_jaccard_sql()}),
sym AS (
  SELECT d1 AS src, d2 AS dst FROM jp
  UNION
  SELECT d2, d1 FROM jp
),
reach(v, u) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
),
clusters AS (
  SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY 1
),
all_docs AS ({_COPIES_SQL})
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS INT) AS keep
FROM all_docs d LEFT JOIN clusters c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# LSH banding quality evaluation — the query a pipeline owner runs
# before trusting the (n_hashes, n_bands) parameters at scale: candidate
# recall of the band buckets against the TRUE thresholded-Jaccard pairs
# on a bounded eval slice. Ground truth needs all-pairs exact Jaccard,
# so it runs on a deterministic doc_id-bounded subset (all-pairs over
# the full corpus is exactly what LSH exists to avoid); the candidate
# side is the production banding pipeline restricted to the same slice.
# Hits are exact integer set intersections — oracle-checkable.
# ---------------------------------------------------------------------------

#: Eval slice bound and the truth threshold. Truth is SHINGLE-set
#: Jaccard — the similarity MinHash actually approximates — at 0.95,
#: inside the band scheme's design range (theory: P(candidate) =
#: 1-(1-s^4)^4 ≈ 0.999 at s=0.95), so the expected recall is ~1000‰ and
#: a banding regression craters it. Token-SET Jaccard truth would be
#: the wrong yardstick: docs can share 95% of their vocabulary with
#: completely different token order, which sequence-shingle banding
#: deliberately does not treat as near-duplicate.
LSH_EVAL_MAX_ID = 100
LSH_EVAL_THRESHOLD = 0.95
#: Hard ceiling on the eval slice: the truth side below is an all-pairs
#: join (quadratic by design — that cost IS what the metric measures LSH
#: against), so a parameter bump must not be able to quietly turn the
#: eval into an all-pairs scan of the corpus. 2,000 docs ≈ 2M pairs,
#: still a sub-second bounded job; anything larger fails loudly here.
LSH_EVAL_ID_CEILING = 2_000


def lsh_banding_recall(docs: DataFrame,
                       max_id: int = LSH_EVAL_MAX_ID,
                       threshold: float = LSH_EVAL_THRESHOLD) -> DataFrame:
    """One row: (n_truth, n_cand, n_hit, recall_milli) for the eval
    slice ``doc_id < max_id`` ∪ its injected copies."""
    if max_id > LSH_EVAL_ID_CEILING:
        raise ValueError(
            f"lsh_banding_recall eval slice max_id={max_id} exceeds the "
            f"ceiling {LSH_EVAL_ID_CEILING}: the ground-truth side is an "
            "all-pairs exact-Jaccard join, quadratic in the slice size. "
            "Evaluate banding parameters on a bounded sample, not the corpus."
        )
    eval_ids = (F.col("doc_id") < max_id) | (
        (F.col("doc_id") >= COPY_OFFSET)
        & (F.col("doc_id") < COPY_OFFSET + max_id)
    )
    sub = docs.filter(eval_ids)
    toks = (
        sub.withColumn("__toks", F.split("text", " "))
        .select("doc_id", F.array_distinct(_shingles()).alias("ts"))
        .filter(F.size("ts") > 0)
    )
    a, b = toks.alias("a"), toks.alias("b")
    jac = (
        F.size(F.array_intersect("a.ts", "b.ts"))
        / F.size(F.array_union("a.ts", "b.ts"))
    )
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= threshold)
        .select("d1", "d2")
    )
    cand = minhash_candidate_pairs(sub).select("d1", "d2")
    hit = truth.join(cand, ["d1", "d2"], "left_semi")
    # Entirely in-plan: three 1-row aggregates cross-joined, no driver
    # counts (the metric row is computed where the data lives).
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return nt.crossJoin(nc).crossJoin(nh).select(
        "n_truth", "n_cand", "n_hit",
        F.expr(
            "CASE WHEN n_truth = 0 THEN 1000L "
            "ELSE (1000L * n_hit) div n_truth END"
        ).alias("recall_milli"),
    )


def _lsh_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_banding_recall(with_copies(load(spark, sf_dir, "documents")))


def _lsh_recall_sql() -> str:
    return f"""
WITH all0 AS ({_COPIES_SQL}),
sub AS (
  SELECT * FROM all0
  WHERE doc_id < {LSH_EVAL_MAX_ID}
     OR (doc_id >= {COPY_OFFSET} AND doc_id < {COPY_OFFSET + LSH_EVAL_MAX_ID})
),
tok0 AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM sub
),
tok AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3 THEN
             list_transform(range(1, len(toks) - 1),
                            i -> array_to_string(list_slice(toks, i, i + 2), ' '))
           ELSE [] END) AS ts
  FROM tok0
),
truth AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
  WHERE len(a.ts) > 0 AND len(b.ts) > 0
    AND CAST(len(list_intersect(a.ts, b.ts)) AS INT)
          / CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS INT)
        >= {LSH_EVAL_THRESHOLD}
),
cand AS (
  SELECT d1, d2 FROM ({_minhash_sql_for("sub")}) c
),
hit AS (
  SELECT t.d1, t.d2 FROM truth t
  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.d1 = t.d1 AND c.d2 = t.d2)
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1000
            ELSE (1000 * (SELECT COUNT(*) FROM hit))
                 // (SELECT COUNT(*) FROM truth) END AS recall_milli
"""


def _cluster_sizes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the MinHash candidate components —
    how many clusters of each size the corpus contains. Two cheap
    hash-aggregation levels on top of the component labels (sizes are
    bounded by cluster membership, a tiny table at any corpus size)."""
    docs = with_copies(load(spark, sf_dir, "documents"))
    clusters = duplicate_clusters(minhash_candidate_pairs(docs))
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _cluster_sizes_sql() -> str:
    return f"""
WITH clusters AS ({_clusters_sql()}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY 1
)
SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Substring-level (sliding-window) exact dedup — the Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499) span family: duplicated ≥k-token SPANS, not whole
# docs (dedup_exact) or fixed-boundary chunks (chunk_dedup_stats, the
# k-aligned special case of this operator). Every k-token sliding
# window is hashed; a window whose hash occurs more than once anywhere
# in the corpus is a duplicated span, and per doc we report how many
# token positions fall inside at least one duplicated span.
#
# Scale shape (100 TB): (1) windowing is map-only (split + slice + md5
# inside one projection — a doc with n tokens emits n-k+1 hashes);
# (2) ONE hash-agg on the window hash with map-side combine — shuffle
# volume is distinct hashes, not occurrences; (3) occurrences join back
# to the counts on the hash key (same documented shape as
# chunk_dedup_stats above); (4) the per-doc interval-union runs only
# over DUPLICATED windows — a tiny fraction of the corpus — partitioned
# by doc_id (uniform keys, no skew). Because all windows share length
# k, the union of [pos, pos+k-1] over sorted starts is exactly
# sum(min(k, pos - lag(pos))) with k for the first span — no interval
# merge state, just one lag() pass.
# ---------------------------------------------------------------------------

SPAN_TOKENS = 20
#: Keep a doc iff at most this per-mille of its tokens sit in
#: duplicated spans.
SPAN_MAX_COVERAGE_MILLI = 500


def _span_base(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, __toks) tokenization shared by every span op."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("__toks"))
        .select("doc_id", F.size("__toks").cast("int").alias("n_tokens"),
                "__toks")
    )


def _span_windows(base: DataFrame, k: int,
                  binary: bool = False) -> DataFrame:
    """(doc_id, pos, h): every k-token sliding-window hash, map-only.
    1-based window start so Spark and the oracles agree on ``pos``.
    Window strings and their md5 are assembled post-explode in codegen
    (`windowed_shingles`) — the earlier HOF form hashed every window
    inside an interpreted lambda.

    ``binary=True`` keys on ``unhex(md5)`` — the same 128 bits as a
    16-byte BINARY instead of a 32-char hex string. Bijective with the
    hex form, so grouping/joining semantics are identical, but the
    corpus-wide hash-agg shuffles 16 key bytes/row instead of a
    32-char string (~35% less at spans' row shape — the difference
    that keeps the 10M-doc shuffle on one box's disk; per-run shuffle
    bytes recorded in MEASURE_10M_r13). Used by the consumers that
    never expose ``h`` (stats/strip); the persisted span index stays
    hex for artifact compatibility."""
    h = F.md5("shingle")
    if binary:
        h = F.unhex(h)
    return (
        windowed_shingles(base.select("doc_id", "__toks"), k)
        .select("doc_id", "pos", h.alias("h"))
    )


def _span_union_stats(flagged: DataFrame, k: int,
                      count_alias: str) -> DataFrame:
    """Per-doc (count, covered_tokens) over flagged (doc_id, pos)
    windows: same-length interval union = one lag pass,
    sum(min(k, pos − lag(pos))) with k for the first span."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    seg = (
        F.when(prev.isNull(), F.lit(k))
        .otherwise(F.least(F.lit(k), F.col("pos") - prev))
    )
    return (
        flagged.withColumn("__seg", seg)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias(count_alias),
            F.sum("__seg").cast("int").alias("covered_tokens"),
        )
    )


def substring_span_stats(docs: DataFrame,
                         span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Per-doc duplicated-span report: window counts, duplicated-window
    counts, exact token positions covered by duplicated spans, and a
    keep flag (coverage ≤ SPAN_MAX_COVERAGE_MILLI ‰)."""
    k = int(span_tokens)
    base = _span_base(docs)
    # Binary (unhex) window keys: identical grouping semantics, ~35%
    # less shuffle — the final report never exposes h.
    wins = _span_windows(base, k, binary=True)
    gc = wins.groupBy("h").agg(F.count(F.lit(1)).alias("global_count"))
    dup = (
        wins.join(gc.filter(F.col("global_count") > 1), "h")
        .select("doc_id", "pos")
    )
    per = _span_union_stats(dup, k, "n_dup_windows")
    joined = base.select("doc_id", "n_tokens").join(per, "doc_id", "left")
    covered = F.coalesce("covered_tokens", F.lit(0))
    # Exact integer per-mille — `div` keeps the compare engine-portable
    # (all values non-negative, so truncation == floor on both sides).
    milli = F.expr("div(1000 * coalesce(covered_tokens, 0), n_tokens)") \
        .cast("int")
    return joined.select(
        "doc_id",
        "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(k - 1), F.lit(0))
        .cast("int").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        covered.cast("int").alias("covered_tokens"),
        milli.alias("coverage_milli"),
        (milli <= F.lit(SPAN_MAX_COVERAGE_MILLI)).cast("int")
        .alias("span_keep"),
    )


def _substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_span_stats(load(spark, sf_dir, "documents"))


_K = SPAN_TOKENS
_SUBSTRING_SPANS_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, t FROM tok
), w AS (
  SELECT doc_id,
         unnest(range(1, greatest(n_tokens - {_K - 1}, 0) + 1)) AS pos,
         unnest(list_transform(range(1, greatest(n_tokens - {_K - 1}, 0) + 1),
                i -> md5(array_to_string(list_slice(t, i, i + {_K - 1}), ' '))))
           AS h
  FROM base
), gc AS (
  SELECT h, COUNT(*) AS global_count FROM w GROUP BY 1
), dup AS (
  SELECT doc_id, pos FROM w JOIN gc USING (h) WHERE global_count > 1
), seg AS (
  SELECT doc_id,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              THEN {_K}
              ELSE least({_K},
                         pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos))
         END AS seg
  FROM dup
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_dup_windows,
         CAST(SUM(seg) AS INT) AS covered_tokens
  FROM seg GROUP BY 1
)
SELECT b.doc_id,
       b.n_tokens,
       CAST(greatest(b.n_tokens - {_K - 1}, 0) AS INT) AS n_windows,
       coalesce(p.n_dup_windows, 0) AS n_dup_windows,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       CAST((1000 * coalesce(p.covered_tokens, 0)) // b.n_tokens AS INT)
         AS coverage_milli,
       CAST((1000 * coalesce(p.covered_tokens, 0)) // b.n_tokens
            <= {SPAN_MAX_COVERAGE_MILLI} AS INT) AS span_keep
FROM base b LEFT JOIN per p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Span REMOVAL — the action step of Lee et al. 2022: rewrite each doc
# with every token that sits inside a corpus-duplicated k-token span
# cut out (the paper removes the duplicated text rather than dropping
# whole docs, preserving the unique remainder). Reuses the sliding-
# window machinery above; the extra work over the *stats* query is
# (1) exploding each duplicated window into its k covered positions
# (bounded by dup windows × k, a corpus fraction), (2) an anti-join of
# the token stream against the covered set on (doc_id, pos) — uniform
# keys — and (3) an order-preserving rebuild via sort_array over the
# kept (pos, token) structs, grouped per doc (never a global sort).
# ---------------------------------------------------------------------------


def strip_duplicated_spans(docs: DataFrame,
                           span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Per-doc rewrite: (doc_id, n_tokens, n_kept, n_removed,
    clean_text) with duplicated-span tokens removed in place."""
    k = int(span_tokens)
    base = _span_base(docs)
    wins = _span_windows(base, k, binary=True)
    gc = wins.groupBy("h").agg(F.count(F.lit(1)).alias("global_count"))
    covered = (
        wins.join(gc.filter(F.col("global_count") > 1), "h")
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(pos, pos + {k - 1})")
            ).alias("tpos"),
        )
        .distinct()
    )
    toks = base.select(
        "doc_id",
        F.posexplode("__toks").alias("idx", "tok"),
    ).select("doc_id", (F.col("idx") + 1).alias("tpos"), "tok")
    kept = (
        toks.join(covered, ["doc_id", "tpos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("int").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental span probe — the daily-ingest shape for span dedup
# (mirrors build_dedup_index / probe_dedup_index for whole docs): the
# corpus's distinct window hashes are the persisted index (a few bytes
# per window, appended per ingest); a delta batch hashes its own
# windows map-side and semi-joins against the index, then takes the
# exact interval-union coverage of the HIT windows. Work ∝ |batch| +
# |index|; the corpus text is never re-scanned. This is also the
# contamination-check shape for incoming data that quotes existing
# corpus content.
# ---------------------------------------------------------------------------


def build_span_index(corpus: DataFrame,
                     span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Distinct k-token window hashes of a corpus — the persisted span
    index a delta batch probes."""
    return _span_windows(_span_base(corpus), int(span_tokens)) \
        .select("h").distinct()


def probe_span_index(batch: DataFrame, span_index: DataFrame,
                     span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Per batch doc: window counts, corpus-hit window count, and exact
    token coverage of spans already present in the indexed corpus."""
    k = int(span_tokens)
    base = _span_base(batch)
    wins = _span_windows(base, k)
    hits = wins.join(span_index, "h", "left_semi").select("doc_id", "pos")
    per = _span_union_stats(hits, k, "n_hit_windows")
    joined = base.select("doc_id", "n_tokens").join(per, "doc_id", "left")
    covered = F.coalesce("covered_tokens", F.lit(0))
    milli = F.expr("div(1000 * coalesce(covered_tokens, 0), n_tokens)") \
        .cast("int")
    return joined.select(
        "doc_id",
        "n_tokens",
        F.greatest(F.col("n_tokens") - F.lit(k - 1), F.lit(0))
        .cast("int").alias("n_windows"),
        F.coalesce("n_hit_windows", F.lit(0)).alias("n_hit_windows"),
        covered.cast("int").alias("covered_tokens"),
        milli.alias("coverage_milli"),
    )


def span_probe(docs: DataFrame,
               span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Delta-vs-corpus span probe over the standard batch split.

    Batch docs (doc_id % MOD == REM, the incremental_dedup split) are
    REWRITTEN so all interesting classes exist: odd batch ids QUOTE
    their corpus neighbor's first 30 tokens plus a novel tail (the
    quoted-content case the probe must flag), even ids are fully novel
    synthetic text (must coverage 0). The corpus side indexes every
    remaining doc's windows.
    """
    is_batch = F.pmod("doc_id", F.lit(_BATCH_MOD)) == F.lit(_BATCH_REM)
    corpus = docs.filter(~is_batch)
    neighbor = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("n_text")
    )
    quote = F.concat_ws(
        " ", F.slice(F.split(F.coalesce("n_text", F.lit("")), " "), 1, 30)
    )
    novel = F.expr(
        "concat_ws(' ', transform(sequence(1, 25), "
        "i -> concat('nv', cast(doc_id as string), '_', cast(i as string))))"
    )
    batch = (
        docs.filter(is_batch)
        .join(neighbor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.pmod("doc_id", F.lit(2)) == 1,
                F.concat(quote, F.lit(" novel tail "),
                         F.col("doc_id").cast("string")),
            ).otherwise(novel).alias("text"),
        )
    )
    return probe_span_index(batch, build_span_index(corpus, span_tokens),
                            span_tokens)


def _span_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_probe(load(spark, sf_dir, "documents"))


_SPAN_PROBE_SQL = f"""
WITH corpus_tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
), span_index AS (
  SELECT DISTINCT
         unnest(list_transform(
           range(1, greatest(len(t) - {SPAN_TOKENS - 1}, 0) + 1),
           i -> md5(array_to_string(
                  list_slice(t, i, i + {SPAN_TOKENS - 1}), ' ')))) AS h
  FROM corpus_tok
), batch_docs AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 2 = 1
              THEN concat(
                     array_to_string(list_slice(
                       string_split(coalesce(nb.text, ''), ' '), 1, 30), ' '),
                     ' novel tail ', CAST(b.doc_id AS VARCHAR))
              ELSE array_to_string(list_transform(range(1, 26),
                     i -> concat('nv', CAST(b.doc_id AS VARCHAR), '_',
                                 CAST(i AS VARCHAR))), ' ')
         END AS text
  FROM documents b LEFT JOIN documents nb ON nb.doc_id = b.doc_id + 1
  WHERE b.doc_id % {_BATCH_MOD} = {_BATCH_REM}
), base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         string_split(text, ' ') AS t
  FROM batch_docs
), w AS (
  SELECT doc_id,
         unnest(range(1, greatest(n_tokens - {SPAN_TOKENS - 1}, 0) + 1))
           AS pos,
         unnest(list_transform(
           range(1, greatest(n_tokens - {SPAN_TOKENS - 1}, 0) + 1),
           i -> md5(array_to_string(
                  list_slice(t, i, i + {SPAN_TOKENS - 1}), ' ')))) AS h
  FROM base
), hit AS (
  SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM span_index)
), seg AS (
  SELECT doc_id,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              THEN {SPAN_TOKENS}
              ELSE least({SPAN_TOKENS},
                         pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos))
         END AS seg
  FROM hit
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit_windows,
         CAST(SUM(seg) AS INT) AS covered_tokens
  FROM seg GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       CAST(greatest(b.n_tokens - {SPAN_TOKENS - 1}, 0) AS INT) AS n_windows,
       coalesce(p.n_hit_windows, 0) AS n_hit_windows,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       CAST((1000 * coalesce(p.covered_tokens, 0)) // b.n_tokens AS INT)
         AS coverage_milli
FROM base b LEFT JOIN per p USING (doc_id)
"""


def _span_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strip_duplicated_spans(load(spark, sf_dir, "documents"))


_SPAN_STRIP_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, t FROM tok
), w AS (
  SELECT doc_id,
         unnest(range(1, greatest(n_tokens - {SPAN_TOKENS - 1}, 0) + 1))
           AS pos,
         unnest(list_transform(
           range(1, greatest(n_tokens - {SPAN_TOKENS - 1}, 0) + 1),
           i -> md5(array_to_string(
                  list_slice(t, i, i + {SPAN_TOKENS - 1}), ' ')))) AS h
  FROM base
), gc AS (
  SELECT h, COUNT(*) AS global_count FROM w GROUP BY 1
), covered AS (
  SELECT DISTINCT doc_id, pos + off.o AS tpos
  FROM w JOIN gc USING (h), range(0, {SPAN_TOKENS}) AS off(o)
  WHERE global_count > 1
), toks AS (
  SELECT doc_id,
         unnest(range(1, len(t) + 1)) AS tpos,
         unnest(t) AS tok
  FROM base
), kept AS (
  SELECT tk.doc_id,
         CAST(COUNT(*) AS INT) AS n_kept,
         string_agg(tk.tok, ' ' ORDER BY tk.tpos) AS clean_text
  FROM toks tk
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = tk.doc_id AND c.tpos = tk.tpos)
  GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       coalesce(k.n_kept, 0) AS n_kept,
       CAST(b.n_tokens - coalesce(k.n_kept, 0) AS INT) AS n_removed,
       coalesce(k.clean_text, '') AS clean_text
FROM base b LEFT JOIN kept k USING (doc_id)
"""


#: Round-4/5 additions, registered directly after the scale block in
#: queries/__init__.py (inside the driver gate as of the r5 rotation).
# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity join (PPJoin family: Chaudhuri
# et al. 2006, Xiao et al. 2008) — the exact counterpart to the LSH
# candidate generators above. LSH trades recall for speed; prefix
# filtering is lossless: under any global token order, two shingle
# sets with Jaccard ≥ t MUST share an element inside both of their
# (m − ⌈t·m⌉ + 1)-element prefixes — J ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so
# a prefix missing every common element would leave the suffix
# (⌈t·m⌉ − 1 slots) holding ⌈t·m⌉ elements. Ordering prefixes by
# ASCENDING document frequency makes prefix tokens the RARE ones, so
# the candidate join fans out on rare keys, never on stop-shingles.
#
# Exactness is what the ORACLE proves: the Spark side runs the
# filtered plan, the DuckDB oracle runs naive all-pairs — the driver's
# hash equality is a machine-checked no-false-negatives certificate
# on every fixture, not a docstring claim.
#
# Scale shape: df-count hash-agg on shingle; per-doc prefix selection
# is a doc-keyed window (WindowGroupLimit frontier ≤ prefix length);
# candidates join prefix⋈prefix on the shingle key; verification work
# is Σ_cand |A| via two doc-keyed joins. No global rank table — the
# order (df, shingle) is evaluated per doc, so nothing vocab-sized is
# ever sorted on one node.
# ---------------------------------------------------------------------------

#: Jaccard threshold in percent (exact integer comparisons only).
PREFIX_T_PCT = 60


def prefix_filter_pairs(docs: DataFrame,
                        t_pct: int = PREFIX_T_PCT,
                        shingle_tokens: int | None = None) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ t_pct/100 — exact, via prefix
    filtering. Output: d1, d2, n_shared, n_union, jaccard_milli.

    ``shingle_tokens`` sizes the shingles (default: the catalog's
    3-token shingles, matching the oracle). Prefix filtering is only
    effective while the shingle space is LARGE relative to the corpus:
    once shingle document-frequencies grow past O(1), every prefix key
    fans out df² candidates and the join degenerates toward all-pairs
    (measured: 3-token shingles over the 64-word synthetic vocabulary
    saturate the 64³ key space by 20k docs — tools/measure_1m.py /
    SCALE.md). Production PPJoin at corpus scale therefore sizes k so
    that vocab^k >> |corpus| — for the 1M-doc measurement k=5 restores
    rare prefixes (64⁵ ≈ 10⁹ keys).

    **Exact-duplicate collapse** (the PPJoin-paper convention — Xiao
    et al. 2008 assume deduplicated records): identical texts are
    grouped to one representative BEFORE the filtered join, and pairs
    are expanded back afterwards. Web-scale corpora carry heavy exact
    duplication, and a text repeated c times would otherwise give
    every one of its prefix shingles df ≥ c — c² candidate rows per
    prefix key through the shuffle. The collapse turns that into
    output-only cost (the intra-group pairs are emitted directly with
    Jaccard 1.0, keyed by the group, never joined on shingles). Output
    is provably identical — the brute-force all-pairs oracle is the
    certificate, and the duplicate-heavy fuzz case pins the expansion.
    """
    from pyspark.sql import Window

    k = 3 if shingle_tokens is None else shingle_tokens
    # --- collapse identical texts to min-doc_id representatives.
    # One corpus shuffle on the text hash; members is (rep, doc_id).
    wt = Window.partitionBy("__th")
    tagged = (
        docs.select("doc_id", "text")
        .withColumn("__th", F.md5("text"))
        .withColumn("rep", F.min("doc_id").over(wt))
    )
    members = tagged.select("rep", "doc_id")
    reps = tagged.filter(F.col("doc_id") == F.col("rep")) \
        .select("doc_id", "text")
    sh = (
        windowed_shingles(
            reps.select("doc_id", F.split("text", " ").alias("__toks")), k)
        .select("doc_id", F.col("shingle").alias("s"))
        .distinct()
    )
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    tok = sh.join(df_counts, "s")
    wd = Window.partitionBy("doc_id")
    sized = tok.select(
        "doc_id", "s", "df", F.count(F.lit(1)).over(wd).alias("m")
    )
    rn = F.row_number().over(wd.orderBy(F.asc("df"), F.asc("s")))
    prefix = (
        sized.withColumn("rn", rn)
        .filter(F.col("rn") <= F.expr(
            f"m - (({t_pct} * m + 99) div 100) + 1"))
        .select("doc_id", "s", "m")
    )
    # Size filter rides the candidate join: J ≥ t forces
    # min(m1, m2) ≥ t·max(m1, m2), so wildly mismatched set sizes
    # never become candidates. Pure pruning — the brute-force oracle
    # certifies the result is unchanged.
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.s") == F.col("b.s"))
              & (F.col("a.doc_id") < F.col("b.doc_id"))
              & (F.col("a.m") * 100 >= t_pct * F.col("b.m"))
              & (F.col("b.m") * 100 >= t_pct * F.col("a.m")))
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
            F.col("a.m").alias("m1"), F.col("b.m").alias("m2"),
        )
        .distinct()
    )
    inter = (
        cand.join(sh.alias("ta"), F.col("ta.doc_id") == F.col("d1"))
        .join(sh.alias("tb"),
              (F.col("tb.doc_id") == F.col("d2"))
              & (F.col("ta.s") == F.col("tb.s")))
        .groupBy("d1", "d2", "m1", "m2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    rep_pairs = (
        inter.filter(
            F.col("i") * 100 >= t_pct * (F.col("m1") + F.col("m2")
                                         - F.col("i")))
        .select(
            "d1", "d2",
            F.col("i").cast("int").alias("n_shared"),
            (F.col("m1") + F.col("m2") - F.col("i")).cast("int")
            .alias("n_union"),
            F.expr("(1000 * i) div (m1 + m2 - i)").alias("jaccard_milli"),
        )
    )
    # --- expand representative pairs across their duplicate groups.
    # Inter-group: every (x ∈ G1, y ∈ G2) pair carries the reps' exact
    # stats (identical texts ⇒ identical shingle sets). d1 < d2 via
    # least/greatest — members of different groups never share an id.
    expanded = (
        rep_pairs.alias("p")
        .join(members.alias("ma"), F.col("ma.rep") == F.col("p.d1"))
        .join(members.alias("mb"), F.col("mb.rep") == F.col("p.d2"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("d1"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("d2"),
            "n_shared", "n_union", "jaccard_milli",
        )
    )
    # Intra-group: Jaccard is exactly 1 (n_shared = n_union = m), so
    # every in-group pair qualifies at any t ≤ 100. The inner join on
    # the per-rep shingle count drops shingle-less groups (texts
    # shorter than k tokens have no Jaccard, exactly like the oracle).
    msize = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m")) \
        .withColumnRenamed("doc_id", "mrep")
    intra = (
        members.alias("x")
        .join(members.alias("y"),
              (F.col("x.rep") == F.col("y.rep"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .join(msize, F.col("x.rep") == F.col("mrep"))
        .filter(F.lit(1000) >= F.lit(10 * t_pct))
        .select(
            F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"),
            F.col("m").cast("int").alias("n_shared"),
            F.col("m").cast("int").alias("n_union"),
            F.lit(1000).cast("long").alias("jaccard_milli"),
        )
    )
    return expanded.unionByName(intra)


def _prefix_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prefix_filter_pairs(load(spark, sf_dir, "documents"))


#: The oracle is deliberately BRUTE FORCE (all shared-shingle pairs,
#: then the threshold) — hash equality with the filtered Spark plan is
#: the no-false-negatives proof.
_PREFIX_FILTER_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
           AS s
  FROM tok
), sz AS (
  SELECT doc_id, COUNT(*) AS m FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(i AS INT) AS n_shared,
       CAST(s1.m + s2.m - i AS INT) AS n_union,
       (1000 * i) // (s1.m + s2.m - i) AS jaccard_milli
FROM inter
JOIN sz s1 ON s1.doc_id = d1
JOIN sz s2 ON s2.doc_id = d2
WHERE i * 100 >= {PREFIX_T_PCT} * (s1.m + s2.m - i)
"""


# ---------------------------------------------------------------------------
# Quality-aware dedup survivor selection: keep the LONGEST document of
# each near-dup cluster (ties → lowest id) instead of the min-id — the
# curation policy that preserves the most complete copy of a page that
# was scraped at several truncation lengths. Same candidate → verify →
# components dataflow as fuzzy_dedup_keep; only the representative rule
# changes, via an exact max(struct(n_tokens, −doc_id)) argmax per
# cluster — no window over the corpus.
# ---------------------------------------------------------------------------


def keep_longest_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, n_tokens, keep): keep = 1 on each cluster's
    longest member (tie → lowest doc_id); singletons keep themselves."""
    pairs = _jaccard_pairs(docs, JACCARD_THRESHOLD).select("d1", "d2")
    clusters = duplicate_clusters(pairs)
    base = (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
        )
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    # One window pass instead of groupBy + self-join (r13): the join
    # form consumed ``base`` twice — re-planning the pair/cluster
    # pipeline per consumer — and added two sort-merge joins; the
    # window shares the single cluster_id exchange and marks the best
    # member in-partition. Tie-break identical: max(struct(n, -id)).
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    best = F.max(F.struct(
        F.col("n_tokens").alias("n"),
        (-F.col("doc_id")).alias("neg_id"),
    )).over(w)
    return base.select(
        "doc_id", "cluster_id", "n_tokens",
        ((F.col("n_tokens") == best["n"])
         & (F.col("doc_id") == -best["neg_id"]))
        .cast("int").alias("keep"),
    )


def _keep_longest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keep_longest_dedup(with_copies(load(spark, sf_dir, "documents")))


def _keep_longest_sql() -> str:
    return f"""
WITH RECURSIVE jp AS ({_jaccard_sql()}),
sym AS (
  SELECT d1 AS src, d2 AS dst FROM jp
  UNION
  SELECT d2, d1 FROM jp
),
reach(v, u) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
),
clusters AS (
  SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY 1
),
all_docs AS ({_COPIES_SQL}),
base AS (
  SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM all_docs d LEFT JOIN clusters c USING (doc_id)
)
SELECT doc_id, cluster_id, n_tokens,
       CAST(row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n_tokens DESC, doc_id ASC) = 1
            AS INT) AS keep
FROM base
"""


DEDUP_EXTRA_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("dedup_keep_longest", _keep_longest_q, _keep_longest_sql(),
              "Quality-aware dedup survivor: keep each near-dup "
              "cluster's LONGEST member (tie → lowest id) via an exact "
              "max(struct) argmax — no corpus-wide window; preserves "
              "the most complete scrape."),
        Query("dedup_prefix_filter_join", _prefix_filter_q,
              _PREFIX_FILTER_SQL,
              "Prefix-filtered EXACT similarity join (PPJoin family): "
              "rare-token prefixes generate candidates losslessly; the "
              "brute-force oracle makes hash equality a no-false-"
              "negatives certificate."),
        Query("dedup_incremental", _incremental_q, _incremental_sql(),
              "Incremental dedup: delta batch probes the corpus's exact-"
              "hash + LSH-band index via semi-joins — work scales with "
              "|batch| + |index|, never a corpus re-scan."),
        Query("dedup_fuzzy_keep", _fuzzy_keep_q, _fuzzy_keep_sql(),
              "End-to-end fuzzy dedup pass: LSH candidates → exact-"
              "Jaccard verify → connected components → per-cluster "
              "canonical keep-list over the full corpus."),
        Query("dedup_lsh_recall", _lsh_recall_q, _lsh_recall_sql(),
              "Banding-quality eval: candidate recall of the LSH band "
              "buckets vs true thresholded-Jaccard pairs on a bounded "
              "eval slice (exact integer hits)."),
        Query("dedup_cluster_sizes", _cluster_sizes_q, _cluster_sizes_sql(),
              "Dup-cluster size histogram: the report a pipeline owner "
              "reads to judge duplication structure (two hash-agg "
              "levels over the component labels)."),
        Query("dedup_band_stats", _band_stats_q, _band_stats_sql(),
              "Per-band LSH health readout: bucket count, max "
              "population, the Σ n·(n−1)/2 pair expansion the capped "
              "pair join would actually emit (over-ceiling buckets "
              "excluded) and capped-bucket count — the mega-bucket "
              "early warning, at signature-agg cost (the pair join is "
              "never run)."),
        Query("dedup_substring_spans", _substring_spans_q,
              _SUBSTRING_SPANS_SQL,
              "Sliding-window substring dedup (Lee et al. 2022): per-doc "
              "duplicated k-token span counts and exact token coverage "
              "via a same-length interval union (one lag pass over the "
              "duplicated windows only)."),
        Query("dedup_span_strip", _span_strip_q, _SPAN_STRIP_SQL,
              "Span removal (the Lee et al. action step): docs rewritten "
              "with duplicated-span tokens cut out in place — covered "
              "positions anti-joined off the token stream, order-"
              "preserving per-doc rebuild."),
        Query("dedup_span_probe", _span_probe_q, _SPAN_PROBE_SQL,
              "Incremental span probe: delta batch windows semi-joined "
              "against the corpus's persisted window-hash index, exact "
              "coverage of quoted corpus content; work ∝ batch + index."),
    ]
}
