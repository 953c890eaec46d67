"""Parity pins for the numpy kernels of scale/similarity.py.

``cell_assignments_np`` (the ``np_assign`` option) must return EXACTLY
what the expression assignment returns — same dots (both are exact
integers: the expression path sums bigints, the numpy path sums
float64 values that are all exactly representable), same cos doubles
(same IEEE ops on the same operands), same (negcos, label) ordering,
same nprobe slice.

The pair and probe kernels (``_per_vec_max_cos``, ``_split_leak_counts``,
``_probe_topk``) are the only scoring paths in the package. Their
reference is the join formulation each replaced — an exact-cosine
join over within-cell pairs, eval × train pairs, or (query, probed
cell) candidates — kept below (``_ref_*``) and compared bit for bit,
across the kernels' block boundaries and on zero-norm rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_validator_github_spark.scale.similarity import (
    _DOT,
    MAX_CELL_PAIR_POP,
    N_PROBE,
    NEAR_DUP_COS,
    SPLIT_EVAL_MOD,
    TOP_K,
    _pairable_assignment,
    _per_vec_max_cos,
    _probe_topk,
    _query_probes,
    _split_leak_counts,
    cell_assignments,
    cell_assignments_np,
    ivf_cells,
    quantized,
    semantic_threshold_sweep,
)

SF_DIR = "/root/testdata/sf0.001"


def _cos(a: str, b: str):
    return (
        F.expr(_DOT.format(a=f"{a}.qv", b=f"{b}.qv"))
        / (F.sqrt(f"{a}.norm2") * F.sqrt(f"{b}.norm2"))
    )


def _ref_per_vec_max_cos(pairable):
    """Within-cell self-join reference for ``_per_vec_max_cos``: max
    cosine per vector over its LOWER-id cellmates; zero-norm rows (no
    defined cosine) never pair."""
    nz = pairable.filter(F.col("norm2") > 0)
    a, b = nz.alias("a"), nz.alias("b")
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("b.vec_id").alias("vec_id"), _cos("a", "b").alias("cos"))
        .groupBy("vec_id").agg(F.max("cos").alias("max_cos"))
    )


def _ref_split_leak_counts(pairable, threshold):
    """Cross-split join reference for ``_split_leak_counts``: per eval
    vector, the train cellmates at cos ≥ threshold."""
    nz = pairable.filter(F.col("norm2") > 0)
    ev = nz.filter(F.col("vec_id") % SPLIT_EVAL_MOD == 0).alias("e")
    tr = nz.filter(F.col("vec_id") % SPLIT_EVAL_MOD != 0).alias("t")
    return (
        ev.join(tr, F.col("e.cell") == F.col("t.cell"))
        .filter(_cos("e", "t") >= threshold)
        .groupBy(
            F.col("e.vec_id").alias("vec_id"),
            F.col("e.cell").cast("int").alias("cell"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_train_dups"))
    )


def _ref_probe_join_topk(assign, probes, k):
    """Probe-join reference for ``_probe_topk``: broadcast the (query,
    probed-cell) rows onto the cell-keyed assignment, score exact
    cosine, rank with the (cos desc, id asc) tie-break."""
    assign = assign.filter(F.col("norm2") > 0)
    probes = probes.filter(F.col("q_norm2") > 0)
    cand_cos = (
        F.expr(_DOT.format(a="q_qv", b="qv"))
        / (F.sqrt("q_norm2") * F.sqrt("norm2"))
    )
    cands = (
        F.broadcast(probes).join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cand_cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _sorted(df, cols=None):
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))


def _rows(df):
    out = []
    for r in df.collect():
        out.append((
            r["vec_id"], tuple(r["qv"]), r["norm2"],
            tuple((c["negcos"], c["label"]) for c in r["top_cells"]),
        ))
    return sorted(out)


def test_np_assignment_matches_expression_on_fixture(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs, cells = quantized(emb), ivf_cells(emb)
    for nprobe in (1, 3):
        a = _rows(cell_assignments(vecs, cells, nprobe=nprobe))
        b = _rows(cell_assignments_np(vecs, cells, nprobe=nprobe))
        assert a == b


def test_np_assignment_matches_on_synthetic_ties(spark):
    # 2000 vectors over 64 cells; duplicate vectors under different ids
    # force exact cos ties across cells built from identical label
    # populations, exercising the label tie-break.
    emb = spark.range(2000).selectExpr(
        "id as vec_id",
        "cast(id % 64 as int) as label",
        "transform(sequence(0, 15), i -> cast("
        "((id % 500) * 37 + i * 11) % 201 - 100 as float) / 100.0f)"
        " as embedding",
    )
    vecs, cells = quantized(emb), ivf_cells(emb)
    a = _rows(cell_assignments(vecs, cells, nprobe=2))
    b = _rows(cell_assignments_np(vecs, cells, nprobe=2))
    assert a == b


def _synthetic_pairable(spark, n):
    # Two cells of n/2 vectors; ids 97 apart share a vector, so every
    # cell holds exact duplicates (cos 1.0) as well as near misses.
    return spark.range(n).selectExpr(
        "id as vec_id",
        "cast(id % 2 as int) as cell",
        "transform(sequence(0, 7), i -> (id % 97) * 13 + i * 7 - 50)"
        " as qv",
    ).withColumn("norm2", F.expr(_DOT.format(a="qv", b="qv")))


def test_per_vec_max_cos_np_matches_join_across_blocks(spark):
    # Cell populations of 1250 exceed the 1024 gram block, so the
    # blockwise strict-upper-triangle masking is exercised; values
    # must equal the join + max formulation exactly.
    pairable = _synthetic_pairable(spark, 2500)
    w = {r["vec_id"]: r["max_cos"]
         for r in _ref_per_vec_max_cos(pairable).collect()}
    g = {r["vec_id"]: r["max_cos"]
         for r in _per_vec_max_cos(pairable).collect()}
    assert g == w and len(g) == 2498


def test_split_leak_counts_match_join_across_blocks(spark):
    # ~1333 train rows per cell exceed the 1024 gram block, so the
    # per-block count accumulation is exercised.
    pairable = _synthetic_pairable(spark, 4000)
    want = _sorted(_ref_split_leak_counts(pairable, NEAR_DUP_COS))
    got = _sorted(_split_leak_counts(pairable, NEAR_DUP_COS))
    assert got == want and len(got) > 0


def test_pair_kernels_match_joins_on_fixture(spark):
    # The catalog's own input: the fixture plus its planted copies,
    # assigned and cell-capped exactly as the SemDeDup queries do.
    from etl_validator_github_spark.scale.similarity import (
        with_vector_copies,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, pairable = _pairable_assignment(
        with_vector_copies(emb), emb, MAX_CELL_PAIR_POP, False
    )
    got = _sorted(_per_vec_max_cos(pairable))
    assert got == _sorted(_ref_per_vec_max_cos(pairable)) and got
    got = _sorted(_split_leak_counts(pairable, NEAR_DUP_COS))
    assert got == _sorted(_ref_split_leak_counts(pairable, NEAR_DUP_COS))
    assert got


def test_sweep_scale_optins_change_nothing(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    key = ["threshold_milli", "n_total", "n_dropped", "n_kept"]
    base = _sorted(semantic_threshold_sweep(emb, emb), key)
    fast = _sorted(semantic_threshold_sweep(emb, emb, np_assign=True), key)
    assert base == fast


def test_keep_scale_optins_change_nothing(spark):
    from etl_validator_github_spark.scale.similarity import (
        semantic_dedup_keep,
        with_vector_copies,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    aug = with_vector_copies(emb)
    cols = ["vec_id", "cell", "keep"]
    base = _sorted(semantic_dedup_keep(aug, emb), cols)
    fast = _sorted(semantic_dedup_keep(aug, emb, np_assign=True), cols)
    assert base == fast


def test_split_leakage_scale_optins_change_nothing(spark):
    from etl_validator_github_spark.scale.similarity import (
        semantic_split_leakage,
        with_vector_copies,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    aug = with_vector_copies(emb)
    cols = ["vec_id", "cell", "n_train_dups"]
    got_base = _sorted(semantic_split_leakage(aug, emb), cols)
    got_fast = _sorted(semantic_split_leakage(aug, emb, np_assign=True),
                       cols)
    assert got_base == got_fast and len(got_base) > 0


def test_index_search_matches_probe_join(spark, tmp_path):
    from etl_validator_github_spark.scale.similarity import (
        N_QUERIES,
        ivf_topk_from_index,
        persist_ivf_index,
        read_ivf_index_assignment,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    persist_ivf_index(emb, emb, idx)
    assign_t = read_ivf_index_assignment(spark, idx)
    cells = spark.read.parquet(f"{idx}/cells.parquet")
    probes = _query_probes(
        assign_t.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "qv", "norm2"),
        cells, N_PROBE, False,
    )
    want = _sorted(_ref_probe_join_topk(assign_t, probes, TOP_K))
    base = _sorted(ivf_topk_from_index(spark, idx))
    fast = _sorted(ivf_topk_from_index(spark, idx, np_assign=True))
    assert base == want and fast == want and len(base) > 0


def test_probe_topk_np_blockwise_matches_join(spark):
    # Cell populations of 5000 exceed the 4096 member block, so the
    # running top-k merge across blocks is exercised; the result must
    # equal the join formulation exactly (same total order, exact
    # integer dots → bit-identical cos doubles).
    assign = spark.range(10_000).selectExpr(
        "id as vec_id",
        "cast(id % 2 as int) as cell",
        "transform(sequence(0, 7), i -> (id % 311) * 17 + i * 5 - 40)"
        " as qv",
    ).withColumn("norm2", F.expr(_DOT.format(a="qv", b="qv")))
    probes = assign.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("qv").alias("q_qv"),
        F.col("norm2").alias("q_norm2"),
    )
    want = _sorted(_ref_probe_join_topk(assign, probes, 10))
    got = _sorted(_probe_topk(assign, probes, 10))
    assert got == want and len(got) == 16 * 10


def test_zero_norm_vectors_never_pair(spark):
    # A zero vector (all components quantize to 0) has no defined
    # cosine; the pair passes must exclude it in every formulation —
    # the kernel, the join reference, and (structurally mirrored) the
    # DuckDB oracle, where 0/0 is NaN and NaN compares greater than any
    # threshold.
    from etl_validator_github_spark.scale.similarity import ann_pairs

    pairable = spark.range(50).selectExpr(
        "id as vec_id",
        "cast(0 as int) as cell",
        "CASE WHEN id = 7 THEN transform(sequence(0, 7), i -> 0L)"
        " ELSE transform(sequence(0, 7), i -> (id % 13) * 9 + i - 3)"
        " END as qv",
    ).withColumn("norm2", F.expr(_DOT.format(a="qv", b="qv")))
    got = _per_vec_max_cos(pairable).collect()
    assert all(r["vec_id"] != 7 for r in got)
    assert all(r["max_cos"] == r["max_cos"] for r in got)  # no NaN
    assert sorted(map(tuple, got)) == _sorted(_ref_per_vec_max_cos(pairable))

    emb = spark.range(50).selectExpr(
        "id as vec_id",
        "CASE WHEN id = 7 THEN transform(sequence(0, 63), i -> 0.0f)"
        " ELSE transform(sequence(0, 63), i -> cast("
        "((id % 13) * 9 + i - 32) / 100.0 as float)) END as embedding",
    )
    pairs = ann_pairs(emb).collect()
    assert len(pairs) > 0
    assert all(r["v1"] != 7 and r["v2"] != 7 for r in pairs)
    assert all(r["cos_sim"] is not None
               and r["cos_sim"] == r["cos_sim"] for r in pairs)


def test_zero_norm_split_leakage_and_keep_guard(spark):
    # semantic_dedup_keep / semantic_split_leakage with a zero-norm row
    # in the corpus: the row keeps (nothing can drop it), reports no
    # leaks, and both results equal the join references over the same
    # assignment, with either assignment path.
    from etl_validator_github_spark.scale.similarity import (
        semantic_dedup_keep,
        semantic_split_leakage,
    )

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = base.unionByName(spark.range(1).selectExpr(
        "cast(90000000 as bigint) as vec_id",
        "transform(sequence(0, 63), i -> 0.0f) as embedding",
        "cast(0 as int) as label",
    ).select("vec_id", "embedding", "label"))
    _, pairable = _pairable_assignment(corpus, base, MAX_CELL_PAIR_POP,
                                       False)

    cols = ["vec_id", "cell", "keep"]
    got = _sorted(semantic_dedup_keep(corpus, base), cols)
    assert got == _sorted(semantic_dedup_keep(corpus, base, np_assign=True),
                          cols)
    ref_drops = {r["vec_id"] for r in _ref_per_vec_max_cos(pairable)
                 .filter(F.col("max_cos") >= NEAR_DUP_COS).collect()}
    assert {r[0] for r in got if r[2] == 0} == ref_drops
    zero_rows = [r for r in got if r[0] == 90_000_000]
    assert len(zero_rows) == 1 and zero_rows[0][2] == 1

    cols = ["vec_id", "cell", "n_train_dups"]
    a = _sorted(semantic_split_leakage(corpus, base), cols)
    b = _sorted(semantic_split_leakage(corpus, base, np_assign=True), cols)
    assert a == b
    assert a == _sorted(_ref_split_leak_counts(pairable, NEAR_DUP_COS))
    assert all(r[0] != 90_000_000 for r in a)


def test_zero_norm_guard_in_serve_paths(spark, tmp_path):
    # The serve path (_query_probes -> _probe_topk via
    # ivf_topk_for_queries) under zero-norm index AND query vectors: a
    # zero vector has no defined cosine, so it must neither occupy a
    # top-k slot (index side) nor emit rows (query side), and it must
    # never surface as NaN — and the result equals the probe-join
    # reference.
    from etl_validator_github_spark.scale.similarity import (
        ivf_topk_for_queries,
        persist_ivf_index,
        read_ivf_index_assignment,
    )

    corpus = spark.range(200).selectExpr(
        "id as vec_id",
        "CASE WHEN id = 7 THEN transform(sequence(0, 63), i -> 0.0f)"
        " ELSE transform(sequence(0, 63), i -> cast("
        "((id % 13) * 9 + i - 32) / 100.0 as float)) END as embedding",
        "cast(id % 4 as int) as label",
    )
    idx = str(tmp_path / "idx")
    persist_ivf_index(corpus, corpus, idx)
    queries = spark.range(1000, 1005).selectExpr(
        "id as vec_id",
        "CASE WHEN id = 1003 THEN transform(sequence(0, 63), i -> 0.0f)"
        " ELSE transform(sequence(0, 63), i -> cast("
        "((id % 11) * 7 + i - 30) / 100.0 as float)) END as embedding",
    )
    probes = _query_probes(quantized(queries),
                           spark.read.parquet(f"{idx}/cells.parquet"),
                           N_PROBE, False)
    want = _sorted(_ref_probe_join_topk(
        read_ivf_index_assignment(spark, idx), probes, 5))
    base = _sorted(ivf_topk_for_queries(spark, idx, queries, k=5))
    fast = _sorted(ivf_topk_for_queries(spark, idx, queries, k=5,
                                        np_assign=True))
    assert base == want and fast == want and len(base) > 0
    qids = {r[0] for r in base}
    assert 1003 not in qids and qids == {1000, 1001, 1002, 1004}
    assert all(r[1] != 7 for r in base)          # zero member never ranks
    assert all(r[3] == r[3] for r in base)       # no NaN cos_sim


def test_external_topk_matches_probe_join(spark):
    # The oracled external-serve query on the md5 holdout split equals
    # the probe-join reference over the same assignment, with either
    # assignment path.
    from etl_validator_github_spark.scale.similarity import (
        EXT_QUERY_HOLDOUT,
        external_topk,
        home_cell_assignment,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    held = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(EXT_QUERY_HOLDOUT)
    )
    queries = emb.join(F.broadcast(held), "vec_id").select(
        "vec_id", "embedding"
    )
    index = emb.join(F.broadcast(held), "vec_id", "left_anti")
    cells = ivf_cells(index)
    want = _sorted(_ref_probe_join_topk(
        home_cell_assignment(quantized(index), cells),
        _query_probes(quantized(queries), cells, N_PROBE, False),
        TOP_K,
    ))
    base = _sorted(external_topk(index, queries))
    fast = _sorted(external_topk(index, queries, np_assign=True))
    assert base == want and fast == want
    assert len(base) == EXT_QUERY_HOLDOUT * TOP_K
