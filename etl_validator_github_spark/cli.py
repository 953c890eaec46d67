"""Command-line surface mirroring the reference's two entry points.

The reference is driven entirely from the shell: a generator CLI
(``newaugsver_clean.py --rows N --seed S --formats ...``, GEN:594-647)
and a scenario/pipeline CLI (``DM_bankfile_validate_pipeline.py
--invalid-values Col:Val ... --rows N``, PIPE:3516-3767). This module
gives a reference user the same muscle memory against the Spark engine:

    python -m etl_validator_github_spark generate --rows 50 --seed 246 \
        --output /tmp/bank --formats parquet,csv
    python -m etl_validator_github_spark mutate /tmp/bank.parquet \
        --invalid-values RoutingTransitNumber:54321 RecordOperation:3=Z \
        --drop-columns ContactFax --output /tmp/mutated.parquet
    python -m etl_validator_github_spark validate /tmp/mutated.parquet \
        --error-dir /tmp/error --archive-dir /tmp/archive

``validate`` exits 0 when the file processed cleanly and 1 on
file-level rejection, and prints the per-payee error summary the
reference surfaces through its error CSV + DB reconciliation.
"""

from __future__ import annotations

import argparse
import sys

from etl_validator_github_spark.plans.session import get_spark


def _parse_invalid_values(specs: list[str]) -> tuple[dict, dict]:
    """Reference syntax (PIPE:3113-3244): ``Col:Value`` overwrites the
    whole column; ``Col:rowIndex=Value`` overwrites one cell."""
    columns: dict[str, str] = {}
    cells: dict[tuple[str, int], str] = {}
    for spec in specs:
        col, _, rest = spec.partition(":")
        if not _:
            raise SystemExit(f"bad --invalid-values spec (need Col:Val): {spec!r}")
        idx, eq, val = rest.partition("=")
        if eq and idx.isdigit():
            cells[(col, int(idx))] = val
        else:
            columns[col] = rest
    return columns, cells


def _parse_min_max_limits(specs: list[str]) -> dict[str, tuple[str, str]]:
    """``Col:MIN:MAX`` → {col: (min, max)} (reference column_limits dict,
    PIPE:3325). Values stay strings; numeric step-past derivation happens
    only for true numeric limits passed through the Python API."""
    limits: dict[str, tuple[str, str]] = {}
    for spec in specs:
        col, sep1, rest = spec.partition(":")
        lo, sep2, hi = rest.partition(":")
        if not sep1 or not sep2:
            raise SystemExit(
                f"bad --min-max-limits spec (need Col:MIN:MAX): {spec!r}"
            )
        limits[col] = (lo, hi)
    return limits


def _cmd_generate(args: argparse.Namespace) -> int:
    from etl_validator_github_spark.generator import (
        generate_bankdata,
        generate_bankdata_distributed,
    )
    from etl_validator_github_spark.sources.io import write_bankdata

    spark = get_spark(app_name="bankdata-generate")
    spark.sparkContext.setLogLevel("ERROR")
    # Mirror the reference's streaming threshold (GEN:616): above it,
    # generation must not be single-node.
    if args.rows >= 300_000:
        if args.blank_as_null:
            raise SystemExit(
                "--blank-as-null is not supported above the 300k "
                "distributed-generation threshold (the distributed "
                "generator emits blanks as '')"
            )
        df = generate_bankdata_distributed(spark, n=args.rows, seed=args.seed)
    else:
        df = generate_bankdata(spark, n=args.rows, seed=args.seed,
                               blank_as_null=args.blank_as_null)
    for fmt in args.formats.split(","):
        fmt = fmt.strip()
        suffix = "" if args.output.endswith(f".{fmt}") else f".{fmt}"
        write_bankdata(df, f"{args.output}{suffix}", fmt=fmt,
                       null_display=args.null_display)
        print(f"wrote {args.rows} rows -> {args.output}{suffix} [{fmt}]")
    return 0


def _cmd_mutate(args: argparse.Namespace) -> int:
    from etl_validator_github_spark.operators import mutate
    from etl_validator_github_spark.sources.io import read_bankdata, write_bankdata

    spark = get_spark(app_name="bankdata-mutate")
    spark.sparkContext.setLogLevel("ERROR")
    df = mutate.widen_to_strings(read_bankdata(spark, args.input))
    if args.invalid_values:
        columns, cells = _parse_invalid_values(args.invalid_values)
        for col, val in columns.items():
            df = mutate.overwrite_column(df, col, val)
        if cells:
            df = mutate.overwrite_cells(df, cells, order_by="PayeeID")
    if args.drop_columns:
        df = mutate.drop_columns(df, args.drop_columns)
    if args.rename_columns:
        renames = {}
        for spec in args.rename_columns:
            old, sep, new = spec.partition(":")
            if not sep or not old or not new:
                raise SystemExit(f"bad --rename-columns spec (need Old:New): {spec!r}")
            renames[old] = new
        df = mutate.rename_columns(df, renames)
    if args.drop_rows:
        df = mutate.drop_rows(df, args.drop_rows, order_by="PayeeID")
    if args.duplicate_payee:
        df = mutate.duplicate_payee_id(df, order_by="PayeeID")
    if args.extra_columns:
        df = mutate.add_extra_columns(df, args.extra_columns, order_by="PayeeID")
    if args.duplicate_row is not None:
        df = mutate.duplicate_row(df, args.duplicate_row, order_by="PayeeID")
    if args.min_max_limits:
        df = mutate.apply_min_max_limits(
            df, _parse_min_max_limits(args.min_max_limits), order_by="PayeeID"
        )
    write_bankdata(df, args.output, fmt="parquet")
    print(f"mutated {args.input} -> {args.output}")
    return 0


def _cmd_validate(args: argparse.Namespace) -> int:
    from etl_validator_github_spark.pipeline import validate_file

    spark = get_spark(app_name="bankdata-validate")
    spark.sparkContext.setLogLevel("ERROR")
    res = validate_file(
        spark, args.input, error_dir=args.error_dir,
        archive_dir=args.archive_dir,
    )
    if res.file_level_failure:
        print(f"FILE REJECTED: {res.schema_issues}")
        return 1
    print(f"error records: {res.error_count} "
          f"(rows in: {res.details['rows_in']})")
    if res.error_file:
        print(f"error file: {res.error_file}")
    if res.archived_to:
        print(f"archived to: {res.archived_to}")
    return 0


def _cmd_dedup(args: argparse.Namespace) -> int:
    """Corpus dedup over a documents parquet (doc_id, text, lang...).

    ``--mode exact`` labels by content hash; ``--mode fuzzy`` runs the
    full LSH → Jaccard-verify → connected-components pass
    (scale/dedup.py); ``--mode semantic`` runs the SemDeDup pass over an
    EMBEDDINGS parquet (vec_id, embedding, label — labels seed the IVF
    cells); ``--mode spans`` runs the Lee-et-al sliding-window pass —
    the per-doc duplicated-span report, or with ``--write-docs`` the
    docs rewritten with duplicated spans stripped in place; ``--mode
    bloom`` probes the input against a Bloom filter built from the
    ``--corpus`` held-out suite — the flag report, or with
    ``--write-docs`` only the clean (never-falsely-negative) docs.
    Writes the keep-list, or the surviving rows themselves with
    ``--write-docs``.
    """
    from pyspark.sql import functions as F

    from etl_validator_github_spark.scale.dedup import (
        build_dedup_index,
        exact_dedup_groups,
        fuzzy_dedup_keep,
        probe_dedup_index,
    )

    spark = get_spark(app_name="corpus-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    if args.mode == "spans":
        from etl_validator_github_spark.scale.dedup import (
            strip_duplicated_spans,
            substring_span_stats,
        )

        if args.corpus:
            raise SystemExit(
                "--corpus is not supported with --mode spans (the span "
                "index is the corpus itself)"
            )
        if args.write_docs:
            stripped = strip_duplicated_spans(docs)
            out = (
                docs.drop("text")
                .join(stripped.select("doc_id",
                                      F.col("clean_text").alias("text")),
                      "doc_id")
            )
            out.write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            n_docs = written.count()
            n_empty = written.filter(F.length("text") == 0).count()
            print(f"span strip: {n_docs} docs rewritten "
                  f"({n_empty} fully stripped) -> {args.output}")
            return 0
        stats = substring_span_stats(docs)
        stats.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_docs = written.count()
        n_flagged = written.filter(F.col("n_dup_windows") > 0).count()
        print(f"span report: {n_docs} docs, {n_flagged} with duplicated "
              f"spans -> {args.output}")
        return 0
    if args.mode == "bloom":
        from etl_validator_github_spark.scale.dedup import _doc_shingles
        from etl_validator_github_spark.scale.sketches import (
            bloom_build,
            bloom_probe,
        )

        if not args.corpus:
            raise SystemExit(
                "--mode bloom needs --corpus: the held-out/benchmark "
                "documents parquet whose shingles build the filter"
            )
        held = spark.read.parquet(args.corpus)
        for df, src in ((docs, args.input), (held, args.corpus)):
            missing = sorted({"doc_id", "text"} - set(df.columns))
            if missing:
                raise SystemExit(
                    f"--mode bloom needs documents parquets with "
                    f"(doc_id, text); {src} is missing "
                    f"{', '.join(missing)}"
                )
        bloom = bloom_build(
            _doc_shingles(held).select("shingle").distinct()
        )
        flags = bloom_probe(_doc_shingles(docs).distinct(), bloom)
        if args.write_docs:
            clean = docs.join(
                flags.filter(F.col("flagged") == 1).select("doc_id"),
                "doc_id", "left_anti",
            )
            clean.write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            print(f"bloom decontaminate: {written.count()} clean docs "
                  f"(no false negatives) -> {args.output}")
            return 0
        flags.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_docs = written.count()
        n_flag = written.filter(F.col("flagged") == 1).count()
        print(f"bloom probe: {n_docs} docs, {n_flag} flagged for the "
              f"exact pass -> {args.output}")
        return 0
    if args.mode == "semantic":
        from etl_validator_github_spark.scale.similarity import (
            semantic_dedup_incremental,
            semantic_dedup_keep,
        )

        # Self-dedup seeds IVF cells from the corpus's own labels; fail
        # with a usable message instead of a raw AnalysisException when
        # the input isn't an embeddings table (ADVICE r6).
        required = (
            {"vec_id", "embedding"} if args.corpus
            else {"vec_id", "embedding", "label"}
        )
        missing = sorted(required - set(docs.columns))
        if missing:
            raise SystemExit(
                f"--mode semantic needs an embeddings parquet with "
                f"columns (vec_id, embedding, label); {args.input} is "
                f"missing {', '.join(missing)} (label may be omitted "
                "only with --corpus, where cells come from the base)"
            )
        if args.corpus:
            # Incremental probe: flag input vectors against the BASE
            # corpus's cells only (labels come from the base).
            if args.write_docs:
                raise SystemExit(
                    "--write-docs is not supported with --mode semantic "
                    "--corpus (the output is the per-vector flags table)"
                )
            base = spark.read.parquet(args.corpus)
            base_missing = sorted(
                {"vec_id", "embedding", "label"} - set(base.columns)
            )
            if base_missing:
                raise SystemExit(
                    f"--corpus must be an embeddings parquet with "
                    f"(vec_id, embedding, label); {args.corpus} is "
                    f"missing {', '.join(base_missing)}"
                )
            flags = semantic_dedup_incremental(docs, base)
            flags.write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            n_in = written.count()
            n_dup = written.filter(F.col("is_semantic_dup") == 1).count()
            print(f"semantic dedup: {n_in} batch vectors, {n_dup} flagged "
                  f"against corpus cells -> {args.output}")
            return 0
        keep = semantic_dedup_keep(docs, docs)
        if args.write_docs:
            out = docs.join(
                keep.filter(F.col("keep") == 1).select("vec_id"),
                "vec_id", "left_semi",
            )
            out.write.mode("overwrite").parquet(args.output)
            n_in = docs.count()
            n_out = spark.read.parquet(args.output).count()
        else:
            keep.write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            n_in = written.count()
            n_out = written.filter(F.col("keep") == 1).count()
        print(f"semantic dedup: {n_in} vectors -> {n_out} kept "
              f"({n_in - n_out} dropped) -> {args.output}")
        return 0
    if args.mode == "incremental":
        if not args.corpus:
            raise SystemExit("--mode incremental requires --corpus")
        if args.write_docs:
            # Incremental probing FLAGS suspects; it does not decide
            # keep/drop, so there is no "surviving documents" output.
            raise SystemExit(
                "--write-docs is not supported with --mode incremental "
                "(the output is the per-doc flags table)"
            )
        hashes, bands = build_dedup_index(spark.read.parquet(args.corpus))
        flags = probe_dedup_index(docs, hashes, bands)
        flags.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_in = written.count()
        n_dup = written.filter(
            (F.col("is_exact_dup") == 1) | (F.col("n_corpus_band_hits") > 0)
        ).count()
        print(f"incremental dedup: {n_in} batch docs, {n_dup} flagged "
              f"against corpus index -> {args.output}")
        return 0
    if args.mode == "fuzzy":
        labeled = fuzzy_dedup_keep(docs)
    else:
        # Reuse the library's exact-dedup definition (one source of
        # truth for the content hash and keep rule).
        groups = exact_dedup_groups(docs).select(
            F.col("content_hash").alias("h"),
            F.col("keep_id").alias("cluster_id"),
        )
        labeled = (
            docs.select("doc_id", F.md5("text").alias("h"))
            .join(groups, "h")
            .select(
                "doc_id", "cluster_id",
                (F.col("doc_id") == F.col("cluster_id")).cast("int")
                .alias("keep"),
            )
        )
    if args.write_docs:
        out = docs.join(
            labeled.filter(F.col("keep") == 1).select("doc_id"),
            "doc_id", "left_semi",
        )
        out.write.mode("overwrite").parquet(args.output)
        # Count the parquet just written, not a re-execution of the
        # dedup pipeline (its join stages are the expensive part).
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
    else:
        labeled.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_in = written.count()
        n_out = written.filter(F.col("keep") == 1).count()
    print(f"{args.mode} dedup: {n_in} docs -> {n_out} kept "
          f"({n_in - n_out} dropped) -> {args.output}")
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    """Curation passes over a documents parquet (doc_id, text, lang,
    source): ``--op token-budget`` keeps the best docs per language up
    to a token budget, ``--op resample`` runs DSIR importance
    resampling against the deterministic target slice, ``--op
    domain-cap`` enforces the per-source document cap, ``--op sample-k``
    draws exactly k docs per (lang, source) stratum. Each writes its
    per-doc report/keep-list, or the surviving rows with
    ``--write-docs``."""
    from pyspark.sql import functions as F

    spark = get_spark(app_name="corpus-curate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    missing = sorted({"doc_id", "text"} - set(docs.columns))
    if not missing and args.op == "token-budget" and "lang" not in docs.columns:
        missing = ["lang"]
    if not missing and args.op == "domain-cap" and "source" not in docs.columns:
        missing = ["source"]
    if not missing and args.op == "sample-k":
        missing = sorted({"lang", "source"} - set(docs.columns))
    if missing:
        raise SystemExit(
            f"--op {args.op} needs a documents parquet; {args.input} is "
            f"missing {', '.join(missing)}"
        )
    if args.op == "token-budget":
        from etl_validator_github_spark.scale.text import quality_budget_select

        report = quality_budget_select(docs)
        keep_flag = None          # the report IS the keep-list
        keep_ids = report.select("doc_id")
        what = "within budget"
    elif args.op == "resample":
        from etl_validator_github_spark.scale.text import importance_resample

        report = importance_resample(docs)
        keep_flag = "accepted"
        keep_ids = report.filter(F.col("accepted") == 1).select("doc_id")
        what = "accepted"
    elif args.op == "sample-k":
        from etl_validator_github_spark.scale.text import hash_sample_exact_k

        report = hash_sample_exact_k(docs, k=args.k)
        keep_flag = None          # the report IS the sample
        keep_ids = report.select("doc_id")
        what = "sampled"
    else:
        from etl_validator_github_spark.scale.text import domain_cap_select

        report = domain_cap_select(docs)
        keep_flag = "cap_keep"
        keep_ids = report.filter(F.col("cap_keep") == 1).select("doc_id")
        what = "under the domain cap"
    if args.write_docs:
        out = docs.join(keep_ids, "doc_id", "left_semi")
        out.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_out = spark.read.parquet(args.output).count()
    else:
        report.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_out = (written.filter(F.col(keep_flag) == 1).count()
                 if keep_flag else written.count())
        n_in = docs.count()
    print(f"{args.op}: {n_in} docs -> {n_out} {what} -> {args.output}")
    return 0


def _cmd_sketch(args: argparse.Namespace) -> int:
    """Distinct-count sketching over any parquet: build md5-HLL
    registers grouped by ``--group-by`` over ``--key`` and either print
    the estimate report (default) or append the registers to a register
    log (``--registers``) whose estimate max-merges across runs —
    the batch twin of the streaming maintenance in
    streaming/events.py."""
    from etl_validator_github_spark.scale.sketches import (
        distinct_sketch,
        fold_registers,
        hll_registers,
    )

    spark = get_spark(app_name="distinct-sketch")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.input)
    missing = sorted({args.group_by, args.key} - set(df.columns))
    if missing:
        raise SystemExit(
            f"{args.input} is missing column(s) {', '.join(missing)}"
        )
    if args.registers:
        hll_registers(df, args.group_by, args.key).write.mode(
            "append"
        ).parquet(args.registers)
        from pyspark.sql import functions as F

        merged = (
            spark.read.parquet(args.registers)
            .groupBy("grp", "bucket").agg(F.max("m_reg").alias("m_reg"))
        )
        rows = fold_registers(merged).orderBy("grp").collect()
        src = f"register log {args.registers}"
    else:
        rows = (
            distinct_sketch(df, args.group_by, args.key, args.key)
            .orderBy("grp").collect()
        )
        src = args.input
    print(f"distinct({args.key}) by {args.group_by} — {src}")
    for r in rows:
        true = f" true={r['n_true']}" if "n_true" in r.asDict() else ""
        print(f"  {r['grp']}: est={r['n_est']}{true} "
              f"(empty_regs={r['v_zero']})")
    return 0


def _cmd_scenario(args: argparse.Namespace) -> int:
    from etl_validator_github_spark.pipeline import run_scenario

    spark = get_spark(app_name="bankdata-scenario")
    spark.sparkContext.setLogLevel("ERROR")
    columns, cells = _parse_invalid_values(args.invalid_values or [])
    res = run_scenario(
        spark, args.work_dir, rows=args.rows, seed=args.seed,
        invalid_values=columns, invalid_cells=cells,
        extension=args.extension,
    )
    print(res.summary())
    return 0 if res.reconcile_passed else 1


def _cmd_media(args: argparse.Namespace) -> int:
    """Decode-backed media feature report over a documents parquet:
    synthesize the deterministic fixture payloads (real netpbm images
    or real PCM16 WAVs), run the REAL decoder inside Arrow batches,
    and print corpus-level stats. ``--output`` additionally writes the
    per-doc feature table."""
    from pyspark.sql import functions as F

    from etl_validator_github_spark.scale import multimodal

    spark = get_spark(app_name="media-features")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    missing = sorted({"doc_id", "text"} - set(docs.columns))
    if missing:
        raise SystemExit(
            f"media needs a documents parquet with (doc_id, text); "
            f"{args.input} is missing {', '.join(missing)}"
        )
    if args.kind == "image":
        feats = multimodal.image_pixel_stats(
            multimodal.attach_image_payload(docs)
        )
        summary = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("width").cast("long") * F.col("height"))
            .alias("px"),
            F.avg("mean_luma_milli").alias("luma"),
        ).collect()[0]
        line = (f"{summary['n']} images, {summary['px']} pixels, "
                f"mean luma {summary['luma'] / 1000.0:.3f}")
    else:
        feats = multimodal.audio_stats(
            multimodal.attach_audio_payload(docs)
        )
        summary = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_samples").cast("long")).alias("samples"),
            F.avg("mean_abs_milli").alias("amp"),
        ).collect()[0]
        line = (f"{summary['n']} clips, {summary['samples']} samples, "
                f"mean |amplitude| {summary['amp'] / 1000.0:.1f}")
    if args.output:
        feats.write.mode("overwrite").parquet(args.output)
        line += f" -> {args.output}"
    print(f"{args.kind} features: {line}")
    return 0



def _parse_check(spec: str):
    """One --check spec → a Check. Grammar (colon-separated):
    not_null:COL | unique:COL | in_set:COL:v1|v2|... |
    between:COL:LO:HI | matches:COL:REGEX (regex may contain colons)."""
    from etl_validator_github_spark.operators import expectations as ex

    kind, _, rest = spec.partition(":")
    if kind == "not_null":
        return ex.expect_not_null(rest)
    if kind == "unique":
        return ex.expect_unique(rest)
    if kind == "in_set":
        col, _, vals = rest.partition(":")
        return ex.expect_in_set(col, tuple(vals.split("|")))
    if kind == "between":
        col, lo, hi = rest.split(":")
        return ex.expect_between(col, float(lo), float(hi))
    if kind == "matches":
        col, _, pattern = rest.partition(":")
        return ex.expect_matches(col, pattern)
    raise SystemExit(f"unknown check kind: {kind!r}")


def _cmd_expect(args: argparse.Namespace) -> int:
    """Declarative data-quality gate over any parquet: run every
    --check in one aggregation job (operators/expectations.py), print
    the per-check report, exit 1 if any violation share exceeds
    --max-violation-ppm (default 0 = any violation fails the gate)."""
    from etl_validator_github_spark.operators.expectations import (
        run_expectations,
    )

    # Column construction (F.col inside the expect_* builders) needs an
    # active SparkContext in classic PySpark — start the session BEFORE
    # parsing checks, or a standalone `expect` invocation asserts inside
    # pyspark before reaching any user-facing error.
    spark = get_spark(app_name="expectations")
    spark.sparkContext.setLogLevel("ERROR")
    checks = [_parse_check(c) for c in args.check]
    df = spark.read.parquet(args.input)
    missing = sorted({c.column for c in checks} - set(df.columns))
    if missing:
        raise SystemExit(
            f"{args.input} is missing column(s) {', '.join(missing)}"
        )
    rows = run_expectations(df, checks).orderBy("check").collect()
    # n_rows == 0 makes violation_ppm NULL (0-denominator integer div);
    # an empty table can't meaningfully pass a data-quality gate, so
    # fail it explicitly instead of crashing on None <= int (ADVICE r8).
    if rows and rows[0]["n_rows"] == 0:
        print(f"FAIL empty input: {args.input} has 0 rows")
        return 1
    failed = False
    for r in rows:
        status = "OK" if r["violation_ppm"] <= args.max_violation_ppm \
            else "FAIL"
        failed = failed or status == "FAIL"
        print(f"{status:4} {r['check']:40} rows={r['n_rows']} "
              f"violations={r['n_violations']} ppm={r['violation_ppm']}")
    return 1 if failed else 0



_SQL_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")


def _cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over a testdata-layout directory: registers every
    <table>.parquet under --dir as a temp view and runs the statement
    through spark.sql — the Spark-idiomatic stand-in for the
    reference's run_sql_test.py utility (REF run_sql_test.py: execute a
    statement against the warehouse and print rows), with Catalyst
    instead of a warehouse connection."""
    spark = get_spark(app_name="sql")
    spark.sparkContext.setLogLevel("ERROR")
    import os

    registered = []
    for t in _SQL_TABLES:
        path = os.path.join(args.dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
            registered.append(t)
    if not registered:
        raise SystemExit(f"no testdata tables under {args.dir}")
    df = spark.sql(args.statement)
    if args.explain:
        from etl_validator_github_spark.plans.session import explain_str

        print(explain_str(df))
    df.show(args.max_rows, truncate=False)
    return 0



def _cmd_retrieve(args: argparse.Namespace) -> int:
    """BM25 retrieval over any documents parquet (doc_id + text
    columns): each --query string becomes a ranked top-k list through
    the inverted-postings scorer (scale/text.py bm25_topk)."""
    from etl_validator_github_spark.scale.text import bm25_topk

    spark = get_spark(app_name="retrieve")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    missing = sorted({"doc_id", "text"} - set(docs.columns))
    if missing:
        raise SystemExit(
            f"{args.input} is missing column(s) {', '.join(missing)}"
        )
    queries = tuple((i + 1, q) for i, q in enumerate(args.query))
    out = bm25_topk(docs, queries=queries, k=args.k) \
        .orderBy("query_id", "rnk").collect()
    for i, q in queries:
        print(f"query {i}: {q!r}")
        for r in out:
            if r["query_id"] == i:
                print(f"  #{r['rnk']}: doc {r['doc_id']} "
                      f"score={r['score_micro'] / 1e6:.4f} "
                      f"({r['n_terms']} terms matched)")
    return 0


def _cmd_classify(args: argparse.Namespace) -> int:
    """Learned quality filter over any documents parquet (doc_id, text,
    lang): trains the NB token-weight model on the doc_id%10<3 split
    with heuristic teacher labels, scores every doc, and prints the
    confusion rollup plus the calibration curve; ``--output`` writes
    the per-doc scores parquet instead."""
    spark = get_spark(app_name="classify")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.input)
    missing = sorted({"doc_id", "text", "lang"} - set(docs.columns))
    if missing:
        raise SystemExit(
            f"{args.input} is missing column(s) {', '.join(missing)}"
        )
    from etl_validator_github_spark.scale.text import (
        _train_and_score,
        classifier_calibration_rollup,
        classifier_confusion_rollup,
    )

    if args.output:
        _train_and_score(docs).write.mode("overwrite").parquet(args.output)
        print(f"wrote per-doc scores to {args.output}")
        return 0
    # Score ONCE (lazy checkpoint barrier) — both rollups fold the
    # same materialized frame instead of re-training per readout.
    scored = _train_and_score(docs).localCheckpoint(eager=False)
    print("confusion rollup (lang × teacher label × predicted):")
    classifier_confusion_rollup(scored).orderBy(
        "lang", "label", "predicted"
    ).show(100, truncate=False)
    print("calibration (score-percent bucket vs observed label rate):")
    classifier_calibration_rollup(scored).orderBy("bucket").show(
        101, truncate=False
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="etl_validator_github_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="seeded synthetic bank data")
    g.add_argument("--rows", type=int, default=50)       # GEN:596 default
    g.add_argument("--seed", type=int, default=246)      # suite convention
    g.add_argument("--output", required=True)
    g.add_argument("--formats", default="parquet")
    g.add_argument("--null-display", default=None)
    g.add_argument("--blank-as-null", action="store_true")
    g.set_defaults(fn=_cmd_generate)

    m = sub.add_parser("mutate", help="scenario mutations on a bank file")
    m.add_argument("input")
    m.add_argument("--output", required=True)
    m.add_argument("--invalid-values", nargs="*", default=None,
                   metavar="Col:Val|Col:row=Val")
    m.add_argument("--drop-columns", nargs="*", default=None)
    m.add_argument("--rename-columns", nargs="*", default=None,
                   metavar="Old:New")
    m.add_argument("--drop-rows", nargs="*", type=int, default=None)
    m.add_argument("--duplicate-payee", action="store_true")
    m.add_argument("--extra-columns", nargs="*", default=None,
                   help="extra-column scenario (PIPE:3289-3323)")
    m.add_argument("--duplicate-row", type=int, default=None, metavar="ROW",
                   help="append a copy of one row (PIPE:2636-2692)")
    m.add_argument("--min-max-limits", nargs="*", default=None,
                   metavar="Col:MIN:MAX",
                   help="boundary + violation rows (PIPE:3325-3432)")
    m.set_defaults(fn=_cmd_mutate)

    v = sub.add_parser("validate", help="run the rule catalog on a file")
    v.add_argument("input")
    v.add_argument("--error-dir", required=True)
    v.add_argument("--archive-dir", default=None)
    v.set_defaults(fn=_cmd_validate)

    s = sub.add_parser(
        "scenario",
        help="full E1 lifecycle: generate -> inject -> validate -> reconcile",
    )
    s.add_argument("--work-dir", required=True)
    s.add_argument("--rows", type=int, default=50)
    s.add_argument("--seed", type=int, default=246)
    s.add_argument("--invalid-values", nargs="*", default=None,
                   metavar="Col:Val|Col:row=Val")
    s.add_argument("--extension", default="parquet",
                   help="ready-file extension; a non-ingestible one "
                        "exercises the invalid-extension rejection "
                        "(PIPE:3040-3073)")
    s.set_defaults(fn=_cmd_scenario)

    d = sub.add_parser(
        "dedup",
        help="corpus dedup keep-list (exact content-hash or fuzzy "
             "LSH+Jaccard+components) over a documents parquet",
    )
    d.add_argument("input")
    d.add_argument("--output", required=True)
    d.add_argument("--mode",
                   choices=("exact", "fuzzy", "incremental", "semantic",
                            "spans", "bloom"),
                   default="exact")
    d.add_argument("--corpus", default=None,
                   help="incremental mode: parquet of the already-"
                        "ingested corpus whose index the input probes; "
                        "bloom mode: the held-out suite that builds "
                        "the filter")
    d.add_argument("--write-docs", action="store_true",
                   help="write surviving documents instead of the "
                        "(doc_id, cluster_id, keep) keep-list")
    d.set_defaults(fn=_cmd_dedup)

    c = sub.add_parser(
        "curate",
        help="training-mixture curation passes over a documents "
             "parquet: per-lang token budget, DSIR importance "
             "resampling, per-domain cap",
    )
    c.add_argument("input")
    c.add_argument("--output", required=True)
    c.add_argument("--op",
                   choices=("token-budget", "resample", "domain-cap",
                            "sample-k"),
                   required=True)
    c.add_argument("--k", type=int, default=3,
                   help="sample-k: docs per (lang, source) stratum")
    c.add_argument("--write-docs", action="store_true",
                   help="write the surviving documents instead of the "
                        "per-doc report/keep-list")
    c.set_defaults(fn=_cmd_curate)

    k = sub.add_parser(
        "sketch",
        help="md5-HLL distinct-count sketch over a parquet: estimate "
             "report, or maintain a mergeable register log",
    )
    k.add_argument("input")
    k.add_argument("--group-by", required=True)
    k.add_argument("--key", required=True)
    k.add_argument("--registers",
                   help="append this run's registers to a register-log "
                        "parquet and report the log's max-merged "
                        "estimate (idempotent across re-runs)")
    k.set_defaults(fn=_cmd_sketch)

    md = sub.add_parser(
        "media",
        help="decode-backed image/audio feature report over a "
             "documents parquet (real netpbm / WAV codecs)",
    )
    md.add_argument("input")
    md.add_argument("--kind", choices=("image", "audio"),
                    default="image")
    md.add_argument("--output",
                    help="also write the per-doc feature table here")
    md.set_defaults(fn=_cmd_media)

    e = sub.add_parser(
        "expect",
        help="declarative data-quality gate over a parquet: all checks "
             "in one aggregation job, nonzero exit on violations",
    )
    e.add_argument("input")
    e.add_argument("--check", action="append", required=True,
                   help="not_null:COL | unique:COL | in_set:COL:v1|v2 | "
                        "between:COL:LO:HI | matches:COL:REGEX "
                        "(repeatable)")
    e.add_argument("--max-violation-ppm", type=int, default=0,
                   help="per-check tolerance before the gate fails "
                        "(default 0: any violation fails)")
    e.set_defaults(fn=_cmd_expect)

    sq = sub.add_parser(
        "sql",
        help="ad-hoc SQL over a testdata-layout directory of parquet "
             "tables (temp views + spark.sql)",
    )
    sq.add_argument("statement")
    sq.add_argument("--dir", default="/root/testdata/sf0.01")
    sq.add_argument("--max-rows", type=int, default=50)
    sq.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan first")
    sq.set_defaults(fn=_cmd_sql)

    rt = sub.add_parser(
        "retrieve",
        help="BM25 top-k retrieval over a documents parquet "
             "(inverted postings, integer-exact ranking)",
    )
    rt.add_argument("input")
    rt.add_argument("--query", action="append", required=True,
                    help="query string (repeatable; each gets its own "
                         "ranked list)")
    rt.add_argument("-k", type=int, default=5)
    rt.set_defaults(fn=_cmd_retrieve)

    cl = sub.add_parser(
        "classify",
        help="learned quality filter over a documents parquet: train "
             "on the doc_id%%10<3 split, print confusion + calibration "
             "(or --output per-doc scores)",
    )
    cl.add_argument("input")
    cl.add_argument("--output",
                    help="write the per-doc scores parquet instead of "
                         "printing the rollups")
    cl.set_defaults(fn=_cmd_classify)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
