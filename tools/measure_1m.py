"""1M-document scaling measurements for the corpus operators.

Reproduces (and extends) the "Measured at 1M documents" table in
SCALE.md: generates N synthetic documents with the custom Python
DataSource (sources/synthdocs.py), materializes them to parquet once,
then times each heavy corpus operator end-to-end (build + action) on
the parquet copy. One JSON line per run.

Usage:
    python tools/measure_1m.py [--docs 1000000] \
        [--ops gen,exact,stats,bloom,bloom_strings,minhash,spans,ppjoin,novelty,bm25,curation]

Methodology notes (kept stable across rounds for comparability):
- every operator is forced with a noop-format write, NOT ``.count()``:
  Catalyst optimizes a count over a map-only projection down to the
  parquet row count (and eliminates unreferenced left joins against
  aggregated keys), so counts time nothing for half these ops — the
  round-7 numbers mixed methodologies, which is why stats/spans jump
  between rounds;
- ``--repeat N`` times each op N times (first run carries JIT/codegen
  warm-up — report the later runs for steady state);
- local[32], shuffle_partitions=64, load averages recorded start/end;
- the Bloom held-out suite is the first 10 documents and the FULL
  corpus is probed (the round-7 setup that measured 96 s on the
  string-shingle path);
- `bloom` times the map-side window-hash path the catalog query uses;
  `bloom_strings` times the old exploded string-shingle path
  (bloom_build/bloom_probe) for the before/after comparison;
- minhash/spans/ppjoin run the same library entry points as their
  catalog queries, on the synthetic corpus (which carries planted
  near-duplicates every DUP_EVERY docs — see sources/synthdocs.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BLOOM_HELDOUT_DOCS = 10

ALL_OPS = ("gen", "exact", "stats", "bloom", "bloom_strings",
           "minhash", "spans", "ppjoin", "novelty", "bm25", "curation",
           "sweep", "vocab_coverage", "classifier",
           "split_leak", "ivf_index", "epoch_shuffle", "bpe",
           "keeplongest", "rrf", "bm25_delta", "compaction", "ks_drift",
           "serve_external", "winnow", "contamination")


def _stable_pair(runs):
    """The timed() commitment rule, recomputed from a recorded run
    list: first consecutive WARM pair within 1.2× (run 1 — cold — is
    never half of the pair). None when the cap was hit pairless."""
    if not isinstance(runs, list) or len(runs) < 3:
        return None
    warm = runs[1:]
    for a, b in zip(warm, warm[1:]):
        if max(a, b) <= 1.2 * min(a, b):
            return (a, b)
    return None


def _pass_rep(v):
    """One pass's (representative_seconds, basis) for a recorded
    timing: ``pair`` = stable-pair midpoint (the trusted case),
    ``warm`` = best warm run of a pairless multi-run list, ``cold`` =
    a single run (JIT/page-cache cold — never committable), None =
    error string / missing."""
    pr = _stable_pair(v)
    if pr is not None:
        return (pr[0] + pr[1]) / 2, "pair"
    if isinstance(v, list) and len(v) >= 2:
        return min(v[1:]), "warm"
    if isinstance(v, list) and len(v) == 1:
        return v[0], "cold"
    if isinstance(v, (int, float)):
        return v, "cold"
    return None, None


def _cross_pass(pass_timings, pass_cpus=None):
    """The r12 cross-pass agreement rule, mechanized: a committed pair
    is trusted only when the SAME-COMMIT passes' pairs agree within
    1.2× of each other — the box's throttle plateaus last long enough
    for a 1.2× consecutive pair to land inside a slow state
    (root-cause: MEASURE_1M_r12.jsonl, per-run stage telemetry), and
    only cross-pass disagreement exposes it. Pairless multi-run lists
    compare on their best warm run; single cold runs compare but are
    never committed (basis says why). Keys missing from any pass
    (e.g. the once-only gen setup) get no verdict.

    With per-run CPU attribution (r13, plans/telemetry.py) each key
    also carries the passes' cpu_s lists and a ``wall_cpu_verdict``:
    when the passes' wall representatives disagree, "throttle-suspect"
    if their warm CPU minima disagree too (same instructions, slower
    cycles — the r12 bisect signature), "external-wait" if CPU agrees
    while wall does not (scheduling / IO interference, not cycles)."""
    keys = set(pass_timings[0])
    for p in pass_timings[1:]:
        keys &= set(p)
    out = {}
    for k in sorted(keys):
        vals = [p.get(k) for p in pass_timings]
        pairs = [_stable_pair(v) for v in vals]
        reps, bases = zip(*(_pass_rep(v) for v in vals))
        agree = (len(reps) >= 2 and all(r is not None for r in reps)
                 and max(reps) <= 1.2 * min(reps))
        committed = None
        if agree and "cold" not in bases:
            committed = round(min(
                min(pr) if pr is not None else r
                for pr, r in zip(pairs, reps)
            ), 1)
        out[k] = {
            "pairs": [list(pr) if pr else None for pr in pairs],
            "basis": list(bases),
            "agree": agree,
            "committed": committed,
        }
        if pass_cpus is not None:
            cvals = [p.get(k) for p in pass_cpus]
            out[k]["cpu"] = cvals
            warm_mins = []
            for cv in cvals:
                warm = [c for c in (cv[1:] if isinstance(cv, list)
                                    else [cv])
                        if isinstance(c, (int, float)) and c > 0]
                warm_mins.append(min(warm) if warm else None)
            cpu_agree = (len(warm_mins) >= 2
                         and all(m is not None for m in warm_mins)
                         and max(warm_mins) <= 1.2 * min(warm_mins))
            if agree or any(m is None for m in warm_mins):
                out[k]["wall_cpu_verdict"] = None
            elif not cpu_agree:
                out[k]["wall_cpu_verdict"] = "throttle-suspect"
            else:
                out[k]["wall_cpu_verdict"] = "external-wait"
    return out


def _run_isolated(args, ops) -> int:
    """Per-op subprocess driver: each op gets a fresh Python + JVM, so
    'warm' repeats measure the op, not the residue of its predecessors.
    The parquet corpus is generated once (the 'gen' child) and reused
    read-only by every later child via the shared --workdir. With
    ``--passes N`` the whole op list runs N times and the cross-pass
    agreement verdict is computed per timing key (see _cross_pass)."""
    import subprocess

    # The corpus must exist before any non-gen child runs — and gen
    # runs exactly ONCE even under --passes N (its child rmtree's the
    # shared workdir, so a per-pass gen would wipe derived artifacts
    # and re-pay corpus generation for zero extra evidence).
    if "gen" not in ops:
        pq = os.path.join(args.workdir, f"docs_{args.docs}.parquet")
        if not os.path.exists(pq):
            ops = ["gen", *ops]
    gen_ops = [op for op in ops if op == "gen"]
    pass_ops = [op for op in ops if op != "gen"]
    merged_c: dict[str, int] = {}
    load0 = os.getloadavg()[0]
    n_cpus = None  # the children's Spark parallelism
    pass_timings: list[dict[str, object]] = []
    pass_cpus: list[dict[str, object]] = []
    pass_shf: list[dict[str, object]] = []
    for n_pass in range(max(args.passes, 1)):
        merged_t: dict[str, object] = {}
        merged_cpu: dict[str, object] = {}
        merged_shf: dict[str, object] = {}
        for op in (gen_ops + pass_ops if n_pass == 0 else pass_ops):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--docs", str(args.docs), "--ops", op,
                "--workdir", args.workdir, "--repeat", str(args.repeat),
                "--stable-cap", str(args.stable_cap),
                "--codec", args.codec,
                "--no-isolate",
            ]
            res = subprocess.run(cmd, capture_output=True, text=True)
            sys.stderr.write(res.stderr)
            line = next(
                (ln for ln in reversed(res.stdout.splitlines())
                 if ln.startswith("{")), None)
            if res.returncode != 0 or line is None:
                merged_t[op] = f"err: child exited {res.returncode}"
                continue
            child = json.loads(line)
            merged_t.update(child.get("timings_sec", {}))
            merged_cpu.update(child.get("cpu_sec", {}))
            merged_shf.update(child.get("shuffle_mb", {}))
            merged_c.update(child.get("row_counts", {}))
            n_cpus = child.get("n_cpus", n_cpus)
        pass_timings.append(merged_t)
        pass_cpus.append(merged_cpu)
        pass_shf.append(merged_shf)
    doc = {
        "docs": args.docs,
        "isolated": True,
        "codec": args.codec,
        "timings_sec": pass_timings[0],
        "cpu_sec": pass_cpus[0],
        "shuffle_mb": pass_shf[0],
        "row_counts": merged_c,
        "load_avg_1m": {"start": round(load0, 2),
                        "end": round(os.getloadavg()[0], 2)},
        "n_cpus": n_cpus,
        "host_cpus": len(os.sched_getaffinity(0)),
    }
    if len(pass_timings) > 1:
        doc["passes"] = pass_timings
        doc["passes_cpu"] = pass_cpus
        doc["cross_pass"] = _cross_pass(pass_timings, pass_cpus)
    print(json.dumps(doc))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--ops", default=",".join(ALL_OPS))
    ap.add_argument("--workdir", default="/tmp/spark_graft_1m")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--passes", type=int, default=1,
                    help="run the whole op list N times (isolated mode) "
                         "and emit the cross-pass agreement verdict per "
                         "timing key - the r12 throttle-plateau guard")
    ap.add_argument("--stable-cap", type=int, default=6,
                    help="max runs for stable=True ops before giving "
                         "up on a stable pair (raise for ops the box "
                         "bursts on, e.g. spans)")
    ap.add_argument("--codec", default="lz4",
                    help="spark.io.compression.codec for shuffle/spill "
                         "blocks (lz4 = Spark default; zstd trades CPU "
                         "for ~35-45%% smaller shuffle files — the "
                         "knob that decides whether the 10M spans "
                         "shuffle fits a single box's local disk)")
    ap.add_argument("--isolate", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="run each op in its own subprocess (fresh JVM) "
                         "so GC/shuffle/broadcast state from one op "
                         "cannot bleed into the next op's timings — "
                         "same-process op sequences degraded warm "
                         "repeats up to 2.8x (BPE 34.7 s -> 92.8 s by "
                         "repeat two when run after the full op chain)")
    args = ap.parse_args()
    if args.passes > 1 and not args.isolate:
        ap.error("--passes requires isolated mode (the cross-pass "
                 "verdict compares fresh-JVM passes); drop --no-isolate")
    ops = [o.strip() for o in args.ops.split(",") if o.strip()]
    unknown = set(ops) - set(ALL_OPS)
    if unknown:
        ap.error(f"unknown ops: {sorted(unknown)}")

    if args.isolate and (len(ops) > 1 or args.passes > 1):
        return _run_isolated(args, ops)

    from etl_validator_github_spark.plans.session import get_spark
    from etl_validator_github_spark.sources import synthdocs

    spark = get_spark(
        app_name="measure-1m", master="local[32]", shuffle_partitions=64,
        # r14: UI off again — per-run CPU attribution now reads the
        # in-process AppStatusStore (plans/telemetry.py), which the r13
        # verdict asked for after measuring the UI-on session as a
        # uniform drag on every timed query.
        extra_conf={"spark.driver.memory": "48g",
                    "spark.io.compression.codec": args.codec},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from etl_validator_github_spark.plans.telemetry import StageCpuMeter

    meter = StageCpuMeter(spark)
    cpu_s: dict[str, object] = {}
    shuffle_mb: dict[str, object] = {}
    synthdocs.register(spark)
    per_shard = max(args.docs // 32, 1)
    src = (
        spark.read.format("synthdocs")
        .option("docs", str(args.docs))
        .option("docs_per_shard", str(per_shard))
        .load()
    )

    pq = os.path.join(args.workdir, f"docs_{args.docs}.parquet")
    timings: dict[str, object] = {}
    counts: dict[str, int] = {}
    load0 = os.getloadavg()[0]

    def force(df):
        """Execute the full plan (noop write — nothing prunable)."""
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn, repeat=None, stable=False):
        """``stable=True`` applies the repeat-until-stable convention
        (SCALE.md evidence section): rerun until two CONSECUTIVE warm
        runs agree within 1.2x, report the full run list and commit
        that stable pair — so a box throttle burst (the ±37%/minutes
        host drift documented in SCALE.md) is visibly discarded by
        rule, not by judgment call. The first run is cold by
        definition (JIT, page cache, shuffle files) and can never be
        half of the stable pair — at least three runs always happen.
        Capped at --stable-cap runs (default 6); only valid for
        idempotent ops (reruns must do the same work)."""
        import gc

        runs = []
        cpus = []
        shfs = []
        out = None
        max_runs = (max(args.stable_cap, 3) if stable
                    else max(repeat or args.repeat, 1))
        while len(runs) < max_runs:
            # Release the previous repeat's DataFrames BEFORE timing:
            # operators that localCheckpoint (the cluster fixpoint)
            # leave RDD blocks pinned until Python GC drops the last
            # reference and the ContextCleaner reclaims them — without
            # this, blocks accumulate across same-process repeats and
            # later runs thrash (measured: keeplongest 33 s → 261 s by
            # repeat three).
            gc.collect()
            before = meter.snapshot()
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # record, keep measuring the rest
                timings[name] = f"err: {exc}"[:200]
                print(f"[measure] {name} FAILED: {exc}", file=sys.stderr)
                return
            runs.append(round(time.perf_counter() - t0, 1))
            d = meter.delta(before)
            cpus.append(None if d is None else round(d["cpu_s"], 1))
            shfs.append(None if d is None
                        else round(d["shuffle_write"] / 1e6, 1))
            # One source of truth for the commitment rule: the same
            # _stable_pair the cross-pass verdict recomputes with.
            if stable and _stable_pair(runs) is not None:
                break
        if out is not None:
            counts[name] = out
        timings[name] = runs[0] if len(runs) == 1 else runs
        cpu_s[name] = cpus[0] if len(cpus) == 1 else cpus
        shuffle_mb[name] = shfs[0] if len(shfs) == 1 else shfs
        print(f"[measure] {name}: {timings[name]} cpu={cpu_s[name]} "
              f"(load {os.getloadavg()[0]:.1f})", file=sys.stderr, flush=True)

    if "gen" in ops or not os.path.exists(pq):
        shutil.rmtree(args.workdir, ignore_errors=True)
        timed("gen", lambda: (
            src.select("doc_id", "text", "lang", "source", "n_chars")
            .write.parquet(pq) or spark.read.parquet(pq).count()),
            repeat=1)  # a second write would collide with the first

    docs = spark.read.parquet(pq)

    if "exact" in ops:
        from etl_validator_github_spark.scale.dedup import exact_dedup_groups
        timed("exact", lambda: force(exact_dedup_groups(docs)))

    if "stats" in ops:
        from etl_validator_github_spark.scale.text import text_stats
        timed("stats", lambda: force(text_stats(docs)))

    if "bloom" in ops or "bloom_strings" in ops:
        from etl_validator_github_spark.scale import sketches
        from etl_validator_github_spark.scale.dedup import (
            DECON_SHINGLE, _doc_shingles,
        )
        held = docs.filter(F.col("doc_id") < BLOOM_HELDOUT_DOCS)
        if "bloom" in ops:
            def run_bloom():
                wp = sketches._window_positions(docs, DECON_SHINGLE)
                row = sketches.bloom_build_from_positions(
                    sketches._window_positions(held, DECON_SHINGLE))
                return force(sketches.bloom_probe_positions(wp, row))
            timed("bloom", run_bloom, stable=True)
        if "bloom_strings" in ops:
            def run_bloom_strings():
                bloom = sketches.bloom_build(
                    _doc_shingles(held).select("shingle").distinct())
                return force(sketches.bloom_probe(
                    _doc_shingles(docs).distinct(), bloom))
            timed("bloom_strings", run_bloom_strings)

    if "minhash" in ops:
        from etl_validator_github_spark.scale.dedup import (
            minhash_candidate_pairs,
        )
        timed("minhash", lambda: force(minhash_candidate_pairs(docs)))

    if "spans" in ops:
        from etl_validator_github_spark.scale.dedup import (
            substring_span_stats,
        )
        timed("spans", lambda: force(substring_span_stats(docs)),
              stable=True)

    if "novelty" in ops:
        from etl_validator_github_spark.scale.text import ngram_novelty
        # ref slice = synthdocs source 'books' (~1/3 of the corpus —
        # an upper bound on a curated slice, so the semi join probes a
        # worst-case-large reference set). Widen the h64 exchange for
        # this op only (a pre-join repartition can't — Catalyst pushes
        # the semi join below it); at cluster scale AQE plays this role.
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        try:
            timed("novelty", lambda: force(ngram_novelty(
                docs, ref_source="books")))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    if "bm25" in ops:
        from etl_validator_github_spark.scale.text import bm25_topk
        # synthdocs' vocabulary is tok0..tok63: query on in-vocab terms
        # so the postings join carries real weight (the catalog's
        # english terms would prune everything at the broadcast join).
        timed("bm25", lambda: force(bm25_topk(
            docs, queries=((1, "tok1 tok2"), (2, "tok3 tok4 tok5"),
                           (3, "tok6 zzz")))))

    if "curation" in ops:
        from etl_validator_github_spark.scale.text import curation_pipeline
        timed("curation", lambda: force(curation_pipeline(docs)))

    if "bpe" in ops:
        from etl_validator_github_spark.scale.text import bpe_train
        # unrolled merge loop (pair-count hash-agg + broadcast winner
        # per iteration) over the full 134M-token corpus.
        timed("bpe", lambda: force(bpe_train(docs)))

    if "keeplongest" in ops:
        from etl_validator_github_spark.scale.dedup import keep_longest_dedup
        timed("keeplongest", lambda: force(keep_longest_dedup(docs)))

    if "rrf" in ops:
        from etl_validator_github_spark.scale.retrieval import rrf_fuse
        # Corpus-size-independence proof: RRF's contract input is two
        # ranked lists of <= k rows per query — NEVER the corpus. The
        # lists here reference 1M-corpus doc_ids but the fusion cost is
        # (queries x k) = 1000 x 100 rows per side; if this measures in
        # ~agg-of-200k-rows time (vs the 100+ s any corpus-wide op
        # costs at 1M), fusion provably does not scale with the corpus.
        n_q, topk = 1000, 100
        lists = spark.range(n_q * topk).selectExpr(
            "cast(id div {k} as int) as query_id".format(k=topk),
            "cast(id % {k} + 1 as int) as rnk".format(k=topk),
        )
        lex = lists.selectExpr(
            "query_id", "abs(hash(query_id, rnk, 1)) % 1000000 as doc_id",
            "rnk")
        dense = lists.selectExpr(
            "query_id", "abs(hash(query_id, rnk, 2)) % 1000000 as doc_id",
            "rnk")
        timed("rrf", lambda: force(rrf_fuse(lex, dense)))

    if "bm25_delta" in ops:
        from etl_validator_github_spark.scale.text import (
            bm25_from_postings,
            doc_postings,
        )
        # Operational answer to the full-rebuild cost: persist the
        # (doc_id, dl, term, tf) postings once, then ingest a 100k-doc
        # delta by appending ONLY the new docs' groups (the streaming
        # maintenance path, streaming/corpus.py, measured batch-style).
        pdir = os.path.join(args.workdir, "postings_1m.parquet")
        shutil.rmtree(pdir, ignore_errors=True)
        timed("bm25_postings_full", lambda: (
            doc_postings(docs).write.mode("overwrite").parquet(pdir)))
        n_total = args.docs + 100_000
        delta = (
            spark.read.format("synthdocs")
            .option("docs", str(n_total))
            .option("docs_per_shard", str(max(n_total // 32, 1)))
            .load()
            .filter(F.col("doc_id") >= args.docs)
        )
        timed("bm25_postings_delta", lambda: (
            doc_postings(delta).write.mode("append").parquet(pdir)),
            repeat=1)  # a second append would duplicate the delta's tf
        # groups in the persisted index and corrupt the score timing
        timed("bm25_score_from_postings", lambda: force(
            bm25_from_postings(
                spark.read.parquet(pdir),
                queries=((1, "tok1 tok2"), (2, "tok3 tok4 tok5"),
                         (3, "tok6 zzz")))))

    if "ppjoin" in ops:
        from etl_validator_github_spark.scale.dedup import (
            prefix_filter_pairs,
        )
        # k=5 shingles: the catalog's 3-token shingles saturate the
        # synthetic 64-word vocabulary's 64^3 key space well before 1M
        # docs, so every prefix key fans out df^2 candidates (all-pairs
        # degeneration, measured at 20k). See prefix_filter_pairs.
        timed("ppjoin", lambda: force(prefix_filter_pairs(
            docs, shingle_tokens=5)))

    def ensure_emb():
        """The shared 1M × 64-dim vector table over 1024 IVF cells
        (~sqrt-N cell count, the SemDeDup operating point; cell pops
        ~1k stay far below MAX_CELL_PAIR_POP, so every cell pairs).
        ONE generator for sweep/split_leak/ivf_index — the
        cross-measurement comparability depends on it. Generation is
        persisted untimed."""
        edir = os.path.join(args.workdir, f"emb_{args.docs}.parquet")
        if not os.path.exists(edir):
            (spark.range(args.docs).selectExpr(
                "id as vec_id",
                "cast(abs(hash(id)) % 1024 as int) as label",
                "transform(sequence(0, 63), i -> cast("
                "((id * 1103515245 + i * 12345) % 2001 - 1000) / 1000.0"
                " as float)) as embedding",
            ).write.parquet(edir))
        return spark.read.parquet(edir)

    if "sweep" in ops:
        from etl_validator_github_spark.scale.similarity import (
            semantic_threshold_sweep,
        )
        # The sweep's claim under test: ONE pair join feeds every
        # threshold, so cost is independent of how many cutoffs are
        # swept. Timing covers assignment + pair join + per-vector
        # max + threshold fold.
        emb = ensure_emb()
        # dgemm assignment (np_assign): the expression assignment's
        # interpreted per-cell lambda fold is the family's scale bend.
        timed("sweep", lambda: force(semantic_threshold_sweep(
            emb, emb, np_assign=True)))

    if "split_leak" in ops:
        from etl_validator_github_spark.scale.similarity import (
            semantic_split_leakage,
        )
        # Same 1M × 64-dim vector table and assignment as the sweep;
        # the cross-split pair pass touches only eval×train entries of
        # each cell's gram — cost class bounded by one sweep pass.
        emb = ensure_emb()
        timed("split_leak", lambda: force(semantic_split_leakage(
            emb, emb, np_assign=True)))

    if "ivf_index" in ops:
        from etl_validator_github_spark.scale.similarity import (
            append_ivf_index,
            ivf_topk_from_index,
            persist_ivf_index,
        )
        # The operational ANN trio (the vector-side BM25 persist/delta/
        # score analogue): pay the 1M assignment once, append a
        # 100k-vector delta with work ∝ delta, then serve a standing
        # 1000-query batch from the persisted index without touching
        # the corpus again.
        emb = ensure_emb()
        idx = os.path.join(args.workdir, "ivf_index")
        shutil.rmtree(idx, ignore_errors=True)
        # persist is overwrite-idempotent and append now overwrites its
        # delta_id subdirectory, so both take stable repeats (the old
        # repeat=1 guarded against the append-mode duplication the
        # delta_id mechanism has since removed).
        timed("ivf_index_persist", lambda: persist_ivf_index(
            emb, emb, idx, np_assign=True), stable=True)
        delta = (spark.range(args.docs, args.docs + 100_000).selectExpr(
            "id as vec_id",
            "transform(sequence(0, 63), i -> cast("
            "((id * 1103515245 + i * 12345) % 2001 - 1000) / 1000.0"
            " as float)) as embedding",
        ))
        timed("ivf_index_delta_100k", lambda: append_ivf_index(
            delta, idx, np_assign=True, delta_id="measure-delta"),
            stable=True)
        timed("ivf_index_search_1k", lambda: force(ivf_topk_from_index(
            spark, idx, n_queries=1000, np_assign=True)))

    if "epoch_shuffle" in ops:
        from etl_validator_github_spark.scale.snapshots import epoch_shuffle
        # The ranks helper at corpus scale: two seeded md5 permutations
        # of 1M docs, each through the range-partitioned exact-rank
        # decomposition (no single-task sort).
        timed("epoch_shuffle", lambda: force(
            epoch_shuffle(docs.select("doc_id", "text", "lang",
                                      "source", "n_chars"))))

    if "vocab_coverage" in ops:
        from etl_validator_github_spark.scale.text import (
            vocab_coverage_curve,
        )
        # The r9 verdict's scale-watch: the coverage curve's rank pass
        # over the vocab table — now the range-partitioned exact rank
        # (functions/ranks.py), measured here over the full corpus.
        timed("vocab_coverage", lambda: force(vocab_coverage_curve(docs)))

    if "classifier" in ops:
        from etl_validator_github_spark.scale.text import (
            quality_classifier_report,
        )
        # Learned quality filter: ONE hash-agg over the 30% train
        # slice, broadcast vocab, explode + broadcast join + doc-grain
        # agg over the full corpus — no corpus-vs-corpus shuffle.
        timed("classifier", lambda: force(quality_classifier_report(docs)))

    if "winnow" in ops:
        from etl_validator_github_spark.scale.text import (
            winnow_fingerprints,
        )
        # Winnowing fingerprint census: 134M shingle hashes through a
        # per-doc window min (partition bounded by doc length) + one
        # doc-grain hash-agg — the local-dedup complement to MinHash,
        # expected in the spans/bloom cost class.
        timed("winnow", lambda: force(winnow_fingerprints(docs)),
              stable=True)

    if "contamination" in ops:
        from etl_validator_github_spark.scale.text import (
            contamination_audit,
        )
        # Brown-2020 13-gram eval contamination: train-split distinct
        # index + eval semi probe — the novelty cost class (the ~1/7
        # eval split is the probe side; the 6/7 train side pays the
        # distinct-hash aggregation).
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        try:
            timed("contamination", lambda: force(
                contamination_audit(docs)), stable=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    if "serve_external" in ops:
        from etl_validator_github_spark.scale.similarity import (
            ivf_topk_for_queries,
            persist_ivf_index,
        )
        # The real serving contract (r10 verdict item 3): 1k EXTERNAL
        # query vectors — never in the index — assigned against the
        # frozen centroids and probed through the unified store. Cost
        # must sit in the ivf_index_search_1k class (queries × probed
        # cell populations), independent of where the queries came from.
        emb = ensure_emb()
        idx = os.path.join(args.workdir, "ivf_index")
        if not os.path.exists(idx):
            persist_ivf_index(emb, emb, idx, np_assign=True)  # untimed
        ext_q = (spark.range(2_000_000, 2_001_000).selectExpr(
            "id as vec_id",
            "transform(sequence(0, 63), i -> cast("
            "((id * 48271 + i * 31337) % 2001 - 1000) / 1000.0"
            " as float)) as embedding",
        ))
        timed("serve_external_1k", lambda: force(ivf_topk_for_queries(
            spark, idx, ext_q, np_assign=True)),
            stable=True)

    if "compaction" in ops:
        import glob as _glob

        from etl_validator_github_spark.scale.similarity import (
            home_cell_assignment,
            ivf_cells,
            quantized,
        )
        from etl_validator_github_spark.scale.text import doc_postings
        from etl_validator_github_spark.streaming.corpus import (
            compact_log,
            read_ivf_assignment_log,
            read_postings_log,
        )

        def n_files(d):
            return len(_glob.glob(os.path.join(d, "*.parquet")))

        # --- postings log: 3 streamed generations + 1 replayed batch
        # (untimed setup), then: fold-on-read cost BEFORE compaction,
        # the compaction rewrite itself, fold-on-read AFTER, and a
        # recompaction of the already-compacted log (the no-op floor).
        plog = os.path.join(args.workdir, "postings_log_1m.parquet")
        shutil.rmtree(plog, ignore_errors=True)
        for b in range(3):
            doc_postings(docs.filter(F.col("doc_id") % 3 == b)).withColumn(
                "batch_id", F.lit(b)
            ).write.mode("append").parquet(plog)
        doc_postings(docs.filter(F.col("doc_id") % 3 == 0)).withColumn(
            "batch_id", F.lit(7)  # redelivery: loses first-batch-wins
        ).write.mode("append").parquet(plog)
        counts["postings_log_files_before"] = n_files(plog)
        timed("postings_fold_on_read_before", lambda: force(
            read_postings_log(spark, plog)))
        timed("postings_compact", lambda: compact_log(
            spark, plog, key_col="doc_id", n_files=32), repeat=1)
        counts["postings_log_files_after"] = n_files(plog)
        timed("postings_fold_on_read_after", lambda: force(
            read_postings_log(spark, plog)))
        timed("postings_recompact_compacted", lambda: compact_log(
            spark, plog, key_col="doc_id", n_files=32), repeat=1)

        # --- assignment log: 2 streamed generations + 1 replayed batch
        # over the 1M vector table (cells-only bootstrap, the streaming
        # deployment shape), same before/compact/after readout.
        emb = ensure_emb()
        idx = os.path.join(args.workdir, "assign_log_idx")
        shutil.rmtree(idx, ignore_errors=True)
        cells_df = ivf_cells(emb)
        cells_df.write.parquet(f"{idx}/cells.parquet")
        cells = spark.read.parquet(f"{idx}/cells.parquet")
        alog = f"{idx}/assign_log.parquet"
        for b in range(2):
            home_cell_assignment(
                quantized(emb.filter(F.col("vec_id") % 2 == b)),
                cells, np_assign=True,
            ).withColumn("batch_id", F.lit(b)).write.mode(
                "append").parquet(alog)
        home_cell_assignment(
            quantized(emb.filter(F.col("vec_id") % 2 == 0)),
            cells, np_assign=True,
        ).withColumn("batch_id", F.lit(9)).write.mode(
            "append").parquet(alog)
        counts["assign_log_files_before"] = n_files(alog)
        timed("assign_fold_on_read_before", lambda: force(
            read_ivf_assignment_log(spark, idx)))
        timed("assign_compact", lambda: compact_log(
            spark, alog, key_col="vec_id", n_files=32), repeat=1)
        counts["assign_log_files_after"] = n_files(alog)
        timed("assign_fold_on_read_after", lambda: force(
            read_ivf_assignment_log(spark, idx)))

    if "ks_drift" in ops:
        from etl_validator_github_spark.streaming.drift import (
            reference_histogram,
            stream_value_drift,
        )
        # r10 verdict item 7: the monitor E2E at 1M events. Events span
        # ~500 hourly windows; the scored sink must be bounded by the
        # WINDOW count (≤ ~500 rows), never the event count. Setup
        # (JSON source + reference histogram) untimed; the measurement
        # is the full availableNow run: watermarked window histograms +
        # per-finalized-window KS vs the broadcast reference.
        ksd = os.path.join(args.workdir, "ks_drift")
        shutil.rmtree(ksd, ignore_errors=True)
        ev = spark.range(args.docs).selectExpr(
            "id as event_id",
            "1600000000 + (id % 500) * 3600 + (id * 37) % 3600 as ts_s",
            "id % 10000 as user_id",
            "concat('type', id % 5) as event_type",
            "cast(((id * 7919) % 10000) / 100.0 as double) as value",
        )
        ev.repartition(32).write.json(f"{ksd}/src")
        reference_histogram(ev).write.parquet(f"{ksd}/ref")

        def run_drift(run_id=[0]):
            run_id[0] += 1
            sink = f"{ksd}/sink_{run_id[0]}"
            q = stream_value_drift(
                spark, f"{ksd}/src", f"{ksd}/ref", sink,
                f"{ksd}/ckpt_{run_id[0]}", window="1 hour",
                watermark="2 hours", available_now=True)
            # awaitTermination returns False on timeout — the query may
            # still be writing, so counting the sink then would commit
            # a partial count/time as if it were a finished run.
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "ks_drift_stream run exceeded 600 s — discarded"
                )
            return spark.read.parquet(sink).count()
        timed("ks_drift_stream_1m", run_drift, stable=True)

    print(json.dumps({
        "docs": args.docs,
        "codec": args.codec,
        "timings_sec": timings,
        "cpu_sec": cpu_s,
        "shuffle_mb": shuffle_mb,
        "row_counts": counts,
        "load_avg_1m": {"start": round(load0, 2),
                        "end": round(os.getloadavg()[0], 2)},
        "n_cpus": spark.sparkContext.defaultParallelism,
        "host_cpus": len(os.sched_getaffinity(0)),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
