#!/usr/bin/env python
"""Beyond-fixture scale probe: synthesize `events` and `documents` tables at
10-160x the sf0.1 fixture size -- JVM-side (spark.range + hash columns, no
driver loop), written as parquet in the fixture directory layout -- then time
the UNMODIFIED query functions against the synthetic dirs. The point is to
MEASURE the linearity the scale design claims, on the exact code path the
bench and driver run (including the parquet scan), past where the fixtures
stop.

    PYTHONPATH=/root/repo python tools/scale_probe.py            # full sweep
    PYTHONPATH=/root/repo python tools/scale_probe.py --quick    # smallest size only

Synthesis is deterministic (xxhash64-keyed), zipf-ish for tokens (40% of
draws from a 50-word head — residues 0-1 of 5 — the rest over a 1950-word
tail) so the text operators see a realistic frequency skew. Events average
~20 per user so sessionization has real per-user streams.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

# Overridable: some sandboxes aggressively clean /tmp mid-run, which would
# delete synthesized parquet between the write and the timed reads.
BASE = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp/scale_probe")
EVENT_SIZES = [1_000_000, 4_000_000, 16_000_000]
DOC_SIZES = [100_000, 400_000]
DOC_WORDS = 80
# 10x / 40x the sf0.1 embeddings table (2000 vectors, 10 labels). Labels
# scale WITH the corpus so blocks stay ~200 vectors -- the production
# stance (SemDeDup cluster count grows with corpus size); a fixed label
# count would make the blocked pair graph quadratic by construction and
# measure nothing but that choice.
EMB_SIZES = [20_000, 80_000]
EMB_BLOCK = 200
EMB_DIM = 64

_TYPES = ["click", "view", "purchase", "signup", "error"]
_SOURCES = ["wiki", "web", "books", "code", "news"]


def synth_events(spark, n: int, out: str, n_types: int | None = None) -> None:
    """n events, ~20 per user, 90 days of microsecond timestamps. Types:
    the 5 fixture names by default; ``n_types`` switches to synthetic
    ids ("t0007", ...) for probes whose axis is SERIES CARDINALITY (the
    correlation matrix's quadratic dimension)."""
    day_us = 86_400 * 1_000_000
    if n_types is None:
        type_col = F.element_at(
            F.array(*[F.lit(t) for t in _TYPES]),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(5)) + 1).cast(
                "int"
            ),
        )
    else:
        type_col = F.concat(
            F.lit("t"),
            F.lpad(
                F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(n_types)).cast(
                    "string"
                ),
                4,
                "0",
            ),
        )
    (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(90 * day_us))
            ).alias("ts"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(max(n // 20, 1))).alias(
                "user_id"
            ),
            type_col.alias("event_type"),
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(1_000_000)).cast(
                    "double"
                )
                / 1000.0
            ).alias("value"),
            F.lit('{"synthetic": true}').alias("props"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )


def synth_documents(spark, n: int, out: str, n_langs: int = 1) -> None:
    """n documents of DOC_WORDS tokens with a zipf-ish head/tail split.

    ``n_langs`` > 1 spreads docs over that many synthetic lang codes --
    needed by the dedup probe: d_fuzzy_levenshtein blocks its quadratic
    comparison by (source, lang), and like the embeddings probe's labels
    the block-key cardinality must GROW with the corpus (at 100 TB the
    block key is a coarse content signature whose cardinality scales);
    a fixed 5-block corpus would make the blocked self-join quadratic by
    construction and measure only that choice."""
    # Per (doc, position) hash drives both the head/tail choice and the
    # word index; all JVM expressions, no Python per row.
    idx = (
        "transform(sequence(1, {w}), i -> "
        " case when pmod(xxhash64(id, i, 5), 5) < 2"
        "      then concat('h', pmod(xxhash64(id, i, 6), 50))"
        "      else concat('t', pmod(xxhash64(id, i, 7), 1950)) end)"
    ).format(w=DOC_WORDS)
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(F.expr(idx), " ").alias("text"),
            (
                F.lit("en")
                if n_langs <= 1
                else F.concat(
                    F.lit("l"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(n_langs)),
                )
            ).alias("lang"),
            F.element_at(
                F.array(*[F.lit(s) for s in _SOURCES]),
                (F.pmod(F.xxhash64(F.col("id"), F.lit(8)), F.lit(5)) + 1).cast(
                    "int"
                ),
            ).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
        .write.mode("overwrite")
        .parquet(out)
    )


def synth_embeddings(spark, n: int, out: str) -> None:
    """n unit-scale 64-dim float vectors, labels sized for ~EMB_BLOCK-row
    blocks, same schema as the fixture (vec_id BIGINT, embedding FLOAT[],
    label INT)."""
    vec = (
        "transform(sequence(1, {d}), i -> "
        " cast(pmod(xxhash64(id, i, 10), 200001) / 100000.0 - 1.0 as float))"
    ).format(d=EMB_DIM)
    (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(vec).alias("embedding"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(9)), F.lit(max(n // EMB_BLOCK, 1)))
            .cast("int")
            .alias("label"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )


def time_query(fn, spark, sf_dir: str, n_runs: int = 2, setup=None) -> float:
    """Best-of-n. ``setup`` runs before EVERY timed run (not once per
    call) so a run cannot reuse state the previous run materialized --
    the d-family's persisted posting/signature caches would otherwise
    make run 2 price a cached read instead of the full build."""
    best = float("inf")
    for _ in range(n_runs):
        if setup is not None:
            setup()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def dedup_probe(spark) -> None:
    """Dedup-family scale probe (round-6 verdict task 4): the shared
    shingle-posting build is the suite's largest single cost (~12 s cold
    at sf0.1); synthesize 10x / 40x the sf0.1 documents table (5k docs ->
    50k / 200k) and measure (a) the posting build alone, (b) each d_ key's
    MARGINAL cost with warm postings -- the family's serving shape, since
    the posting table is built once per corpus (the bench now prices it as
    a setup line the same way). Sub-quadratic growth of the band self-join
    and the span inverted index is the claim under test: both are bounded
    by sum-of-posting-list-squared, which the zipf-ish synthetic skew
    stresses harder than the uniform fixture."""
    from delta_lake_stock_pipeline_spark.artifacts import clear_all
    from delta_lake_stock_pipeline_spark.operators import all_queries, dedup

    q = all_queries()
    # d_keep_latest is omitted: it reads the EVENTS table (plain hash-agg,
    # covered by the events probe) and this probe synthesizes documents only.
    keys = [
        "d_exact_summary",
        "d_exact_keys",
        "d_ngram_jaccard",
        "d_minhash_lsh",
        "d_minhash_lsh_anchor",
        "d_simhash",
        "d_span_dedup",
        "d_dup_clusters",
        "d_fuzzy_levenshtein",
        # round-8 posting/pair consumers
        "d_containment_pairs",
        "d_cluster_keeper",
    ]
    results: dict[str, list[tuple[int, float]]] = {}
    try:
        for n in [50_000, 200_000]:
            d = f"{BASE}/dedup_{n}"
            # ~500 docs per (source, lang) block: 5 sources x n/2500 langs
            synth_documents(
                spark, n, f"{d}/documents.parquet", n_langs=max(n // 2500, 1)
            )
            # (a) the shared posting build, cold, best-of-2
            best = float("inf")
            for _ in range(2):
                clear_all()
                t0 = time.time()
                dedup._shingle_posts(spark, d).count()
                best = min(best, time.time() - t0)
            results.setdefault("_posting_build", []).append((n, best))
            print(f"{'_posting_build':>22} n={n:>9,}  {best:6.2f}s", flush=True)
            # (b) marginal per-key cost with warm postings (no cache clear
            # between runs; the first run of the first pair-consumer still
            # prices the pair materialization once, like a real session)
            for k in keys:
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>22} n={n:>9,}  {sec:6.2f}s", flush=True)
            clear_all()
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per size step):")
        for k, rows in results.items():
            parts = []
            for (n0, t0), (n1, t1) in zip(rows, rows[1:]):
                parts.append(f"{n1 // n0}x rows -> {t1 / t0:.2f}x time")
            print(f"{k:>22}  " + ("; ".join(parts) or "(single size)"))
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def substr_probe(spark) -> None:
    """Repeated-substring dedup scale probe (round 8): d_substring_dedup
    over 12.5k / 50k / 200k synthetic documents (2.5x / 10x / 40x the
    sf0.1 table; ~73 overlapping 8-grams per 80-word doc, so the largest
    cell streams ~14.6M gram rows). Sub-quadratic growth is the claim:
    the pipeline is explode (linear) -> count-over-partition window on
    the 8-byte gram hash (ONE shuffle; the groupBy + semi-join-back
    form this replaced recomputed the explode per branch) -> per-doc
    window over the hit lists -- nothing is pairwise and no suffix array
    is materialized, so wall should grow ~linearly with total gram
    count. d_url_canonical rides along (one projection + one groupBy; a
    pure sanity line, linear by construction)."""
    from delta_lake_stock_pipeline_spark.operators import all_queries

    q = all_queries()
    results: dict[str, list[tuple[int, float]]] = {}
    try:
        for n in [12_500, 50_000, 200_000]:
            d = f"{BASE}/substr_{n}"
            synth_documents(spark, n, f"{d}/documents.tmp.parquet")
            # The random synthetic corpus has ZERO duplicated 8-grams
            # (measured at all three sizes: the zipf-ish gram space is
            # too large for birthday collisions) -- inject a 16-token
            # boilerplate prefix into 4% of docs so the span-merge path
            # carries LINEAR duplicated mass, like a real crawl's shared
            # headers; otherwise the probe times only the gram/count
            # stages.
            boiler = " ".join(f"b{i}" for i in range(16))
            (
                spark.read.parquet(f"{d}/documents.tmp.parquet")
                .withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 50 < 2,
                        F.concat(F.lit(boiler + " "), F.col("text")),
                    ).otherwise(F.col("text")),
                )
                .write.mode("overwrite")
                .parquet(f"{d}/documents.parquet")
            )
            shutil.rmtree(f"{d}/documents.tmp.parquet", ignore_errors=True)
            for k in [
                "d_substring_dedup",
                "d_substring_top",
                "d_url_canonical",
            ]:
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>22} n={n:>9,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per size step):")
        for k, rows in results.items():
            parts = []
            for (n0, t0), (n1, t1) in zip(rows, rows[1:]):
                parts.append(f"{n1 // n0}x rows -> {t1 / t0:.2f}x time")
            print(f"{k:>22}  " + ("; ".join(parts) or "(single size)"))
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def indicator_probe(spark) -> None:
    """Financial-indicator window family (round 7) at 1M/4M/16M events:
    the integer-frame-sum indicators (Bollinger/RSI/stochastic), the two
    MACD physical strategies (Catalyst staged-lags vs Arrow int64
    convolution), and w_ewma as the family baseline. The interesting
    ratio is macd vs macd_arrow as rows/key grow: the Catalyst form pays
    ~50 interpreted lag processors per row, the Arrow form one C-speed
    convolution per ladder per group."""
    from delta_lake_stock_pipeline_spark.operators import all_queries

    q = all_queries()
    keys = [
        "w_bollinger",
        "w_rsi",
        "w_stochastic",
        "w_ewma",
        "w_macd",
        "w_macd_arrow",
    ]
    results: dict[str, list[tuple[int, float]]] = {}
    try:
        for n in EVENT_SIZES:
            d = f"{BASE}/ind_{n}"
            synth_events(spark, n, f"{d}/events.parquet")
            for k in keys:
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>16} n={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per size step):")
        for k, rows in results.items():
            parts = []
            for (n0, t0), (n1, t1) in zip(rows, rows[1:]):
                parts.append(f"{n1 // n0}x rows -> {t1 / t0:.2f}x time")
            print(f"{k:>16}  " + ("; ".join(parts) or "(single size)"))
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def median_probe(spark) -> None:
    """Rolling-median physical strategies (round 7) at 1M/4M/16M
    events: the Catalyst explicit-frame form (collect_list + sort_array
    per row, interpreted) vs the Arrow batched sliding-window sort, with
    w_moving_avg as the family's codegen'd integer-frame-sum floor. The
    interesting ratio is catalyst/arrow as rows/key grow -- the per-row
    15-element array object churn vs one numpy pass per group."""
    from delta_lake_stock_pipeline_spark.operators import all_queries

    q = all_queries()
    keys = ["w_moving_avg", "w_rolling_median", "w_rolling_median_arrow"]
    results: dict[str, list[tuple[int, float]]] = {}
    try:
        for n in EVENT_SIZES:
            d = f"{BASE}/med_{n}"
            synth_events(spark, n, f"{d}/events.parquet")
            for k in keys:
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>24} n={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per size step):")
        for k, rows in results.items():
            parts = []
            for (n0, t0), (n1, t1) in zip(rows, rows[1:]):
                parts.append(f"{n1 // n0}x rows -> {t1 / t0:.2f}x time")
            print(f"{k:>24}  " + ("; ".join(parts) or "(single size)"))
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def pagerank_probe(spark) -> None:
    """Iterative-loop scale probe (round 7): pagerank_core over
    synthetic directed edge lists at 1M/4M/16M edges, |V| = edges/16
    (mean degree 16, the trade graph's shape). The axis of interest is
    the per-iteration broadcast of the |V|-row rank table: at 1M nodes
    (16M edges) the broadcast payload is ~30 MB x 5 iterations -- the
    regime where a real cluster would switch to co-hash-partitioned
    shuffle joins (the documented 100 TB form). The probe times the
    WHOLE loop including the eager localCheckpoint materializations."""
    from pyspark.sql import functions as F

    from delta_lake_stock_pipeline_spark.operators.graph import (
        pagerank_core,
    )

    results = []
    try:
        for n in EVENT_SIZES:
            d = f"{BASE}/pr_{n}"
            v = n // 16
            (
                spark.range(n)
                .select(
                    F.concat(
                        F.lit("n"),
                        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(v)).cast(
                            "string"
                        ),
                    ).alias("src"),
                    F.concat(
                        F.lit("n"),
                        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(v)).cast(
                            "string"
                        ),
                    ).alias("dst"),
                )
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{d}/edges.parquet")
            )

            def run(spark, sf_dir):
                return pagerank_core(
                    spark.read.parquet(f"{sf_dir}/edges.parquet")
                )

            sec = time_query(run, spark, d)
            results.append((n, v, sec))
            print(
                f"pagerank edges={n:>10,} nodes={v:>9,}  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per size step):")
        for (n0, _, t0), (n1, _, t1) in zip(results, results[1:]):
            print(f"  {n1 // n0}x edges -> {t1 / t0:.2f}x time")
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def graph_probe(spark) -> None:
    """Round-7 graph-family scale probe: triangle_core, kcore_core, and
    common_neighbors_core on SKEWED synthetic graphs at 1M/4M/16M edge
    rows. Skew is the axis that matters:

    * triangles -- one endpoint is drawn sqrt-biased toward low ids
      (node k's frequency ~ 1/sqrt(k): real hubs), the regime where a
      naive wedge join explodes as hub_degree^2 and the degree-ordered
      orientation must keep fan-out at sum(OUT-degree^2) instead.
    * kcore -- same skewed graph; peeling removes the uniform-tail
      nodes and cascades; times the whole 4-round loop including the
      eager localCheckpoint materializations.
    * common-neighbors -- bipartite (c, s) with the s side sqrt-biased;
      the CN_CAP hub guard is what bounds per-c pair expansion.
    """
    from delta_lake_stock_pipeline_spark.operators.graph import (
        common_neighbors_core,
        kcore_core,
        triangle_core,
    )

    def skewed(col_seed: int, domain: int):
        # W uniform on [0, domain), id = floor(W^2 / domain):
        # P(id = k) = (sqrt(k+1) - sqrt(k)) / sqrt(domain) ~ 1/(2*sqrt(k*domain))
        # -- a 1/sqrt(k) power tail with id 0 the hub at ~sqrt(domain)/2 x
        # the uniform rate. (The first cut used floor(sqrt(uniform)),
        # which is the INVERSE map: mass ~(2k+1)/domain^2, max 2x uniform
        # -- no hubs at all; caught in review, numbers regenerated.)
        w = F.pmod(F.xxhash64("id", F.lit(col_seed)), F.lit(domain))
        return F.floor((w * w).cast("double") / F.lit(float(domain))).cast(
            "long"
        )

    results: list[tuple[str, int, float]] = []
    try:
        for n in EVENT_SIZES:
            v = n // 16
            d = f"{BASE}/graph_{n}"
            und = (
                spark.range(n)
                .select(
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(v))
                    .cast("long")
                    .alias("a"),
                    skewed(7, v).alias("b"),
                )
                .where(F.col("a") != F.col("b"))
                .select(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                )
                .distinct()
            )
            und.write.mode("overwrite").parquet(f"{d}/und.parquet")

            def tri_run(spark, sf_dir):
                return triangle_core(
                    spark.read.parquet(f"{sf_dir}/und.parquet")
                )

            sec = time_query(tri_run, spark, d)
            n_edges = spark.read.parquet(f"{d}/und.parquet").count()
            results.append(("triangles", n, sec))
            print(
                f"triangles rows={n:>10,} edges={n_edges:>10,}  {sec:6.2f}s",
                flush=True,
            )

            def kcore_run(spark, sf_dir):
                e = spark.read.parquet(f"{sf_dir}/und.parquet")
                sym = e.selectExpr("u as src", "v as dst").unionByName(
                    e.selectExpr("v as src", "u as dst")
                )
                return kcore_core(sym)

            sec = time_query(kcore_run, spark, d)
            results.append(("kcore", n, sec))
            print(f"kcore     rows={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)

            d = f"{BASE}/cn_{n}"
            (
                spark.range(n)
                .select(
                    F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n // 8))
                    .cast("long")
                    .alias("c"),
                    skewed(11, n // 64).alias("s"),
                )
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{d}/cs.parquet")
            )

            def cn_run(spark, sf_dir):
                return common_neighbors_core(
                    spark.read.parquet(f"{sf_dir}/cs.parquet")
                )

            sec = time_query(cn_run, spark, d)
            results.append(("common_neighbors", n, sec))
            print(f"commonnbr rows={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        print("\nGrowth ratios (time ratio per 4x size step):")
        by_key: dict[str, list[tuple[int, float]]] = {}
        for k, n, t in results:
            by_key.setdefault(k, []).append((n, t))
        for k, series in by_key.items():
            for (n0, t0), (n1, t1) in zip(series, series[1:]):
                print(f"  {k}: {n1 // n0}x rows -> {t1 / t0:.2f}x time")
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def corr_probe(spark) -> None:
    """Cross-series correlation matrix (w_corr_matrix) scale probe. Two
    independent axes:

    * ROWS (T fixed at 400): the raw-stream scan + bars aggregation is
      the linear part; the pair stage is constant because bars =
      T x days doesn't grow with rows. Expect ~linear.
    * SERIES T (rows fixed at 4M): bars grow as T x days and the pair
      stream as ~T^2/2 x days -- the output's own quadratic, the shape
      the double-explode form must stream through map-side partial
      aggregation without materializing. Expect ~T^2 growth of the
      MARGINAL cost over the fixed scan, with no OOM and no shuffle of
      the pair stream itself (only its T^2/2-row aggregate).
    """
    from delta_lake_stock_pipeline_spark.operators import all_queries

    q = all_queries()
    fn = q["w_corr_matrix"]
    results: list[tuple[str, float]] = []
    try:
        for n in [4_000_000, 16_000_000]:
            d = f"{BASE}/corr_rows_{n}"
            synth_events(spark, n, f"{d}/events.parquet", n_types=400)
            sec = time_query(fn, spark, d)
            results.append((f"rows={n:,} T=400", sec))
            print(f"{results[-1][0]:>24}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        for t in [100, 400, 1600]:
            d = f"{BASE}/corr_T_{t}"
            synth_events(spark, 4_000_000, f"{d}/events.parquet", n_types=t)
            sec = time_query(fn, spark, d)
            results.append((f"rows=4,000,000 T={t}", sec))
            print(f"{results[-1][0]:>24}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def cc_probe(spark) -> None:
    """Round-9 connected-components probe: star contraction
    (largestar_components, d_cc_largestar) vs min-label propagation
    (min_label_components, d_dup_clusters) on the same synthetic pair
    graphs at 1M/4M/16M edge rows, two topology families:

    * random -- one uniform + one sqrt-skewed endpoint, mean degree ~16
      (the near-dup pair graph's shape: one giant shallow component plus
      dust). Both algorithms converge; this prices the per-round cost.
    * path -- a single n-node chain, diameter n: the adversarial
      topology. min-label needs diameter rounds (its fixed 20-round
      budget is priced for shallow dup components and raises here BY
      DESIGN -- recorded as such, not timed); star contraction stays
      ~log2(n) rounds. This is the measurement behind promoting
      d_cc_largestar as the 100 TB form.
    """
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        largestar_components,
        min_label_components,
    )

    def skewed(col_seed: int, domain: int):
        w = F.pmod(F.xxhash64("id", F.lit(col_seed)), F.lit(domain))
        return F.floor((w * w).cast("double") / F.lit(float(domain))).cast(
            "long"
        )

    try:
        for n in EVENT_SIZES:
            v = n // 16
            d = f"{BASE}/cc_{n}"
            (
                spark.range(n)
                .select(
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(v))
                    .cast("long")
                    .alias("a"),
                    skewed(7, v).alias("b"),
                )
                .where(F.col("a") != F.col("b"))
                .select(
                    F.least("a", "b").alias("doc_a"),
                    F.greatest("a", "b").alias("doc_b"),
                )
                .distinct()
                .write.mode("overwrite")
                .parquet(f"{d}/pairs.parquet")
            )
            n_edges = spark.read.parquet(f"{d}/pairs.parquet").count()
            for name, core in (
                ("largestar", largestar_components),
                ("minlabel", min_label_components),
            ):

                def run(spark, sf_dir, core=core):
                    return core(spark.read.parquet(f"{sf_dir}/pairs.parquet"))

                sec = time_query(run, spark, d)
                print(
                    f"random {name:>9} rows={n:>10,} edges={n_edges:>10,}"
                    f"  {sec:6.2f}s",
                    flush=True,
                )
            shutil.rmtree(d, ignore_errors=True)
        for n in [100_000, 1_000_000]:
            d = f"{BASE}/cc_path_{n}"
            (
                spark.range(n - 1)
                .select(
                    F.col("id").alias("doc_a"),
                    (F.col("id") + 1).alias("doc_b"),
                )
                .write.mode("overwrite")
                .parquet(f"{d}/pairs.parquet")
            )

            def run_path(spark, sf_dir):
                return largestar_components(
                    spark.read.parquet(f"{sf_dir}/pairs.parquet")
                )

            sec = time_query(run_path, spark, d, n_runs=1)
            print(
                f"path   largestar nodes={n:>10,} diameter={n - 1:>9,}"
                f"  {sec:6.2f}s   (minlabel: needs {n - 1:,} rounds, "
                "> its 20-round budget)",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def r9_probe(spark) -> None:
    """Round-9 probe for the three new non-streaming families, each with a
    different scale axis:

    * t_quality_classifier -- scoring must run at SCAN speed (the model is
      one constant-folded projection): 100k/400k docs (20x/80x sf0.1),
      expect ~linear wall.
    * r_sample_pps -- the two-phase prefix decomposition over the same
      corpora: the driver-side state is one (pid, offset) list however
      large the corpus; expect ~linear wall.
    * x_cms_anchor -- sketch built from the PRE-AGGREGATED key counts:
      1M/4M/16M events with ~n/16 distinct users, so the d-way explode
      grows with KEYS, not rows; the fact-table term is the one hash-agg.
    """
    from delta_lake_stock_pipeline_spark.operators.aggregates import cms_anchor
    from delta_lake_stock_pipeline_spark.operators.reshape import sample_pps
    from delta_lake_stock_pipeline_spark.operators.text import (
        quality_classifier,
    )

    try:
        for n in DOC_SIZES:
            d = f"{BASE}/r9docs_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            for name, fn in (
                ("t_quality_classifier", quality_classifier),
                ("r_sample_pps", sample_pps),
            ):
                sec = time_query(fn, spark, d)
                print(f"{name:>22} docs={n:>8,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        for n in EVENT_SIZES:
            d = f"{BASE}/r9ev_{n}"
            synth_events(spark, n, f"{d}/events.parquet")
            sec = time_query(cms_anchor, spark, d)
            print(
                f"{'x_cms_anchor':>22} rows={n:>10,} keys~{n // 16:>9,}"
                f"  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def r10_probe(spark) -> None:
    """Round-10 continuation probe, one axis per new family:

    * c_contamination_bpe -- the 64-replace tokenizer chain + 8-gram
      explode + broadcast semi-join at 100k/400k docs; expect ~linear
      (the chain is per-doc CPU, the gram posting shuffle is map-side
      semi-joined against the broadcast eval set).
    * x_column_profile -- the 7-way melt + exact-distinct hash-agg at
      1M/4M/16M events; expect ~linear (partial agg collapses each
      partition to its distinct values before the exchange).
    * m_image_incremental -- the asymmetric banded admission at
      20k/80k docs (4x/16x the sf0.1 image corpus). The DESIGN
      finding this probe exists to record: 8-bit bands have only
      8 x 255 nonzero posting keys, so posting lists grow linearly with
      the corpus and candidate pairs ~quadratically -- at 100 TB the
      band width must grow with log(corpus) (16/24-bit bands keep
      per-key lists bounded), exactly like the text side's hub caps.
      Cold = fingerprint build + admission; warm = admission against
      the cached fingerprint artifact (the per-batch production cost).
    """
    from delta_lake_stock_pipeline_spark.artifacts import clear_all
    from delta_lake_stock_pipeline_spark.operators.aggregates import (
        column_profile,
    )
    from delta_lake_stock_pipeline_spark.operators.curation import (
        contamination_check_bpe,
    )
    from delta_lake_stock_pipeline_spark.operators.multimodal import (
        image_incremental,
    )

    try:
        for n in DOC_SIZES:
            d = f"{BASE}/r10docs_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            sec = time_query(contamination_check_bpe, spark, d)
            print(
                f"{'c_contamination_bpe':>22} docs={n:>8,}  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
        for n in EVENT_SIZES:
            d = f"{BASE}/r10ev_{n}"
            synth_events(spark, n, f"{d}/events.parquet")
            sec = time_query(column_profile, spark, d)
            print(
                f"{'x_column_profile':>22} rows={n:>10,}  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
        for n in [20_000, 80_000]:
            d = f"{BASE}/r10img_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            cold = time_query(
                image_incremental, spark, d, n_runs=1, setup=clear_all
            )
            warm = time_query(image_incremental, spark, d, n_runs=1)
            print(
                f"{'m_image_incremental':>22} docs={n:>8,}"
                f"  cold={cold:6.2f}s warm={warm:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
            clear_all()
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def r10b_probe(spark) -> None:
    """Second round-10 continuation batch:

    * t_bigram_logprob -- 100k/400k docs. The axis that matters is the
      DISTINCT-BIGRAM table (the broadcast side): zipf-ish synthesis
      keeps it sublinear in corpus size, and the probe prints its
      cardinality next to the wall so the docstring's broadcast->shuffle
      threshold claim has a measured footing.
    * m_scene_changes -- 100k/400k docs; one HOF projection, expect
      ~linear scan-speed wall.
    """
    from pyspark.sql import functions as PF

    from delta_lake_stock_pipeline_spark.operators.multimodal import (
        scene_changes,
    )
    from delta_lake_stock_pipeline_spark.operators.text import bigram_logprob

    try:
        for n in DOC_SIZES:
            d = f"{BASE}/r10bdocs_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            docs = spark.read.parquet(f"{d}/documents.parquet").select(
                PF.expr(
                    "filter(split(lower(text), ' '), x -> x <> '')"
                ).alias("toks")
            )
            n_bigrams = (
                docs.filter(PF.size("toks") >= 2)
                .select(
                    PF.explode(
                        PF.expr(
                            "transform(sequence(2, size(toks)), i -> "
                            "struct(element_at(toks, i - 1) as p, "
                            "element_at(toks, i) as w))"
                        )
                    ).alias("b")
                )
                .select("b.p", "b.w")
                .distinct()
                .count()
            )
            sec = time_query(bigram_logprob, spark, d)
            print(
                f"{'t_bigram_logprob':>22} docs={n:>8,} "
                f"distinct_bigrams={n_bigrams:>10,}  {sec:6.2f}s",
                flush=True,
            )
            sec = time_query(scene_changes, spark, d)
            print(
                f"{'m_scene_changes':>22} docs={n:>8,}  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def r10c_probe(spark) -> None:
    """Third round-10 continuation batch: the video exact-frame posting
    index at 100k/400k docs. This probe CHANGED the design: its first
    run measured the plain (frame_idx, f_len, f_energy) signature
    saturating on the low-entropy synthetic corpus (10-char frames:
    12,392 posting keys for 1.6M frames, max list 1,090, 398M candidate
    pairs, 238 s at 100k docs -- quadratic blowup), so the shipped
    signature gained the position-weighted span sum (f_wsum) which
    multiplies the key space by the frame's internal-order entropy.
    The probe now verifies the FIXED quadruple stays high-entropy:
    posting-key cardinality, max list length, and candidate-pair count
    next to the pairing wall, so the claim is a number, not an
    assertion."""
    from pyspark.sql import functions as PF

    from delta_lake_stock_pipeline_spark.operators import multimodal as MM

    try:
        for n in DOC_SIZES:
            d = f"{BASE}/r10cdocs_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            posts = (
                MM._video_frames_of(MM._video_corpus(spark, d))
                .groupBy("frame_idx", "f_len", "f_energy", "f_wsum")
                .count()
            )
            keys, max_list, cand = posts.agg(
                PF.count("*"),
                PF.max("count"),
                PF.sum(PF.expr("count * (count - 1) div 2")),
            ).collect()[0]
            sec = time_query(MM.video_neardup, spark, d)
            print(
                f"{'m_video_neardup':>22} docs={n:>8,} "
                f"posting_keys={keys:>12,} max_list={max_list:>4} "
                f"cand_pairs={int(cand):>10,}  {sec:6.2f}s",
                flush=True,
            )
            shutil.rmtree(d, ignore_errors=True)
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


def _probe_session():
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        # same /tmp-cleaner immunity as session.get_spark
        .config("spark.local.dir", "/root/repo/.tmp/spark-local")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_FLAG_PROBES = [
    ("--substr", substr_probe),
    ("--corr", corr_probe),
    ("--graph", graph_probe),
    ("--pagerank", pagerank_probe),
    ("--median", median_probe),
    ("--indicators", indicator_probe),
    ("--dedup", dedup_probe),
    ("--cc", cc_probe),
    ("--r9", r9_probe),
    ("--r10", r10_probe),
    ("--r10b", r10b_probe),
    ("--r10c", r10c_probe),
]


def main() -> None:
    quick = "--quick" in sys.argv
    for flag, probe in _FLAG_PROBES:
        if flag in sys.argv:
            probe(_probe_session())
            return
    spark = _probe_session()

    from delta_lake_stock_pipeline_spark.artifacts import clear_all
    from delta_lake_stock_pipeline_spark.operators import all_queries

    q = all_queries()
    event_keys = ["a0_flagship_daily_rollup", "w_sessionize", "w_ewma"]
    doc_keys = [
        "t_tfidf",
        "t_bm25",
        "t_winnow",
        "c_contamination",
        "d_exact_summary",
        "d_minhash_lsh",
    ]

    event_sizes = EVENT_SIZES[:1] if quick else EVENT_SIZES
    doc_sizes = DOC_SIZES[:1] if quick else DOC_SIZES

    results: dict[str, list[tuple[int, float]]] = {}
    try:
        for n in event_sizes:
            d = f"{BASE}/events_{n}"
            synth_events(spark, n, f"{d}/events.parquet")
            for k in event_keys:
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>20} n={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)
        from delta_lake_stock_pipeline_spark.operators import dedup

        for n in doc_sizes:
            d = f"{BASE}/docs_{n}"
            synth_documents(spark, n, f"{d}/documents.parquet")
            for k in doc_keys:
                # The d-family session-caches its posting/signature tables
                # per (session, dir); clearing before EVERY timed run makes
                # each run price the full build, and clearing after each
                # size keeps persisted blocks from occupying executor
                # memory once the size is done.
                sec = time_query(q[k], spark, d, setup=clear_all)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>20} n={n:>10,}  {sec:6.2f}s", flush=True)
            clear_all()
            shutil.rmtree(d, ignore_errors=True)

        emb_keys = [
            "v_cosine_topk",
            "v_pairwise_neardup",
            "v_semantic_dedup",
            "v_ann_lsh",
            "v_ann_ivf",
            # PQ caches its codebooks per (session, dir) like IVF: run 1
            # prices train+encode, run 2 the ADC scoring path; best-of-2
            # reports the sustained serving cost.
            "v_ann_pq",
        ]
        emb_sizes = EMB_SIZES[:1] if quick else EMB_SIZES
        for n in emb_sizes:
            d = f"{BASE}/emb_{n}"
            synth_embeddings(spark, n, f"{d}/embeddings.parquet")
            for k in emb_keys:
                # v_ann_ivf caches its trained index per (session, dir), so
                # run 1 prices train+build and run 2 the probe path;
                # best-of-2 therefore reports the sustained-QPS probe cost
                # (the build amortizes at ingest in production).
                sec = time_query(q[k], spark, d)
                results.setdefault(k, []).append((n, sec))
                print(f"{k:>20} n={n:>10,}  {sec:6.2f}s", flush=True)
            shutil.rmtree(d, ignore_errors=True)

        print("\nGrowth ratios (time ratio per size step):")
        for k, rows in results.items():
            parts = []
            for (n0, t0), (n1, t1) in zip(rows, rows[1:]):
                parts.append(f"{n1 // n0}x rows -> {t1 / t0:.2f}x time")
            print(f"{k:>20}  " + ("; ".join(parts) or "(single size)"))
    finally:
        shutil.rmtree(BASE, ignore_errors=True)


if __name__ == "__main__":
    main()
