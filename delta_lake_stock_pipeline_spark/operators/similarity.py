"""Similarity-search operators over ``embeddings`` (north-star extension:
brute-force cosine top-k as the exact baseline, hyperplane-LSH bucketing as
the approximate scale path, label-blocked pairwise near-dup).

Scale design:
* Brute-force top-k is scan + per-row expression + ``TakeOrderedAndProject``:
  no shuffle of the embedding column, only k rows reach the driver. At 100 TB
  this is the one-query fallback; the LSH variant is the sustained-QPS path.
* All vector math is double-precision sequential ``aggregate``/``zip_with``
  (functions/vector.py) -- bit-deterministic, partitioning-independent.
* Pairwise similarity is always blocked (here by ``label``; in production by
  LSH bucket) -- never an unblocked cross join.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all, own_dir
from ..functions.vector import cosine, dot, norm
from ..session import scratch_root
from ..sources.fixtures import load_table

_PAIR_SIM_THRESHOLD = 0.4
_ANN_PLANES = 8
_DIM = 64


clear_ann_dirs = clear_all  # old name, kept because perfbench/run.py imports it


# A bounded query PARAMETER fetched once per application, like the k-means
# centroids: before round 11 every v_ key (and both sides of every anchor)
# re-ran the one-row filter+first() job -- ~10 keys x 1-2 scheduler
# round-trips of identical work per sweep (guide §1.2). The fixture is
# immutable per sf_dir, so the parameter cannot go stale within a session.
@artifact
def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Fetch one query vector driver-side (a query *parameter*, not data
    flow -- one row crosses the driver boundary)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return list(row[0])


def _lit_vec(vals: list[float]):
    """Literal double-array column built as ONE ``F.expr`` parse: the
    previous ``F.array(*[F.lit(v).cast("double") ...])`` form cost two
    py4j round trips PER ELEMENT -- ~3.3 s of pure driver time for the
    16x64 centroid array in ``_assign_expr`` (measured, round-10
    optimization; guide §7.3's "driver doing single-threaded work"
    class). Bit-identity: ``repr(float)`` is round-trip exact and the
    SQL double literal parses to the nearest double, i.e. the same bits
    ``F.lit`` would have shipped. Non-finite values have no SQL double
    literal (``repr`` yields ``nan``/``inf`` -> unparseable ``nanD``), so
    they fail HERE with a clear message instead of a parse error
    downstream (r10 advice; the previous ``F.lit`` ladder tolerated them,
    but a NaN in embeddings/centroids poisons every cosine anyway)."""
    import math

    bad = [v for v in vals if not math.isfinite(float(v))]
    if bad:
        raise ValueError(f"_lit_vec requires finite doubles; got {bad[:3]!r}")
    body = ", ".join(f"{float(v)!r}D" for v in vals)
    return F.expr(f"array({body})")


def _lit_longs(vals) -> F.Column:
    """Literal bigint-array column as one ``F.expr`` parse (the
    ``_lit_vec`` rationale; integer literals are trivially exact)."""
    body = ", ".join(f"{int(v)}L" for v in vals)
    return F.expr(f"array({body})")


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 against the vec_id=0 embedding."""
    q = _lit_vec(_query_vector(spark, sf_dir, 0))
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def pairwise_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked pairwise cosine: candidate near-dup pairs above
    threshold. The block join shuffles once on ``label``; per-vector norms
    are computed once per ROW before the join (not once per PAIR), so the
    per-pair work is a single dot product."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .withColumn("nrm", norm("embedding"))
    )
    # One-file fixture -> one scan partition; without spreading the probe
    # side the ~|block|^2/2 dot products run in a single task. The build
    # side is a broadcast (plan-verified BuildRight), so the probe side
    # needs NO co-partitioning -- spread it by (label, vec_id): hashing
    # the 10 labels alone into the task count collides (guide §2.5: far
    # too few distinct key values for the partition count -- measured
    # <=10 active tasks, 2-3x skew between them), while (label, vec_id)
    # is per-row distinct and spreads uniformly. Partition count follows
    # the session's parallelism, not a local constant; at SMJ scale the
    # planner exchanges both sides on label itself.
    n_spread = spark.sparkContext.defaultParallelism
    a = emb.repartition(n_spread, "label", "vec_id").alias("a")
    b = emb.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > _PAIR_SIM_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


def ann_ivf_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-witnessed IVF guarantee (the d_minhash_lsh_anchor pattern):
    one row with the exact top-10 cardinality and minimum cosine (both
    recomputed from first principles by the oracle) plus a boolean pinning
    IVF recall@10 >= 8 -- the invariant tests/test_plans.py gates, now
    visible to the external comparison. IVF training is deterministic, so
    the boolean is stable, not probabilistic-flaky. Measured overlap:
    9/10 at sf0.001 and sf0.01, 10/10 at sf0.1.

    v_ann_lsh's guarantee is pinned by its own ``v_ann_lsh_anchor``
    (round 5: multi-table multi-probe lifted fixture-scale recall from
    0-1/10 to 7/10); IVF remains the engine's recommended ANN scale path
    -- its candidate set prunes to 4/16 clusters vs LSH's ~25% of rows
    in this low-cosine regime."""
    exact = cosine_topk(spark, sf_dir).select("vec_id", "cos_sim")
    ivf_hits = ann_ivf_topk(spark, sf_dir).select("vec_id", F.lit(1).alias("hit"))
    return (
        exact.join(ivf_hits, "vec_id", "left")
        .agg(
            F.count("*").cast("long").alias("n_exact_topk"),
            F.min("cos_sim").alias("min_topk_cos"),
            (F.coalesce(F.sum("hit"), F.lit(0)) >= 8).alias("ivf_recall10_ge8"),
        )
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication summary: within each label
    block (the cluster proxy -- the published method k-means-clusters
    embeddings first, exactly what ``v_ann_ivf`` materializes), a vector is
    DOMINATED when some lower-id same-label vector has cosine similarity
    above the pair threshold; keepers are the undominated rest. Returns
    per-label (n_vectors, n_dominated, n_keepers).

    Scale shape: reuses the label-blocked pairwise join
    (``pairwise_neardup`` -- never an unblocked cross join), then two
    scalar-only aggregates; the dominated-set dedup shuffles (label,
    vec_id) pairs only, never embeddings."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    dominated = (
        pairwise_neardup(spark, sf_dir)
        .select("label", F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    totals = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    doms = dominated.groupBy("label").agg(F.count("*").alias("n_dominated"))
    n_dom = F.coalesce(F.col("n_dominated"), F.lit(0)).cast("long")
    return (
        totals.join(doms, "label", "left")
        .select(
            "label",
            "n_vectors",
            n_dom.alias("n_dominated"),
            (F.col("n_vectors") - n_dom).cast("long").alias("n_keepers"),
        )
        .orderBy("label")
    )


def knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=3) for each query vector (vec_id < 5) over same-label
    candidates: blocked join + per-query top-k window."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .withColumn("nrm", norm("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 5).alias("q")
    cands = emb.alias("c")
    sim = dot(F.col("q.embedding"), F.col("c.embedding")) / (
        F.col("q.nrm") * F.col("c.nrm")
    )
    scored = (
        queries.join(
            cands,
            (F.col("q.label") == F.col("c.label"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(sim, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


_LSH_TABLES = 8
_LSH_HD = 1  # multi-probe: accept buckets within this Hamming distance


def _lsh_tables() -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes for ``_LSH_TABLES``
    independent hash tables of ``_ANN_PLANES`` bits each: md5-derived
    values in [-1, 1]. Engine-independent (plain Python, fixed),
    reproducible across runs -- which is what makes the recall anchor a
    stable boolean rather than a probabilistic one."""
    tables = []
    for t in range(_LSH_TABLES):
        planes = []
        for j in range(_ANN_PLANES):
            plane = []
            for d in range(_DIM):
                h = int.from_bytes(
                    hashlib.md5(f"tbl{t}_plane{j}_{d}".encode()).digest()[:8],
                    "big",
                )
                plane.append((h % 100_000) / 50_000.0 - 1.0)
            planes.append(plane)
        tables.append(planes)
    return tables


def _lsh_plane_matrix():
    """The hyperplane tables as one (dim, tables*planes) float64 matrix:
    column ``t * _ANN_PLANES + j`` is plane j of table t."""
    # (tables, planes, dim) -> (tables*planes, dim) -> transpose
    flat = [plane for planes in _lsh_tables() for plane in planes]
    return np.asarray(flat, dtype=np.float64).T


def _lsh_sigs_udf():
    """Arrow-vectorized signature kernel: one numpy matmul per batch
    computes ALL ``_LSH_TABLES`` 8-bit signatures for every row, returned
    as ``array<int>`` (one packed int per table).

    Round 5 spelled the same 8x8x64 multiply-add as a single flat
    Catalyst expression (~4096 nodes) to stay JVM-side; measured round 6,
    that form pays a FIXED ~15-20 s analysis+janino-compile cost per
    query (BENCH_r05: v_ann_lsh 22.1 s vs 2.2 s in r4) and its compile
    peak OOMs a default-1g driver heap late in a long session. A batched
    numpy matmul is the honest 100 TB ingest kernel for this op: Arrow
    transfer, one (n, dim) @ (dim, 64) GEMM per batch, no per-row Python.
    The query-side signature is computed with the SAME matmul
    (``_query_sigs``), so row and query always agree on fold order."""
    w = _lsh_plane_matrix()
    shifts = 1 << np.arange(_ANN_PLANES, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def lsh_sigs(emb: pd.Series) -> pd.Series:
        # NULL / wrong-length embeddings get a NULL signature array (the
        # Catalyst predecessor yielded NULL through element_at; a raw
        # asarray would instead crash the whole Arrow batch on one bad
        # row). Valid rows still go through ONE dense GEMM.
        vals = emb.tolist()
        ok = [
            i
            for i, v in enumerate(vals)
            if v is not None and len(v) == _DIM
        ]
        out = [None] * len(vals)
        if ok:
            mat = np.asarray([vals[i] for i in ok], dtype=np.float64)
            bits = (mat @ w) >= 0.0  # (n_ok, tables*planes)
            packed = (
                bits.reshape(len(ok), _LSH_TABLES, _ANN_PLANES) * shifts
            ).sum(axis=2)
            for row, i in zip(packed.astype("int32").tolist(), ok):
                out[i] = row
        return pd.Series(out)

    return lsh_sigs


def _query_sigs(qvec: list[float]) -> list[int]:
    """Driver-side signatures for the query vector -- same numpy matmul
    FORM as the row kernel. Caveat (not a guarantee): BLAS may dispatch
    a (1,dim)@(dim,64) product to a GEMV-shaped kernel while the
    executor's (n,dim) batch rides GEMM, and reduction order can differ
    by shape/threading -- so a hyperplane dot sitting exactly at 0.0
    could in principle sign-flip between the two sides (same class of
    near-tie assumption as the PQ encoder's argmin). Harmless here:
    candidate membership is Hamming-distance<=1 over 8 tables and the
    anchor pins recall/candidate-rate, not exact bucket ids; a
    bit-exactness-critical deployment would push query signing through
    the executor kernel path instead."""
    bits = (np.asarray([qvec], dtype=np.float64) @ _lsh_plane_matrix()) >= 0.0
    shifts = 1 << np.arange(_ANN_PLANES, dtype=np.int64)
    packed = (bits.reshape(1, _LSH_TABLES, _ANN_PLANES) * shifts).sum(axis=2)
    return [int(s) for s in packed[0]]


def _lsh_candidate_col(sigs_col: F.Column, qvec: list[float]) -> F.Column:
    """TRUE when the row's signatures (from ``_lsh_sigs_udf``) put it in
    ANY table's bucket within Hamming distance ``_LSH_HD`` of the query's
    (multi-probe OR-union) -- a tiny 8-term Catalyst expression over the
    precomputed signature column. At 100 TB the signatures are computed
    once at ingest and the probe enumerates the (1 + b*hd) neighboring
    bucket ids per table as a partition-pruned lookup; the full-scan
    filter here is the fixture-scale rendering of the same candidate
    set."""
    cond = F.lit(False)
    for t, qsig in enumerate(_query_sigs(qvec)):
        sig = F.element_at(sigs_col, t + 1)
        cond = cond | (F.bit_count(sig.bitwiseXOR(F.lit(qsig))) <= _LSH_HD)
    return cond


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via multi-table multi-probe hyperplane LSH:
    8 independent 8-bit tables, candidates = any table bucket within
    Hamming distance 1 of the query bucket, exact cosine rerank.

    The round-4 single-table exact-bucket form recalled 0-1 of the exact
    top-10 at fixture scale (top-10 cosines here are only ~0.27-0.37 --
    the hard LSH regime); the multi-probe OR-union measures 7/10 at
    sf0.001 and sf0.01 while touching ~25% of the table (evidence:
    BENCH_NOTES_r6.md §2). Rows-only here; the pinned guarantee lives in
    ``v_ann_lsh_anchor``."""
    qvec = _query_vector(spark, sf_dir, 0)
    emb = load_table(spark, sf_dir, "embeddings")
    q = _lit_vec(qvec)
    sigs = _lsh_sigs_udf()
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("lsh_sigs", sigs(F.col("embedding")))
        .filter(_lsh_candidate_col(F.col("lsh_sigs"), qvec))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def ann_lsh_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-witnessed LSH guarantee (the d_minhash_lsh_anchor pattern):
    one row with the exact top-10 cardinality and minimum cosine (both
    recomputed from first principles by the oracle) plus TWO pinned
    booleans -- recall@10 >= 5 of the exact top-10 appear in the LSH
    candidate set, AND the candidate set stays <= 35% of the table
    (integer cross-multiplication, no float ratio), so the anchor
    witnesses both sides of the ANN bargain: the filter genuinely prunes
    and what survives genuinely contains the neighbors. Measured: 7/10
    recall at ~24-25% candidates at sf0.001 and sf0.01; hyperplanes are
    deterministic, so the booleans are stable, not flaky."""
    qvec = _query_vector(spark, sf_dir, 0)
    exact = cosine_topk(spark, sf_dir).select("vec_id", "cos_sim")
    sigs = _lsh_sigs_udf()
    base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .withColumn("lsh_sigs", sigs(F.col("embedding")))
        .select(
            "vec_id",
            _lsh_candidate_col(F.col("lsh_sigs"), qvec)
            .cast("int")
            .alias("is_cand"),
        )
    )
    return (
        base.join(F.broadcast(exact), "vec_id", "left")
        .agg(
            F.count("cos_sim").cast("long").alias("n_exact_topk"),
            F.min("cos_sim").alias("min_topk_cos"),
            F.sum(
                F.when(F.col("cos_sim").isNotNull(), F.col("is_cand")).otherwise(0)
            ).alias("n_recalled"),
            F.sum("is_cand").alias("n_cand"),
            F.count("*").alias("n_total"),
        )
        .select(
            "n_exact_topk",
            "min_topk_cos",
            (F.col("n_recalled") >= 5).alias("lsh_recall10_ge5"),
            (F.col("n_cand") * 20 <= F.col("n_total") * 7).alias(
                "lsh_cand_frac_le35"
            ),
        )
    )


_IVF_K = 16
_IVF_NPROBE = 4
_IVF_TRAIN_ITERS = 2


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the same sequential double arithmetic as
    functions/vector.py, so cluster assignment of the query vector is
    bit-identical to the JVM-side expression."""
    d = sum(float(x) * float(y) for x, y in zip(a, b))
    na = sum(float(x) * float(x) for x in a) ** 0.5
    nb = sum(float(y) * float(y) for y in b) ** 0.5
    return d / (na * nb)


def _assign_expr(centroids: list[list[float]]) -> F.Column:
    """1-based nearest-centroid id as a pure Catalyst expression:
    ``transform`` over the centroid literal array + ``array_position`` of
    the max similarity (first max wins ties -- deterministic)."""
    cents = F.array(*[_lit_vec(c) for c in centroids])
    sims = F.transform(cents, lambda c: cosine(F.col("embedding"), c))
    return F.array_position(sims, F.array_max(sims)).cast("int")


def _sweep_stale_tmps(base: str) -> None:
    """Remove orphaned ``{base}.tmp-{pid}`` build dirs left by interrupted
    runs (review finding: a crash between the tmp write and the atomic
    rename leaked a full-size index copy under the system temp dir
    forever). Decision ladder, most-certain first:

    * OUR OWN pid's tmp is always swept -- the sweep runs before this
      process starts a build, so any same-pid leftover is a failed
      earlier attempt in THIS process (review finding: the retry would
      otherwise hit Spark's errorifexists on its own debris forever).
    * Other pids: swept when ``/proc/<pid>`` says dead (Linux). On
      non-procfs platforms the pid probe would read every live builder
      as dead, so liveness is not consulted there.
    * A conservative 24 h age cap backstops the two unprovable cases --
      pid reuse protecting an orphan (Linux) and the no-procfs platforms
      -- WITHOUT racing real builds: a genuine index build that takes a
      day is outside this engine's design envelope, while the earlier
      1 h cap could have rmtree'd a live large-corpus build mid-write
      (second review finding)."""
    import glob
    import shutil
    import sys
    import time

    max_age_s = 24 * 3600.0
    own_pid = str(os.getpid())
    # Session-scoped final dirs (round-10): a crashed session cannot
    # clear_all() its own builds, so siblings of ``base`` past the
    # age cap are reaped here before a new build -- never ``base`` itself
    # and never anything fresher than the cap (which no live session
    # reaches).
    for sib in glob.glob(os.path.join(os.path.dirname(base), "*")):
        if sib == base or sib.startswith(f"{base}.tmp-"):
            continue
        try:
            age = time.time() - os.path.getmtime(sib)
        except OSError:
            continue
        # Liveness ladder for FINAL sibling dirs (r10 advice): a session
        # alive past the age cap must not lose its index mid-query. The
        # builder's pid rides in the dir (``builder.pid``, written before
        # the atomic rename); on Linux a live pid vetoes the sweep. A
        # missing marker (pre-r11 dirs) or no procfs falls back to the
        # age cap alone, as before.
        if sys.platform.startswith("linux"):
            try:
                with open(os.path.join(sib, "builder.pid")) as fh:
                    bpid = fh.read().strip()
                if bpid.isdigit() and os.path.exists(f"/proc/{bpid}"):
                    continue
            except OSError:
                pass
        if age > max_age_s:
            shutil.rmtree(sib, ignore_errors=True)
    for tmp in glob.glob(f"{base}.tmp-*"):
        pid = tmp.rsplit("-", 1)[-1]
        if pid == own_pid:
            shutil.rmtree(tmp, ignore_errors=True)
            continue
        try:
            age = time.time() - os.path.getmtime(tmp)
        except OSError:
            continue  # raced with another sweeper
        if sys.platform.startswith("linux"):
            dead = not (pid.isdigit() and os.path.exists(f"/proc/{pid}"))
        else:
            dead = False  # no procfs: only the age cap decides
        if dead or age > max_age_s:
            shutil.rmtree(tmp, ignore_errors=True)


# The ANN indexes are session-scoped (round-10 optimization-round
# contract): every bench/oracle invocation must compute its artifacts from
# the parquet inputs, so the on-disk index dirs are keyed by applicationId
# (fresh per session), owned by their artifact and reaped by clear_all()
# -- nothing persists across runs. A crashed session's leftovers are
# reaped by the 24 h age cap in ``_sweep_stale_tmps``.


@artifact
def _read_index(spark: SparkSession, path: str) -> DataFrame:
    """Scan handle of an index dir. Metadata reuse only, the
    fixtures.load_table rationale: every ``spark.read.parquet`` costs
    ~150-300 ms of single-threaded driver footer/listing work, and each
    ANN query key re-paid it per index read. The scan stays lazy --
    execution reads the index files every time; index dirs are immutable
    once atomically renamed into place."""
    return spark.read.parquet(path)


def _mark_builder(tmp: str) -> None:
    """Record the builder's pid inside the (not-yet-renamed) index dir so
    ``_sweep_stale_tmps``'s sibling sweep can veto deletion while the
    builder session is still alive (r10 advice)."""
    with open(os.path.join(tmp, "builder.pid"), "w") as fh:
        fh.write(str(os.getpid()))


@artifact(
    setup="ann_ivf_index", used_by=("v_ann_ivf", "v_ann_ivf_anchor", "v_ann_ivf_batch")
)
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, list[list[float]]]:
    """Build (once per session+sf_dir) the IVF index: train centroids with
    spherical-k-means Lloyd iterations, then write the corpus partitioned
    BY CLUSTER ID -- the write-time materialization that lets queries prune
    to nprobe partition directories instead of scanning the corpus.

    Training is distributed: assignment is the Catalyst expression above;
    the per-dimension means come back as K*DIM grouped rows (bounded
    centroid metadata, like Delta log reads -- never data-scale). Init =
    first K vectors by vec_id, so the whole pipeline is deterministic.

    The index is built on DISK once per SESSION (applicationId in the
    dir tag) and consumed by every ann_ivf query of that session; at
    ingest time a real deployment would persist it per corpus, but the
    bench contract requires every run to compute its artifacts from the
    parquet inputs, so cross-run reuse is deliberately off (round-10).
    Writes are atomic (build in a tmp dir, rename into place) so
    concurrent builders can't observe a half-index.
    """
    import json

    src = os.path.join(sf_dir, "embeddings.parquet")
    tag = hashlib.sha1(
        f"{spark.sparkContext.applicationId}:{src}"
        f":{_IVF_K}:{_IVF_TRAIN_ITERS}".encode()
    ).hexdigest()[:16]
    base = os.path.join(scratch_root(), "spark_graft_ivf", tag)
    idx = os.path.join(base, "index")
    meta = os.path.join(base, "centroids.json")

    if not (os.path.exists(os.path.join(idx, "_SUCCESS")) and os.path.exists(meta)):
        _sweep_stale_tmps(base)
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = [
            list(r["embedding"])
            for r in emb.filter(F.col("vec_id") < _IVF_K)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        ]
        for _ in range(_IVF_TRAIN_ITERS):
            means = (
                emb.withColumn("cluster", _assign_expr(centroids))
                .select("cluster", F.posexplode("embedding").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(
                    (
                        F.sum(
                            F.col("val").cast("double").cast("decimal(28,12)")
                        ).cast("double")
                        / F.count("val")
                    ).alias("m")
                )
                .collect()
            )
            new = [list(c) for c in centroids]  # empty clusters keep centroid
            for r in means:
                new[r["cluster"] - 1][r["pos"]] = float(r["m"])
            centroids = new

        tmp = f"{base}.tmp-{os.getpid()}"
        (
            # Hash-distribute onto the cluster id before the partitionBy
            # write (guide §6, the write_partitioned rationale): one file
            # per inverted list instead of (scan tasks x K) fragments --
            # the probed read then opens nprobe files, not nprobe x tasks.
            emb.withColumn("cluster", _assign_expr(centroids))
            .repartition(F.col("cluster"))
            .write.partitionBy("cluster")
            .parquet(os.path.join(tmp, "index"))
        )
        with open(os.path.join(tmp, "centroids.json"), "w") as fh:
            json.dump(centroids, fh)
        _mark_builder(tmp)
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # a concurrent builder won the rename; use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)

    with open(meta) as fh:
        centroids = json.load(fh)
    own_dir(base)
    return idx, centroids


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF (inverted-file) coarse quantization:
    k-means-trained centroids, cluster id materialized as a write-time
    PARTITION column (see ``_ivf_index``), query pruned to the nprobe
    closest clusters' partitions, exact-cosine rerank within them.

    The scan reads ONLY the probed partition directories (plan-gated:
    ``cluster`` appears in PartitionFilters) -- at 100 TB a query touches
    nprobe/K of the corpus, trading recall for latency via nprobe exactly
    as FAISS-style IVF does. Rows-only check (approximate;
    ``v_cosine_topk`` is the exact anchor, recall gated in tests).
    """
    path, centroids = _ivf_index(spark, sf_dir)
    qvec = _query_vector(spark, sf_dir, 0)

    # Probe set: nprobe nearest centroids, same arithmetic driver-side.
    qsims = [_py_cosine(qvec, c) for c in centroids]
    probe = [
        i + 1 for i in sorted(range(_IVF_K), key=lambda i: (-qsims[i], i))[:_IVF_NPROBE]
    ]

    q = _lit_vec(qvec)
    return (
        _read_index(spark, path)
        .filter(F.col("cluster").isin(probe) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            "label",
            F.col("cluster").cast("int").alias("cluster"),
            F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _query_batch_df(spark: SparkSession, sf_dir: str, n_queries: int):
    """The first ``n_queries`` query vectors as a tiny DataFrame built
    from literals (query_id, qvec) -- a bounded query *parameter* batch
    (n x dim floats cross the driver), carried via range(1)+explode, not
    ``createDataFrame`` (which would pay a pickled-RDD round-trip)."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    structs = [
        F.struct(
            F.lit(int(r[0])).alias("query_id"),
            _lit_vec(list(r[1])).alias("qvec"),
        )
        for r in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("s"))
        .select("s.query_id", "s.qvec")
    ), [(int(r[0]), list(r[1])) for r in rows]


def ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF serving anchor: 5 query vectors answered in ONE pass over
    the UNION of their probed cluster partitions -- the sustained-QPS
    shape (amortize the scan across a query batch instead of one pruned
    scan per query). Per query: the exact top-10 cardinality and minimum
    cosine (both recomputed from first principles by the oracle) plus a
    pinned boolean ``recall10_ge7`` -- measured per-query recall@10 is
    7-9 at sf0.001/sf0.01 and 10/10 at sf0.1 (training is deterministic,
    so the booleans are stable).

    Scale shape: the probe map (query x cluster, nprobe rows per query)
    and query vectors are bounded centroid-metadata broadcasts; the index
    scan reads only the probed partition directories; candidate cosines
    are one expression per (candidate, query) pair; the exact side exists
    only because this is an ANCHOR -- production serves from the pruned
    scan alone."""
    path, centroids = _ivf_index(spark, sf_dir)
    qdf, qlist = _query_batch_df(spark, sf_dir, 5)

    pairs = []
    for qid, qvec in qlist:
        qsims = [_py_cosine(qvec, c) for c in centroids]
        probe = sorted(range(_IVF_K), key=lambda i: (-qsims[i], i))[:_IVF_NPROBE]
        pairs.extend((qid, i + 1) for i in probe)
    union_clusters = sorted({cl for _, cl in pairs})
    probe_df = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).alias("query_id"),
                            F.lit(c).alias("cluster"),
                        )
                        for q, c in pairs
                    ]
                )
            ).alias("s")
        )
        .select("s.query_id", "s.cluster")
    )

    cand_ids = (
        _read_index(spark, path)
        .filter(F.col("cluster").isin(union_clusters))
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"))
        .join(F.broadcast(probe_df), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = (
        emb.join(F.broadcast(qdf), emb.vec_id != qdf.query_id)
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    exact = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )
    return (
        exact.join(
            cand_ids.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact_topk"),
            F.min("cos_sim").alias("min_topk_cos"),
            (F.coalesce(F.sum("hit"), F.lit(0)) >= 7).alias("recall10_ge7"),
        )
        .orderBy("query_id")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid: element-wise mean over every vector of
    the label, emitted long-form ``(label, dim, c)`` -- the shape an IVF /
    k-means trainer consumes.

    Scale shape: ``posexplode`` -> groupBy(label, dim) mean. The shuffle
    carries 8-byte scalars with map-side partial aggregation (each task
    pre-reduces to |labels| * dim rows), never whole vectors, and stays
    entirely JVM-side -- at 100 TB this beats a vector-valued Python UDAF
    holding array state. round(6) for engine-portable float comparison.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast("double").cast("decimal(28,12)")).cast(
                    "double"
                )
                / F.count("v"),
                6,
            ).alias("c")
        )
        .orderBy("label", "dim")
    )


def _quantize_int8(col: F.Column) -> F.Column:
    """Symmetric int8 quantization of a float embedding: per-vector scale
    ``max|x| / 127``, elements rounded half-away-from-zero to [-127, 127].
    All-JVM higher-order functions; the quantized array is exact integers,
    so downstream dot products are partitioning-independent exact sums.

    An all-zero vector has scale 0; without the guard Spark evaluates
    0.0/0.0 -> NaN and round(NaN) casts to long 0 SILENTLY, while DuckDB's
    CAST(round(NaN) AS BIGINT) errors -- emit an explicit all-zero array
    instead (the oracle mirrors this with a CASE on s = 0)."""
    absmax = F.array_max(F.transform(col, lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    return F.when(
        absmax == 0, F.transform(col, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(col, lambda x: F.round(x.cast("double") / scale).cast("long"))
    )


def quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-QUANTIZED embeddings (the memory-bound ANN
    trick: 4x smaller vectors, integer dot products) side-by-side with the
    exact float cosine, so quantization fidelity is observable per hit.

    Scale shape matches ``v_cosine_topk``: scan + per-row expression +
    TakeOrderedAndProject; nothing but k rows leaves the executors. At
    100 TB the quantized column is what you MATERIALIZE (16x less scan IO
    than float64); rank order is preserved within quantization error.
    Integer accumulation makes the dot exact; only the final normalize is
    float, with the same deterministic sequential form the oracle mirrors."""
    qvec = _query_vector(spark, sf_dir, 0)
    amax = max(abs(v) for v in qvec)
    if amax == 0:
        # Cosine against a zero vector is undefined; fail loudly instead of
        # a bare ZeroDivisionError in the scale computation below.
        raise ValueError("query vector (vec_id=0) is all zeros; cosine undefined")
    qscale = amax / 127.0
    # Half-away-from-zero, matching Spark's round() and DuckDB's round()
    # (Python's built-in round is banker's -- NOT the same).
    import math

    qq = [
        int(math.floor(v / qscale + 0.5))
        if v >= 0
        else -int(math.floor(-v / qscale + 0.5))
        for v in qvec
    ]
    qlit = _lit_longs(qq)
    emb = load_table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id", "label", "embedding", _quantize_int8(F.col("embedding")).alias("q")
    )
    zero = F.lit(0).cast("long")
    qdot = F.aggregate(
        F.zip_with(F.col("q"), qlit, lambda x, y: x * y), zero, lambda a, v: a + v
    )
    qn = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x), zero, lambda a, v: a + v
        ).cast("double")
    )
    # Zero-norm data vectors (all-zero q after the _quantize_int8 guard)
    # must yield NULL, not Spark's 0/0 -> NaN: NaN sorts FIRST under desc
    # while NULL sorts last on both engines, and the oracle's CASE emits
    # NULL for the same rows.
    return (
        quant.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.when(qn(F.col("q")) == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(qdot.cast("double") / (qn(F.col("q")) * qn(qlit)), 6)
            )
            .alias("cos_sim_q"),
            F.round(
                cosine(F.col("embedding"), _lit_vec(qvec)), 6
            ).alias("cos_sim_exact"),
        )
        .orderBy(F.desc("cos_sim_q"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression arm of ANN, complementing
# IVF (partition pruning) and LSH (bucket pruning). 64-dim float vectors are
# compressed to _PQ_M=4 one-byte codes (64x smaller than float32) and queries
# score candidates via asymmetric distance computation (ADC): a per-query
# (M x K) lookup table of exact query-subvector-to-centroid inner products,
# so approximate cosine = sum of 4 table lookups per row -- no float vector
# ever touched until the final shortlist rerank. Jegou et al., "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011).

# PQ4x8 -- the classic FAISS configuration: 4 subspaces x 8-bit codes.
# Config sweep (round 6, recall@10 after shortlist rerank at
# sf0.001/0.01/0.1): 4x16codes/50-shortlist = 7/6/2, 8x16/100 = 8/10/8,
# 4x256/100 = 10/10/9 -- the 8-bit codebook wins decisively in this
# low-cosine regime and is what production PQ uses anyway.
_PQ_M = 4  # subspaces
_PQ_SUB = _DIM // _PQ_M  # dims per subspace
_PQ_K = 256  # centroids per subspace codebook (8-bit codes)
_PQ_TRAIN_ITERS = 12
_PQ_SAMPLE = 512  # training-sample bound (vec_id < _PQ_SAMPLE)
_PQ_SHORTLIST = 100  # ADC shortlist reranked exactly

def _pq_normalize(mat: "np.ndarray") -> "np.ndarray":
    """Row-normalize to unit L2; zero-norm rows stay zero (the same guard
    as the int8 path -- cosine against them is undefined, ADC scores 0)."""
    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    return np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0.0)


@artifact
def _pq_codebooks(spark: SparkSession, sf_dir: str) -> "np.ndarray":
    """Train the PQ codebooks on a BOUNDED deterministic sample (vec_id <
    _PQ_SAMPLE) collected driver-side -- codebooks are always trained on a
    corpus sample at any scale (FAISS trains PQ on ~100k rows regardless of
    corpus size), so the driver-side numpy here is bounded metadata flow,
    not data flow; encoding the corpus itself stays distributed.

    Per subspace: k-means with k=_PQ_K, init = the first K sample
    subvectors, _PQ_TRAIN_ITERS Lloyd iterations, L2 metric over the
    row-NORMALIZED sample (so ADC inner products approximate cosine).
    Pure float64 numpy -- bit-deterministic for a given fixture."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_SAMPLE)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    sample = _pq_normalize(
        np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)
    )
    books = np.empty((_PQ_M, _PQ_K, _PQ_SUB), dtype=np.float64)
    for s in range(_PQ_M):
        x = sample[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
        cents = x[:_PQ_K].copy()
        if len(cents) < _PQ_K:
            # Corpus smaller than the codebook (review finding: the bare
            # slice would crash the books[s] assignment on shape): pad by
            # repeating the first subvector (zeros for an empty corpus).
            # Duplicated centroids never win assignments (argmin ties
            # break to the lowest index), so training and encoding stay
            # deterministic and exact.
            seed = cents[:1] if len(cents) else np.zeros((1, _PQ_SUB))
            pad = np.repeat(seed, _PQ_K - len(cents), axis=0)
            cents = np.concatenate([cents, pad], axis=0)
        for _ in range(_PQ_TRAIN_ITERS):
            # (n, K) squared L2; argmin ties -> lowest centroid id.
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(_PQ_K):
                members = x[assign == c]
                if len(members):  # empty cluster keeps its centroid
                    cents[c] = members.mean(axis=0)
        books[s] = cents
    return books


def _pq_codes_udf(books: "np.ndarray"):
    """Arrow-vectorized PQ encoder: per batch, normalize and assign each
    subvector to its nearest codebook centroid with dense numpy (the
    ``||x||^2 - 2 x.C^T + ||c||^2`` expansion -- one GEMM per subspace per
    batch, no per-row Python), returning ``array<int>`` of _PQ_M codes.
    NULL / wrong-length embeddings get a NULL code array, same contract as
    the LSH signature kernel. At 100 TB this is the write-time ingest
    kernel; codes are 4 bytes per vector vs 256 for the float32 row."""
    cb = books.copy()
    c_sq = (cb * cb).sum(axis=2)  # (M, K)

    @F.pandas_udf("array<int>")
    def pq_codes(emb: pd.Series) -> pd.Series:
        vals = emb.tolist()
        ok = [i for i, v in enumerate(vals) if v is not None and len(v) == _DIM]
        out = [None] * len(vals)
        if ok:
            mat = _pq_normalize(
                np.asarray([vals[i] for i in ok], dtype=np.float64)
            )
            codes = np.empty((len(ok), _PQ_M), dtype=np.int64)
            for s in range(_PQ_M):
                x = mat[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                d2 = (x * x).sum(axis=1, keepdims=True) - 2.0 * (
                    x @ cb[s].T
                ) + c_sq[s][None, :]
                codes[:, s] = d2.argmin(axis=1)
            for row, i in zip(codes.astype("int32").tolist(), ok):
                out[i] = row
        return pd.Series(out)

    return pq_codes


def _pq_adc_col(codes_col: F.Column, books: "np.ndarray", qvec: list[float]) -> F.Column:
    """ADC score as a tiny Catalyst expression: the (M x K) lookup table of
    exact query-subvector inner products rides as _PQ_M single array
    LITERALS (``F.lit(list)`` -- one Literal node each, NOT a 1024-child
    ``CreateArray`` tree, which measured 2.9 s of py4j build + compile
    tax), and the row score is _PQ_M ``element_at`` lookups summed."""
    q = _pq_normalize(np.asarray([qvec], dtype=np.float64))[0]
    score = F.lit(0.0)
    for s in range(_PQ_M):
        table = q[s * _PQ_SUB : (s + 1) * _PQ_SUB] @ books[s].T  # (K,)
        score = score + F.element_at(
            F.lit([float(v) for v in table]),
            F.element_at(codes_col, s + 1) + F.lit(1),
        )
    return score


@artifact(setup="ann_pq_index", used_by=("v_ann_pq", "v_ann_pq_anchor"))
def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[str, "np.ndarray"]:
    """Build (once per corpus) the PQ index artifact: the codebooks plus a
    parquet of ``(vec_id, label, pq_codes)`` -- 4 bytes of code per vector
    vs 256 for the float32 row, the 64x-compressed candidate table that ANN
    serving actually scans. Encoding runs distributed through the Arrow
    GEMM kernel; like ``_ivf_index`` the artifact is built once per
    SESSION (ingest cost paid once per session, not once per query; no
    cross-run reuse per the bench contract) with atomic tmp-dir+rename
    builds."""
    import json

    src = os.path.join(sf_dir, "embeddings.parquet")
    tag = hashlib.sha1(
        f"{spark.sparkContext.applicationId}:{src}"
        f":{_PQ_M}:{_PQ_K}:{_PQ_TRAIN_ITERS}:{_PQ_SAMPLE}".encode()
    ).hexdigest()[:16]
    base = os.path.join(scratch_root(), "spark_graft_pq", tag)
    idx = os.path.join(base, "codes")
    meta = os.path.join(base, "codebooks.json")

    if not (os.path.exists(os.path.join(idx, "_SUCCESS")) and os.path.exists(meta)):
        _sweep_stale_tmps(base)
        books = _pq_codebooks(spark, sf_dir)
        codes = _pq_codes_udf(books)
        tmp = f"{base}.tmp-{os.getpid()}"
        (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "label", codes(F.col("embedding")).alias("pq_codes"))
            .write.parquet(os.path.join(tmp, "codes"))
        )
        with open(os.path.join(tmp, "codebooks.json"), "w") as fh:
            json.dump(books.tolist(), fh)
        _mark_builder(tmp)
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # a concurrent builder won the rename; use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)

    with open(meta) as fh:
        books = np.asarray(json.load(fh), dtype=np.float64)
    own_dir(base)
    return idx, books


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via product quantization + ADC: the candidate
    scan reads ONLY the 4-byte-per-vector codes artifact (``_pq_index`` --
    never the float vectors), scores each row with 4 lookup-table reads,
    takes the top ``_PQ_SHORTLIST`` by ADC score, and reranks that
    shortlist with the exact cosine via a broadcast join back to the
    embeddings table.

    Scale shape: at 100 TB of vectors the codes table is ~1.6 TB, so the
    scan that dominates ANN serving shrinks 64x in bytes (measured on the
    80k-vector probe corpus: 32 MB of float parquet vs 0.9 MB of codes --
    ~36x after parquet framing); the shortlist ordering is
    TakeOrderedAndProject (only 100 rows survive), and only those pay
    float math. Honest local caveat (tools/scale_probe.py, 80k vectors,
    32 cores): the exact scan is compute-cheap at RAM-resident sizes
    (~0.6 s) and PQ's ~1.3-1.8 s is fixed per-query cost (query-vector
    fetch, two jobs, broadcast), so the bytes win only pays off when the
    corpus is I/O-bound -- which 100 TB is. Rows-only check (approximate;
    ``v_ann_pq_anchor`` pins the recall guarantee through the driver's
    oracle)."""
    path, books = _pq_index(spark, sf_dir)
    qvec = _query_vector(spark, sf_dir, 0)
    shortlist = (
        _read_index(spark, path)
        .filter(F.col("vec_id") != 0)
        .withColumn(
            "adc_ip", F.round(_pq_adc_col(F.col("pq_codes"), books, qvec), 6)
        )
        .orderBy(F.desc("adc_ip"), "vec_id")
        .limit(_PQ_SHORTLIST)
        .select("vec_id", "label", "adc_ip")
    )
    q = _lit_vec(qvec)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "label",
            "adc_ip",
            F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@artifact(setup="ann_ivfpq_index", used_by=("v_ann_ivfpq", "v_ann_ivfpq_anchor"))
def _ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus) the IVF-PQ artifact -- FAISS's production
    index layout: the PQ codes table written PARTITIONED BY the IVF
    cluster id, i.e. inverted lists whose entries are 4-byte codes. A
    query prunes to nprobe partition directories AND reads 64x-compressed
    rows -- the two savings multiply. Reuses the trained IVF centroids and
    PQ codebooks; session-scoped and atomically built like its parents."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    tag = hashlib.sha1(
        f"{spark.sparkContext.applicationId}:{src}"
        f":{_IVF_K}:{_IVF_TRAIN_ITERS}:{_PQ_M}:{_PQ_K}"
        f":{_PQ_TRAIN_ITERS}:{_PQ_SAMPLE}".encode()
    ).hexdigest()[:16]
    base = os.path.join(scratch_root(), "spark_graft_ivfpq", tag)
    idx = os.path.join(base, "codes")

    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        _sweep_stale_tmps(base)
        _, centroids = _ivf_index(spark, sf_dir)
        books = _pq_codebooks(spark, sf_dir)
        codes = _pq_codes_udf(books)
        tmp = f"{base}.tmp-{os.getpid()}"
        (
            load_table(spark, sf_dir, "embeddings")
            .select(
                "vec_id",
                "label",
                codes(F.col("embedding")).alias("pq_codes"),
                _assign_expr(centroids).alias("cluster"),
            )
            .repartition(F.col("cluster"))  # one file per inverted list
            .write.partitionBy("cluster")
            .parquet(os.path.join(tmp, "codes"))
        )
        _mark_builder(tmp)
        os.makedirs(os.path.dirname(base), exist_ok=True)
        try:
            os.rename(tmp, base)
        except OSError:  # a concurrent builder won the rename; use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)

    own_dir(base)
    return idx


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF-PQ, the FAISS production composition:
    prune to the nprobe closest clusters' partition directories (IVF),
    ADC-score ONLY their 4-byte PQ codes (never the float vectors), take
    the top ``_PQ_SHORTLIST`` by ADC score, and exact-rerank that
    shortlist via a broadcast join back to the embeddings table.

    At 100 TB the candidate scan is (nprobe/K) x (1/64) of the corpus
    bytes -- partition pruning and code compression multiply. Rows-only
    check (approximate; ``v_ann_ivfpq_anchor`` pins recall through the
    driver's oracle)."""
    path = _ivfpq_index(spark, sf_dir)
    _, centroids = _ivf_index(spark, sf_dir)
    books = _pq_codebooks(spark, sf_dir)
    qvec = _query_vector(spark, sf_dir, 0)
    qsims = [_py_cosine(qvec, c) for c in centroids]
    probe = [
        i + 1 for i in sorted(range(_IVF_K), key=lambda i: (-qsims[i], i))[:_IVF_NPROBE]
    ]
    shortlist = (
        _read_index(spark, path)
        .filter(F.col("cluster").isin(probe) & (F.col("vec_id") != 0))
        .withColumn(
            "adc_ip", F.round(_pq_adc_col(F.col("pq_codes"), books, qvec), 6)
        )
        .orderBy(F.desc("adc_ip"), "vec_id")
        .limit(_PQ_SHORTLIST)
        .select("vec_id", "label", F.col("cluster").cast("int").alias("cluster"))
    )
    q = _lit_vec(qvec)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def ann_ivfpq_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-witnessed IVF-PQ guarantee: exact top-10 cardinality and
    minimum cosine (recomputed from first principles by the oracle) plus
    a boolean pinning composite recall@10 >= 8 -- the intersection of
    IVF's cluster recall and PQ's code resolution, both deterministic.
    Measured recall@10: 9 at each of sf0.001/0.01/0.1 (gated in tests)."""
    exact = cosine_topk(spark, sf_dir).select("vec_id", "cos_sim")
    hits = ann_ivfpq_topk(spark, sf_dir).select("vec_id", F.lit(1).alias("hit"))
    return exact.join(hits, "vec_id", "left").agg(
        F.count("*").cast("long").alias("n_exact_topk"),
        F.min("cos_sim").alias("min_topk_cos"),
        (F.coalesce(F.sum("hit"), F.lit(0)) >= 8).alias("ivfpq_recall10_ge8"),
    )


def ann_pq_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-witnessed PQ guarantee (the IVF/LSH anchor pattern): the
    exact top-10 cardinality and minimum cosine (recomputed from first
    principles by the oracle) plus a boolean pinning PQ recall@10 >= 8
    after the ADC-shortlist rerank. Training, encoding, and scoring are
    all deterministic float64, so the boolean is stable, not
    probabilistic-flaky. Measured recall@10: 10 at sf0.001, 10 at sf0.01,
    9 at sf0.1 (gated in tests)."""
    exact = cosine_topk(spark, sf_dir).select("vec_id", "cos_sim")
    pq_hits = ann_pq_topk(spark, sf_dir).select("vec_id", F.lit(1).alias("hit"))
    return exact.join(pq_hits, "vec_id", "left").agg(
        F.count("*").cast("long").alias("n_exact_topk"),
        F.min("cos_sim").alias("min_topk_cos"),
        (F.coalesce(F.sum("hit"), F.lit(0)) >= 8).alias("pq_recall10_ge8"),
    )


# MMR diversity selection: greedy maximal-marginal-relevance over a
# relevance shortlist. Integer weights 2*rel - 1*maxsim (lambda = 2/3)
# keep every score an exact BIGINT, so the greedy argmax is
# cross-engine-deterministic. Shared engine/oracle constants.
MMR_K = 8
MMR_SHORTLIST = 100


def mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware selection (Carbonell & Goldstein MMR): greedily
    pick ``MMR_K`` vectors maximizing ``2*relevance - max_sim_to_selected``
    -- the dedup-aware "pick relevant but mutually diverse training
    examples" step of curation pipelines (the greedy form SemDeDup-style
    pipelines use for topic-balanced subset selection).

    Exactness: relevance and pairwise similarity are integer dot
    products over the ``_quantize_int8`` contract (same as
    ``v_quantized_cosine``), so every score is an exact BIGINT and the
    (score DESC, vec_id ASC) argmax is total -- the DuckDB oracle
    unrolls the same greedy steps from the same constants.

    Scale shape: two-stage retrieval, the production form. Stage 1 is
    distributed: scan -> per-row integer dot -> TakeOrderedAndProject
    shortlist of ``MMR_SHORTLIST``. Stage 2 reranks that BOUNDED
    shortlist greedily on the driver (100 x 64 ints -- the same
    bounded-driver-parameter class as the k-means centroids); the
    O(K * S * dim) rerank is independent of corpus size, so at 100 TB
    only stage 1 grows."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id", _quantize_int8(F.col("embedding")).alias("q")
    )
    # Query = vec 0's quantized form, read from the SAME DataFrame the
    # candidates use, so engine and oracle quantize identically (a query
    # parameter crossing the driver boundary, the _query_vector stance).
    q0 = quant.where(F.col("vec_id") == 0).select("q").first()["q"]
    qlit = _lit_longs(q0)
    zero = F.lit(0).cast("long")
    rel = F.aggregate(
        F.zip_with(F.col("q"), qlit, lambda x, y: x * y),
        zero,
        lambda a, v: a + v,
    )
    short = (
        quant.where(F.col("vec_id") != 0)
        .select("vec_id", "q", rel.cast("long").alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_SHORTLIST)
        .collect()
    )
    cands = [(int(r["vec_id"]), [int(x) for x in r["q"]], int(r["rel"]))
             for r in short]
    picks = mmr_greedy(cands)
    # The <=MMR_K greedy rows go back as a JVM-literal relation
    # (range(1) + explode of struct literals): a pickled-RDD
    # ``createDataFrame`` costs a Python-worker round-trip PER ACTION on
    # the result (the _local_events measurement: 4.6-5.6 s vs 0.3 s per
    # 1-row write job at local[32] -- guide §4's boundary tax). Values
    # are unchanged: exact ints cast to the same schema.
    structs = [
        F.struct(
            F.lit(step).cast("int").alias("step"),
            F.lit(vid).cast("long").alias("vec_id"),
            F.lit(rl).cast("long").alias("rel"),
            F.lit(ms).cast("long").alias("maxsim"),
            F.lit(sc).cast("long").alias("score"),
        )
        for step, vid, rl, ms, sc in picks
    ]
    if not structs:  # empty corpus: same schema, zero rows
        return spark.range(0).select(
            F.lit(0).cast("int").alias("step"),
            F.lit(0).cast("long").alias("vec_id"),
            F.lit(0).cast("long").alias("rel"),
            F.lit(0).cast("long").alias("maxsim"),
            F.lit(0).cast("long").alias("score"),
        )
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("s"))
        .select("s.step", "s.vec_id", "s.rel", "s.maxsim", "s.score")
    )


def mmr_greedy(
    cands: list[tuple[int, list[int], int]],
) -> list[tuple[int, int, int, int, int]]:
    """The bounded greedy rerank: pick MMR_K times the candidate
    maximizing ``2*rel - max_int_dot_to_selected`` under the
    (score DESC, vec_id ASC) total order. Pure integer arithmetic over
    the already-shortlisted candidates; separated from the query so the
    hypothesis property test can drive it against an independent serial
    MMR on arbitrary vectors (ties, negative sims, pools < K)."""
    selected: list[tuple[int, list[int]]] = []
    out = []
    for step in range(1, MMR_K + 1):
        best = None
        for vid, qv, rl in cands:
            if any(vid == s for s, _ in selected):
                continue
            ms = max(
                (sum(a * b for a, b in zip(qv, sq)) for _, sq in selected),
                default=0,
            )
            sc = 2 * rl - ms
            key = (-sc, vid)
            if best is None or key < best[0]:
                best = (key, vid, qv, rl, ms, sc)
        if best is None:
            break
        _, vid, qv, rl, ms, sc = best
        selected.append((vid, qv))
        out.append((step, vid, rl, ms, sc))
    return out


def _mmr_oracle() -> str:
    """Mirror of mmr_select: the _quantize_int8 contract in SQL (same
    CTE as v_quantized_cosine's oracle), the same shortlist order, and
    the greedy steps mechanically unrolled from MMR_K.

    Every CTE is MATERIALIZED: each unrolled step references the
    previous selection twice (the maxsim subquery and the NOT IN), so
    DuckDB's default CTE inlining re-expands the whole chain per
    reference -- exponential in MMR_K; un-materialized, the 500-row
    sf0.001 oracle spins for minutes (measured >60 s; 0.08 s
    materialized)."""
    dot = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " x -> x[1] * x[2])) AS BIGINT)"
    )
    cte = [
        """scaled AS MATERIALIZED (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                       w -> abs(CAST(w AS DOUBLE)))) / 127.0 AS s,
                   embedding
            FROM embeddings
        )""",
        """quant AS MATERIALIZED (
            SELECT vec_id,
                   CASE WHEN s = 0
                        THEN list_transform(embedding,
                                            v -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                            v -> CAST(round(CAST(v AS DOUBLE) / s)
                                      AS BIGINT))
                   END AS q
            FROM scaled
        )""",
        f"""cand AS MATERIALIZED (
            SELECT e.vec_id, e.q,
                   {dot.format(a="e.q",
                               b="(SELECT q FROM quant WHERE vec_id = 0)")}
                       AS rel
            FROM quant e WHERE e.vec_id <> 0
        )""",
        f"""short AS MATERIALIZED (
            SELECT * FROM cand ORDER BY rel DESC, vec_id
            LIMIT {MMR_SHORTLIST}
        )""",
        f"""pd AS MATERIALIZED (
            SELECT a.vec_id AS ai, b.vec_id AS bi,
                   {dot.format(a="a.q", b="b.q")} AS d
            FROM short a JOIN short b ON a.vec_id <> b.vec_id
        )""",
        """s1 AS MATERIALIZED (
            SELECT 1 AS step, vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
                   CAST(2 * rel AS BIGINT) AS score
            FROM short ORDER BY 2 * rel DESC, vec_id LIMIT 1
        )""",
        "sel1 AS MATERIALIZED (SELECT vec_id FROM s1)",
    ]
    for i in range(2, MMR_K + 1):
        cte.append(f"""s{i} AS MATERIALIZED (
            SELECT {i} AS step, c.vec_id, c.rel, m.maxsim,
                   CAST(2 * c.rel - m.maxsim AS BIGINT) AS score
            FROM short c
            JOIN (SELECT ai AS vec_id, CAST(MAX(d) AS BIGINT) AS maxsim
                  FROM pd WHERE bi IN (SELECT vec_id FROM sel{i - 1})
                  GROUP BY ai) m ON c.vec_id = m.vec_id
            WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
            ORDER BY 2 * c.rel - m.maxsim DESC, c.vec_id LIMIT 1
        )""")
        cte.append(f"""sel{i} AS MATERIALIZED (
            SELECT vec_id FROM sel{i - 1}
            UNION ALL SELECT vec_id FROM s{i}
        )""")
    body = ",\n        ".join(cte)
    union = "\n            UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
        WITH {body}
        SELECT CAST(step AS INT) AS step, vec_id, rel, maxsim, score
        FROM ({union}) ORDER BY step
    """


QUERIES = {
    "v_mmr_select": mmr_select,
    "v_cosine_topk": cosine_topk,
    "v_pairwise_neardup": pairwise_neardup,
    "v_semantic_dedup": semantic_dedup,
    "v_ann_ivf_anchor": ann_ivf_anchor,
    "v_ann_ivf_batch": ann_ivf_batch,
    "v_ann_lsh_anchor": ann_lsh_anchor,
    "v_knn_per_query": knn_per_query,
    "v_ann_lsh": ann_lsh_topk,
    "v_ann_ivf": ann_ivf_topk,
    "v_label_centroids": label_centroids,
    "v_quantized_cosine": quantized_cosine_topk,
    "v_ann_pq": ann_pq_topk,
    "v_ann_pq_anchor": ann_pq_anchor,
    "v_ann_ivfpq": ann_ivfpq_topk,
    "v_ann_ivfpq_anchor": ann_ivfpq_anchor,
}

# DuckDB cosine with explicit double math mirroring functions/vector.py:
# sequential sum over zipped products, dot/(sqrt*sqrt).
_DUCK_COS = (
    "(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))))"
)

_q_cos = _DUCK_COS.format(
    a="e.embedding", b="(SELECT embedding FROM embeddings WHERE vec_id = 0)"
)
_pair_cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
_knn_cos = _DUCK_COS.format(a="q.embedding", b="c.embedding")

ORACLES = {
    "v_label_centroids": """
        SELECT label, pos - 1 AS dim,
               ROUND(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)))
                          AS DOUBLE) / COUNT(v), 6) AS c
        FROM (SELECT label,
                     CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY label, dim ORDER BY label, dim
    """,
    "v_cosine_topk": f"""
        SELECT e.vec_id, e.label, ROUND({_q_cos}, 6) AS cos_sim
        FROM embeddings e
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
    """,
    "v_pairwise_neardup": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               ROUND({_pair_cos}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND({_pair_cos}, 6) > {_PAIR_SIM_THRESHOLD}
        -- rounded-value threshold matches the engine's filter(round(cos,6) > t);
        -- the raw cosine is bit-identical on both engines (sequential
        -- double arithmetic), so the rounded values agree exactly
        ORDER BY vec_a, vec_b
    """,
    "v_semantic_dedup": f"""
        WITH pairs AS (
            SELECT a.label AS label, b.vec_id AS vec_b
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ROUND({_pair_cos}, 6) > {_PAIR_SIM_THRESHOLD}
        ), dom AS (
            SELECT label, vec_b FROM pairs GROUP BY label, vec_b
        )
        SELECT e.label,
               COUNT(*) AS n_vectors,
               CAST(SUM(CASE WHEN d.vec_b IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dominated,
               CAST(SUM(CASE WHEN d.vec_b IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keepers
        FROM embeddings e
        LEFT JOIN dom d ON e.label = d.label AND e.vec_id = d.vec_b
        GROUP BY e.label ORDER BY e.label
    """,
    "v_knn_per_query": f"""
        SELECT * FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({_knn_cos}, 6) AS cos_sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_knn_cos}, 6) DESC, c.vec_id) AS INTEGER)
                       AS rank
            FROM embeddings q JOIN embeddings c
              ON q.label = c.label AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 5
        ) WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    # v_ann_lsh / v_ann_ivf: intentionally no oracle (approximate).
    # v_ann_ivf_anchor: exact side recomputed; recall boolean pinned TRUE.
    "v_ann_ivf_batch": f"""
        WITH exact AS (
            SELECT q.vec_id AS query_id, c.vec_id,
                   ROUND({_knn_cos}, 6) AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_knn_cos}, 6) DESC, c.vec_id) AS rn
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact_topk,
               MIN(cos_sim) AS min_topk_cos,
               TRUE AS recall10_ge7
        FROM exact WHERE rn <= 10
        GROUP BY query_id ORDER BY query_id
    """,
    "v_ann_ivf_anchor": f"""
        WITH exact AS (
            SELECT e.vec_id, ROUND({_q_cos}, 6) AS cos_sim
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        )
        SELECT COUNT(*) AS n_exact_topk,
               MIN(cos_sim) AS min_topk_cos,
               TRUE AS ivf_recall10_ge8
        FROM exact
    """,
    # Same shape as the IVF anchor: exact side recomputed; IVF-PQ recall
    # boolean pinned TRUE (both quantizers deterministic).
    "v_ann_ivfpq_anchor": f"""
        WITH exact AS (
            SELECT e.vec_id, ROUND({_q_cos}, 6) AS cos_sim
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_topk,
               MIN(cos_sim) AS min_topk_cos,
               TRUE AS ivfpq_recall10_ge8
        FROM exact
    """,
    # Same shape as the IVF anchor: exact side recomputed; PQ recall
    # boolean pinned TRUE (deterministic float64 training/encoding).
    "v_ann_pq_anchor": f"""
        WITH exact AS (
            SELECT e.vec_id, ROUND({_q_cos}, 6) AS cos_sim
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_topk,
               MIN(cos_sim) AS min_topk_cos,
               TRUE AS pq_recall10_ge8
        FROM exact
    """,
    # Same shape as the IVF anchor: the exact side is recomputed from
    # first principles; the LSH recall and candidate-pruning guarantees
    # are pinned as literal TRUEs (deterministic hyperplanes, fixed data).
    "v_ann_lsh_anchor": f"""
        WITH exact AS (
            SELECT e.vec_id, ROUND({_q_cos}, 6) AS cos_sim
            FROM embeddings e WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id LIMIT 10
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_topk,
               MIN(cos_sim) AS min_topk_cos,
               TRUE AS lsh_recall10_ge5,
               TRUE AS lsh_cand_frac_le35
        FROM exact
    """,
    # Quantization recomputed from first principles: same per-vector
    # max|x|/127 scale, same half-away-from-zero round, exact integer
    # dot/norm sums, float only in the final normalize.
    # Greedy MMR unrolled from the same constants; every value BIGINT.
    "v_mmr_select": _mmr_oracle(),
    "v_quantized_cosine": f"""
        WITH scaled AS (
            SELECT vec_id, label, embedding,
                   list_max(list_transform(embedding,
                       w -> abs(CAST(w AS DOUBLE)))) / 127.0 AS s
            FROM embeddings
        ), quant AS (
            SELECT vec_id, label, embedding,
                   CASE WHEN s = 0
                        THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                            v -> CAST(round(CAST(v AS DOUBLE) / s) AS BIGINT))
                   END AS q
            FROM scaled
        )
        SELECT e.vec_id, e.label,
               CASE WHEN list_sum(list_transform(e.q, v -> v * v)) = 0
                    THEN NULL
                    ELSE
               ROUND(CAST(list_sum(list_transform(
                         list_zip(e.q, (SELECT q FROM quant WHERE vec_id = 0)),
                         x -> x[1] * x[2])) AS DOUBLE)
                     / (sqrt(CAST(list_sum(list_transform(e.q, v -> v * v))
                             AS DOUBLE))
                        * sqrt(CAST(list_sum(list_transform(
                              (SELECT q FROM quant WHERE vec_id = 0),
                              v -> v * v)) AS DOUBLE))), 6)
               END AS cos_sim_q,
               ROUND({_q_cos}, 6) AS cos_sim_exact
        FROM quant e
        WHERE e.vec_id <> 0
        ORDER BY cos_sim_q DESC, e.vec_id
        LIMIT 10
    """,
}
