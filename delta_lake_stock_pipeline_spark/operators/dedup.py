"""Deduplication operators over ``documents`` (north-star extension set:
exact, n-gram Jaccard, MinHash+LSH, SimHash).

Scale design:
* Exact dedup is hash-groupBy on the dedup key -- one shuffle, map-side
  partial aggregation; at 100 TB the key is a content hash (fingerprint), so
  the shuffle carries 16 bytes + keeper id per row, never the document body.
* Near-dup is explode-shingles -> co-group by shingle (the inverted-index /
  MapReduce shape) or MinHash band-bucketing -- both avoid the O(n^2) all-pairs
  comparison; candidate verification runs only within buckets.
* Pair blocking uses ``source`` so bucket sizes stay bounded; at real scale
  the band hash itself is the blocking key.

Every near-dup leg (text here; image, audio and video in ``multimodal``)
is the same three stages over a different fingerprint, and each stage is
written once below:

* ``_shared_counts`` -- the candidate join: posting equi-join plus a
  shared-posting count per doc pair (symmetric self-join or batch x
  corpus);
* ``_best_match`` -- incremental admission: the best verified corpus
  match per batch doc, novel docs flagged;
* ``_keep_largest`` -- the keeper: per duplicate cluster, keep the
  largest copy.

Only the exact verify between candidate and decision is per-leg. Within
the text leg, the three scores (Jaccard, containment, incremental
admission) share ``_with_sizes``, which joins both docs' shingle-set
sizes to the pair counts; only the score expression differs.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact, clear_all
from ..sources.fixtures import load_table

# Near-dup parameters: 3-token shingles, Jaccard threshold tuned to the
# fixture's engineered near-dups (prefix-copied docs).
_SHINGLE_N = 3
_JACCARD_THRESHOLD = 0.2

# MinHash: 16 permutations in 4 bands of 4 rows. Candidate-capture
# probability is 1-(1-J^4)^4: ~0.88 at J=0.8, ~0.23 at J=0.5, ~0.006 at
# J=0.2 -- a deliberately loose sketch whose misses the EXACT
# d_ngram_jaccard anchor exposes (the fixture's engineered near-dup pairs
# are J>=0.8 and deterministically captured; see tests/test_sketches.py).
_MINHASH_K = 16
_LSH_BANDS = 4


clear_posts_cache = clear_all  # old name, kept because perfbench/run.py imports it


@artifact(
    setup="dedup_postings",
    used_by=(
        "d_ngram_jaccard",
        "d_minhash_lsh",
        "d_minhash_lsh_anchor",
        "d_dup_clusters",
        "d_dup_clusters_sql",
    ),
    # The build only persists; pricing it means materializing the blocks.
    force=DataFrame.count,
)
def _shingle_posts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-token shingles as ROWS ``(doc_id, source, shingle, h)``
    with ``h = xxhash64(shingle)`` precomputed (all downstream joins and
    minhash math key on the 8-byte hash, never the string).

    Shape: split once into a materialized array column, then ``transform``
    over a ``sequence`` of start offsets -- the array is an attribute
    reference inside the lambda, so each shingle is 3 O(1) lookups + concat
    (an earlier formulation inlined ``split`` in the lambda and went
    quadratic; a window/lead formulation fixed that but paid a full
    sort-shuffle on doc_id -- this form has NO shuffle before ``distinct``).

    The relation is persisted per (session, sf_dir): every dedup query
    reuses it, and within one query it feeds signature, candidate, and
    verification branches -- uncached, Spark would recompute the explode
    for each branch (measured 45 s -> dominated d_minhash_lsh at sf0.1).
    At 100 TB the equivalent is materializing the posting table once.
    Caching only pays off with several consumers: a single-consumer
    relation is cheaper recomputed (measured for the contamination gram
    posting, which deliberately is not an artifact).
    """
    return _posts_of(load_table(spark, sf_dir, "documents")).persist()


@artifact(setup="dedup_pairs", used_by=("d_dup_clusters", "d_dup_clusters_sql"))
def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair list, materialized ONCE per session+scale
    (localCheckpoint truncates the shingle-pipeline lineage so neither
    clustering form re-derives it)."""
    return (
        ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    )


def _posts_of(docs: DataFrame) -> DataFrame:
    """Posting builder factored out of ``_shingle_posts`` so augmented doc
    sets (``containment_pairs``'s excerpt rows) share the EXACT
    tokenize/shingle/hash pipeline: ``(doc_id, source, text)`` rows ->
    distinct ``(doc_id, source, h)`` posting rows."""
    parts = ", ".join(f"toks[i+{j}]" for j in range(_SHINGLE_N))
    shingles = F.expr(
        f"transform(sequence(0, size(toks) - {_SHINGLE_N}),"
        f" i -> concat_ws(' ', {parts}))"
    )
    # Spread the doc rows BEFORE exploding: the one-file fixture scans
    # as a single partition, and the explode + distinct's map-side
    # partial would otherwise run in one task. Shuffling 1 row/doc is
    # cheap; shuffling post-explode rows would not be.
    return (
        docs.repartition(32, "doc_id")
        .select(
            "doc_id", "source", F.split(F.lower("text"), " ").alias("toks")
        )
        .filter(F.size("toks") >= _SHINGLE_N)
        .select("doc_id", "source", F.explode(shingles).alias("shingle"))
        # hash BEFORE distinct: the dedup shuffle then carries an
        # 8-byte key instead of the shingle string (nothing downstream
        # reads the string; distinct-on-hash == distinct-on-string
        # modulo xxhash64 collisions, which the 64-bit space makes
        # negligible at any per-doc shingle count).
        .select("doc_id", "source", F.xxhash64("shingle").alias("h"))
        .distinct()
    )


def _with_sizes(common: DataFrame, posts: DataFrame, names: tuple[str, str]) -> DataFrame:
    """The size stage of every text near-dup score: ``common``'s rows
    with the shingle-set size of both docs of the pair (the docs in
    columns ``names``), counted from the posting table ``posts``, as
    ``n_a`` and ``n_b``. Jaccard, containment and the incremental
    admission differ only in the score they compute from these."""
    sizes = posts.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    a, b = names
    return (
        common.join(sa, F.col(a) == F.col("sa.doc_id"))
        .join(sb, F.col(b) == F.col("sb.doc_id"))
        .select(*common.columns, F.col("sa.n_sh").alias("n_a"), F.col("sb.n_sh").alias("n_b"))
    )


def _pair_jaccard(common: DataFrame, posts: DataFrame) -> DataFrame:
    """Per-pair common-shingle counts scored by Jaccard =
    |A∩B| / (|A| + |B| - |A∩B|), thresholded."""
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        _with_sizes(common, posts, ("doc_a", "doc_b"))
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate audit: total docs vs distinct text bodies vs distinct
    content fingerprints (the reference's distinct-count pattern A4 applied
    to dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        F.countDistinct(F.md5("text")).alias("n_unique_md5"),
    )


def exact_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a key subset (dropDuplicates semantics): keep the
    lowest doc_id per (lang, source, n_chars) group; report group sizes.
    The groupBy-min form is the deterministic, shuffle-once implementation of
    ``dropDuplicates`` (whose row choice is otherwise partition-dependent)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source", "n_chars")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_in_group"))
        .orderBy("lang", "source", "n_chars")
    )


def _shared_counts(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...],
    names: tuple[str, str, str],
    ordered: bool,
) -> DataFrame:
    """The candidate stage of every near-dup leg: equi-join two posting
    relations ``(doc_id, *on)`` on the posting key ``on`` and count the
    postings each doc pair shares, as rows named ``names`` (left doc,
    right doc, count). This is the inverted-index join: work is
    sum(posting-list^2) per key, never |docs|^2.

    ``ordered=True`` is the symmetric self-join form: it adds
    ``left.doc_id < right.doc_id``, so each unordered pair appears once
    and no doc pairs with itself. ``ordered=False`` is the incremental
    form: ``left`` holds the batch postings and ``right`` the corpus
    postings, which do not overlap."""
    lhs, rhs = left.alias("l"), right.alias("r")
    cond = reduce(and_, [F.col(f"l.{c}") == F.col(f"r.{c}") for c in on])
    if ordered:
        cond = cond & (F.col("l.doc_id") < F.col("r.doc_id"))
    a, b, n = names
    return (
        lhs.join(rhs, cond)
        .groupBy(F.col("l.doc_id").alias(a), F.col("r.doc_id").alias(b))
        .agg(F.count("*").alias(n))
    )


# The text leg's posting key: blocked by source, keyed on the 8-byte
# shingle hash, never the string.
_TEXT_KEY = ("source", "h")
_TEXT_PAIR = ("doc_a", "doc_b", "n_common")


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram-shingle Jaccard within a source
    block, via the inverted-index shape:

    explode shingles -> self-join on (source, shingle) -> count common
    shingles per pair -> join per-doc shingle counts -> Jaccard filter.

    This is the scalable exact form: work is proportional to
    sum(shingle-posting-list^2) within blocks, not |docs|^2.
    """
    posts = _shingle_posts(spark, sf_dir)
    common = _shared_counts(posts, posts, _TEXT_KEY, _TEXT_PAIR, ordered=True)
    return _pair_jaccard(common, posts)


# Containment threshold: a pair is flagged when the SMALLER shingle set
# is at least half inside the other -- the asymmetric subset-duplicate
# case (quoted/excerpted/prefix-copied docs) that Jaccard under-scores
# by construction (a 10x-longer superset caps J at ~0.1). Shared
# engine/oracle.
_CONTAINMENT_THRESHOLD = 0.5

# Excerpt augmentation for d_containment_pairs (round-9 ADVICE: the driver
# fixture held only ONE matching pair, a weak witness for the threshold
# and rounding boundary): docs with doc_id % MOD == RES gain a synthetic
# half-length prefix excerpt under doc_id + BASE -- the canonical
# asymmetric subset-duplicate (its shingles are a strict subset of the
# source's, so containment ~= 1.0 while Jaccard stays small), plus
# sub-1.0 pairs against the source's engineered near-dups. Deterministic
# and mirrored verbatim in the DuckDB oracle and the hypothesis brute
# force. BASE clears every real doc_id at any fixture SF.
_EXCERPT_MOD, _EXCERPT_RES, _EXCERPT_BASE = 100, 7, 1_000_000


def _excerpt_docs(docs: DataFrame) -> DataFrame:
    """Synthetic prefix-excerpt rows: first ceil(n_tokens/2) tokens of each
    selected doc, re-joined on single spaces (token boundaries survive the
    round-trip; shingling lowercases later on both engines)."""
    toks = F.split("text", " ")
    half = F.expr("(size(split(text, ' ')) + 1) div 2").cast("int")
    return docs.filter(
        F.col("doc_id") % _EXCERPT_MOD == _EXCERPT_RES
    ).select(
        (F.col("doc_id") + _EXCERPT_BASE).alias("doc_id"),
        "source",
        F.concat_ws(" ", F.slice(toks, F.lit(1), half)).alias("text"),
    )


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by exact shingle CONTAINMENT
    ``|A n B| / min(|A|, |B|)`` within a source block -- the measure
    dedup pipelines use beside Jaccard to catch SUBSET duplicates
    (a doc quoted or excerpted inside a longer one scores near 1.0 here
    while its Jaccard stays tiny). Same inverted-index shape and cached
    posting table as ``d_ngram_jaccard``: work is bounded by
    sum(posting-list^2) within blocks, never |docs|^2; the division of
    two exact integer counts is bit-identical across engines, so the
    round(4)-then-threshold filter can never keep a boundary pair on one
    side only (the d_ngram_jaccard stance).

    The corpus is augmented with the deterministic ``_excerpt_docs`` rows
    (a handful of prefix excerpts per fixture SF) so the driver comparison
    witnesses multiple containment pairs, not one. The cached session
    posting table still serves the real corpus; only the tiny excerpt set
    builds fresh postings (same factored pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    posts = _shingle_posts(spark, sf_dir).unionByName(
        _posts_of(_excerpt_docs(docs))
    )
    common = _shared_counts(posts, posts, _TEXT_KEY, _TEXT_PAIR, ordered=True)
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        _with_sizes(common, posts, ("doc_a", "doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(cont, 4).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAINMENT_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


@artifact
def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (|docs| x 16 longs) MinHash signature table. It is referenced
    twice by the band self-join (and transitively by everything after);
    persisting it lets each side read the 50k-row signature table instead
    of re-running the posting aggregation -- the difference between one
    and three full passes over the posting rows, measured 78 s -> 15 s at
    sf0.1. As an artifact (not a bare ``.persist()``) repeated calls in
    one session reuse ONE materialization and ``clear_all`` frees it -- a
    per-call persist leaked storage blocks until session stop."""
    return (
        _shingle_posts(spark, sf_dir)
        .groupBy("doc_id", "source")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh{i}")
                for i in range(_MINHASH_K)
            ]
        )
        .persist()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified with exact Jaccard.

    Signature: each shingle is hashed ONCE with ``xxhash64``; the k=16
    minhash functions are affine (universal-hash) transforms
    ``h_i(x) = a_i*x + b_i`` of that base hash (long overflow = mod 2^64),
    so signature cost is |shingles| hash evals + 16*|shingles| multiply-adds
    instead of 16*|shingles| string-concat+hash evals (~20x cheaper; at
    100 TB signature computation dominates, this is the term that matters).
    Banded into 4 bands of 4 -> candidates are pairs sharing any band hash
    (within source block) -> verify with exact shingle Jaccard >= threshold.

    No SQL oracle (xxhash64 is engine-specific) -> rows-only check; its
    verified output should agree with ``d_ngram_jaccard`` wherever LSH recall
    captures the pair -- the exact query is the correctness anchor.
    """
    # Signature via posting rows -> 16 plain min() aggregates: every
    # expression is codegen'd JVM work. The groupBy shuffle carries only
    # (doc_id, source, 8-byte hash). h_i(shingle) = xxhash64(i, base_hash):
    # re-hashing the LONG base hash is a fixed-width native hash; ANSI mode
    # forbids the classic wrapping a*x+b form.
    posts = _shingle_posts(spark, sf_dir)
    rows_per_band = _MINHASH_K // _LSH_BANDS
    bands = _minhash_sigs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verification of candidates only (bounded set): posting-list
    # intersection via two equi-joins -- |candidates| x |shingles/doc| rows,
    # never a doc x doc comparison.
    pa = posts.select(F.col("doc_id").alias("doc_a"), "h")
    pb = posts.select(F.col("doc_id").alias("doc_b"), "h")
    common = (
        candidates.join(pa, "doc_a")
        .join(pb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _pair_jaccard(common, posts)


# Non-overlapping span width (words) for line-level dedup. The fixture
# text has no newlines, so fixed word-chunks stand in for C4/CCNet's
# lines/paragraphs; the pipeline shape is identical.
_SPAN_W = 8


def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (span-level) dedup statistics -- the C4/CCNet boilerplate
    pass: segments appearing in MULTIPLE documents across the corpus are
    boilerplate to drop; per document, report how many of its
    non-overlapping ``_SPAN_W``-word spans are corpus-shared vs kept.

    Scale shape (the inverted-index form, like the shingle family):
    explode spans -> hash each span to 8 bytes BEFORE the shuffle ->
    groupBy(span-hash) with a distinct-doc count (map-side partial) ->
    join the counts back to the per-doc span rows -> per-doc aggregate.
    Work is linear in total span count; nothing is pairwise. The oracle
    groups by span TEXT -- hash-vs-text equivalence is the same
    xxhash64-collision trade the dedup family documents."""
    docs = load_table(spark, sf_dir, "documents")
    spans = F.expr(
        f"""case when size(toks) = 0 then array()
            else transform(
                sequence(0, cast(ceil(size(toks) / {_SPAN_W}.0) as int) - 1),
                i -> array_join(slice(toks, i * {_SPAN_W} + 1, {_SPAN_W}), ' '))
            end"""
    )
    sp = (
        docs.repartition(32, "doc_id")
        .select(
            "doc_id",
            F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("toks"),
        )
        .select("doc_id", F.explode(spans).alias("span"))
        .select("doc_id", F.xxhash64("span").alias("h"))
    )
    counts = sp.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    shared = (F.col("nd") >= 2).cast("int")
    return (
        sp.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(shared).cast("long").alias("n_shared"),
            F.sum(1 - shared).cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


# The banded-LSH capture guarantee asserted by the anchor: every exact
# pair at or above this Jaccard must appear in the verified LSH output
# (1-(1-J^4)^4 ~ 0.88 per pair at J=0.8; the fixture's engineered
# near-dups sit well above it and xxhash64 is deterministic, so the count
# is stable, not probabilistic-flaky).
_LSH_HIGH_J = 0.8


def minhash_lsh_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row witness of the MinHash+LSH guarantees against the EXACT
    inverted-index twin, as an ORACLED query -- so the external driver (not
    just pytest) sees red if the sketch breaks:

    * ``n_exact_pairs``  -- exact shingle-Jaccard pairs >= threshold
      (SQL-expressible; the oracle recomputes it from first principles);
    * ``n_lsh_unsound``  -- verified LSH pairs that are NOT exact pairs.
      Invariant 0: candidates are verified with the same exact Jaccard,
      so any nonzero means the verification join or threshold broke;
    * ``n_missed_high``  -- exact pairs with J >= ``_LSH_HIGH_J`` absent
      from the LSH output. Invariant 0 on the fixtures (deterministic
      banding); any nonzero means the signature/banding math broke.

    The oracle pins the two invariants as literal zeros and recomputes the
    exact-pair count -- previously this guarantee lived only in
    tests/test_sketches.py and the driver's d_minhash_lsh row was a
    vacuous rows-only check.

    Scale shape: both pair relations are bucket/block-bounded (see
    ``ngram_jaccard_pairs``/``minhash_lsh_pairs``); the anchor adds one
    full-outer join on pair keys plus a scalar aggregate."""
    exact = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard", F.lit(1).alias("in_exact")
    )
    lsh = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    joined = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    # coalesce(sum, 0): when BOTH pair relations are empty the join has no
    # rows and every SUM is NULL, but the oracle's pinned literals are 0 --
    # an empty corpus must compare as (0, 0, 0), not (NULL, NULL, NULL).
    zero = F.lit(0).cast("long")
    return joined.agg(
        F.coalesce(F.sum(F.coalesce("in_exact", F.lit(0))).cast("long"), zero).alias(
            "n_exact_pairs"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_exact").isNull() & F.col("in_lsh").isNotNull(), 1
                ).otherwise(0)
            ).cast("long"),
            zero,
        ).alias("n_lsh_unsound"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("jaccard") >= _LSH_HIGH_J) & F.col("in_lsh").isNull(), 1
                ).otherwise(0)
            ).cast("long"),
            zero,
        ).alias("n_missed_high"),
    )


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (token-hash bit-majority), plus its
    16-bit prefix band for bucketing. Deterministic given xxhash64 ->
    rows-only check (no engine-portable SQL form).

    The bit-majority is expressed as 64 conditional aggregates over exploded
    tokens -- pure JVM expressions, one shuffle on doc_id.

    The table is a persisted artifact: since round 4 it has TWO consumers
    (d_simhash and d_simhash_anchor), which is the cache rule's break-even
    (single-consumer persists measured as a net loss).
    """
    return _simhash_table(spark, sf_dir).orderBy("doc_id")


@artifact
def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # repartition pre-explode: parallelize the 64-expression partial
    # agg (single-file scan would otherwise run it in one task).
    toks = docs.repartition(32, "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias(
            "tok"
        ),
    ).withColumn("h", F.xxhash64("tok"))
    # For each bit: +1 if set else -1; simhash bit = (sum >= 0).
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    simhash = None
    for i in range(64):
        bit = F.when(
            F.col(f"b{i}") >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        simhash = bit if simhash is None else (simhash.bitwiseOR(bit))
    return bit_sums.select(
        "doc_id",
        simhash.alias("simhash"),
        F.shiftrightunsigned(simhash, 48).alias("band16"),
    ).persist()


def simhash_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-witnessed SimHash guarantees (the d_minhash_lsh_anchor
    pattern), one row:

    * ``n_dup_text_groups`` -- md5-identical text groups (oracle
      recomputes);
    * ``n_sim_mismatch_groups`` -- such groups whose members got DIFFERENT
      simhashes. Invariant 0: simhash is a pure function of the token
      set;
    * ``n_neardup_pairs`` -- exact shingle-Jaccard near-dup pairs (oracle
      recomputes via the shared _NGRAM_SQL);
    * ``n_hamming_gt16`` -- near-dup pairs whose simhashes differ in more
      than 16 of 64 bits. Invariant 0 with margin (measured max hamming
      10 across all three fixture scales; similar token sets flip few
      bit-majorities).

    A broken bit-majority, bucketing, or hash change flips a pinned zero
    and the external comparison goes red."""
    sh = simhash_buckets(spark, sf_dir).select("doc_id", "simhash")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("m")
    )
    grp = (
        docs.join(sh, "doc_id")
        .groupBy("m")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("simhash").alias("ns"),
        )
        .filter(F.col("n") > 1)
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    ham = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("h"))
    )
    # One tagged union + a single global aggregate: combining two 1-row
    # aggregates with a join would plan as a BroadcastNestedLoopJoin (the
    # constant-key condition folds away), which the blanket plan audit
    # forbids.
    tagged = grp.select(
        F.lit("g").alias("tag"),
        F.col("ns").cast("long").alias("ns"),
        F.lit(None).cast("int").alias("h"),
    ).unionByName(
        ham.select(
            F.lit("p").alias("tag"),
            F.lit(None).cast("long").alias("ns"),
            F.col("h"),
        )
    )
    zero = F.lit(0).cast("long")
    is_g, is_p = F.col("tag") == "g", F.col("tag") == "p"
    return tagged.agg(
        F.coalesce(F.sum(is_g.cast("int")).cast("long"), zero).alias(
            "n_dup_text_groups"
        ),
        F.coalesce(
            F.sum((is_g & (F.col("ns") > 1)).cast("int")).cast("long"), zero
        ).alias("n_sim_mismatch_groups"),
        F.coalesce(F.sum(is_p.cast("int")).cast("long"), zero).alias(
            "n_neardup_pairs"
        ),
        F.coalesce(
            F.sum((is_p & (F.col("h") > 16)).cast("int")).cast("long"), zero
        ).alias("n_hamming_gt16"),
    )


def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate CLUSTERS: connected components over the verified
    near-dup pair graph (``d_ngram_jaccard``), labeling every involved doc
    with the minimum doc_id of its component -- the step a real dedup
    pipeline runs after pair generation, so "A~B, B~C" collapses to one
    keeper instead of two independent pair decisions.

    Iterative min-label propagation: each round every node takes
    ``min(own label, neighbors' labels)``; converges in O(component
    diameter) rounds (near-dup components are shallow). Each round is one
    shuffled join + aggregate on the (tiny) edge set -- the fact table is
    never touched again. At 100 TB the same loop runs on the pair output
    with the large-star/small-star optimization (alternating min-to-
    neighbors / min-to-root) to bound per-round shuffle width; driver-side
    there is only the O(1)-row convergence count per round.

    Deterministic fixpoint (min id per component) -> exact DuckDB oracle
    via WITH RECURSIVE transitive closure.

    Scale ceiling (SCALING.md §round-9 probes): min-label stays the
    faster form on shallow near-dup graphs (2-4x vs star contraction on
    fixture-shaped components), but each round broadcasts the full
    |nodes-with-a-dup| label table and needs O(diameter) rounds -- the
    broadcast dies around O(10^8) labeled nodes and a chained-copy
    component stalls the round count. Past either limit the documented
    fallback is ``cc_largestar`` below: same pair graph, same output
    contract, O(log^2 n) rounds independent of diameter, no broadcast.
    """
    # Materialize the pair list ONCE before symmetrizing -- a plain union
    # would re-run the whole shingle-join pipeline per branch.
    pairs = _dup_pairs(spark, sf_dir)
    return min_label_components(pairs).orderBy("doc_id")


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Core of ``duplicate_clusters``, separated so the hypothesis
    brute-force (union-find) test can drive it on arbitrary edge lists:
    undirected pair rows ``(doc_a, doc_b)`` -> one row per involved node
    ``(doc_id, cluster_id)`` with cluster_id = the minimum doc_id of the
    node's connected component."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("lab", F.col("doc_id"))
        .localCheckpoint()  # truncate the pair-generation lineage once
    )
    for _ in range(20):  # >> any fixture component diameter
        # The label table is |nodes-with-a-dup| rows -- orders of magnitude
        # smaller than the corpus -- so it broadcasts; each round's only
        # shuffle is the tiny groupBy. localCheckpoint truncates lineage so
        # round N's plan doesn't re-derive rounds 1..N-1 (and an O(1)-row
        # count per round is the driver's entire involvement).
        nbr_min = (
            edges.join(
                F.broadcast(
                    labels.select(
                        F.col("doc_id").alias("dst"), F.col("lab").alias("nbr_lab")
                    )
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_lab").alias("nbr_lab"))
        )
        new_labels = (
            labels.join(F.broadcast(nbr_min), "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lab"), F.coalesce("nbr_lab", F.col("lab"))
                ).alias("lab"),
                # Convergence flag computed IN the update (old lab is right
                # here) -- the count below scans the already-materialized
                # checkpoint instead of re-joining new vs old labels.
                (
                    F.least(F.col("lab"), F.coalesce("nbr_lab", F.col("lab")))
                    != F.col("lab")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("changed").count()
        labels = new_labels.select("doc_id", "lab")
        if changed == 0:
            break
    else:  # pragma: no cover
        raise RuntimeError("component labeling did not converge in 20 rounds")
    return labels.select("doc_id", F.col("lab").alias("cluster_id"))


def cc_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph by alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) -- the AT-SCALE form
    of ``duplicate_clusters``: min-label propagation converges in
    O(component diameter) rounds, so one 100k-node chain (a pathological
    but real shape: chained prefix-copies) stalls it, while two-phase
    star contraction converges in O(log^2 n) rounds on ANY topology.
    Same cached pair graph, same output contract (doc_id -> component-min
    cluster_id), same DuckDB transitive-closure oracle as d_dup_clusters."""
    pairs = _dup_pairs(spark, sf_dir)
    return largestar_components(pairs).orderBy("doc_id")


def largestar_components(pairs: DataFrame) -> DataFrame:
    """Two-phase star contraction on undirected pair rows ``(doc_a,
    doc_b)`` -> ``(doc_id, cluster_id)`` with cluster_id = the component
    minimum (identical contract to ``min_label_components``; the
    hypothesis equivalence test drives both on the same random graphs).

    Each round rewrites the edge set twice, keeping every edge oriented
    child > parent:

    * large-star: every node u links each LARGER neighbor to
      m = min(neighbors(u) + {u}) -- hooks high nodes straight onto the
      local minimum, halving tree heights;
    * small-star: every node u links its smaller neighbors AND itself to
      the minimum of those -- flattens the low side into a star.

    Both steps are one groupBy-min plus one join back on the edge set --
    no collect_list adjacency (a hub's neighbor list never materializes
    in one row), no driver data path. The edge set only shrinks toward
    |nodes| - |components| star edges, and per Kiveris et al. the round
    count is O(log^2 n) independent of diameter -- the property that
    makes it the 100 TB form. Convergence is ONE map-side-combinable
    aggregate per round -- the edge set's (count, sum child, sum parent,
    sum xxhash64) signature, compared to the previous round's 4 numbers
    driver-side -- the O(1)-row form that survives any edge-set size. A
    false "converged" needs a 64-bit hash-SUM collision between two
    distinct canonical edge sets of equal size in the same round
    (~2^-64; the union-find property test and the shared closure oracle
    stand behind it besides).
    """

    from pyspark.sql import Observation

    # The convergence signature rides the SAME job that materializes the
    # round's edge set: ``observe`` + ``localCheckpoint`` (the
    # Observation fires when the checkpoint job runs -- probe-verified),
    # where a separate post-checkpoint ``agg().collect()`` previously
    # cost one extra scheduler round-trip per round per artifact
    # (round-11 optimization, guide §1.2: ~2 jobs/round -> 1; the
    # image/audio/video cluster builds and both largestar keys share
    # this loop). Metric values are IDENTICAL: same count/sum/sum/hash
    # expressions over the same materialized edge set.
    _sig_names = ("n", "sc", "sp", "sh")

    def _sig_exprs():
        # Hash values span the full signed-64 range, so their SUM must be
        # accumulated in decimal(38,0) -- ANSI mode raises on long
        # overflow after as few as two rows otherwise (caught by the
        # union-find property test on first run).
        return [
            F.count("*").alias("n"),
            F.sum("child").alias("sc"),
            F.sum("parent").alias("sp"),
            F.sum(F.xxhash64("child", "parent").cast("decimal(38,0)")).alias(
                "sh"
            ),
        ]

    def checkpoint_with_sig(e: DataFrame) -> tuple[DataFrame, tuple]:
        obs = Observation()
        ck = e.observe(obs, *_sig_exprs()).localCheckpoint()
        got = obs.get
        return ck, tuple(got[k] for k in _sig_names)

    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    # Canonical orientation (child > parent); self-pairs carry no
    # connectivity and would survive both steps as noise, so drop them.
    edges, sig = checkpoint_with_sig(
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("child"),
            F.least("doc_a", "doc_b").alias("parent"),
        )
        .distinct()
    )
    # Runaway guard only: O(log^2 n) worst case in theory, but a pure
    # 1M-node PATH (the adversarial topology) needs ~log2(n) ~ 20 rounds,
    # so the bound sits well past that; near-dup fixtures converge in <=5.
    for _ in range(40):
        sym = edges.unionByName(
            edges.select(
                F.col("parent").alias("child"), F.col("child").alias("parent")
            )
        )
        # large-star: m(u) = min over neighbors and self; (v, m) for v > u.
        mins = sym.groupBy("child").agg(
            F.least(F.min("parent"), F.first("child")).alias("m")
        )
        large = (
            sym.filter(F.col("parent") > F.col("child"))
            .join(mins, "child")
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .distinct()
        )
        # small-star on the re-oriented output: every edge is child > parent
        # by construction (m <= u < v), so parents ARE the smaller
        # neighbors; link them and u itself to the group minimum.
        smins = large.groupBy("child").agg(F.min("parent").alias("m"))
        small, new_sig = checkpoint_with_sig(
            large.join(smins, "child")
            .select(F.col("parent").alias("child"), F.col("m").alias("parent"))
            .filter(F.col("child") != F.col("parent"))
            .unionByName(
                smins.select(F.col("child"), F.col("m").alias("parent"))
            )
            .distinct()
        )
        edges = small
        if new_sig == sig:
            break
        sig = new_sig
    else:  # pragma: no cover
        raise RuntimeError("star contraction did not converge in 40 rounds")
    # Fixpoint backstop (ADVICE r9): the ~2^-64 hash-sum signature
    # collision would break the loop early and SILENTLY mislabel; a true
    # fixpoint is a star forest, i.e. the edge set is a function of
    # child. One bounded 2-number aggregate converts that silent failure
    # into a raised error.
    n_edges, n_children = edges.agg(
        F.count("*"), F.count_distinct("child")
    ).collect()[0]
    if n_edges != n_children:  # pragma: no cover
        raise RuntimeError(
            "star-contraction fixpoint is not a star forest "
            f"({n_edges} edges over {n_children} children) -- "
            "convergence-signature collision?"
        )
    # Fixpoint edge set is a forest of depth-1 stars rooted at component
    # minima: children label from their star edge, roots label themselves.
    return nodes.join(edges, nodes.doc_id == edges.child, "left").select(
        "doc_id", F.coalesce("parent", "doc_id").alias("cluster_id")
    )


def duplicate_clusters_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative twin of ``duplicate_clusters``: the transitive closure
    expressed as a Spark SQL ``WITH RECURSIVE`` (Spark 4) over the
    materialized near-dup pair table.

    The pair table is checkpointed FIRST -- Spark re-evaluates a
    non-recursive CTE referenced from the recursive step on every
    iteration, so leaving the whole shingle pipeline inline multiplies it
    by the recursion depth (measured 14 s vs 1.5 s at sf0.1). The closure
    enumerates label-carrying paths with UNION ALL to a fixed depth
    (near-dup components are shallow; path enumeration is exponential in
    dense components, so at 100 TB the iterative min-label loop is the
    scale path and this form is the declarative cross-check).

    The depth cap cannot silently truncate: a capped closure is correct
    iff NO edge joins two different cluster ids (every node self-labels at
    level 0, so edge-consistent labels are constant per component and that
    constant is the component min). That fixpoint is asserted below with
    one non-recursive join -- if a component ever exceeded the cap, this
    raises instead of returning wrong ids."""
    pairs = _dup_pairs(spark, sf_dir)
    pairs.createOrReplaceTempView("dup_pairs")
    res = spark.sql("""
        WITH RECURSIVE
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
        ),
        reach(doc_id, lab, lvl) AS (
            SELECT src, src, 0 FROM edges
            UNION ALL
            SELECT e.dst, r.lab, r.lvl + 1
            FROM reach r JOIN edges e ON e.src = r.doc_id
            WHERE r.lvl < 8
        )
        SELECT doc_id, MIN(lab) AS cluster_id
        FROM reach GROUP BY doc_id ORDER BY doc_id
    """).localCheckpoint()
    crossing = (
        pairs.join(res.alias("la"), pairs.doc_a == F.col("la.doc_id"))
        .join(res.alias("lb"), pairs.doc_b == F.col("lb.doc_id"))
        .filter(F.col("la.cluster_id") != F.col("lb.cluster_id"))
        .count()
    )
    if crossing:  # pragma: no cover - requires component diameter > 8
        raise RuntimeError(
            f"recursive closure depth cap too small: {crossing} edges cross "
            "cluster boundaries; raise the lvl bound"
        )
    return res


def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance on a fixed-length prefix,
    blocked by (source, lang) so the quadratic comparison stays inside
    bounded blocks (~|docs|/100 here; at 100 TB the block key would be a
    coarse content signature, same shape). ``levenshtein`` runs as a JVM
    join residual on the equi-keys -- no Python, no all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.substring(F.lower("text"), 1, 40).alias("prefix"),
    )
    # The fixture parquet is one file -> one scan partition; without a
    # repartition the broadcast self-join's ~|block|^2 levenshtein evals all
    # land in ONE task (measured 7.5 s -> 0.5 s at sf0.1). Partitioning the
    # probe side by block key is also the 100 TB shape: comparisons fan out
    # across executors, one block never straddles tasks.
    a = docs.repartition(32, "source", "lang").alias("a")
    b = docs.alias("b")
    # Banded levenshtein (threshold form): returns -1 when distance > 10,
    # so the join residual is ONE eval per pair (a plain `dist <= 10`
    # filter would appear twice in the residual and double the DP work;
    # the banded DP itself is O(len*k) not O(len^2)).
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 10)
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (dist >= 0),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_distance"),
        )
        .orderBy("doc_a", "doc_b")
    )


# Incremental dedup batch split: docs with doc_id > max*_INCR_NUM/ _INCR_DEN
# (the newest ~30% by arrival order) are the INCOMING batch, the rest the
# standing corpus. Exact integer threshold, shared engine/oracle.
_INCR_NUM, _INCR_DEN = 7, 10


def _best_match(
    batch_ids: DataFrame,
    scored: DataFrame,
    order: tuple,
    metrics: tuple[str, ...],
) -> DataFrame:
    """The admission stage of every incremental near-dup leg. ``scored``
    holds the verified candidates ``(new_doc, cand_doc, *metrics)``; each
    batch doc keeps its best one under ``order``, ties going to the
    lowest ``cand_doc``. The result is left-joined back to every batch
    doc (``batch_ids``, one ``new_doc`` column): a doc with no verified
    candidate gets NULL match columns and ``is_novel = 1``.

    Scale shape: the candidates come from an ASYMMETRIC join of batch
    postings against the corpus index (``_shared_counts`` with
    ``ordered=False``), so cost is linear in the batch for a fixed
    corpus; the rank is one window per batch doc."""
    rank = Window.partitionBy("new_doc").orderBy(*order, "cand_doc")
    best = (
        scored.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        batch_ids.join(best, "new_doc", "left")
        .select(
            "new_doc",
            F.col("cand_doc").alias("matched_doc"),
            *metrics,
            F.col("cand_doc").isNull().cast("int").alias("is_novel"),
        )
        .orderBy("new_doc")
    )


def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (online) near-dup admission -- the PRODUCTION dedup
    shape: a corpus of 100 TB is never re-deduped against itself; each
    incoming batch is checked against the standing corpus's posting
    index and admitted or dropped. Here the newest ~30% of docs (by
    doc_id arrival order, threshold ``max_id * 7 DIV 10``) are the
    batch; for each one, its BEST corpus match by exact shingle Jaccard
    (>= the d_ngram_jaccard threshold, argmax under (jaccard DESC,
    corpus doc ASC)). Within-batch duplicates are a separate self-join
    pass by design (d_ngram_jaccard's shape).

    The threshold is ONE bounded driver-side scalar (the max doc id -- a
    parameter, not data). The posting table is the cached session one
    (at 100 TB: the maintained posting index the reference's maintenance
    loop would own)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # max() over an empty table is NULL/None; 0 keeps the degenerate input
    # on the oracle's path (its NULL threshold admits no rows, and so does
    # an empty doc_id > 0 filter) instead of a driver-side TypeError.
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    thr = max_id * _INCR_NUM // _INCR_DEN
    posts = _shingle_posts(spark, sf_dir)
    common = _shared_counts(
        posts.filter(F.col("doc_id") > thr),
        posts.filter(F.col("doc_id") <= thr),
        _TEXT_KEY,
        ("new_doc", "cand_doc", "n_common"),
        ordered=False,
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    scored = (
        _with_sizes(common, posts, ("new_doc", "cand_doc"))
        .select(
            "new_doc",
            "cand_doc",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    batch = docs.filter(F.col("doc_id") > thr).select(
        F.col("doc_id").alias("new_doc")
    )
    return _best_match(batch, scored, (F.desc("jaccard"),), ("n_common", "jaccard"))


def _keep_largest(clusters: DataFrame, sizes: DataFrame, size_col: str) -> DataFrame:
    """The keeper stage of every near-dup leg: within each duplicate
    cluster (``clusters``: doc_id, cluster_id) keep the doc with the
    largest ``size_col`` from ``sizes`` (doc_id, size_col), ties going
    to the lowest doc_id. Emits (doc_id, cluster_id, size_col,
    keeper_id, kept) per clustered doc; ``kept = 0`` rows are the drop
    list a pipeline anti-joins against.

    Scale shape: the labels come from the pair graph (the fact table is
    untouched); one join to per-doc size metadata (|clustered docs|
    rows, AQE picks the strategy) and one window per cluster."""
    w = Window.partitionBy("cluster_id").orderBy(F.desc(size_col), "doc_id")
    return (
        clusters.join(sizes, "doc_id")
        .withColumn("keeper_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            size_col,
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).cast("int").alias("kept"),
        )
        .orderBy("doc_id")
    )


def cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text dedup DECISION artifact: for every doc in a near-dup
    cluster (``d_dup_clusters`` components), keep the LONGEST copy
    (token count, doc_id tiebreak), the standard rule for prefix/excerpt
    near-dups where the min-id keeper would throw away the complete
    version. Token counts use ``t_quality_score``'s tokenization, so the
    keeper rule and the quality table agree."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens"),
    )
    clusters = min_label_components(_dup_pairs(spark, sf_dir))
    return _keep_largest(clusters, docs, "n_tokens")


# Exact repeated-substring dedup (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" operator class): gram width
# in TOKENS. Lee et al. use 50-token spans over BPE streams; the fixture
# docs are 10-110 words, so 8 keeps the same pipeline shape with real
# hits at every SF. Shared engine/oracle (interpolated into both sides).
_SUB_N = 8


def substring_span_core(grams: DataFrame, n: int) -> DataFrame:
    """Maximal duplicated-substring spans from a gram stream ``(doc_id,
    p, h)`` -- one row per OVERLAPPING n-token gram at token position p
    (0-based), ``h`` any exact gram identity (hash or text). A gram is
    duplicated iff it occurs >= 2 times corpus-wide (within-doc repeats
    count, as in Lee et al.); a doc's duplicated gram positions are
    merged into maximal spans: positions p < q share a span iff
    ``q - p <= n`` (their token windows overlap or touch), the
    gaps-and-islands form of "merge overlapping covered regions". Emits
    per doc: span count, covered duplicated tokens (spans are disjoint
    in token space by construction, so the sum never double-counts),
    and the longest span, all exact BIGINTs.

    Scale shape: ONE shuffle on the 8-byte gram hash with a
    count-over-partition window (a groupBy + semi-join-back formulation
    was measured recomputing the gram explode for BOTH branches -- the
    window form touches the gram stream once), then a per-doc window
    over the surviving positions -- work is linear in total gram count
    plus the two sorts; nothing is pairwise and no suffix array is
    materialized (the sorted-gram formulation computes the same maximal
    spans). Separated from the query so the hypothesis brute force
    drives it on arbitrary token streams."""
    hits = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("c") >= 2)
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = (
        hits.withColumn("prev", F.lag("p").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("p") - F.col("prev") > n), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = islands.groupBy("doc_id", "island").agg(
        (F.max("p") - F.min("p") + F.lit(n)).alias("span_tokens")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
            F.max("span_tokens").cast("long").alias("longest_span"),
        )
        .orderBy("doc_id")
    )


def _substring_gram_stream(
    spark: SparkSession, sf_dir: str, gram_expr: str, alias: str
) -> DataFrame:
    """The exploded overlapping ``_SUB_N``-token gram stream shared by
    the per-doc and corpus-level ExactSubstr keys -- ONE definition of
    the tokenization (empty-token filter) and the gram window bounds, so
    a rule tweak cannot break engine/oracle parity for just one sibling.
    ``gram_expr`` projects each gram from the lambda position ``p`` and
    the staged ``toks`` array (a struct for the per-doc key, the joined
    text for the top-K key)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.repartition(32, "doc_id")
        .select(
            "doc_id",
            F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias(
                "toks"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""case when size(toks) >= {_SUB_N}
                    then transform(
                        sequence(0, size(toks) - {_SUB_N}),
                        p -> {gram_expr})
                    else array() end"""
                )
            ).alias(alias),
        )
    )


def substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring statistics per document (Lee et al. 2022
    ExactSubstr class): every maximal substring of >= ``_SUB_N`` tokens
    that occurs at least twice in the corpus, reported per doc as
    (n_spans, dup_tokens, longest_span). Docs with no duplicated
    substring are absent. This is the EXACT counterpart of
    ``d_span_dedup``'s non-overlapping boilerplate pass: overlapping
    grams + island merge recover the true maximal duplicated regions,
    not the fixed-chunk approximation.

    Scale shape: explode overlapping grams (linear, ~1 row per token),
    hash each gram to 8 bytes BEFORE any shuffle, then
    ``substring_span_core`` (count-over-hash-partition window + per-doc
    island window; see its docstring for why not groupBy + semi join).
    The oracle groups by gram TEXT -- the same hash-vs-text collision
    trade every dedup oracle documents."""
    grams = _substring_gram_stream(
        spark,
        sf_dir,
        f"""struct(
            p AS p,
            xxhash64(array_join(slice(toks, p + 1, {_SUB_N}), ' ')) AS h)""",
        "g",
    ).select("doc_id", F.col("g.p").alias("p"), F.col("g.h").alias("h"))
    return substring_span_core(grams, _SUB_N)


# Top-of-corpus duplicated substrings: the strip-list size. Part of the
# query's semantics, shared engine/oracle.
_SUBTOP_K = 20


def substring_top_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level artifact of the ExactSubstr pass: the top
    ``_SUBTOP_K`` duplicated ``_SUB_N``-token substrings by occurrence
    count -- the boilerplate STRIP LIST a C4/CCNet-class pipeline
    materializes and joins against (``d_substring_dedup`` is the per-doc
    view of the same gram stream). Emits (gram, n_occurrences, n_docs,
    gram_md5) under the total order (n_occurrences DESC, gram_md5 ASC) --
    md5 is computable on both engines, so ties at the same count break
    identically.

    Scale shape: ONE aggregation over the exploded gram stream, grouped
    on md5(gram) with the representative text carried as ``min(gram)``
    INSIDE the aggregate (same md5 => same text modulo collisions) --
    no second pass over the corpus to fetch texts, no join back (the
    probe lesson from ``d_substring_dedup``: every extra consumer of the
    gram subtree re-runs the explode). Map-side partials reduce the
    shuffle to one row per (task, distinct gram); the global top-K is a
    TakeOrderedAndProject, never a full sort."""
    grams = _substring_gram_stream(
        spark,
        sf_dir,
        f"array_join(slice(toks, p + 1, {_SUB_N}), ' ')",
        "gram",
    )
    return (
        grams.groupBy(F.md5("gram").alias("gram_md5"))
        .agg(
            F.min("gram").alias("gram"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= 2)
        .select("gram", "n_occurrences", "n_docs", "gram_md5")
        .orderBy(F.desc("n_occurrences"), "gram_md5")
        .limit(_SUBTOP_K)
    )


# URL canonicalization dedup (the CommonCrawl-pipeline dedup axis over
# page URLs): variant templates for the synthesized URL column, shared
# engine/oracle -- every group of len(_URL_VARIANTS) consecutive doc_ids
# yields 4 http spellings of ONE canonical URL (case/port/www/trailing-
# slash/query-order/fragment mutations) plus 1 https singleton (which
# exercises :443 stripping). The synthesis CASE is generated from this
# ONE list for both engines (the _SHINGLE_SQL_CONCAT stance), so a
# template tweak can never drift one side.
_URL_VARIANTS = [
    ("HTTP://WWW.Example.COM:80/Docs/Item", "?b=2&a=1#frag"),
    ("http://example.com/Docs/Item", "/?a=1&b=2"),
    ("http://Example.com:80/Docs/Item", "?a=1&b=2"),
    ("http://EXAMPLE.COM/Docs/Item", "/?b=2&a=1#x"),
    ("https://www.Example.com:443/Secure/Item", "/"),
]


def _url_synth_sql(div: str) -> str:
    """The synthesized raw-URL expression; ``div`` is the integer-division
    operator (Spark ``DIV``, DuckDB ``//``)."""
    n = len(_URL_VARIANTS)
    whens = "\n            ".join(
        f"WHEN doc_id % {n} = {i} THEN '{p}' ||"
        f" CAST(doc_id {div} {n} AS STRING) || '{s}'"
        for i, (p, s) in enumerate(_URL_VARIANTS)
    )
    return f"CASE {whens} END"


def canonical_url_col(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL as pure Catalyst string
    ops (no UDF, no parse_url -- DuckDB has no parse_url, and the
    property test pins this expression against urllib): drop the
    fragment, lowercase scheme and host, strip the scheme's default port
    (:80 / :443) and a leading ``www.``, strip one trailing slash off a
    non-root path, and sort query parameters (ASCII/binary sort --
    identical in Spark, DuckDB, and Python for the constrained charset).
    Assumes authority is followed by a '/' path (guaranteed by the
    synthesis; the hypothesis generator holds the same contract)."""
    nofrag = F.split_part(url, F.lit("#"), F.lit(1))
    raw_scheme = F.split_part(nofrag, F.lit("://"), F.lit(1))
    scheme = F.lower(raw_scheme)
    rest = nofrag.substr(F.length(raw_scheme) + 4, F.length(nofrag))
    auth = F.split_part(rest, F.lit("/"), F.lit(1))
    pathq = rest.substr(F.length(auth) + 1, F.length(rest))
    path = F.split_part(pathq, F.lit("?"), F.lit(1))
    query = F.when(
        pathq.contains("?"), pathq.substr(F.length(path) + 2, F.length(pathq))
    ).otherwise(F.lit(""))
    hostl = F.lower(auth)
    hostp = (
        F.when(
            (scheme == "http") & hostl.endswith(":80"),
            hostl.substr(F.lit(1), F.length(hostl) - 3),
        )
        .when(
            (scheme == "https") & hostl.endswith(":443"),
            hostl.substr(F.lit(1), F.length(hostl) - 4),
        )
        .otherwise(hostl)
    )
    host = F.when(
        hostp.startswith("www."), hostp.substr(F.lit(5), F.length(hostp))
    ).otherwise(hostp)
    pathc = F.when(
        (path != "/") & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    qpart = F.when(query == "", F.lit("")).otherwise(
        F.concat(
            F.lit("?"),
            F.array_join(F.array_sort(F.split(query, "&")), "&"),
        )
    )
    return F.concat(scheme, F.lit("://"), host, pathc, qpart)


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup by canonicalization -- the first pass of every
    CommonCrawl-descended corpus pipeline (dedup by canonical URL before
    any content hashing): canonicalize the synthesized URL column with
    ``canonical_url_col`` and exact-group on the canonical form. Emits
    every canonical group: keeper (min doc_id), variant count, the
    canonical string, and its md5 (the pinned fingerprint a downstream
    join would key on), ordered by keeper.

    Scale shape: the canonicalization is one fused Catalyst projection
    (whole-stage codegen, no Python), then a single hash-groupBy whose
    shuffle rows carry the canonical string + doc id; at 100 TB group on
    md5(canon) so the shuffle carries 16 bytes -- emitting both here
    keeps the oracle exact over the string AND pins the digest."""
    docs = load_table(spark, sf_dir, "documents")
    canon = (
        docs.repartition(32, "doc_id")
        .select("doc_id", F.expr(_url_synth_sql("DIV")).alias("url"))
        .select("doc_id", canonical_url_col(F.col("url")).alias("canon"))
    )
    return (
        canon.groupBy("canon")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc"),
            F.count("*").cast("long").alias("n_variants"),
        )
        .select(
            "keeper_doc",
            "n_variants",
            F.col("canon").alias("canon_url"),
            F.md5("canon").alias("canon_md5"),
        )
        .orderBy("keeper_doc")
    )


def keep_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction dedup: keep only each user's LATEST event
    (ts desc, event_id desc tiebreak) -- the "upsert view" of an append-only
    log, and the batch twin of streaming dropDuplicates-within-watermark.

    One shuffle on the key, per-partition sorted row_number, filter rn=1;
    no driver involvement. At 100 TB the same shape serves log compaction
    per (key, partition-day).
    """
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


QUERIES = {
    "d_exact_summary": exact_dedup_summary,
    "d_exact_keys": exact_dedup_keys,
    "d_ngram_jaccard": ngram_jaccard_pairs,
    "d_containment_pairs": containment_pairs,
    "d_minhash_lsh": minhash_lsh_pairs,
    "d_minhash_lsh_anchor": minhash_lsh_anchor,
    "d_span_dedup": span_dedup_stats,
    "d_simhash_anchor": simhash_anchor,
    "d_simhash": simhash_buckets,
    "d_dup_clusters": duplicate_clusters,
    "d_dup_clusters_sql": duplicate_clusters_sql,
    "d_cc_largestar": cc_largestar,
    "d_cluster_keeper": cluster_keeper,
    "d_incremental_neardup": incremental_neardup,
    "d_fuzzy_levenshtein": fuzzy_levenshtein_pairs,
    "d_keep_latest": keep_latest_per_key,
    "d_substring_dedup": substring_dedup_stats,
    "d_substring_top": substring_top_grams,
    "d_url_canonical": url_canonical_dedup,
}

# Shingle concat derived from _SHINGLE_N exactly like the engine's lambda,
# so changing the constant changes BOTH sides (a hardcoded 3-lookup concat
# next to an interpolated bound was a silent-divergence trap).
_SHINGLE_SQL_CONCAT = " || ' ' || ".join(
    f"string_split(lower(text), ' ')[i+{j}]" for j in range(_SHINGLE_N)
).replace("[i+0]", "[i]")

_NGRAM_SQL = f"""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' '))
                            - {_SHINGLE_N - 2}),
                   i -> {_SHINGLE_SQL_CONCAT})) AS s
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
               AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.s, b.s))
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
          >= {_JACCARD_THRESHOLD}
    -- threshold applied to the ROUNDED value, matching the engine's
    -- filter(round(jac,4) >= t): the raw division of exact integer counts
    -- is bit-identical on both engines, so the rounded values agree and a
    -- boundary pair can never be kept by one side only
"""


def _closure_oracle(pairs_sql: str) -> str:
    """Oracle of every near-dup clusters key: the transitive closure of the
    (doc_a, doc_b) relation ``pairs_sql`` by ``WITH RECURSIVE`` --
    component minimum per involved doc, the fixpoint the engine's
    connected components compute."""
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, lab) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(lab) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""


def _keeper_oracle(
    clusters_sql: str, sizes: str, alias: str, size_col: str, sizes_sql: str
) -> str:
    """Oracle of every near-dup keeper key (``_keep_largest``): the
    clusters closure nested as a MATERIALIZED CTE, joined to the per-doc
    ``size_col`` of the CTE ``sizes`` (``sizes_sql``, read as ``alias``),
    keeper via FIRST_VALUE under the same (size_col DESC, doc_id) total
    order."""
    return f"""
    WITH clusters AS MATERIALIZED ({clusters_sql}),
    {sizes} AS ({sizes_sql})
    SELECT c.doc_id, c.cluster_id, {alias}.{size_col},
           FIRST_VALUE(c.doc_id) OVER (
               PARTITION BY c.cluster_id
               ORDER BY {alias}.{size_col} DESC, c.doc_id) AS keeper_id,
           CAST(CASE WHEN c.doc_id = FIRST_VALUE(c.doc_id) OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY {alias}.{size_col} DESC, c.doc_id)
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM clusters c JOIN {sizes} {alias} ON c.doc_id = {alias}.doc_id
    ORDER BY c.doc_id
"""


ORACLES = {
    "d_exact_summary": """
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT text) AS n_unique_texts,
               COUNT(DISTINCT md5(text)) AS n_unique_md5
        FROM documents
    """,
    "d_exact_keys": """
        SELECT lang, source, n_chars,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_in_group
        FROM documents GROUP BY lang, source, n_chars
        ORDER BY lang, source, n_chars
    """,
    "d_ngram_jaccard": _NGRAM_SQL + "    ORDER BY doc_a, doc_b",
    # Distinct-shingle COUNTS mirror the engine's distinct posting rows;
    # the threshold applies to the ROUNDED value (the _NGRAM_SQL stance).
    # ``aug`` mirrors _excerpt_docs: half-length prefix excerpts under
    # doc_id + BASE for doc_id % MOD == RES.
    "d_containment_pairs": f"""
        WITH aug AS MATERIALIZED (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + {_EXCERPT_BASE} AS doc_id, source,
                   array_to_string(list_slice(
                       string_split(text, ' '), 1,
                       (len(string_split(text, ' ')) + 1) // 2), ' ') AS text
            FROM documents
            WHERE doc_id % {_EXCERPT_MOD} = {_EXCERPT_RES}
        ),
        sh AS MATERIALIZED (
            SELECT doc_id, source,
                   list_distinct(list_transform(
                       range(1, len(string_split(lower(text), ' '))
                                - {_SHINGLE_N - 2}),
                       i -> {_SHINGLE_SQL_CONCAT})) AS s
            FROM aug
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
               ROUND(len(list_intersect(a.s, b.s))
                     / least(len(a.s), len(b.s)), 4) AS containment
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE ROUND(len(list_intersect(a.s, b.s))
                    / least(len(a.s), len(b.s)), 4)
              >= {_CONTAINMENT_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "d_dup_clusters": _closure_oracle(_NGRAM_SQL),
    "d_fuzzy_levenshtein": """
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(substr(lower(a.text), 1, 40),
                           substr(lower(b.text), 1, 40)) AS edit_distance
        FROM documents a
        JOIN documents b
          ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE levenshtein(substr(lower(a.text), 1, 40),
                          substr(lower(b.text), 1, 40)) <= 10
        ORDER BY doc_a, doc_b
    """,
    "d_keep_latest": """
        SELECT user_id, event_id, ts, event_type, value
        FROM (
            SELECT user_id, event_id, ts, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """,
    # d_minhash_lsh, d_simhash: intentionally no oracle (xxhash64-based).
    # d_minhash_lsh_anchor: the exact-pair count is recomputed from first
    # principles; the soundness and high-J recall counters are pinned
    # invariants (see minhash_lsh_anchor) -- a sketch bug flips them
    # nonzero on the ENGINE side and the driver row goes red.
    "d_minhash_lsh_anchor": f"""
        SELECT COUNT(*) AS n_exact_pairs,
               CAST(0 AS BIGINT) AS n_lsh_unsound,
               CAST(0 AS BIGINT) AS n_missed_high
        FROM ({_NGRAM_SQL})
    """,
    "d_simhash_anchor": f"""
        SELECT
            (SELECT COUNT(*) FROM (
                SELECT md5(text) AS m, COUNT(*) AS c
                FROM documents GROUP BY 1
            ) WHERE c > 1) AS n_dup_text_groups,
            CAST(0 AS BIGINT) AS n_sim_mismatch_groups,
            (SELECT COUNT(*) FROM ({_NGRAM_SQL})) AS n_neardup_pairs,
            CAST(0 AS BIGINT) AS n_hamming_gt16
    """,
    # Spans grouped by TEXT (the engine hashes first; same collision trade
    # as the shingle oracles). list_slice end-clamps like Spark's
    # slice(start, length) for the ragged tail.
    "d_span_dedup": f"""
        WITH sp AS (
            SELECT doc_id, u.s AS span
            FROM (
                SELECT doc_id,
                       list_filter(string_split(lower(text), ' '),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            UNNEST(list_transform(
                range(0, CAST(ceil(len(toks) / {_SPAN_W}.0) AS INTEGER)),
                i -> array_to_string(
                    list_slice(toks, i * {_SPAN_W} + 1, i * {_SPAN_W} + {_SPAN_W}),
                    ' '))) AS u(s)
        ), cnt AS (
            SELECT span, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY span
        )
        SELECT sp.doc_id,
               COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(SUM(CASE WHEN cnt.nd < 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM sp JOIN cnt ON sp.span = cnt.span
        GROUP BY sp.doc_id ORDER BY sp.doc_id
    """,
}

# The SQL twin computes the same deterministic fixpoint as the loop form.
ORACLES["d_dup_clusters_sql"] = ORACLES["d_dup_clusters"]

# Star contraction computes the same (node -> component-min) fixpoint; the
# shared oracle is exactly the equivalence the round-8 verdict asked to pin.
ORACLES["d_cc_largestar"] = ORACLES["d_dup_clusters"]

# Mirror of incremental_neardup: distinct-shingle sets per doc, the same
# integer threshold from a scalar subquery, best match via ROW_NUMBER
# under the identical total order, LEFT JOIN from the batch docs.
ORACLES["d_incremental_neardup"] = f"""
    WITH thr AS MATERIALIZED (
        SELECT MAX(doc_id) * {_INCR_NUM} // {_INCR_DEN} AS t FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   range(1, len(string_split(lower(text), ' '))
                            - {_SHINGLE_N - 2}),
                   i -> {_SHINGLE_SQL_CONCAT})) AS s
        FROM documents
    ),
    best AS MATERIALIZED (
        SELECT * FROM (
            SELECT n.doc_id AS new_doc, c.doc_id AS cand_doc,
                   CAST(len(list_intersect(n.s, c.s)) AS BIGINT)
                       AS n_common,
                   ROUND(len(list_intersect(n.s, c.s))
                         / (len(n.s) + len(c.s)
                            - len(list_intersect(n.s, c.s))), 4) AS jaccard,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.doc_id
                       ORDER BY ROUND(len(list_intersect(n.s, c.s))
                                / (len(n.s) + len(c.s)
                                   - len(list_intersect(n.s, c.s))), 4)
                                DESC, c.doc_id) AS rn
            FROM sh n JOIN sh c
              ON n.source = c.source
             AND n.doc_id > (SELECT t FROM thr)
             AND c.doc_id <= (SELECT t FROM thr)
            WHERE ROUND(len(list_intersect(n.s, c.s))
                        / (len(n.s) + len(c.s)
                           - len(list_intersect(n.s, c.s))), 4)
                  >= {_JACCARD_THRESHOLD}
        ) WHERE rn = 1
    )
    SELECT d.doc_id AS new_doc,
           b.cand_doc AS matched_doc,
           b.n_common,
           b.jaccard,
           CAST(CASE WHEN b.cand_doc IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS is_novel
    FROM documents d
    LEFT JOIN best b ON d.doc_id = b.new_doc
    WHERE d.doc_id > (SELECT t FROM thr)
    ORDER BY new_doc
"""

# Mirror of cluster_keeper: the d_dup_clusters recursive closure nested
# as a CTE, joined to t_quality_score's tokenization, keeper via
# FIRST_VALUE under the same (n_tokens DESC, doc_id) total order.
ORACLES["d_cluster_keeper"] = _keeper_oracle(
    ORACLES["d_dup_clusters"],
    "toks",
    "t",
    "n_tokens",
    """
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                   AS n_tokens
        FROM documents
    """,
)

# The toks/pos/grams CTE chain shared by BOTH ExactSubstr oracles --
# one definition of the oracle-side tokenization and gram bounds,
# mirroring _substring_gram_stream on the engine side.
_SUB_GRAM_CTES = f"""toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS t
        FROM documents
    ),
    pos AS MATERIALIZED (
        SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {_SUB_N} + 1, 0))) AS p
        FROM toks
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, p,
               array_to_string(t[p + 1 : p + {_SUB_N}], ' ') AS g
        FROM pos
    )"""

# Mirror of substring_dedup_stats: grams grouped by TEXT (the engine
# hashes to 8 bytes first -- the family's hash-vs-text collision trade);
# every CTE referenced more than once is MATERIALIZED (DuckDB 1.0 inlines
# non-recursive CTEs per reference -- the kcore/BFS/MMR lesson).
ORACLES["d_substring_dedup"] = f"""
    WITH {_SUB_GRAM_CTES},
    dup AS MATERIALIZED (
        SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ),
    hits AS MATERIALIZED (
        SELECT doc_id, p FROM grams WHERE g IN (SELECT g FROM dup)
    ),
    lagged AS (
        SELECT doc_id, p,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM hits
    ),
    isl AS MATERIALIZED (
        SELECT doc_id, p,
               SUM(CASE WHEN prev IS NULL OR p - prev > {_SUB_N}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM lagged
    ),
    spans AS MATERIALIZED (
        SELECT doc_id, island,
               MAX(p) - MIN(p) + {_SUB_N} AS span_tokens
        FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
           CAST(MAX(span_tokens) AS BIGINT) AS longest_span
    FROM spans GROUP BY doc_id ORDER BY doc_id
"""

# Mirror of url_canonical_dedup: the SAME synthesis CASE (generated from
# _URL_VARIANTS with DuckDB's // integer division) and the same
# canonicalization steps, spelled as a CTE chain.
# Mirror of substring_top_grams: grouped by gram TEXT directly (the
# engine groups by md5 and carries min(gram) -- same result modulo md5
# collisions); the (n_occurrences DESC, gram_md5) order is total on both
# engines.
ORACLES["d_substring_top"] = f"""
    WITH {_SUB_GRAM_CTES}
    SELECT g AS gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           md5(g) AS gram_md5
    FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ORDER BY n_occurrences DESC, gram_md5 LIMIT {_SUBTOP_K}
"""

ORACLES["d_url_canonical"] = f"""
    WITH raw AS MATERIALIZED (
        SELECT doc_id, {_url_synth_sql("//")} AS url FROM documents
    ),
    s1 AS (
        SELECT doc_id, split_part(url, '#', 1) AS nofrag FROM raw
    ),
    s2 AS (
        SELECT doc_id,
               lower(split_part(nofrag, '://', 1)) AS scheme,
               substr(nofrag,
                      length(split_part(nofrag, '://', 1)) + 4) AS rest
        FROM s1
    ),
    s3 AS (
        SELECT doc_id, scheme,
               split_part(rest, '/', 1) AS auth,
               substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
        FROM s2
    ),
    s4 AS (
        SELECT doc_id, scheme, lower(auth) AS hostl,
               split_part(pathq, '?', 1) AS path,
               CASE WHEN pathq LIKE '%?%'
                    THEN substr(pathq,
                                length(split_part(pathq, '?', 1)) + 2)
                    ELSE '' END AS query
        FROM s3
    ),
    s5 AS (
        SELECT doc_id, scheme, path, query,
               CASE WHEN scheme = 'http' AND hostl LIKE '%:80'
                    THEN left(hostl, length(hostl) - 3)
                    WHEN scheme = 'https' AND hostl LIKE '%:443'
                    THEN left(hostl, length(hostl) - 4)
                    ELSE hostl END AS hostp
        FROM s4
    ),
    canon AS MATERIALIZED (
        SELECT doc_id,
               scheme || '://'
               || CASE WHEN hostp LIKE 'www.%'
                       THEN substr(hostp, 5) ELSE hostp END
               || CASE WHEN path <> '/' AND path LIKE '%/'
                       THEN left(path, length(path) - 1) ELSE path END
               || CASE WHEN query = '' THEN ''
                       ELSE '?' || array_to_string(
                           list_sort(string_split(query, '&')), '&') END
                   AS c
        FROM s5
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           c AS canon_url,
           md5(c) AS canon_md5
    FROM canon GROUP BY c ORDER BY keeper_doc
"""
