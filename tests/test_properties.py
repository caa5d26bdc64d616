"""Property-based tests (hypothesis) for the custom algorithmic operators --
the ones whose correctness is NOT a single Catalyst primitive:

* ``asof_union_window`` -- the union+LOCF-window as-of join, vs a brute-force
  per-row reference;
* key salting -- semantics preservation vs the plain join under arbitrary
  (including maximally skewed) key distributions.

Fixture-based oracle parity pins these on one distribution; hypothesis walks
the edge cases (empty sides, all-ties, single hot key, duplicate
timestamps).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_lake_stock_pipeline_spark.operators.joins import (
    asof_union_window,
    asof_union_window_nearest,
    binned_count_greater,
)

# Small domains force key/timestamp collisions -- the interesting cases.
_row = st.tuples(
    st.integers(min_value=0, max_value=3),  # key
    st.integers(min_value=0, max_value=9),  # ts
)
_rows = st.lists(_row, min_size=0, max_size=25)

_SETTINGS = dict(
    max_examples=12,  # each example runs Spark jobs; keep the walk bounded
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _brute_force_asof(left_rows, right_rows):
    """Reference: for each left row, the right row with max ts <= left.ts on
    the same key; among equal-ts right rows the largest id wins. NULL keys
    and NULL timestamps never match: the as-of predicate is an SQL equality
    plus a comparison, both NULL-rejecting (Python ``None == None`` is True,
    so the skips must be explicit here)."""
    out = []
    for lid, (lk, lts) in enumerate(left_rows):
        if lk is None or lts is None:
            continue
        best = None  # (ts, rid)
        for rid, (rk, rts) in enumerate(right_rows):
            if rk is None or rts is None:
                continue
            if rk == lk and rts <= lts and (best is None or (rts, rid) > best):
                best = (rts, rid)
        if best is not None:
            out.append((lid, lk, lts, best[1], best[0]))
    return sorted(out)


# Keys AND timestamps may be NULL on either side: a NULL timestamp can
# never satisfy the as-of comparison (round-3 review fix for NULL-ts
# rights), and a NULL key can never satisfy the equality (round-5 ADVICE
# fix: Window.partitionBy groups all NULL keys into one partition, which
# would let NULL-key lefts match NULL-key rights unless filtered).
_asof_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
    ),
    min_size=0,
    max_size=25,
)


@given(left=_asof_rows, right=_asof_rows)
@settings(**_SETTINGS)
def test_asof_union_window_matches_brute_force(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, ts long"
    )
    got = sorted(
        tuple(r)
        for r in asof_union_window(ldf, rdf, "k", "ts", "lid", "rid")
        .select("lid", "k", "ts", "rid", "ts_matched")
        .collect()
    )
    assert got == _brute_force_asof(left, right)


def _brute_force_asof_nearest(left_rows, right_rows):
    """Reference for the nearest core: per left row, max right ts at-or-
    before AND min right ts strictly-after on the same key; the row appears
    when either exists. NULL-ts lefts have no defined distance and are
    dropped, matching the engine contract."""
    out = []
    for lid, (lk, lts) in enumerate(left_rows):
        if lk is None or lts is None:
            continue
        befores = [
            rts
            for rk, rts in right_rows
            if rk == lk and rk is not None and rts is not None and rts <= lts
        ]
        afters = [
            rts
            for rk, rts in right_rows
            if rk == lk and rk is not None and rts is not None and rts > lts
        ]
        if befores or afters:
            out.append(
                (
                    lid,
                    lk,
                    lts,
                    max(befores) if befores else None,
                    min(afters) if afters else None,
                )
            )
    return sorted(out, key=lambda t: (t[0],))


@given(left=_asof_rows, right=_asof_rows)
@settings(**_SETTINGS)
def test_asof_nearest_core_matches_brute_force(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, ts long"
    )
    got = sorted(
        (
            tuple(r)
            for r in asof_union_window_nearest(ldf, rdf, "k", "ts", "lid", "rid")
            .select("lid", "k", "ts", "ts_before", "ts_after")
            .collect()
        ),
        key=lambda t: (t[0],),
    )
    assert got == _brute_force_asof_nearest(left, right)


@given(rows=_rows)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, rows):
    """Salting the fact side S ways against an S-replicated dim must be
    row-for-row identical to the plain join, for any key distribution."""
    S = 4
    fact = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)], "id long, k long, v long"
    )
    dim = fact.groupBy("k").agg(F.sum("v").alias("total"))
    plain = sorted(
        tuple(r) for r in fact.join(dim, "k").select("id", "k", "total").collect()
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(S)]))
    )
    salted_fact = fact.withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.lit(S)).cast("int")
    )
    salted = sorted(
        tuple(r)
        for r in salted_fact.join(salted_dim, ["k", "salt"])
        .select("id", "k", "total")
        .collect()
    )
    assert salted == plain


# Balances that sit EXACTLY on bin boundaries (multiples of the width),
# straddle zero (floor-of-negative), and collide -- the edge cases of the
# bin decomposition.
_bals = st.lists(
    st.integers(min_value=-25, max_value=25).map(lambda i: i * 5.0),
    min_size=0,
    max_size=20,
)


@given(supp=_bals, cust=_bals)
@settings(**_SETTINGS)
def test_binned_theta_matches_brute_force(spark, supp, cust):
    """binned_count_greater == the nested-loop count for ANY balances,
    including values exactly on bin boundaries and negatives (bin width 10
    over a [-125, 125] domain -> every row within 2 bins of a boundary)."""
    expected = sorted(
        (i, sum(1 for c in cust if c > s))
        for i, s in enumerate(supp)
        if any(c > s for c in cust)
    )
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(supp)], "s_suppkey long, s_acctbal double"
    )
    cdf = spark.createDataFrame([(c,) for c in cust], "c_acctbal double")
    got = sorted(
        (r["s_suppkey"], r["n_richer_customers"])
        for r in binned_count_greater(sdf, cdf, bin_width=10.0).collect()
    )
    assert got == expected


# --- change-data-feed replay -------------------------------------------------
#
# For ANY sequence of MERGE/DELETE commits, replaying table_changes() onto
# the base snapshot must reproduce the final table as a multiset:
#     v0 rows + inserts(1..N) - deletes(1..N) == vN rows.
# Fixture tests pin one such sequence; hypothesis walks edge cases (empty
# updates, deletes matching nothing, re-inserting a deleted key, multiple
# commits touching the same partition).

_cdf_row = st.tuples(
    st.integers(min_value=0, max_value=9),  # key
    st.integers(min_value=0, max_value=2),  # partition
    st.integers(min_value=0, max_value=99),  # value
)

_cdf_op = st.one_of(
    st.tuples(st.just("merge"), st.lists(_cdf_row, min_size=0, max_size=4)),
    st.tuples(st.just("delete"), st.integers(min_value=0, max_value=3)),
)

_cdf_counter = [0]


@given(
    base=st.lists(_cdf_row, min_size=1, max_size=8),
    ops=st.lists(_cdf_op, min_size=1, max_size=3),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_table_changes_replays_any_commit_sequence(
    spark, tmp_path_factory, base, ops
):
    from delta_lake_stock_pipeline_spark import storage

    _cdf_counter[0] += 1
    path = str(tmp_path_factory.mktemp("cdf_prop") / f"t{_cdf_counter[0]}")

    def df_of(rows):
        uniq = {k: (k, p, v) for k, p, v in rows}  # one row per key
        return spark.createDataFrame(
            list(uniq.values()) or [(None, None, None)], "k INT, p INT, val INT"
        ).filter(F.col("k").isNotNull())

    storage.write_partitioned(df_of(base), path, partition_cols=["p"])
    for op, arg in ops:
        if op == "merge":
            storage.merge_into(spark, path, df_of(arg), ["k"], partition_cols=["p"])
        else:
            storage.delete_where(
                spark, path, f"val % 4 = {arg}", partition_cols=["p"]
            )

    if storage.current_version(path) == 0:
        # No op produced a commit (e.g. every merge was empty): asking for
        # changes beyond the head must raise, matching Delta CDF.
        import pytest as _pytest

        with _pytest.raises(ValueError, match="beyond"):
            storage.table_changes(spark, path, from_version=1)
        return

    ch = storage.table_changes(spark, path, from_version=1)
    data = ["k", "p", "val"]
    ins = ch.filter(F.col("_change_type") == "insert").select(*data)
    dels = ch.filter(F.col("_change_type") == "delete").select(*data)
    replayed = (
        storage.read_table(spark, path, version=0)
        .select(*data)
        .unionByName(ins)
        .exceptAll(dels)
    )
    final = storage.read_table(spark, path).select(*data)
    assert replayed.exceptAll(final).count() == 0
    assert final.exceptAll(replayed).count() == 0


# --- sequence packing: two-phase global offsets == serial prefix sum -------

_pack_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # doc_id (dupes dropped)
        st.integers(min_value=1, max_value=40),  # n_tokens
    ),
    min_size=0,
    max_size=30,
)


@given(rows=_pack_rows, capacity=st.integers(min_value=1, max_value=16))
@settings(**_SETTINGS)
def test_pack_sequences_matches_serial_prefix_sum(spark, rows, capacity):
    """The distributed two-phase packing must equal the serial definition:
    docs laid end-to-end in doc_id order, start = running sum, sequence ids
    by integer division -- for ANY corpus shape (empty, single giant doc
    spanning many sequences, all-tiny docs) and ANY capacity."""
    from delta_lake_stock_pipeline_spark.operators.curation import pack_sequences

    uniq = {}
    for d, n in rows:
        uniq.setdefault(d, n)
    docs_rows = sorted(uniq.items())
    docs = spark.createDataFrame(
        [(d, n) for d, n in docs_rows] or [], "doc_id LONG, n_tokens LONG"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_token"], r["first_seq"], r["last_seq"],
            r["n_seqs"],
        )
        for r in pack_sequences(spark, docs, capacity=capacity).collect()
    }
    acc = 0
    want = {}
    for d, n in docs_rows:
        first, last = acc // capacity, (acc + n - 1) // capacity
        want[d] = (n, acc, first, last, last - first + 1)
        acc += n
    assert got == want


# --- scatter-to-frames trailing window == naive per-type window ----------

_ma_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # event_type (low cardinality)
        st.integers(min_value=0, max_value=5),  # ts (forced collisions)
        st.integers(min_value=-10, max_value=10),  # micros (integer units)
    ),
    min_size=0,
    max_size=24,
)


def _brute_trailing_mean(data, k):
    want, by_type = {}, {}
    for t, i, ts, v in sorted(data, key=lambda x: (x[0], x[2], x[1])):
        hist = by_type.setdefault(t, [])
        hist.append(v)
        frame = hist[-k:]
        want[i] = sum(frame) / len(frame)
    return want


@given(rows=_ma_rows, k=st.integers(min_value=1, max_value=4))
@settings(**_SETTINGS)
def test_trailing_mean_scatter_matches_brute_force(spark, rows, k):
    """The scatter-to-frames decomposition must equal the serial trailing-k
    mean for ANY corpus: timestamp ties, types spanning many partition
    boundaries, frames shorter than k at run starts, and -- the case that
    broke the earlier carry-rows formulation -- interior range partitions
    holding fewer than k-1 rows of a continuing type. n_partitions=5 on
    tiny inputs forces exactly those layouts. Integer sums + one double
    division make equality EXACT, not approximate."""
    from delta_lake_stock_pipeline_spark.operators.windows import trailing_mean_rows

    data = [(f"t{t}", i, ts, v) for i, (t, ts, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data or [], "event_type STRING, event_id LONG, ts LONG, micros LONG"
    )
    want = _brute_trailing_mean(data, k)
    # scatter_min_rows_per_key=0 forces the scatter decomposition (the
    # round-4 hybrid would otherwise take the plain-window path on inputs
    # this small); the default call covers the hybrid small path too.
    got_scatter = {
        r["event_id"]: r["ma"]
        for r in trailing_mean_rows(
            df, k=k, n_partitions=5, scatter_min_rows_per_key=0
        ).collect()
    }
    assert got_scatter == want
    got_window = {
        r["event_id"]: r["ma"]
        for r in trailing_mean_rows(df, k=k, n_partitions=5).collect()
    }
    assert got_window == want


def test_trailing_mean_thin_interior_partition_regression(spark):
    """Deterministic pin of the carry-rows defect: 6 same-type rows over 5
    range partitions produce interior 1-row partitions; the frame of row 3
    must average rows 1..3 (value 2.0), not just the rows that survived a
    single-hop carry (the buggy 2.5)."""
    from delta_lake_stock_pipeline_spark.operators.windows import trailing_mean_rows

    data = [("t0", i, i, i) for i in range(6)]
    df = spark.createDataFrame(
        data, "event_type STRING, event_id LONG, ts LONG, micros LONG"
    )
    got = {
        r["event_id"]: r["ma"]
        for r in trailing_mean_rows(
            df, k=3, n_partitions=5, scatter_min_rows_per_key=0
        ).collect()
    }
    assert got == _brute_trailing_mean(data, 3)
    assert got[3] == 2.0


def test_trailing_mean_event_type_with_pipe(spark):
    """The per-(pid, type) offset lookup must not conflate distinct groups
    when a type value contains '|' (round-4 advice): the offsets ride a
    nested pid -> (type -> offset) literal map, not a concat_ws string key."""
    from delta_lake_stock_pipeline_spark.operators.windows import trailing_mean_rows

    data = [
        (t, i, ts, v)
        for i, (t, ts, v) in enumerate(
            [("a|b", 0, 10), ("a", 1, 20), ("a|b", 2, 30), ("a", 3, 40),
             ("b", 4, 50), ("a|b", 5, 60)]
        )
    ]
    df = spark.createDataFrame(
        data, "event_type STRING, event_id LONG, ts LONG, micros LONG"
    )
    got = {
        r["event_id"]: r["ma"]
        for r in trailing_mean_rows(
            df, k=2, n_partitions=5, scatter_min_rows_per_key=0
        ).collect()
    }
    assert got == _brute_trailing_mean(data, 2)


def test_quantize_int8_zero_vector_guard(spark):
    """An all-zero embedding has quantization scale 0; the guard must emit
    an explicit all-zero q array (not 0.0/0.0 -> NaN silently cast to 0)
    and the downstream cosine must be NULL, which sorts LAST under desc on
    both engines (Spark NaN would sort FIRST)."""
    from pyspark.sql import functions as F

    from delta_lake_stock_pipeline_spark.operators.similarity import _quantize_int8

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rows = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", _quantize_int8(F.col("embedding")).alias("q")
        ).collect()
    }
    assert rows[1] == [0, 0, 0]
    assert rows[2] == [64, -127, 32]


def test_fixture_has_no_zero_norm_embeddings(spark, sf_dir):
    """Invariant the exact-cosine oracles rely on: no all-zero embedding in
    the fixture (cosine would be undefined / NULL-ranked)."""
    from pyspark.sql import functions as F

    from delta_lake_stock_pipeline_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_zero = emb.filter(
        F.array_max(F.transform("embedding", lambda x: F.abs(x))) == 0
    ).count()
    assert n_zero == 0


def test_sessionize_gap_boundary(spark):
    """A gap of EXACTLY the session gap stays in-session (strict >); one
    microsecond more splits. Also: sessions never merge across users, and
    session_idx restarts at 1 per user."""
    import datetime as dt

    from delta_lake_stock_pipeline_spark.operators.windows import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap_us = 1_800_000_000  # 30 min
    rows = [
        # user 1: exact-boundary gap (stays), then boundary + 1 us (splits)
        (1, t0, 10, 1.0),
        (1, t0 + dt.timedelta(microseconds=gap_us), 11, 2.0),
        (1, t0 + dt.timedelta(microseconds=2 * gap_us + 1), 12, 4.0),
        # user 2: single event, far in the future of user 1's stream
        (2, t0 + dt.timedelta(days=30), 20, 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_us, r.sum_value)
        for r in sessionize(df, gap_us).collect()
    }
    assert got == {
        (1, 1): (2, gap_us, 3.0),
        (1, 2): (1, 0, 4.0),
        (2, 1): (1, 0, 8.0),
    }


def test_winnow_shared_run_guarantee(spark):
    """The winnowing guarantee (Schleimer et al.): two documents sharing a
    run of >= k + w - 1 = 8 words must share at least one fingerprint.
    Also: a doc with no 8-word overlap shares none (here, by construction
    with disjoint vocabularies)."""
    from pyspark.sql import functions as F

    from delta_lake_stock_pipeline_spark.operators.text import winnow_windows

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "unrelated words entirely different vocabulary here okay fine sure yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {
        r.doc_id: set(r.fps)
        for r in winnow_windows(df).select("doc_id", "fps").collect()
    }
    assert sets[1] & sets[2], "8-word shared run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])


# Tiny domains force same-user ts collisions (the tiebreak path) and
# gap-boundary hits (ts multiples of the gap land runs exactly on it).
_sess_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user
        st.integers(min_value=0, max_value=8),  # ts in gap-units of 1/2 gap
    ),
    min_size=0,
    max_size=20,
)


@given(rows=_sess_rows)
@settings(**_SETTINGS)
def test_sessionize_matches_serial_brute_force(spark, rows):
    """sessionize == a serial per-user scan for ANY event set, including
    duplicate timestamps (event_id tiebreak) and gaps exactly at the
    boundary (strict >)."""
    import datetime as dt

    from delta_lake_stock_pipeline_spark.operators.windows import sessionize

    gap_us = 1_000_000  # 1 s sessions; ts unit = 0.5 s so boundaries recur
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, t0 + dt.timedelta(microseconds=ts * gap_us // 2), i, float(i))
        for i, (u, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, value double"
    )

    expected = {}
    for u in sorted({r[0] for r in data}):
        stream = sorted(
            ((ts, eid, v) for uu, ts, eid, v in data if uu == u),
            key=lambda x: (x[0], x[1]),
        )
        idx, prev = 0, None
        for ts, eid, v in stream:
            if prev is None or (ts - prev).total_seconds() * 1e6 > gap_us:
                idx += 1
                expected[(u, idx)] = [0, ts, ts, 0.0]
            e = expected[(u, idx)]
            e[0] += 1
            e[2] = ts
            e[3] += v
            prev = ts
    expected = {
        k: (n, int((e2 - e1).total_seconds() * 1e6), round(sv, 4))
        for k, (n, e1, e2, sv) in expected.items()
    }

    got = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_us, r.sum_value)
        for r in sessionize(df, gap_us).collect()
    }
    assert got == expected


def _brute_force_asof_forward(left_rows, right_rows):
    """Reference: for each left row, the right row with MIN ts >= left.ts on
    the same key; among equal-ts right rows the smallest id wins. A NULL
    left ts never matches (the comparison is NULL), mirroring DuckDB
    ASOF; NULL keys on either side likewise (SQL equality)."""
    out = []
    for lid, (lk, lts) in enumerate(left_rows):
        if lk is None or lts is None:
            continue
        best = None  # (ts, rid)
        for rid, (rk, rts) in enumerate(right_rows):
            if rk is None or rts is None:
                continue
            if rk == lk and rts >= lts and (best is None or (rts, rid) < best):
                best = (rts, rid)
        if best is not None:
            out.append((lid, lk, lts, best[1], best[0]))
    return sorted(out)


# NULL ts AND NULL keys on EITHER side: a NULL left ts must produce no
# output row (the round-4 review found plain F.desc carried the min-ts
# right row into it), and NULL keys must never pair up (round-5 ADVICE).
@given(left=_asof_rows, right=_asof_rows)
@settings(**_SETTINGS)
def test_asof_forward_matches_brute_force(spark, left, right):
    from delta_lake_stock_pipeline_spark.operators.joins import (
        asof_union_window_forward,
    )

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, ts long"
    )
    got = sorted(
        tuple(r)
        for r in asof_union_window_forward(ldf, rdf, "k", "ts", "lid", "rid")
        .select("lid", "k", "ts", "rid", "ts_matched")
        .collect()
    )
    assert got == _brute_force_asof_forward(left, right)


# --- trailing EWMA (w_ewma core) ------------------------------------------
# Integer-micros values, possible NULLs, colliding (key, ts) pairs; ids make
# the order total. Small domains force frame-boundary and all-NULL frames.
_ewma_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=9),  # ts
        # vm spans the full safe domain up to 1e9 (the fixture bound and
        # ~97.5% of _EWMA_VM_SAFE_MAX) so the brute-force parity covers
        # numerators approaching the 2^53 exactness boundary, not just
        # toy magnitudes.
        st.one_of(
            st.none(),
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=999_000_000, max_value=1_000_000_000),
        ),  # vm
    ),
    min_size=0,
    max_size=30,
)


def _brute_ewma(rows):
    """Reference: per key, rows ordered by (ts, id); row i's frame is the
    last <=20 ROW positions (NULL values occupy their slot but contribute
    nothing); weights _EWMA_W by row distance; floor(num/den + 0.5)/1e6
    with the same single float division the engine performs."""
    import math

    from delta_lake_stock_pipeline_spark.operators.windows import _EWMA_W

    by_key: dict[int, list[tuple]] = {}
    for rid, (k, ts, vm) in enumerate(rows):
        by_key.setdefault(k, []).append((ts, rid, vm))
    out = []
    for k, krows in by_key.items():
        krows.sort(key=lambda r: (r[0], r[1]))
        for i, (ts, rid, _) in enumerate(krows):
            num = den = 0
            for d in range(min(len(_EWMA_W), i + 1)):
                vm = krows[i - d][2]
                if vm is not None:
                    num += vm * _EWMA_W[d]
                    den += _EWMA_W[d]
            ewma = (
                math.floor(num * 1.0 / den + 0.5) / 1_000_000.0
                if den > 0
                else None
            )
            out.append((rid, k, ts, ewma))
    return sorted(out)


@given(rows=_ewma_rows)
@settings(**_SETTINGS)
def test_trailing_ewma_matches_brute_force(spark, rows):
    from delta_lake_stock_pipeline_spark.operators.windows import trailing_ewma

    df = spark.createDataFrame(
        [(i, k, t, v) for i, (k, t, v) in enumerate(rows)],
        "id long, k long, ts long, vm long",
    )
    got = sorted(
        tuple(r)
        for r in trailing_ewma(df, "k", ["ts", "id"])
        .select("id", "k", "ts", "ewma")
        .collect()
    )
    assert got == _brute_ewma(rows)


def test_ewma_fixture_domain_below_exactness_boundary():
    """The oracle contract's precondition (see _EWMA_W note): the fixture
    domain |value| < 1000 => |vm| <= 1e9 must keep the worst-case long
    numerator below 2^53, where Spark's double division and DuckDB's
    decimal-exact path agree bit-for-bit."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        _EWMA_VM_SAFE_MAX,
        _EWMA_WSUM,
    )

    fixture_vm_max = 1_000 * 1_000_000  # |value| < 1000, micros scaling
    assert fixture_vm_max <= _EWMA_VM_SAFE_MAX
    assert fixture_vm_max * _EWMA_WSUM < 2**53

    # Same precondition class for the MACD weight ladders (1e5 scale was
    # chosen exactly so the slow 25/27 decay stays under 2^53; the signal
    # line consumes macd_micro, bounded by |vm| since it is a difference
    # of two convex averages of vm).
    from delta_lake_stock_pipeline_spark.operators.windows import (
        _MACD_W9,
        _MACD_W12,
        _MACD_W26,
    )

    for ws in (_MACD_W12, _MACD_W26, _MACD_W9):
        assert fixture_vm_max * sum(ws) < 2**53

    # Bollinger (w_bollinger) variance-numerator bound: n*q and s^2 in
    # centi-units must stay under 2^53 at the fixture domain, and the
    # documented safe bound |value| <= 4.7e4 must itself hold (review
    # finding: an earlier comment claimed 1e6, off by ~440x).
    for vmax in (1_000, 47_000):
        vc = vmax * 100
        assert 20 * (20 * vc * vc) < 2**53, vmax
        assert (20 * vc) ** 2 < 2**53, vmax


# --- MACD: Catalyst vs Arrow physical variants ----------------------------
_macd_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=9),  # ts
        st.one_of(
            st.none(),
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=999_000_000, max_value=1_000_000_000),
        ),  # vm (same boundary coverage as the EWMA generator)
    ),
    min_size=0,
    max_size=40,
)


@given(rows=_macd_rows)
@settings(**_SETTINGS)
def test_macd_arrow_matches_catalyst(spark, rows):
    """w_macd and w_macd_arrow are two physical strategies for ONE
    semantics (they share the oracle verbatim); this drives both on
    random NULL-bearing inputs, including thin partitions, and demands
    bit-identical integer output."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        macd_arrow,
        macd_catalyst,
    )

    df = spark.createDataFrame(
        [(str(k), i, t, v) for i, (k, t, v) in enumerate(rows)],
        "event_type string, event_id long, ts long, vm long",
    ).repartition(5)
    cols = ["event_type", "event_id", "macd_micro", "signal_micro", "hist_micro"]
    got_c = sorted(tuple(r) for r in macd_catalyst(df).select(cols).collect())
    got_a = sorted(tuple(r) for r in macd_arrow(df).select(cols).collect())
    assert got_c == got_a


# --- as-of with tolerance (j_asof_tolerance core) -------------------------
@given(left=_asof_rows, right=_asof_rows)
@settings(**_SETTINGS)
def test_asof_tolerance_is_postfilter_of_latest_match(spark, left, right):
    """The tolerance contract: match iff the SINGLE latest prior right row
    is within T -- NOT 'any prior right row within T'. The brute force
    applies the filter after selecting the latest match, exactly the
    operator's composition; a (stale-latest, fresh-earlier) pair is the
    case that distinguishes the two readings."""
    T = 3
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, ts long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, ts long"
    )
    m = asof_union_window(ldf, rdf, "k", "ts", "lid", "rid")
    got = sorted(
        tuple(r)
        for r in m.filter((F.col("ts") - F.col("ts_matched")) <= T)
        .select("lid", "k", "ts", "rid", "ts_matched")
        .collect()
    )
    want = [
        row for row in _brute_force_asof(left, right) if row[2] - row[4] <= T
    ]
    assert got == sorted(want)


def test_epoch_shuffle_partitions_corpus_and_reseeds(spark, sf_dir):
    """Epoch-shuffle invariants the oracle's exact values imply but are
    worth stating directly: the shards PARTITION the corpus (counts sum
    to the doc count), and changing the epoch seed yields a genuinely
    different permutation (different order fingerprints) over the same
    membership universe -- the 'next epoch' contract."""
    from delta_lake_stock_pipeline_spark.operators import reshape
    from delta_lake_stock_pipeline_spark.sources.fixtures import load_table

    base = {
        r["shard"]: (r["n_docs"], r["order_fp"])
        for r in reshape.epoch_shuffle(spark, sf_dir).collect()
    }
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(n for n, _ in base.values()) == n_total

    orig = reshape._EPOCH_SEED
    try:
        reshape._EPOCH_SEED = "epoch8:"
        other = {
            r["shard"]: (r["n_docs"], r["order_fp"])
            for r in reshape.epoch_shuffle(spark, sf_dir).collect()
        }
    finally:
        reshape._EPOCH_SEED = orig
    assert sum(n for n, _ in other.values()) == n_total
    assert {fp for _, fp in base.values()} != {fp for _, fp in other.values()}, (
        "reseeding must produce a different permutation"
    )


# --- ranged_with_offsets (global-prefix decomposition core) ---------------
# Duplicate order keys + zero weights + fewer rows than partitions: the
# thin-partition regime where the round-3 carry-rows bug class lived.
_rw_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # order key (duplicates!)
        st.integers(min_value=0, max_value=5),  # weight (zeros allowed)
    ),
    min_size=0,
    max_size=30,
)


@given(rows=_rw_rows)
@settings(**_SETTINGS)
def test_ranged_with_offsets_invariants_on_thin_partitions(spark, rows):
    """The decomposition's whole contract, checked from its own output on
    5 forced partitions: (1) every row's ``off`` equals the exact total
    weight of all rows in LOWER pids; (2) pids really are ranges (max key
    of pid p <= min key of pid p+1 -- equal keys can never straddle,
    placement is by value); (3) no row lost or duplicated."""
    from delta_lake_stock_pipeline_spark.operators.scale import (
        ranged_with_offsets,
    )

    df = spark.createDataFrame(
        [(i, k, w) for i, (k, w) in enumerate(rows)],
        "id long, k long, w long",
    )
    out = ranged_with_offsets(spark, df, "k", "w", n_partitions=5).collect()
    assert sorted(r["id"] for r in out) == list(range(len(rows)))
    if not rows:
        return
    by_pid: dict[int, list] = {}
    for r in out:
        by_pid.setdefault(r["pid"], []).append(r)
    acc = 0
    for p in sorted(by_pid):
        assert {r["off"] for r in by_pid[p]} == {acc}, (
            f"pid {p}: offsets {sorted(set(r['off'] for r in by_pid[p]))} "
            f"!= cumulative weight {acc}"
        )
        acc += sum(r["w"] for r in by_pid[p])
    pids = sorted(by_pid)
    for a, b in zip(pids, pids[1:]):
        assert max(r["k"] for r in by_pid[a]) <= min(
            r["k"] for r in by_pid[b]
        )


# --- min-label connected components (dup_clusters core) -------------------
_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ),
    min_size=1,
    max_size=15,
)


def _brute_components(edges):
    """Union-find reference: node -> min node id of its component (only
    nodes that appear in an edge, matching the operator's contract)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return sorted(
        (n, min(members)) for members in comp.values() for n in members
    )


@given(edges=_edge_lists)
@settings(**_SETTINGS)
def test_min_label_components_matches_union_find(spark, edges):
    """Arbitrary graphs -- self-loops, duplicate edges, chains at the
    8-node diameter limit, disconnected singleton pairs -- must converge
    to the same (node -> component-min) labeling a serial union-find
    produces."""
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        min_label_components,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in min_label_components(pairs).collect()
    )
    assert got == _brute_components(edges)


@given(edges=_edge_lists)
@settings(**_SETTINGS)
def test_largestar_components_matches_union_find(spark, edges):
    """The star-contraction form (d_cc_largestar) must land on the SAME
    (node -> component-min) labeling as min_label_components and the
    serial union-find, over the same adversarial graph space: self-loops,
    duplicate/parallel edges, both edge orientations, 8-node chains."""
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        largestar_components,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in largestar_components(pairs).collect()
    )
    assert got == _brute_components(edges)


def test_largestar_converges_on_long_chain(spark):
    """A 400-edge path has diameter 400 -- far past min_label_components'
    fixed 20-round budget BY DESIGN (that loop is priced for shallow
    near-dup components) -- while star contraction's round count is
    diameter-independent: it must converge inside its 40-round bound and
    label the whole chain with node 0."""
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        largestar_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in largestar_components(pairs).collect()
    }
    assert got == {(i, 0) for i in range(401)}


# --- systematic PPS sampling (r_sample_pps core) ---------------------------
_pps_docs = st.lists(
    st.integers(min_value=1, max_value=500),  # per-doc weight (n_chars)
    min_size=1,
    max_size=30,
)


@given(weights=_pps_docs)
@settings(**_SETTINGS)
def test_sample_pps_matches_serial_grid(spark, tmp_path_factory, weights):
    """The distributed PPS selection (two-phase prefix + integer grid) must
    equal a serial cumulative-sum walk exactly: same selected docs, same
    multiplicities, and sum(n_ticks) == K as an identity -- over corpora
    with single-doc, equal-weight, and heavily-skewed weight profiles."""
    from delta_lake_stock_pipeline_spark.operators import reshape

    k = reshape._PPS_K
    total = sum(weights)
    want, cw = {}, 0
    for i, w in enumerate(weights):
        prev = cw
        cw += w
        t = (cw * k) // total - (prev * k) // total
        if t >= 1:
            want[i] = (cw, t)
    assert sum(t for _, t in want.values()) == k

    d = str(tmp_path_factory.mktemp("pps_prop"))
    rows = [(i, "x" * w, "en", "s0", w) for i, w in enumerate(weights)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (r["cum_weight"], r["n_ticks"])
        for r in reshape.sample_pps(spark, d).collect()
    }
    assert got == want


# --- linear attribution (x_attribution_linear) -----------------------------
def test_attribution_conserves_value(spark, sf_dir):
    """Credit conservation is an exact identity, not a tolerance: the sum
    of all per-click credited micro-units equals the summed micro-value
    of every purchase that had at least one preceding-day click (the
    integer split's remainder goes to the first touch, so nothing is
    created or lost)."""
    from pyspark.sql import functions as F

    from delta_lake_stock_pipeline_spark.operators import aggregates
    from delta_lake_stock_pipeline_spark.sources.fixtures import load_table

    got = (
        aggregates.attribution_linear(spark, sf_dir)
        .agg(F.sum("credit_micro"))
        .collect()[0][0]
    )
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    credited_purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            clicks,
            (F.col("user_id") == F.col("cu"))
            & (F.col("ts") >= F.col("cts"))
            & (F.col("ts") <= F.col("cts") + F.expr("INTERVAL 1 DAY")),
            "left_semi",
        )
        .select(F.round(F.col("value") * 1_000_000).cast("long").alias("vm"))
    )
    want = credited_purchases.agg(F.sum("vm")).collect()[0][0]
    assert got == want and got > 0


# --- count-min sketch (x_cms_anchor core) ---------------------------------
_cms_counts = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50_000),  # user_id
        st.integers(min_value=1, max_value=1000),  # exact count
    ),
    min_size=0,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(counts=_cms_counts)
@settings(**_SETTINGS)
def test_cms_estimates_never_undercount(spark, counts):
    """CMS theorems on arbitrary per-key count tables: (a) est >= exact
    for EVERY key (counters only ever add mass); (b) a key whose d cells
    are all collision-free estimates exactly -- verified against a serial
    re-computation of the same md5-salted grid, so the Spark pipeline and
    the reference agree cell for cell, not just on the inequality."""
    import hashlib

    from delta_lake_stock_pipeline_spark.operators.aggregates import (
        _CMS_D,
        _CMS_W,
        cms_estimates,
    )

    def cell(r, uid):
        h = hashlib.md5(f"{r}:{uid}".encode()).hexdigest()
        return int(h[:8], 16) % _CMS_W

    grid: dict[tuple[int, int], int] = {}
    for uid, n in counts:
        for r in range(_CMS_D):
            key = (r, cell(r, uid))
            grid[key] = grid.get(key, 0) + n
    want = {
        uid: min(grid[(r, cell(r, uid))] for r in range(_CMS_D))
        for uid, n in counts
    }

    exact = spark.createDataFrame(
        [(u, n) for u, n in counts], "user_id long, n long"
    )
    got = {
        r["user_id"]: r["est"] for r in cms_estimates(exact).collect()
    }
    assert got == want
    by_uid = dict(counts)
    assert all(got[u] >= by_uid[u] for u in got)


# --- OBV (w_obv core) -----------------------------------------------------
_obv_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # supplier
        st.integers(min_value=0, max_value=9),  # order position
        st.integers(min_value=0, max_value=500),  # price (long units)
        st.integers(min_value=0, max_value=50),  # quantity
    ),
    min_size=0,
    max_size=30,
)


def _brute_obv(rows):
    """Serial OBV: per supplier in (pos, seq) order, signed running qty."""
    out = []
    by_key: dict[int, list] = {}
    for seq, (k, pos, pc, qn) in enumerate(rows):
        by_key.setdefault(k, []).append((pos, seq, pc, qn))
    for k, fills in by_key.items():
        fills.sort()
        prev, obv = None, 0
        for pos, seq, pc, qn in fills:
            if prev is not None and pc != prev:
                obv += qn if pc > prev else -qn
            prev = pc
            out.append((k, pos, seq, obv))
    return sorted(out)


@given(rows=_obv_rows)
@settings(**_SETTINGS)
def test_obv_core_matches_serial(spark, rows):
    """Random fill streams with duplicate positions, flat runs, and
    zero quantities, forced across thin partitions, must reproduce the
    serial signed running sum exactly."""
    from delta_lake_stock_pipeline_spark.operators.windows import obv_core

    df = spark.createDataFrame(
        [(k, pos, seq, pc, qn) for seq, (k, pos, pc, qn) in enumerate(rows)],
        "k long, pos long, seq long, pc long, qn long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in obv_core(df, "k", ["pos", "seq"])
        .select("k", "pos", "seq", "obv")
        .collect()
    )
    assert got == _brute_obv(rows)


# --- cross-series correlation (w_corr_matrix core) ------------------------
# Unique (series, day) pairs; values cover sign changes and constant runs
# (constant series => zero variance => NULL corr, the guarded branch).
_corr_series = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # series id
        st.integers(min_value=0, max_value=7),  # day
    ),
    st.integers(min_value=-400_000, max_value=400_000),  # return (long)
    min_size=0,
    max_size=28,
)


def _brute_corr(cells):
    """Serial pairwise Pearson over the shared days, exact-int co-moments
    (Python ints are unbounded -- the engine's documented domain keeps
    the same arithmetic inside int64), then the identical double emit."""
    import math

    series: dict[int, dict[int, int]] = {}
    for (s, d), rc in cells.items():
        series.setdefault(s, {})[d] = rc
    out = []
    ids = sorted(series)
    for i, sa in enumerate(ids):
        for sb in ids[i + 1 :]:
            days = sorted(set(series[sa]) & set(series[sb]))
            if not days:
                continue
            xs = [series[sa][d] for d in days]
            ys = [series[sb][d] for d in days]
            n = len(days)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx = sum(x * x for x in xs)
            syy = sum(y * y for y in ys)
            num = n * sxy - sx * sy
            dx, dy = n * sxx - sx * sx, n * syy - sy * sy
            if dx > 0 and dy > 0:
                corr = float(num) / (math.sqrt(float(dx)) * math.sqrt(float(dy)))
                emit = math.floor(corr * 1000000.0 + 0.5) / 1000000.0
            else:
                emit = None
            out.append((str(sa), str(sb), n, emit))
    return sorted(out)


@given(cells=_corr_series)
@settings(**_SETTINGS)
def test_corr_from_returns_matches_serial(spark, cells):
    """Random sparse return panels -- misaligned coverage, constant
    (zero-variance) series, negative correlation -- across thin
    partitions must match the serial exact-int Pearson bit-for-bit,
    including the NULL guard on degenerate pairs."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        corr_from_returns,
    )

    df = spark.createDataFrame(
        [(str(s), d, rc) for (s, d), rc in cells.items()],
        "event_type string, day long, rc long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in corr_from_returns(df)
        .select("type_a", "type_b", "n_days", "corr_ret")
        .collect()
    )
    assert got == _brute_corr(cells)


def test_corr_matrix_domain_bound():
    """The w_corr_matrix docstring's precondition: |value| <= 2,000
    (close cents <= 2e5, |day-over-day return| <= 4e5) across <= 4,000
    aligned days keeps every long product -- n*Sxy and the variance
    radicands -- inside int64. The fixture is |value| < ~600 over 30
    days, far inside."""
    cc_max = 2_000 * 100
    rc_max = 2 * cc_max
    n_max = 4_000
    sxy_max = n_max * rc_max * rc_max  # also bounds Sxx, Syy
    assert n_max * sxy_max < 2**63
    assert (n_max * rc_max) ** 2 < 2**63  # the Sx*Sy term


# --- cross-sectional z-score / beta (w_xsec_zscore, w_beta cores) ---------
def _brute_zscore(cells):
    import math

    days: dict[int, list] = {}
    for (s, d), rc in cells.items():
        days.setdefault(d, []).append((s, rc))
    out = []
    for d, rows in days.items():
        n = len(rows)
        ssum = sum(rc for _, rc in rows)
        q = sum(rc * rc for _, rc in rows)
        den2 = n * q - ssum * ssum
        for s, rc in rows:
            if den2 > 0:
                z = float(n * rc - ssum) / math.sqrt(float(den2))
                emit = math.floor(z * 1000000.0 + 0.5) / 1000000.0
            else:
                emit = None
            out.append((str(s), d, rc, emit))
    return sorted(out)


def _brute_beta(cells):
    import math

    days: dict[int, list] = {}
    series: dict[int, list] = {}
    for (s, d), rc in cells.items():
        days.setdefault(d, []).append(rc)
    x_by_day = {
        d: math.floor(float(sum(rs)) / float(len(rs)))
        for d, rs in days.items()
    }
    for (s, d), rc in cells.items():
        series.setdefault(s, []).append((x_by_day[d], rc))
    out = []
    for s, pts in series.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        num, dx = n * sxy - sx * sy, n * sxx - sx * sx
        if dx > 0:
            beta = float(num) / float(dx)
            alpha = (float(sy) - beta * float(sx)) / float(n)
            out.append(
                (
                    str(s),
                    n,
                    math.floor(beta * 1000000.0 + 0.5) / 1000000.0,
                    math.floor(alpha * 1000000.0 + 0.5) / 1000000.0,
                )
            )
        else:
            out.append((str(s), n, None, None))
    return sorted(out)


@given(cells=_corr_series)
@settings(**_SETTINGS)
def test_zscore_from_returns_matches_serial(spark, cells):
    """Random sparse panels -- single-series days (den=0), all-equal
    days, negative returns -- across thin partitions must match the
    serial exact-int cross-sectional z bit-for-bit."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        zscore_from_returns,
    )

    df = spark.createDataFrame(
        [(str(s), d, rc) for (s, d), rc in cells.items()],
        "event_type string, day long, rc long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in zscore_from_returns(df)
        .select("event_type", "day", "rc", "zscore")
        .collect()
    )
    assert got == _brute_zscore(cells)


@given(cells=_corr_series)
@settings(**_SETTINGS)
def test_beta_from_returns_matches_serial(spark, cells):
    """Beta/alpha vs the per-day floored mean index: the brute force
    rebuilds the index serially (math.floor of the same IEEE division)
    and the exact-long co-moments; constant-index series (dx=0) must be
    NULL on both sides."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        beta_from_returns,
    )

    df = spark.createDataFrame(
        [(str(s), d, rc) for (s, d), rc in cells.items()],
        "event_type string, day long, rc long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in beta_from_returns(df)
        .select("event_type", "n_days", "beta", "alpha_cents")
        .collect()
    )
    assert got == _brute_beta(cells)


def test_xsec_domain_bounds():
    """w_xsec_zscore: <= 5,000 series per day at |return| <= 4e5 cents
    keeps n*q inside int64. w_beta: the index |x| <= 4e5 (a mean of
    bounded returns), so its co-moments satisfy the same corr-matrix
    bounds."""
    rc_max, t_max, n_max = 400_000, 5_000, 4_000
    assert t_max * (t_max * rc_max * rc_max) < 2**63  # n*q
    assert (t_max * rc_max) ** 2 < 2**63  # s*s
    assert n_max * (n_max * rc_max * rc_max) < 2**63  # beta: n*sxx, n*sxy


# --- Sharpe/Sortino (w_sharpe core) ---------------------------------------
def _brute_sharpe(cells):
    import math

    series: dict[int, list] = {}
    for (s, _d), rc in cells.items():
        series.setdefault(s, []).append(rc)
    out = []
    for s, rcs in series.items():
        n = len(rcs)
        sx = sum(rcs)
        q = sum(rc * rc for rc in rcs)
        dq = sum(rc * rc for rc in rcs if rc < 0)
        var_num = n * q - sx * sx
        mean = float(sx) / float(n)
        ann = math.sqrt(252.0)
        if n > 1 and var_num > 0:
            sd = math.sqrt(float(var_num) / float(n * (n - 1)))
            sharpe = math.floor(mean / sd * ann * 1000000.0 + 0.5) / 1000000.0
        else:
            sharpe = None
        if dq > 0:
            dd = math.sqrt(float(dq) / float(n))
            sortino = math.floor(mean / dd * ann * 1000000.0 + 0.5) / 1000000.0
        else:
            sortino = None
        out.append((str(s), n, sx, sharpe, sortino))
    return sorted(out)


@given(cells=_corr_series)
@settings(**_SETTINGS)
def test_sharpe_from_returns_matches_serial(spark, cells):
    """Random return panels -- single-observation series (NULL Sharpe),
    constant series (var_num=0), all-positive series (NULL Sortino) --
    across thin partitions must match the serial exact-moment
    Sharpe/Sortino bit-for-bit."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        sharpe_from_returns,
    )

    df = spark.createDataFrame(
        [(str(s), d, rc) for (s, d), rc in cells.items()],
        "event_type string, day long, rc long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in sharpe_from_returns(df)
        .select(
            "event_type", "n_days", "sum_ret_cents", "sharpe_ann",
            "sortino_ann",
        )
        .collect()
    )
    assert got == _brute_sharpe(cells)


# --- momentum / rate-of-change (w_roc core) -------------------------------
# Close values INCLUDE zero so the pc <> 0 guard is exercised.
_roc_bars = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # series id
        st.integers(min_value=0, max_value=9),  # day
    ),
    st.integers(min_value=-1_000, max_value=1_000),  # close cents
    min_size=0,
    max_size=30,
)


def _brute_roc(cells, k):
    import math

    series: dict[int, list] = {}
    for (s, d), cc in sorted(cells.items()):
        series.setdefault(s, []).append((d, cc))
    out = []
    for s, bars in series.items():
        for i, (d, cc) in enumerate(bars):
            if i < k:
                continue
            pc = bars[i - k][1]  # row-based lag, like the engine
            mom = cc - pc
            if pc != 0:
                roc = (
                    math.floor(float(mom) / float(pc) * 1000000.0 + 0.5)
                    / 1000000.0
                )
            else:
                roc = None
            out.append((str(s), d, cc, mom, roc))
    return sorted(out)


@given(cells=_roc_bars)
@settings(**_SETTINGS)
def test_roc_from_bars_matches_serial(spark, cells):
    """Random close-bar panels with gaps, zero closes (guarded NULL
    ROC), and negative closes across thin partitions must match the
    serial row-based k-lag momentum bit-for-bit (k=2 so short series
    still produce rows)."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        roc_from_bars,
    )

    df = spark.createDataFrame(
        [(str(s), d, cc) for (s, d), cc in cells.items()],
        "event_type string, day long, cc long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in roc_from_bars(df, k=2)
        .select("event_type", "day", "close_cents", "mom_cents", "roc")
        .collect()
    )
    assert got == _brute_roc(cells, 2)


# --- Donchian channel (w_donchian core) -----------------------------------
_donchian_bars = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # series id
        st.integers(min_value=0, max_value=25),  # day (spans the 20-frame)
    ),
    st.tuples(
        st.integers(min_value=-500, max_value=500),  # high micro
        st.integers(min_value=-500, max_value=500),  # low micro
        st.integers(min_value=-500, max_value=500),  # close micro
    ),
    min_size=0,
    max_size=40,
)


def _brute_donchian(cells):
    series: dict[int, list] = {}
    for (s, d), bar in sorted(cells.items()):
        series.setdefault(s, []).append((d, bar))
    out = []
    for s, bars in series.items():
        for i, (d, (hm, lm, cm)) in enumerate(bars):
            frame = bars[max(0, i - 20) : i]
            if frame:
                upper = max(h for _, (h, _l, _c) in frame)
                lower = min(l for _, (_h, l, _c) in frame)
                brk = 1 if cm > upper else (-1 if cm < lower else 0)
            else:
                upper, lower, brk = None, None, 0
            out.append((str(s), d, cm, upper, lower, brk))
    return sorted(out)


@given(cells=_donchian_bars)
@settings(**_SETTINGS)
def test_donchian_core_matches_serial(spark, cells):
    """Random OHLC panels -- first-bar empty frames (NULL channel),
    exact-touch closes (inside, signal 0), series longer than the
    20-bar frame -- across thin partitions must match the serial
    prior-window extrema and breakout signs exactly."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        donchian_core,
    )

    df = spark.createDataFrame(
        [(str(s), d, h, l, c) for (s, d), (h, l, c) in cells.items()],
        "event_type string, day long, hm long, lm long, cm long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in donchian_core(df)
        .select(
            "event_type", "day", "close_micro", "upper_micro",
            "lower_micro", "breakout",
        )
        .collect()
    )
    assert got == _brute_donchian(cells)


# --- exact rolling median (w_rolling_median core) -------------------------
# Unique (series, ts, event_id) keys keep the window order deterministic;
# duplicate ts values within a series exercise the event_id tiebreak.
_median_rows = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # series id
        st.integers(min_value=0, max_value=5),  # ts
        st.integers(min_value=0, max_value=4),  # event_id
    ),
    st.integers(min_value=-1_000_000, max_value=1_000_000),  # value micros
    min_size=0,
    max_size=30,
)


def _brute_rolling_median(cells):
    series: dict[int, list] = {}
    for (s, ts, eid), vm in sorted(cells.items()):
        series.setdefault(s, []).append((ts, eid, vm))
    out = []
    for s, rows in series.items():
        vals = [vm for _, _, vm in rows]
        for i, (ts, eid, _vm) in enumerate(rows):
            frame = sorted(vals[max(0, i - 14) : i + 1])
            n = len(frame)
            med_x2 = frame[(n + 1) // 2 - 1] + frame[n // 2]
            out.append((str(s), eid * 1_000_000 + ts, n, med_x2))
    return sorted(out)


@given(cells=_median_rows)
@settings(**_SETTINGS)
def test_rolling_median_core_matches_serial(spark, cells):
    """Random tick streams with duplicate timestamps (event_id
    tiebreak), short frames (n < 15), and even-count frames (the
    two-middle sum) across thin partitions must match the serial
    sorted-frame median-x2 exactly. event_ids are made globally unique
    per series so the brute force can re-key rows."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        rolling_median_core,
    )

    df = spark.createDataFrame(
        [
            (str(s), eid * 1_000_000 + ts, ts, vm)
            for (s, ts, eid), vm in cells.items()
        ],
        "event_type string, event_id long, ts long, vm long",
    ).repartition(5)
    got = sorted(
        tuple(r)
        for r in rolling_median_core(df)
        .select("event_type", "event_id", "n_win", "med_x2_micro")
        .collect()
    )
    assert got == _brute_rolling_median(cells)


def test_sharpe_domain_bounds():
    """w_sharpe shares the corr-matrix budget: |rc| <= 4e5 cents over
    n <= 4,000 days keeps n*q (and the n*(n-1) scale's product with
    nothing -- it stays < 1.6e7) inside int64."""
    rc_max, n_max = 400_000, 4_000
    assert n_max * (n_max * rc_max * rc_max) < 2**63  # n*q
    assert (n_max * rc_max) ** 2 < 2**63  # sx*sx


@given(cells=_median_rows)
@settings(**_SETTINGS)
def test_rolling_median_arrow_matches_catalyst(spark, cells):
    """w_rolling_median and w_rolling_median_arrow are two physical
    strategies for ONE semantics (they share an oracle string verbatim);
    on random thin-partition tick streams with duplicate timestamps they
    must produce bit-identical integer output."""
    from delta_lake_stock_pipeline_spark.operators.windows import (
        rolling_median_arrow,
        rolling_median_core,
    )

    df = spark.createDataFrame(
        [
            (str(s), eid * 1_000_000 + ts, ts, vm)
            for (s, ts, eid), vm in cells.items()
        ],
        "event_type string, event_id long, ts long, vm long",
    ).repartition(5)
    cols = ["event_type", "event_id", "n_win", "med_x2_micro"]
    got_c = sorted(tuple(r) for r in rolling_median_core(df).select(cols).collect())
    got_a = sorted(tuple(r) for r in rolling_median_arrow(df).select(cols).collect())
    assert got_a == got_c


# --- exact-integer PageRank (g_pagerank core) ------------------------------
# Directed edges over a small id space: self-loops, dangling (dst-only)
# nodes, and multi-component graphs all occur.
_pr_edges = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ),
    min_size=0,
    max_size=24,
)


def _brute_pagerank(edges):
    from delta_lake_stock_pipeline_spark.operators.graph import (
        PR_ITERS,
        PR_SCALE,
    )

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    if not nodes:
        return []
    n = len(nodes)
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    base = PR_SCALE // n
    r = {v: base for v in nodes}
    for _ in range(PR_ITERS):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += r[s] // outd[s]
        r = {v: (15 * base) // 100 + (85 * inflow[v]) // 100 for v in nodes}
    out = [(str(v), rank) for v, rank in r.items()]
    return sorted(out, key=lambda t: (-t[1], t[0]))


@given(edges=_pr_edges)
@settings(**_SETTINGS)
def test_pagerank_core_matches_serial(spark, edges):
    """Random directed graphs -- self-loops, dangling dst-only nodes
    (mass dropped on both sides), disconnected components -- across thin
    partitions must match the serial fixed-iteration integer PageRank
    bit-for-bit, including the (rank DESC, node ASC) total order."""
    from delta_lake_stock_pipeline_spark.operators.graph import pagerank_core

    if not edges:
        return  # empty edge list -> empty frame; schema-only case
    df = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edges], "src string, dst string"
    ).repartition(5)
    got = [
        (r["node"], r["rank_scaled"])
        for r in pagerank_core(df).collect()
    ]
    assert got == _brute_pagerank(edges)


# --- degree-oriented triangle counting (g_triangles core) -------------------
# Undirected edges u < v over a small id space: isolated-pair components,
# hubs, and near-complete subgraphs all occur.
_tri_edges = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ).map(lambda t: (min(t), max(t))).filter(lambda t: t[0] < t[1]),
    min_size=1,
    max_size=30,
)


def _brute_triangles(edges):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    # node n's triangles = its closed wedges {a,b} with a<b, both adjacent
    tri = {
        n: sum(1 for a in adj[n] for b in adj[n] if a < b and b in adj[a])
        for n in nodes
    }
    return sorted(
        (
            (n, len(adj[n]), tri[n], len(adj[n]) * (len(adj[n]) - 1))
            for n in nodes
        ),
        key=lambda t: (-t[2], t[0]),
    )


@given(edges=_tri_edges)
@settings(**_SETTINGS)
def test_triangle_core_matches_serial(spark, edges):
    """Random undirected graphs across thin partitions must match the
    serial per-node triangle/degree/wedge counts bit-for-bit, including
    the (triangles DESC, node ASC) total order -- exercising the
    degree-ordered orientation's count-each-triangle-once invariant on
    hubs, ties, and disconnected components."""
    from delta_lake_stock_pipeline_spark.operators.graph import triangle_core

    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "u long, v long"
    ).repartition(5)
    got = [
        (r["node"], r["degree"], r["triangles"], r["wedge_pairs"])
        for r in triangle_core(df).collect()
    ]
    assert got == _brute_triangles(edges)


# --- common-neighbor link prediction (g_common_neighbors core) --------------
# Bipartite adjacency (c, s) over small id spaces; cap=3 exercises the
# hub-customer posting-list guard that fixture data never triggers.
_cn_adj = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=6),
    ),
    min_size=1,
    max_size=25,
)


def _brute_common_neighbors(adj, cap):
    by_c = {}
    for c, s in adj:
        by_c.setdefault(c, set()).add(s)
    by_c = {c: ss for c, ss in by_c.items() if len(ss) <= cap}
    deg, common = {}, {}
    for ss in by_c.values():
        for s in ss:
            deg[s] = deg.get(s, 0) + 1
        for a in ss:
            for b in ss:
                if a < b:
                    common[(a, b)] = common.get((a, b), 0) + 1
    out = []
    for (a, b), cm in common.items():
        union = deg[a] + deg[b] - cm
        out.append(
            (a, b, cm, deg[a], deg[b], union, (1_000_000 * cm) // union)
        )
    return sorted(out, key=lambda t: (-t[2], t[0], t[1]))


@given(adj=_cn_adj)
@settings(**_SETTINGS)
def test_common_neighbors_core_matches_serial(spark, adj):
    """Random bipartite graphs across thin partitions must match the
    serial common/degree/union/jaccard_ppm integers bit-for-bit under a
    small cap, including pairs severed entirely when the hub guard drops
    a customer (degrees recomputed over the SAME capped universe)."""
    from delta_lake_stock_pipeline_spark.operators.graph import (
        common_neighbors_core,
    )

    df = spark.createDataFrame(
        [(int(c), int(s)) for c, s in adj], "c long, s long"
    ).repartition(5)
    got = [
        tuple(r[k] for k in (
            "s1", "s2", "common", "deg_a", "deg_b", "union_cnt",
            "jaccard_ppm",
        ))
        for r in common_neighbors_core(df, cap=3).collect()
    ]
    assert got == _brute_common_neighbors(adj, cap=3)


# --- fixed-iteration k-core peel (g_kcore core) ------------------------------
# Undirected edges over a 12-node id space (66 possible pairs),
# materialized symmetric. min_size=20 keeps the graphs dense enough that
# K=8 peeling is non-vacuous: examples span empty-after-round-1, partial
# cores, and multi-round cascades where removing one sub-threshold node
# drags neighbors under K in a later round.


def _brute_kcore(sym_edges):
    from delta_lake_stock_pipeline_spark.operators.graph import (
        KCORE_ITERS,
        KCORE_K,
    )

    edges = set(sym_edges)
    for _ in range(KCORE_ITERS):
        deg = {}
        for s, _d in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {n for n, d in deg.items() if d >= KCORE_K}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    deg = {}
    for s, _d in edges:
        deg[s] = deg.get(s, 0) + 1
    return sorted(deg.items(), key=lambda t: (-t[1], t[0]))


# Dense-enough random graphs that K=8 peeling is non-vacuous: nodes 0..11,
# each example a random subset of all 66 undirected pairs.
_kcore_edges = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ).map(lambda t: (min(t), max(t))).filter(lambda t: t[0] < t[1]),
    min_size=20,
    max_size=60,
)


@given(edges=_kcore_edges)
@settings(**_SETTINGS)
def test_kcore_core_matches_serial(spark, edges):
    """Random graphs dense enough for K=8 peels to cascade must match
    the serial fixed-iteration peel bit-for-bit, including the
    (degree DESC, node ASC) total order and the empty-survivor case."""
    from delta_lake_stock_pipeline_spark.operators.graph import kcore_core

    sym = [(str(u), str(v)) for u, v in edges] + [
        (str(v), str(u)) for u, v in edges
    ]
    df = spark.createDataFrame(sym, "src string, dst string").repartition(5)
    got = [(r["node"], r["degree"]) for r in kcore_core(df).collect()]
    assert got == [(str(n), d) for n, d in _brute_kcore(sym)]


# --- fixed-round multi-source BFS (g_bfs_hops core) --------------------------
# Directed edges + an explicit seed set over a small id space: unreached
# components, seeds with no out-edges, and multi-hop chains all occur.


def _brute_bfs(edges, seeds):
    from delta_lake_stock_pipeline_spark.operators.graph import BFS_ITERS

    dist = {s: 0 for s in seeds}
    for i in range(1, BFS_ITERS + 1):
        frontier = [n for n, d in dist.items() if d == i - 1]
        for s, d in edges:
            if s in frontier and d not in dist:
                dist[d] = i
    hist = {}
    for d in dist.values():
        hist[d] = hist.get(d, 0) + 1
    return sorted(hist.items())


@given(edges=_pr_edges, seed_ids=st.sets(st.integers(0, 7), min_size=1, max_size=3))
@settings(**_SETTINGS)
def test_bfs_core_matches_serial(spark, edges, seed_ids):
    """Random directed graphs + random seed sets across thin partitions
    must match the serial fixed-round BFS histogram bit-for-bit,
    including rounds that relax nothing and seeds outside the edge set."""
    from delta_lake_stock_pipeline_spark.operators.graph import bfs_core

    edf = spark.createDataFrame(
        [(str(s), str(d)) for s, d in edges] or [("x", "x")],
        "src string, dst string",
    ).repartition(5)
    if not edges:
        edf = edf.where("src <> 'x'")
    sdf = spark.createDataFrame([(str(s),) for s in seed_ids], "node string")
    got = [(r["dist"], r["n_nodes"]) for r in bfs_core(edf, sdf).collect()]
    assert got == _brute_bfs(
        {(str(s), str(d)) for s, d in edges}, {str(s) for s in seed_ids}
    )


# --- greedy MMR selection (v_mmr_select core semantics) ----------------------
# The oracle already pins the full pipeline; this pins the GREEDY itself
# (shortlist -> iterative argmax with exact integer scores) against an
# independent serial implementation on random small integer vectors,
# exercising score ties, negative similarities, and pools smaller than K.


def _brute_mmr(cands, k):
    """Deliberately a DIFFERENT structure from mmr_greedy (ADVICE r7: a
    near-verbatim copy can't catch a shared logic bug): maxsim is
    maintained INCREMENTALLY per remaining candidate (updated against
    each new pick) instead of recomputed over the selected set, the
    argmax is ``max()`` over (score, -vid) instead of min over
    (-score, vid), and the dot product is an index loop."""

    def dot(u, v):
        acc = 0
        for i in range(len(u)):
            acc += u[i] * v[i]
        return acc

    remaining = {vid: (qv, rl) for vid, qv, rl in cands}
    maxsim = dict.fromkeys(remaining)  # None = nothing selected yet
    out = []
    for step in range(1, k + 1):
        if not remaining:
            break
        scored = [
            (2 * rl - (0 if maxsim[vid] is None else maxsim[vid]), -vid, vid)
            for vid, (qv, rl) in remaining.items()
        ]
        sc, _, vid = max(scored)
        qv, rl = remaining.pop(vid)
        maxsim.pop(vid)
        out.append((step, vid, rl, 2 * rl - sc, sc))
        for ovid, (oqv, _) in remaining.items():
            d = dot(oqv, qv)
            maxsim[ovid] = d if maxsim[ovid] is None else max(maxsim[ovid], d)
    return out


@given(
    vecs=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=1,
        max_size=12,
        unique_by=lambda v: tuple(v),
    ),
    qv=st.lists(st.integers(-3, 3), min_size=4, max_size=4),
)
@settings(**_SETTINGS)
def test_mmr_greedy_matches_serial(vecs, qv):
    """The engine's greedy loop (copied semantics: 2*rel - maxsim, ties
    by vec_id, maxsim over already-selected) must match an independently
    written serial MMR on random integer vectors -- including all-tie
    pools and pools smaller than K. Pure-Python property (no Spark): the
    distributed part of v_mmr_select is only the shortlist scan, which
    the oracle parity pins."""
    cands = [
        (i + 1, v, sum(a * b for a, b in zip(v, qv)))
        for i, v in enumerate(vecs)
    ]
    from delta_lake_stock_pipeline_spark.operators.similarity import (
        MMR_K,
        mmr_greedy,
    )

    assert mmr_greedy(cands) == _brute_mmr(cands, MMR_K)


# --- exact repeated-substring dedup (d_substring_dedup core) -----------------
# The oracle pins the full gram pipeline; this pins the span-merge core on
# random token streams with a tiny vocabulary (so duplicated grams are
# dense), including within-doc repeats, docs shorter than the gram width,
# and spans that abut at exactly gap == n.


def _brute_substring_spans(docs, n):
    """Deliberately a DIFFERENT structure from substring_span_core: mark
    COVERED TOKEN indices per doc (not gram-position islands), then merge
    consecutive covered indices into runs."""
    from collections import Counter

    grams = [
        (d, p, tuple(t[p : p + n]))
        for d, t in docs.items()
        for p in range(len(t) - n + 1)
    ]
    cnt = Counter(g for _, _, g in grams)
    covered = {}
    for d, p, g in grams:
        if cnt[g] >= 2:
            covered.setdefault(d, set()).update(range(p, p + n))
    out = []
    for d in sorted(covered):
        idxs = sorted(covered[d])
        runs = []
        start = prev = idxs[0]
        for i in idxs[1:]:
            if i != prev + 1:
                runs.append(prev - start + 1)
                start = i
            prev = i
        runs.append(prev - start + 1)
        out.append((d, len(runs), sum(runs), max(runs)))
    return out


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=14),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_substring_spans_match_brute(spark, docs):
    n = 3
    doc_map = {i: t for i, t in enumerate(docs)}
    gram_rows = []
    gram_ids = {}
    for d, t in doc_map.items():
        for p in range(len(t) - n + 1):
            g = tuple(t[p : p + n])
            gram_rows.append(
                (d, p, gram_ids.setdefault(g, len(gram_ids)))
            )
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        substring_span_core,
    )

    gdf = spark.createDataFrame(
        gram_rows or [(0, 0, 0)], "doc_id long, p int, h long"
    ).repartition(5)
    if not gram_rows:
        gdf = gdf.where("doc_id < 0")
    got = [
        (r["doc_id"], r["n_spans"], r["dup_tokens"], r["longest_span"])
        for r in substring_span_core(gdf, n).collect()
    ]
    assert got == _brute_substring_spans(doc_map, n)


# --- URL canonicalization (d_url_canonical expression) ------------------------
# The oracle pins Spark-vs-DuckDB; this pins Spark vs an INDEPENDENT
# urllib-based canonicalizer on random well-formed http(s) URLs, so a
# logic bug mirrored into the SQL twin still gets caught.


def _brute_canon_url(u):
    from urllib.parse import urlsplit

    sp = urlsplit(u.split("#", 1)[0])
    scheme = sp.scheme.lower()
    host = sp.netloc.lower()
    if scheme == "http" and host.endswith(":80"):
        host = host[: -len(":80")]
    if scheme == "https" and host.endswith(":443"):
        host = host[: -len(":443")]
    if host.startswith("www."):
        host = host[len("www.") :]
    path = sp.path
    if path != "/" and path.endswith("/"):
        path = path[:-1]
    q = "" if sp.query == "" else "?" + "&".join(sorted(sp.query.split("&")))
    return f"{scheme}://{host}{path}{q}"


_url_label = st.text("abcxyz09", min_size=1, max_size=4)


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    www = draw(st.sampled_from(["", "www.", "WWW."]))
    host = draw(_url_label) + "." + draw(st.sampled_from(["com", "org"]))
    if draw(st.booleans()):
        host = "".join(
            c.upper() if draw(st.booleans()) else c for c in host
        )
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    segs = draw(st.lists(_url_label, min_size=1, max_size=3))
    path = "/" + "/".join(segs) + draw(st.sampled_from(["", "/"]))
    npairs = draw(st.integers(0, 3))
    pairs = [
        f"{draw(_url_label)}={draw(_url_label)}" for _ in range(npairs)
    ]
    query = "?" + "&".join(pairs) if pairs else ""
    frag = draw(st.sampled_from(["", "#f", "#x1"]))
    return f"{scheme}://{www}{host}{port}{path}{query}{frag}"


@given(urls=st.lists(_urls(), min_size=1, max_size=24))
@settings(**_SETTINGS)
def test_url_canonical_matches_urllib(spark, urls):
    from delta_lake_stock_pipeline_spark.operators.dedup import (
        canonical_url_col,
    )

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(
            canonical_url_col(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [_brute_canon_url(u) for u in urls]


# --- shingle pair measures (d_ngram_jaccard / d_containment_pairs) -----------
# The oracles pin both pipelines at fixture scale; this drives the REAL
# query functions (tokenization, distinct shingles, source blocking,
# round-then-threshold) over randomized parquet corpora against a serial
# brute force -- including docs shorter than the shingle width, exact
# duplicates, shared prefixes, and cross-source pairs that must NOT pair.


def _brute_shingle_pairs(docs):
    """docs: list of (doc_id, source, token-list). Returns
    ({jaccard rows}, {containment rows}) mirroring the two queries'
    filtered outputs, with Spark's BigDecimal(double) HALF_UP rounding."""
    import decimal

    def r4(x):
        return float(
            decimal.Decimal(x).quantize(
                decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    sh = {
        d: {tuple(t[i : i + 3]) for i in range(len(t) - 2)}
        for d, _, t in docs
        if len(t) >= 3
    }
    src = {d: s for d, s, _ in docs}
    jac, cont = set(), set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if src[a] != src[b]:
                continue
            c = len(sh[a] & sh[b])
            j = r4(c / (len(sh[a]) + len(sh[b]) - c))
            if j >= 0.2:
                jac.add((a, b, j))
            m = r4(c / min(len(sh[a]), len(sh[b])))
            if m >= 0.5:
                cont.add((a, b, c, m))
    return jac, cont


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.lists(st.sampled_from("abc"), min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**{**_SETTINGS, "max_examples": 8})  # each example writes parquet
def test_shingle_pair_measures_match_brute(spark, tmp_path_factory, docs):
    from delta_lake_stock_pipeline_spark.artifacts import clear_all
    from delta_lake_stock_pipeline_spark.operators import dedup

    # Offset + stride the doc_ids so SEVERAL hit the excerpt residue
    # (ADVICE r9: plain enumerate only ever produced doc_id 7 as an
    # excerpt source, and only when hypothesis drew exactly 8 docs; with
    # id = 7 + 50*i, every even-indexed doc -- ids 7, 107, 207, ... --
    # exercises the augmented containment path).
    ids = [7 + 50 * i for i in range(len(docs))]
    rows = [
        (ids[i], " ".join(t), "en", s, len(" ".join(t)))
        for i, (s, t) in enumerate(docs)
    ]
    d = str(tmp_path_factory.mktemp("shingle_prop"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    clear_all()
    try:
        got_j = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(spark, d).collect()
        }
        got_c = {
            (r["doc_a"], r["doc_b"], r["n_common"], r["containment"])
            for r in dedup.containment_pairs(spark, d).collect()
        }
    finally:
        clear_all()
    plain = [(ids[i], s, t) for i, (s, t) in enumerate(docs)]
    # containment_pairs augments the corpus with deterministic prefix
    # excerpts (dedup._excerpt_docs); mirror it for the containment brute.
    # Jaccard runs on the UN-augmented corpus.
    aug = plain + [
        (i + dedup._EXCERPT_BASE, s, t[: (len(t) + 1) // 2])
        for i, s, t in plain
        if i % dedup._EXCERPT_MOD == dedup._EXCERPT_RES
    ]
    want_j, _ = _brute_shingle_pairs(plain)
    _, want_c = _brute_shingle_pairs(aug)
    assert got_j == want_j
    assert got_c == want_c


def _load_bpe_trainer():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "train_bpe",
        os.path.join(os.path.dirname(__file__), "..", "tools", "train_bpe.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=0,
        max_size=6,
    )
)
@settings(**{**_SETTINGS, "max_examples": 200})
def test_bpe_replace_chain_equals_reference_merge(words):
    """The t_bpe_tokens applier rests on one identity: a left-to-right
    non-overlapping replace-all of ' a b ' -> ' ab ' on the flat
    space-delimited token string IS one left-to-right BPE merge pass,
    and chaining the merges in training order is exact BPE application.
    Train a fresh table on the generated corpus (so later merges
    genuinely reference earlier outputs) and pin string-replace against
    the reference per-word merge passes."""
    import collections
    import re

    trainer = _load_bpe_trainer()
    counts = dict(sorted(collections.Counter(words).items()))
    merges = trainer.train(counts, n_merges=8)

    # reference: per-word iterative merge passes
    want = []
    for w in words:
        toks = tuple(w)
        for a, b in merges:
            toks = trainer.merge_word(toks, a, b)
        want.extend(toks)

    # applier mirror: the engine/oracle construction with str.replace --
    # double-space token rendering, so adjacent matches never overlap
    text = " ".join(words)
    s = "".join(f" {c} " for c in re.sub(r"\s+", "§", text))
    for a, b in merges:
        s = s.replace(f" {a}  {b} ", f" {a}{b} ")
    got = [t for t in s.strip().split("  ") if t not in ("§", "")]
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "ab", "ba"]), max_size=14),
        min_size=1,
        max_size=6,
    ),
    n=st.integers(min_value=2, max_value=8),
)
@settings(**_SETTINGS)
def test_token_gram_hashes_match_brute_force(spark, docs, n):
    """c_contamination_bpe's gram extractor (sequence/slice/xxhash64 HOF
    chain) vs a Python sliding window: per doc, the DISTINCT gram set
    must be exactly the brute's. Gram identity is checked through the
    same xxhash64 the engine uses by hashing the brute's gram strings
    with Spark itself -- the hash function cancels, the WINDOWING is
    what's under test (off-by-one in sequence/slice bounds, short-doc
    empty case, ambiguous token boundaries like ['a','b'] vs ['ab']
    which the space join keeps distinct... the small alphabet forces
    collisions of every such shape)."""
    from delta_lake_stock_pipeline_spark.operators.curation import (
        token_gram_hashes,
    )

    toks = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)],
        "doc_id bigint, toks array<string>",
    )
    got = {
        (r.doc_id, r.gh)
        for r in token_gram_hashes(toks, n=n).collect()
    }

    brute = {
        (i, " ".join(d[j : j + n]))
        for i, d in enumerate(docs)
        for j in range(len(d) - n + 1)
    }
    if brute:
        hashed = spark.createDataFrame(
            [(i, g) for i, g in brute], "doc_id bigint, g string"
        ).select("doc_id", F.xxhash64("g").alias("gh"))
        want = {(r.doc_id, r.gh) for r in hashed.collect()}
    else:
        want = set()
    assert got == want


def test_bpe_trainer_reproduces_frozen_merges():
    """The frozen _BPE_MERGES table must be bit-for-bit regenerable from
    the sf0.01 fixture -- the same reproducibility contract as the
    quality-classifier weights (no seed, no iteration-order dependence)."""
    from delta_lake_stock_pipeline_spark.operators.text import _BPE_MERGES

    trainer = _load_bpe_trainer()
    merges = trainer.train(trainer.word_counts("/root/testdata/sf0.01"))
    assert tuple(merges) == _BPE_MERGES


def test_column_profile_matches_pandas_brute(spark):
    """x_column_profile vs an independent pandas computation over the
    same parquet -- a third implementation next to the DuckDB oracle.
    Counts (not renderings) are compared: per-engine injective
    stringification means distinct counts agree with pandas' typed
    nunique, which is exactly the key's correctness claim."""
    import pandas as pd

    from conftest import SF_DIR

    from delta_lake_stock_pipeline_spark.operators.aggregates import (
        column_profile,
    )

    got = {
        r["column_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in column_profile(spark, SF_DIR).collect()
    }
    pdf = pd.read_parquet(f"{SF_DIR}/events.parquet")
    n = len(pdf)
    want = {}
    for c in ["event_id", "ts", "user_id", "event_type", "value", "props"]:
        s = pdf[c]
        want[c] = (n, int(s.isna().sum()), int(s.nunique(dropna=True)))
    s = pdf["event_type"].where(pdf["event_type"] != "view")
    want["etype_nonview"] = (n, int(s.isna().sum()), int(s.nunique(dropna=True)))
    assert got == want
    assert want["etype_nonview"][1] > 0, "null path must be exercised"
