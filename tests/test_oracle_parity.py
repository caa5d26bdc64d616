"""Mirror of the driver's correctness gate: every query with an oracle must
match DuckDB at sf0.001 (driver runs sf0.01; same data generator)."""

from __future__ import annotations

import pytest

from delta_lake_stock_pipeline_spark import plans
from delta_lake_stock_pipeline_spark.operators import all_oracles, all_queries
from delta_lake_stock_pipeline_spark.testing import compare, duckdb_connection

from conftest import SF_DIR

_QUERIES = all_queries()
_ORACLES = all_oracles()

# Queries ALLOWED to contain a nested-loop join: the 1-row scalar-subquery
# broadcasts (q11's global fraction, q22's avg balance -- a 1-row build side
# is exactly what BNLJ is for) and the deliberate brute-force theta join,
# whose scale twin j_theta_binned is gated to have none.
_BNLJ_OK = {
    "h_q11_important_stock",
    "h_q22_dormant_customers",
    "j_theta",
    # Corpus-total N rides along as a 1-row broadcast cross join.
    "t_unigram_logprob",
    # Same idiom one order up: the 1-row corpus total meets the
    # distinct-bigram LM table.
    "t_bigram_logprob",
    "t_tfidf",
    # Same class: (n_docs x total_len) is a 1-row broadcast cross join.
    "t_bm25",
    # Same class: the 1-row n_min total meets the per-language counts.
    "c_temperature_mix",
    # Two 1-row corpus totals (nt, nr) ride broadcast cross joins into the
    # 64-row log-ratio table.
    "c_dsir",
    # Two 1-row scalar aggregates (exact counts x sketches) meet in a
    # broadcast cross join.
    "x_theta_anchor",
    # The 1-row merged-KLL quantile estimates ride along the exact/rank
    # scan as a broadcast cross join.
    "x_kll_anchor",
    # Three 1-row scalar aggregates (total x sampled x run-diff) meet in
    # broadcast cross joins.
    "r_sample_bernoulli_anchor",
    # The 1-row corpus weight total W meets the cumulative-weight rows.
    "r_sample_pps",
    # Same PPS core: the 1-row quality-mass total rides the cross join.
    "c_quality_mix",
    # The 5-literal-row query batch scores against the corpus via a
    # broadcast nested loop (vec_id != query_id) -- the intended
    # batch-scoring shape: every corpus row meets each of the 5 queries.
    "v_ann_ivf_batch",
    # 1-row boundary/stats legs ride broadcast cross joins.
    "x_approx_topk_anchor",
}
# Queries ALLOWED to cross into Python row-at-a-time (pickled): the two
# deliberate slow-path demos.
_PICKLE_OK = {"u_py_udf", "u_py_udtf"}


def _audit_plan(name, df):
    """Blanket plan audit over EVERY registered query, on the frame the
    parity or rows-only test already built: no cartesian product
    anywhere; nested-loop joins and pickled Python only on the explicit
    allowlists above. Catches a silently-degenerated plan the
    per-operator gates in test_plans.py don't cover. Run before the
    result check, so a parity failure cannot hide a plan regression."""
    text = plans.plan_string(df)
    assert "CartesianProduct" not in text, f"{name} has a cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoop" not in text, f"{name} grew a BNLJ"
    if name not in _PICKLE_OK:
        assert "BatchEvalPython" not in text, f"{name} fell back to pickle"


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


def test_every_oracle_key_has_query():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracle keys without query impl: {missing}"


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, sf_dir, con):
    # compare() itself fails fast on DecimalType final columns (the round-2
    # driver-hash trap), so no separate schema guard is needed here.
    df = _QUERIES[name](spark, sf_dir)
    _audit_plan(name, df)
    result = compare(name, df, con, _ORACLES[name])
    assert result.ok, f"{name}: {result.detail}"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    """Queries without an oracle still must run and return a stable schema."""
    df = _QUERIES[name](spark, sf_dir)
    _audit_plan(name, df)
    assert df.columns, f"{name}: no columns"
    assert df.count() >= 0


def test_driver_window_is_fully_oracled():
    """The external driver checks only queries()[:50] in registry order;
    every window slot must be an oracled key or it wastes a correctness
    row (mirror of predriver_check stage 1)."""
    from delta_lake_stock_pipeline_spark.operators import DRIVER_WINDOW_SIZE

    window = list(_QUERIES)[:DRIVER_WINDOW_SIZE]
    unoracled = [k for k in window if k not in _ORACLES]
    assert not unoracled, f"driver window contains un-oracled keys: {unoracled}"
