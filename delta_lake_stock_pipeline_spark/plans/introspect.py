"""Parse Spark physical plans into checkable features.

Uses ``explainString`` (plan compilation only -- no job runs), so plan
assertions are cheap enough to gate every operator in tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The plan text ``df.explain(mode)`` would print."""
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(explain_mode)


@dataclass
class PlanFeatures:
    """Scale-critical properties extracted from a physical plan."""

    n_exchanges: int
    n_wholestage_codegen: int
    has_broadcast_hash_join: bool
    has_broadcast_nested_loop_join: bool
    has_sort_merge_join: bool
    has_shuffled_hash_join: bool
    has_take_ordered: bool  # top-k without global sort
    has_partial_aggregate: bool  # map-side combine before the shuffle
    n_python_boundaries: int  # Arrow/pickle crossings (UDF evals)
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)


def plan_features(df: DataFrame) -> PlanFeatures:
    text = plan_string(df, "formatted")
    return PlanFeatures(
        # formatted mode shows each node in the tree AND a "(n) Node" details
        # header -- count only the numbered headers to avoid double counting.
        n_exchanges=len(re.findall(r"\(\d+\) Exchange", text)),
        # formatted mode tags codegen'd nodes "[codegen id : N]" -- count
        # distinct spans, not tagged nodes.
        n_wholestage_codegen=len(set(re.findall(r"codegen id : (\d+)", text))),
        has_broadcast_hash_join="BroadcastHashJoin" in text,
        has_broadcast_nested_loop_join="BroadcastNestedLoopJoin" in text,
        has_sort_merge_join="SortMergeJoin" in text,
        has_shuffled_hash_join="ShuffledHashJoin" in text,
        has_take_ordered="TakeOrderedAndProject" in text,
        has_partial_aggregate="partial_" in text or "Keys: " in text and "Functions [" in text,
        # Numbered headers only, as for exchanges; the *EvalPython prefixes
        # also match the UDTF nodes.
        n_python_boundaries=len(
            re.findall(
                r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
                r"|MapInPandas|MapInArrow)",
                text,
            )
        ),
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", text),
        partition_filters=re.findall(r"PartitionFilters: \[([^\]]*)\]", text),
        read_schemas=re.findall(r"ReadSchema: struct<([^>]*)>", text),
    )


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


def audit_plan(name: str, df: DataFrame) -> None:
    """Blanket plan audit of registry key ``name``, on the frame the
    caller already built (the parity and rows-only tests, and stages 2
    and 3 of ``tools/predriver_check.py``): no cartesian product
    anywhere; nested-loop joins and pickled Python only on the explicit
    allowlists above. Catches a silently-degenerated plan the
    per-operator gates in tests/test_plans.py don't cover. Run it before
    the result check, so a parity failure cannot hide a plan regression."""
    text = plan_string(df)
    assert "CartesianProduct" not in text, f"{name} has a cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoop" not in text, f"{name} grew a BNLJ"
    if name not in _PICKLE_OK:
        assert "BatchEvalPython" not in text, f"{name} fell back to pickle"


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    """Every needle (column name) must appear inside some PushedFilters list
    -- i.e. the predicate reached the parquet scan."""
    feats = plan_features(df)
    joined = "; ".join(feats.pushed_filters)
    for needle in needles:
        assert needle in joined, (
            f"filter on {needle!r} not pushed to scan; PushedFilters={feats.pushed_filters}"
        )


def assert_read_schema_only(df: DataFrame, allowed: set[str]) -> None:
    """Every scan must read a subset of ``allowed`` columns -- column
    pruning reached the reader (a 2-column projection scanning 16 columns
    is a 100 TB mistake)."""
    feats = plan_features(df)
    assert feats.read_schemas, "no FileScan ReadSchema found in plan"
    for schema in feats.read_schemas:
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        extra = cols - allowed
        assert not extra, f"scan reads unneeded columns {extra}; schema={schema}"


def assert_broadcast_join(df: DataFrame) -> None:
    feats = plan_features(df)
    assert feats.has_broadcast_hash_join, "expected BroadcastHashJoin in plan"


def assert_top_k(df: DataFrame) -> None:
    """ORDER BY ... LIMIT k must compile to TakeOrderedAndProject
    (distributed per-partition top-k), never a global sort."""
    feats = plan_features(df)
    assert feats.has_take_ordered, "expected TakeOrderedAndProject (top-k) in plan"
