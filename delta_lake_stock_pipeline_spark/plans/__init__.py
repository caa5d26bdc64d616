"""Physical-plan introspection (SURVEY.md §4).

The reference delegates all optimization to Catalyst and gets partition
pruning / pushdown / top-k rewrites for free; this package makes those
properties OBSERVABLE so tests and the plan report can assert the engine
keeps them -- the difference between "passed at sf0.01" and "would survive
100 TB" (a scan without pushed filters is a 100 TB table scan).
"""

from .introspect import (
    PlanFeatures,
    assert_broadcast_join,
    assert_pushed_filters,
    assert_read_schema_only,
    assert_top_k,
    audit_plan,
    plan_features,
    plan_string,
)

__all__ = [
    "PlanFeatures",
    "assert_broadcast_join",
    "assert_pushed_filters",
    "assert_read_schema_only",
    "assert_top_k",
    "audit_plan",
    "plan_features",
    "plan_string",
]
