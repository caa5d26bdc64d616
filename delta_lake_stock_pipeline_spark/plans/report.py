"""Generate PLANS.md: physical-plan features for every registered query.

Run: ``python -m delta_lake_stock_pipeline_spark.plans.report [sf_dir]``

Explain-only (no query is executed): compiles each query's plan at the
given scale dir and tabulates the properties that decide 100 TB viability
-- shuffle count, codegen coverage, join strategies, pushdown, Python
boundaries.
"""

from __future__ import annotations

import sys

from ..operators import all_queries
from ..session import get_spark
from .introspect import plan_features


def generate(sf_dir: str = "/root/testdata/sf0.1", out_path: str = "PLANS.md") -> str:
    spark = get_spark(app_name="plan-report")
    # AQE wraps plans in AdaptiveSparkPlan and defers codegen annotation
    # until execution; compile without it so WSCG spans are visible.
    # (Execution everywhere else keeps AQE on -- this is explain-only.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    lines = [
        "# PLANS — physical-plan features per query",
        "",
        f"Explain-only compilation against `{sf_dir}`. Columns: shuffles "
        "(Exchange count), WSCG (WholeStageCodegen spans), join strategy, "
        "top-k (TakeOrderedAndProject), pushed/partition filters present, "
        "py (Python/Arrow boundary crossings — 0 for pure-Catalyst queries).",
        "",
        "Provenance: the whole table is generated by one command, "
        f"`python -m delta_lake_stock_pipeline_spark.plans.report {sf_dir}`, "
        "which compiles every registry key in name order in one fresh "
        "session with AQE off. Rows of artifact-backed keys (`d_*` postings "
        "and signatures, `v_ann_*` indexes, the sketch anchors) depend on "
        "which artifacts the session has built by the time the key compiles: "
        "a built artifact replaces its build subtree with a scan, so the "
        "shuffle count drops. Regenerate with the same command before "
        "comparing rows.",
        "",
        "| query | shuffles | WSCG | join | top-k | pushed | py |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, fn in sorted(all_queries().items()):
        try:
            f = plan_features(fn(spark, sf_dir))
            if f.has_broadcast_hash_join or f.has_broadcast_nested_loop_join:
                join = "broadcast"
            elif f.has_sort_merge_join:
                join = "sort-merge"
            elif f.has_shuffled_hash_join:
                join = "shuffle-hash"
            else:
                join = "—"
            lines.append(
                f"| {name} | {f.n_exchanges} | {f.n_wholestage_codegen} | {join} "
                f"| {'y' if f.has_take_ordered else '—'} "
                f"| {'y' if f.pushed_filters and any(f.pushed_filters) else '—'} "
                f"| {f.n_python_boundaries} |"
            )
        except Exception as ex:  # pragma: no cover
            lines.append(f"| {name} | plan failed: {type(ex).__name__} | | | | | |")
    text = "\n".join(lines) + "\n"
    with open(out_path, "w") as fh:
        fh.write(text)
    return out_path


if __name__ == "__main__":
    path = generate(*(sys.argv[1:2] or []))
    print(f"wrote {path}")
