"""Plan lint: every registry query must plan WITHOUT scale anti-patterns.

The correctness gate proves the answers right at sf0.01; this gate proves
the PLANS survive 100x — no cartesian/broadcast-nested-loop candidate
generation except in the explicitly documented exact-baseline and
quality-gate queries (whose all-pairs join is bounded), and no accidental
regression from an equi-join to a theta join when someone edits a query.

Planning only (sparkPlan), no execution — the whole sweep is seconds.
"""

from __future__ import annotations

import pytest

import pasar_spark.queries as q
import pasar_spark.queries_docs  # noqa: F401  (registers doc/embedding queries)

SF_DIR = "/root/testdata/sf0.001"

# Documented exact-baseline / quality gates whose all-pairs join is
# bounded by design:
#   knn_cosine_topk          -> exact baseline (broadcast query side, bounded)
#   knn_recall_eval          -> quality gate; exact ground truth IS the point
ALL_PAIRS_TWINS = {
    "knn_cosine_topk",
    "knn_recall_eval",
}

BAD_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize("name", sorted(q.queries()))
def test_plan_has_no_cartesian(spark, name):
    fn = q.queries()[name]
    plan = fn(spark, SF_DIR)._jdf.queryExecution().sparkPlan().toString()
    if name in ALL_PAIRS_TWINS:
        return  # exempt by design; scale path is a separate benched query
    for node in BAD_NODES:
        assert node not in plan, f"{name}: {node} in physical plan"


def test_scale_paths_are_equi_joins(spark):
    """The declared scale paths must be HASH joins on their bucket keys."""
    reg = q.queries()
    for name in ("dedup_minhash_lsh", "dedup_simhash", "knn_lsh_topk", "dedup_winnow"):
        plan = reg[name](spark, SF_DIR)._jdf.queryExecution().sparkPlan().toString()
        assert "HashJoin" in plan or "SortMergeJoin" in plan, name
        for node in BAD_NODES:
            assert node not in plan, f"{name}: {node}"


def test_broadcast_dims_actually_broadcast(spark):
    plan = (
        q.queries()["q_region_revenue"](spark, SF_DIR)
        ._jdf.queryExecution().sparkPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
