"""Snapshot the physical plan of every registered query to
`plans/<name>.txt`, normalized so diffs across rounds show REAL plan
changes (join strategy, exchange count, pushdown) rather than
expression-id churn.

Normalization: `#123` expression ids → `#N`, `plan_id=456` → `plan_id=N`,
absolute sf-dir paths → `<SF>`, RDD ids and localCheckpoint call sites →
`[N]` and `<SITE>`, PySpark lambda variables `x_7` → `x_N`, Catalyst's
`_common_expr_3` → `_common_expr_N`. A plan regression (new Exchange, lost
PushedFilters, broadcast→SMJ flip) then shows up as a one-line `git
diff plans/` — the cheapest possible cross-round plan review.

Usage: python tools/plan_snapshot.py [query ...]   (default: all)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ocean_data_pipeline_spark.queries import load_all  # noqa: E402
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(REPO, "plans")

#: queries whose plan depends on driver-side iteration state (the
#: label-propagation loop checkpoints mid-build) — snapshotting them
#: would diff nondeterministically
SKIP = {"near_dup_components", "near_dup_components_star", "dedup_pipeline_end2end",
        "stream_file_session_cache", "stream_dedup_keys", "stream_funnel_stages",
        "semantic_dedup_cells",
        # round 6: driver-side iteration loops / streaming runs
        "leakage_safe_group_split",
        "stream_countmin_user_events",
        "stream_hll_registers",
        "er_pipeline_end2end",  # components driver loop
        # wave 7: component-label convergence loop (round count is
        # data-dependent; bfs_reachability is snapshotted: below its
        # caps it plans one Arrow task, above them a FIXED 3-hop loop)
        "grid_hotspot_clusters",
        # wave 9/10: BPE's per-round argmax is driver-side state; the
        # pyds stream is a streaming run
        "bpe_learn_merges", "pyds_stream_feed_rollup",
        "stream_static_enrich"}


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(...)", plan)
    plan = plan.replace(SF_DIR, "<SF>")
    # localCheckpoint/parallelize RDD names embed run-specific ids
    plan = re.sub(r"ParallelCollectionRDD\[\d+\]", "ParallelCollectionRDD[N]", plan)
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", plan)
    # ...and the call site Spark records for them, which depends on how
    # the session was driven (py4j reflection vs a direct call)
    plan = re.sub(r"localCheckpoint at [^\s,]+:\d+", "localCheckpoint at <SITE>", plan)
    # PySpark lambda variables and Catalyst's common-subexpression
    # aliases are numbered by process-wide counters, so they depend on
    # what the same process built before this query
    plan = re.sub(r"lambda (\w+)_\d+\b", r"lambda \1_N", plan)
    plan = re.sub(r"_common_expr_\d+\b", "_common_expr_N", plan)
    return plan


def main() -> int:
    registry = load_all()
    names = sys.argv[1:] or sorted(n for n in registry if n not in SKIP)
    spark = get_spark("plan-snapshot")
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(OUT_DIR, f"{name}.txt"), "w") as f:
            f.write(normalize(plan))
    print(f"wrote {len(names)} plan snapshots to {OUT_DIR}/")
    return 0


if __name__ == "__main__":
    sys.exit(main())
