"""Plan audit across the whole catalog: flag scale anti-patterns in
every registered query's executed plan.

Checks per entry (``hard_flags``, which Tier-1's
``tests/test_catalog_oracle.py`` also runs on every entry):
- CartesianProduct / BroadcastNestedLoopJoin (quadratic blowups)
- row-at-a-time Python UDFs (BatchEvalPython; Arrow stages are fine)

Usage: python tools/audit_plans.py [entry ...]   (no args = all)
Exit code 1 if any hard anti-pattern (cartesian/nested-loop/row-UDF)
is found outside the documented allowlist.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")

# documented exceptions:
# - brute-force baselines whose docstrings declare the quadratic shape
#   (the scale paths are their LSH/IVF siblings)
# - 1-row scalar-aggregate broadcasts (SUM/MAX/COUNT cross-joined in):
#   a BroadcastNestedLoopJoin over exactly one build-side row is the
#   correct physical plan for a scalar subquery
ALLOW_NESTED = {
    "ann_cosine_topk",        # exact-cosine baseline (vs ann_lsh/ivf)
    "dedup_embedding_cosine", # exact near-dup baseline (vs *_lsh) on a
                              # BOUNDED md5-ordered sample (cap 800) —
                              # constant ~cap²/2 pairs at any corpus size
    "tpch_q22ish",            # 1-row avg-balance scalar broadcast
    "tpch_q11ish",            # 1-row value-threshold scalar broadcast
    "lm_cross_entropy",       # 1-row token-total scalar broadcast
    "lm_bigram_cross_entropy",  # same 1-row token-total scalar broadcast
    "lm_trigram_cross_entropy",  # same 1-row token-total scalar broadcast
    "perplexity_bands",       # inherits lm_cross_entropy's 1-row total
    "curation_pipeline",      # 1-row stage-count summary cross joins
    "bm25_search",            # 1-row corpus-stats (N/avgdl/df) broadcast
    "temperature_sample",     # 1-row min-group-count scalar broadcast
    "lsh_recall_eval",        # 1-row total-candidates scalar broadcast
    "ann_pq_topk",            # tiny query side × code scan (ADC reads
                              # m-byte codes, not vectors — the PQ point)
    # ann_sq_topk needs no entry: its catalog path runs the Arrow
    # kernels (query matrix ships in the task closure — no join node)
}


def hard_flags(name: str, plan: str) -> list[str]:
    """The hard anti-patterns in entry ``name``'s executed ``plan``."""
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_NESTED:
        flags.append("NESTED-LOOP")
    if "BatchEvalPython" in plan:
        flags.append("ROW-PYTHON-UDF")
    return flags


def main() -> int:
    from hstream_spark import get_spark
    from hstream_spark.queries import REGISTRY

    names = sys.argv[1:] or sorted(REGISTRY)
    spark = get_spark("plan-audit")
    bad = 0
    for name in names:
        try:
            df = REGISTRY[name].builder(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"!! {name}: plan build failed: {exc}")
            bad += 1
            continue
        flags = hard_flags(name, plan)
        if flags:
            print(f"✗ {name}: {', '.join(flags)}")
            bad += 1
        else:
            n_arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
            note = f" (arrow×{n_arrow})" if n_arrow else ""
            print(f"✓ {name}{note}")
    spark.stop()
    print(f"\n{len(names) - bad} clean, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
