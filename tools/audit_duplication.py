"""Expensive-expression duplication census + regression ratchet.

Counts, per registered entry, how many times each EXPENSIVE per-row
expression head (regex tokenize/replace, cryptographic/64-bit hashes)
appears in the OPTIMIZED logical plan, plus how many of those sit in
Filter conditions and how many base-table scans the plan performs.

WHAT A COUNT MEANS (round-12 calibration, measured):

- Textual duplicates are usually FREE at runtime. Whole-stage codegen
  runs subexpression elimination across the operators fused into one
  stage (Filter+Project included), and interpreted projections have
  their own CSE (SubExprEvaluationRuntime) — so N copies of a
  `split(` in one pipeline evaluate ~once per row even when HOF
  lambdas reference them. Measured: the n-gram LM scorers carry
  10-17 in-filter split copies and two count-reducing rewrites ran
  25-110% SLOWER; gopher_quality_filters carries 29 HOF-referenced
  copies and an own-Project barrier rewrite ran 25% slower at sf0.1,
  equal on 400-token docs. The existing shapes + CSE were optimal.
- Duplication CAN be real when copies land across operator
  boundaries CSE doesn't span (Filter/Generate splits after
  pushdown): the MinHash family's md5 token-hash pass genuinely ran
  up to 12x per document until hoisted (round 12). If a hot entry
  regresses, A/B it with paired, alternating perfbench/run.py runs
  of the trees before and after binding the subtree once
  (operators/text.py `_bind_once`, or a separate projection) — keep
  only measured wins.
- Scan multiplicity is a SCALE concern, not a local one. The trigram
  LM plan executes 15 parquet scans (AQE reused zero stages); on
  page-cached local parquet that re-scan is cheaper than caching, but
  on remote/cold storage persist the shared projection upstream.

Because a raw threshold can't tell these apart, the gate is a
RATCHET against a committed baseline (duplication_baseline.json):
the run fails only when an entry's worst head count EXCEEDS its
baselined value (or a new entry exceeds the threshold with no
baseline). That catches the md5-12x class creeping back without
demanding "fixes" for counts that measurement already cleared.

Usage:
  python tools/audit_duplication.py [--threshold K] [entry ...]
  python tools/audit_duplication.py --write-baseline   # reset ratchet

Plans build at $SPARK_GRAFT_SF_DIR_CHECK (default sf0.01).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")
BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "duplication_baseline.json"
)

# per-row-expensive expression heads as they print in optimized plans
HEADS = (
    "split(",
    "regexp_replace(",
    "regexp_extract_all(",
    "regexp_extract(",
    "sentences(",
    "md5(",
    "sha2(",
    "sha1(",
    "xxhash64(",
    "crc32(",
)


def strip_cached_subtrees(plan: str) -> str:
    """Drop every line nested under an InMemoryRelation node.

    IMR prints its cached child plan indented beneath it; those
    expressions evaluate once at cache-fill, not per reference
    (verified on containment_pairs: 35 textual splits, all under IMR,
    one evaluation). Indentation is measured after stripping the
    tree-drawing prefix characters (space, +, -, :)."""
    out = []
    imr_depths: list[int] = []
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" +-:"))
        while imr_depths and indent <= imr_depths[-1]:
            imr_depths.pop()
        if "InMemoryRelation" in ln:
            imr_depths.append(indent)
        elif not imr_depths:
            out.append(ln)
    return "\n".join(out)


def entry_counts(plan: str) -> dict:
    plan = strip_cached_subtrees(plan)
    # note "regexp_extract(" cannot match inside "regexp_extract_all("
    # (the open paren terminates the head) — the counts are disjoint
    counts = {h: plan.count(h) for h in HEADS}
    in_filter = sum(
        ln.count(h)
        for ln in plan.splitlines()
        if ln.lstrip(" +-:").startswith("Filter")
        for h in HEADS
    )
    return {
        "heads": {h.rstrip("("): c for h, c in counts.items() if c > 0},
        "worst": max(counts.values()),
        "in_filter": in_filter,
        "scans": plan.count("Relation ["),
    }


def main() -> int:
    argv = sys.argv[1:]
    threshold = 3
    write_baseline = "--write-baseline" in argv
    if write_baseline:
        argv.remove("--write-baseline")
    if "--threshold" in argv:
        i = argv.index("--threshold")
        if i + 1 >= len(argv):
            print("usage: audit_duplication.py [--threshold K] "
                  "[--write-baseline] [entry ...]")
            return 2
        threshold = int(argv[i + 1])
        del argv[i : i + 2]

    baseline: dict = {}
    if not write_baseline and os.path.exists(BASELINE_PATH):
        with open(BASELINE_PATH) as f:
            baseline = json.load(f)

    from hstream_spark import get_spark
    from hstream_spark.queries import REGISTRY

    names = argv or sorted(REGISTRY)
    spark = get_spark("duplication-audit")
    bad = 0
    results: dict = {}
    for name in names:
        try:
            df = REGISTRY[name].builder(spark, SF_DIR)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            print(f"!! {name}: plan build failed: {exc}")
            bad += 1
            continue
        finally:
            # builders persist frames at construction time; without a
            # per-entry cache reset the CacheManager substitutes those
            # frames into LATER entries' optimized plans, making counts
            # depend on catalog iteration order (simhash_signature read
            # 0 heads while dedup_simhash's builder cached the
            # signature frame, and its true standalone count the
            # moment that persist was removed)
            spark.catalog.clearCache()
        r = entry_counts(plan)
        results[name] = r
        pinned = baseline.get(name, {}).get("worst")
        detail = (
            f"{r['heads']} [worst {r['worst']}, in-filter {r['in_filter']}, "
            f"scans {r['scans']}]"
        )
        if pinned is not None and r["worst"] > pinned:
            print(f"✗ {name}: {detail} — REGRESSED over baseline {pinned}")
            bad += 1
        elif pinned is None and not write_baseline and r["worst"] > threshold:
            print(f"✗ {name}: {detail} — new entry over threshold {threshold}")
            bad += 1
        elif r["worst"] > 1:
            print(f"✓ {name}: {detail}")
        else:
            print(f"✓ {name}")

    if write_baseline and not argv:
        with open(BASELINE_PATH, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"\nbaseline written: {BASELINE_PATH} ({len(results)} entries)")
    elif write_baseline:
        print("\n--write-baseline requires a full run (no entry filter); "
              "baseline NOT written")
        return 2
    print(f"\n{'FAIL' if bad else 'OK'}: {bad} regressions/new-over-threshold")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
