"""E2E composed continuous-ingest curation pipeline (round-10 verdict
item 6): kafka-stub topic → KAFKA_TOPIC stream → continuous SQL filter
→ windowed view with retention → per-cycle incremental batch step
(quality gate → exact dedup → standing-index near-dup rejection →
index append → curated sink) → janitor passes (vacuum / stream
compaction / index compaction). Each piece has its own tests; this
proves the COMPOSITION — the reference's actual operating mode
(hstream/src/HStream/Server/Handler/Common.hs:411-499)."""

import pytest
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools"),
)


@pytest.mark.slow
def test_composed_pipeline_across_compaction(spark, sf_dir):
    # 9 cycles crosses TWO stream compactions (cycles 3 and 7), the
    # cycle-8 index compaction, and the 3-minute view retention
    # horizon: the rewritten segments must NOT re-enter the batch step
    # (arrival ledger on (doc_id, _ts) — a compaction re-read keeps
    # its event time, a genuine resend gets a new one), and the
    # cycles>=9 plateau invariants inside soak() are exercised
    from curation_soak import soak

    result = soak(spark, sf_dir, cycles=9, per_cycle=40)
    s = result["summary"]
    cycles = result["cycles"]

    assert s["ok"] is True
    assert len(cycles) == 9
    # every produced record reached the engine through the wire client
    assert all(m["polled"] == m["produced"] for m in cycles)
    # and exactly once: cycle 4 (right after compaction) processes only
    # its own records, not the rewritten history
    assert all(m["arrivals"] == m["produced"] for m in cycles)
    assert cycles[4]["exact_dup"] < cycles[4]["produced"]
    # the standing index rejected the resent/mutated docs
    assert s["dup_rejected"] > 0
    # cycle 1+ resends ~25% exact: they must be flagged exact_dup
    assert cycles[1]["exact_dup"] > 0 and cycles[2]["exact_dup"] > 0
    # curated sink holds exactly the accepted rows (no loss, no dup)
    assert s["curated_rows_on_disk"] == s["total_accepted"]
    # accepted ≤ quality-kept ≤ arrivals, strictly monotone filtering
    for m in cycles:
        assert m["accepted"] <= m["quality_kept"] <= m["arrivals"]
    # index file count grows with per-cycle appends UNTIL the cycle-8
    # compaction rewrites the small parts into few large ones
    assert cycles[7]["index_files"]["bands"] >= cycles[0]["index_files"]["bands"]
    assert cycles[-1]["index_files"]["bands"] <= cycles[7]["index_files"]["bands"]
    # the cycle-8 index compaction ran and shrank (or held) file counts
    assert "index_compact" in cycles[8]
    before = cycles[8]["index_compact"]["before"]
    after = cycles[8]["index_compact"]["after"]
    assert after["bands"] <= before["bands"]
    # plateau figures are recorded for the SCALE.md trend line
    assert s["wall_sec_second_half_median"] > 0
