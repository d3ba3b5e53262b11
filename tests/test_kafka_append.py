"""Kafka page append: the in-process Arrow write must store exactly
the rows the Spark ``from_json`` append stores, run no Spark job, and
stay atomic with the tailer's offset commit."""

from __future__ import annotations

import json
import os
import random

import pytest

from hstream_spark.streaming import runtime as R
from hstream_spark.streaming.runtime import HStreamEngine

_TYPED = "(i INTEGER, f FLOAT, s STRING, b BOOLEAN)"
_STRINGS = ["", "a", "é", "日本語", "😀 emoji", "tab\tnew\nline", "q\"uote",
            "back\\slash", "nul\x00byte", "x" * 300]


def _typed_record(rng: random.Random) -> dict:
    """A record the in-process write must take: every value is one
    from_json returns unchanged, keys may be missing, extra or
    case-mismatched (from_json matches names case-sensitively)."""
    rec = {}
    if rng.random() < 0.9:
        rec["i"] = rng.choice([
            -(1 << 63), (1 << 63) - 1, 0, -1, None,
            rng.randrange(-(1 << 63), 1 << 63), rng.randrange(-1000, 1000),
        ])
    if rng.random() < 0.9:
        rec["f"] = rng.choice([
            0.0, -0.0, 1e308, -1e-308, 5e-324, None, (1 << 53) - 1,
            -(1 << 53) + 1, rng.randrange(-10**6, 10**6),
            rng.uniform(-1e6, 1e6), round(rng.uniform(0, 100), 2),
        ])
    if rng.random() < 0.9:
        rec["s"] = rng.choice(_STRINGS + [None])
    if rng.random() < 0.9:
        rec["b"] = rng.choice([True, False, None])
    if rng.random() < 0.3:
        rec["extra"] = rng.choice([1, "x", [1, 2], {"y": 1}])
    if rng.random() < 0.3:
        rec[rng.choice(["I", "F", "S", "B"])] = rng.choice([7, "z", True])
    return rec


def _event_time(rng: random.Random) -> float:
    # ms precision, as the tailer hands it over (ts_ms / 1000.0)
    return rng.choice([
        rng.randrange(0, 2_000_000_000_000), rng.randrange(-10**12, 0), 0,
        1_699_999_999_999,
    ]) / 1000.0


def _spark_append(eng, info, page):
    """Append through the Spark from_json path only."""
    orig = eng._arrow_page
    eng._arrow_page = lambda *_a: None
    try:
        return eng._append_records(info, page)
    finally:
        eng._arrow_page = orig


def _assert_same(left, right, n):
    assert left.count() == right.count() == n
    assert left.exceptAll(right).count() == 0
    assert right.exceptAll(left).count() == 0


@pytest.fixture()
def engine(spark, tmp_path):
    eng = HStreamEngine(spark, str(tmp_path / "data"))
    yield eng
    eng.shutdown()


def test_arrow_append_matches_spark_append_typed(engine, spark):
    """A seeded record set written through both paths reads back
    identically; pages with a value from_json would coerce or null
    fall back to Spark; an in-process page starts no Spark job."""
    eng = engine
    eng.execute(f"CREATE STREAM fast {_TYPED};")
    eng.execute(f"CREATE STREAM slow {_TYPED};")
    fast, slow = eng.streams["fast"], eng.streams["slow"]
    rng = random.Random(20240611)
    sc = spark.sparkContext
    records = []
    for p in range(12):
        page = [(_typed_record(rng), _event_time(rng)) for _ in range(250)]
        assert eng._arrow_page(fast, page) is not None
        group = f"arrow-page-{p}"
        sc.setJobGroup(group, "in-process page append")
        try:
            assert eng._append_records(fast, page) == len(page)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        records += page
    # from_json output does not depend on page boundaries: one Spark
    # append of the whole set is the reference
    _spark_append(eng, slow, records)
    # pages the in-process write must refuse: one bad value each
    bad_pages = [
        [({"i": 1, "s": "ok"}, 1.0), (bad, 2.0)]
        for bad in ({"i": 1.5}, {"i": 1 << 64}, {"i": -(1 << 63) - 1},
                    {"i": True}, {"i": "7"}, {"f": float("nan")},
                    {"f": float("inf")}, {"f": 1 << 53}, {"f": "1.0"},
                    {"s": 7}, {"s": {"a": 1}}, {"s": [1]}, {"s": "\ud800"},
                    {"b": 1})
    ]
    for page in bad_pages:
        assert eng._arrow_page(fast, page) is None, page[1]
    fallback = [r for page in bad_pages for r in page]
    eng._append_records(fast, fallback)
    _spark_append(eng, slow, fallback)
    total = len(records) + len(fallback)
    cols = "i, f, s, b, _ts"
    _assert_same(eng.execute(f"SELECT {cols} FROM fast;"),
                 eng.execute(f"SELECT {cols} FROM slow;"), total)


def test_arrow_append_matches_spark_append_payload(engine, spark):
    """Schemaless (payload-layout) streams take the in-process write
    for every page; the stored JSON text, event time and the evolved
    logical schema match the Spark append's."""
    eng = engine
    eng.execute("CREATE STREAM pfast;")
    eng.execute("CREATE STREAM pslow;")
    fast, slow = eng.streams["pfast"], eng.streams["pslow"]
    rng = random.Random(7)
    values = [None, 0, -(1 << 63), 2.5, "txt", "😀", True, [1, "a"],
              {"n": {"m": 1}}, 1 << 70]
    total = 0
    for _ in range(6):
        page = [
            ({k: rng.choice(values) for k in rng.sample("abcdef", 3)},
             _event_time(rng))
            for _ in range(100)
        ]
        eng._append_records(fast, page)
        _spark_append(eng, slow, page)
        total += len(page)
    assert fast.payload and slow.payload
    assert fast.schema == slow.schema
    phys = eng._PAYLOAD_PHYSICAL
    _assert_same(spark.read.schema(phys).parquet(fast.path),
                 spark.read.schema(phys).parquet(slow.path), total)
    cols = ", ".join(f.name for f in fast.schema.fields)
    _assert_same(eng.execute(f"SELECT {cols} FROM pfast;"),
                 eng.execute(f"SELECT {cols} FROM pslow;"), total)


def test_crash_between_write_and_rename(spark, tmp_path, monkeypatch):
    """A failure after the temp write and before the rename leaves no
    visible rows, no temp file and no offset advance; the next poll
    ingests every record exactly once."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    class Crash(Exception):
        pass

    def hook(point):
        if point == "append-written":
            raise Crash(point)

    with KafkaStubBroker() as broker:
        broker.create_topic("crash_t")
        prod = KafkaClient(broker.bootstrap)
        eng = HStreamEngine(spark, str(tmp_path / "data"))
        try:
            eng.execute(
                "CREATE STREAM ck (k INTEGER, v STRING) WITH ("
                "\"kafka_topic\" = 'crash_t', "
                f"\"kafka_bootstrap_servers\" = '{broker.bootstrap}', "
                "\"kafka_poll_interval_ms\" = 0);"
            )
            tailer = eng.connectors["__kafka_ck"].handle
            path = eng.streams["ck"].path
            offsets = os.path.join(path, "_kafka_offsets.json")

            def produce(lo, hi):
                prod.produce("crash_t", [
                    (None, json.dumps({"k": k, "v": f"r{k}"}).encode(), k)
                    for k in range(lo, hi)
                ])

            produce(0, 3)
            assert tailer.poll() == 3
            with open(offsets) as fh:
                committed = fh.read()
            produce(3, 8)
            monkeypatch.setattr(R, "_FAULT_HOOK", hook)
            with pytest.raises(Crash):
                tailer.poll()
            monkeypatch.setattr(R, "_FAULT_HOOK", None)
            assert eng.execute("SELECT * FROM ck;").count() == 3
            assert not [f for f in os.listdir(path) if f.startswith(".part-")]
            with open(offsets) as fh:
                assert fh.read() == committed
            assert tailer.poll_failures == 1
            assert "append-written" in tailer.last_error
            assert tailer.poll() == 5
            assert tailer.poll() == 0
            ks = sorted(r["k"] for r in eng.execute("SELECT k FROM ck;").collect())
            assert ks == list(range(8))
        finally:
            eng.shutdown()
            prod.close()
