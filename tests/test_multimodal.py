"""Multimodal binary-column plumbing: feature extraction, frame
sampling, resize — exact byte behavior through the real mapInPandas
path."""

from __future__ import annotations

import hashlib

import pytest

from hstream_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def bin_df(spark):
    rows = [
        (1, b"A" * 64 + b"B" * 64 + b"C" * 64 + b"D" * 64 + b"E" * 10),
        (2, b"xy"),
        (3, b""),
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_binary_features_exact(spark, bin_df):
    rows = {r.doc_id: r for r in MM.binary_features(bin_df).collect()}
    assert rows[1].n_bytes == 266
    assert rows[2].sha256 == hashlib.sha256(b"xy").hexdigest()
    assert rows[2].head_int == 0  # < 4 bytes
    assert rows[1].head_int == int.from_bytes(b"AAAA", "big")


def test_sample_frames_every_other(spark, bin_df):
    out = MM.sample_frames(bin_df, frame_bytes=64, every=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame)
    # doc 1: frames 0..4 (last partial), sampled 0, 2, 4
    assert sorted(by_doc[1]) == [0, 2, 4]
    assert by_doc[1][0] == b"A" * 64
    assert by_doc[1][2] == b"C" * 64
    assert by_doc[1][4] == b"E" * 10  # partial tail frame kept
    # doc 2: single partial frame 0
    assert by_doc[2] == {0: b"xy"}
    # doc 3: empty payload -> no frames
    assert 3 not in by_doc


def test_resize_payload_nearest_neighbor(spark, bin_df):
    out = {r.doc_id: bytes(r.resized) for r in MM.resize_payload(bin_df, out_len=8).collect()}
    src = b"A" * 64 + b"B" * 64 + b"C" * 64 + b"D" * 64 + b"E" * 10
    assert out[1] == bytes(src[(i * len(src)) // 8] for i in range(8))
    # upsample: indices repeat
    assert out[2] == b"xxxxyyyy"
    # empty stays empty
    assert out[3] == b""
