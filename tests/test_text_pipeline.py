"""Unit tests for the text-pipeline extensions added after round-1
baseline: n-grams / repetition signals, PII detection, decontamination,
and the V2 SLIDING window (batch semantics).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from hstream_spark.operators import text as TX
from hstream_spark.operators import windows as W


def test_ngrams_basic_and_short_text(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="a b c d"), Row(id=2, text="a b"), Row(id=3, text="x")]
    )
    out = {
        r["id"]: r["g"]
        for r in df.select("id", TX.ngrams(F.col("text"), 3).alias("g")).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n -> empty, not a reversed sequence
    assert out[3] == []


def test_repetition_fractions(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, text="go go go go go"),  # bigrams: 4x "go go"
            Row(id=2, text="a b c d e"),  # all distinct
        ]
    )
    rows = {
        r["id"]: r
        for r in TX.repetition_signals(df, id_col="id", n=2).collect()
    }
    assert rows[1]["dup_bigram_frac"] == 0.75  # 4 bigrams, 1 distinct
    assert rows[1]["top_bigram_frac"] == 1.0
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == 0.25


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, text="mail me at bob@example.com or +1-555-123-4567"),
            Row(id=2, text="no pii here"),
        ]
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            TX.pii_email_count(F.col("text")).alias("e"),
            TX.pii_phone_count(F.col("text")).alias("p"),
        ).collect()
    }
    assert (rows[1]["e"], rows[1]["p"]) == (1, 1)
    assert (rows[2]["e"], rows[2]["p"]) == (0, 0)


def test_decontaminate_overlap(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="completely different words in this sentence here now"),
        ]
    )
    eval_set = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps far away")]
    )
    out = {r["doc_id"]: r for r in TX.decontaminate(train, eval_set, n=5).collect()}
    # train doc 1 shares the 5-gram "the quick brown fox jumps" with eval
    assert out[1]["n_overlap"] == 1
    assert out[1]["n_grams"] == 5
    assert out[2]["n_overlap"] == 0
    assert out[2]["contamination_frac"] == 0.0


def test_sliding_window_trailing_frame(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ts="2024-01-01 00:00:00", v=1),
            Row(k="a", ts="2024-01-01 00:00:30", v=2),
            Row(k="a", ts="2024-01-01 00:01:00", v=4),  # 60s: first row retracts
            Row(k="b", ts="2024-01-01 00:00:10", v=10),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = W.sliding(
        df, "ts", 60, keys=["k"], aggs={"s": F.sum("v"), "n": F.count(F.lit(1))}
    )
    rows = {(r["k"], r["v"]): (r["s"], r["n"]) for r in out.collect()}
    assert rows[("a", 1)] == (1, 1)
    assert rows[("a", 2)] == (3, 2)
    # frame is (t-60s, t]: the 00:00:00 record has retracted at 00:01:00
    assert rows[("a", 4)] == (6, 2)
    assert rows[("b", 10)] == (10, 1)


def test_sliding_parses_through_frontend(spark):
    from hstream_spark.plans.compiler import compile_select
    from hstream_spark.plans.parser import parse

    stmt = parse(
        "SELECT k, SUM(v) AS s FROM SLIDING(src, INTERVAL 1 MINUTE) GROUP BY k;"
    )
    src = spark.createDataFrame(
        [
            Row(k="a", _ts="2024-01-01 00:00:00", v=1),
            Row(k="a", _ts="2024-01-01 00:00:30", v=2),
        ]
    ).withColumn("_ts", F.col("_ts").cast("timestamp"))
    out = compile_select(stmt, lambda name: src)
    got = sorted((r["k"], r["s"]) for r in out.collect())
    assert got == [("a", 1), ("a", 3)]


def test_boilerplate_signals_flags_repeated_grams(spark):
    from hstream_spark.operators.text import boilerplate_signals

    docs = spark.createDataFrame(
        [
            (1, "call us now for more info today"),
            (2, "call us now please and thanks a lot"),
            (3, "call us now about anything else entirely"),
            (4, "completely unrelated words appear right here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in boilerplate_signals(docs, n=3, min_df=3).collect()}
    # "call us now" appears in 3 docs -> boiler; doc 4 has none
    assert rows[1]["n_boiler"] == 1 and rows[2]["n_boiler"] == 1 and rows[3]["n_boiler"] == 1
    assert rows[4]["n_boiler"] == 0 and rows[4]["boiler_frac"] == 0.0
    assert rows[1]["boiler_frac"] > 0


def test_bm25_search_ranking_and_formula(spark):
    import math

    from hstream_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),        # tf(apple)=2, dl=3
            (2, "apple cherry cherry date"),  # tf(apple)=1, dl=4
            (3, "banana cherry date fig"),    # no apple
            (4, "grape melon kiwi"),          # matches nothing
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["apple"], k1=1.2, b=0.75, top_k=10)
    rows = out.collect()
    # doc 4 matches no term and is excluded; doc 3 too
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert all(r["matched"] == 1 for r in rows)
    # hand-computed BM25: N=4, df=2, avgdl=3.5
    idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    def score(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))
    assert rows[0]["score"] == round(score(2, 3), 4)
    assert rows[1]["score"] == round(score(1, 4), 4)


def test_bm25_search_multi_term_and_tiebreak(spark):
    from hstream_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [(i, "same words here") for i in range(1, 6)],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["same", "words"], top_k=3).collect()
    # identical docs -> identical scores; tie broken by doc_id ascending
    assert [r["doc_id"] for r in out] == [1, 2, 3]
    assert all(r["matched"] == 2 for r in out)
    assert len({r["score"] for r in out}) == 1


def test_bm25_requires_terms(spark):
    import pytest as _pytest

    from hstream_spark.operators.text import bm25_search

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="at least one query term"):
        bm25_search(docs, [])


def test_duplicate_passage_spans_exact(spark):
    from hstream_spark.operators.dedup import duplicate_passage_spans

    shared = "one two three four five six seven eight nine ten"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx {shared} yy zz qq"),
            (3, "totally different words with no repeats at all here now"),
            (4, "short text"),  # below min_tokens -> no grams
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in duplicate_passage_spans(docs, min_tokens=8).collect()
    }
    assert set(rows) == {1, 2}
    # doc 1: shared passage occupies tokens 3..12 (1-based)
    assert (rows[1]["span_start"], rows[1]["span_end"]) == (3, 12)
    assert rows[1]["span_tokens"] == 10
    # doc 2: tokens 2..11
    assert (rows[2]["span_start"], rows[2]["span_end"]) == (2, 11)


def test_duplicate_passage_spans_merges_islands(spark):
    from hstream_spark.operators.dedup import duplicate_passage_spans

    # two separate duplicated passages in one doc -> two spans
    p1 = "a b c d e f g h"            # 8 tokens
    p2 = "r s t u v w x y"            # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{p1} k1 k2 k3 k4 k5 k6 k7 k8 k9 {p2}"),
            (2, f"{p1} other words entirely here"),
            (3, f"lead in words {p2}"),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_passage_spans(docs, min_tokens=8).collect()
    )
    assert (1, 1, 8) in spans and (1, 18, 25) in spans
    assert (2, 1, 8) in spans and (3, 4, 11) in spans


def test_normalize_url_cases(spark):
    from hstream_spark.operators.text import normalize_url, url_host

    cases = [
        # scheme/host lowercase, fragment + default port + www stripped
        ("HTTPS://WWW.Example.COM:443/Path/page?x=1#frag",
         "https://example.com/Path/page?x=1"),
        # http default port; tracking params stripped; separators cleaned
        ("http://Example.com:80/a?utm_source=x&id=2&utm_medium=y&fbclid=z",
         "http://example.com/a?id=2"),
        # only tracking params -> query dropped entirely
        ("https://example.com/a?utm_source=x&gclid=y", "https://example.com/a"),
        # non-default port kept; path case preserved
        ("https://example.com:8443/CaseKept/", "https://example.com:8443/CaseKept"),
        # non-URL text passes through unchanged
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["n"] for r in
           df.select("i", normalize_url(F.col("url")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)
    host = df.select("i", url_host(F.col("url")).alias("h")).collect()
    hosts = {r["i"]: r["h"] for r in host}
    assert hosts[0] == "example.com" and hosts[3] == "example.com"


def test_source_curation_stats_dup_fraction(spark):
    from hstream_spark.operators.text import source_curation_stats

    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "a"),
            (2, "same text", "en", "a"),   # exact dup within source a
            (3, "unique one", "fr", "a"),
            (4, "other text", "en", "b"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r["source"]: r for r in source_curation_stats(docs).collect()}
    assert rows["a"]["n_docs"] == 3 and rows["a"]["dup_docs"] == 2
    assert rows["a"]["n_langs"] == 2
    assert abs(rows["a"]["dup_frac"] - round(2 / 3, 6)) < 1e-9
    assert rows["b"]["dup_docs"] == 0 and rows["b"]["dup_frac"] == 0.0


def test_chunk_documents_windows_and_overlap(spark):
    from hstream_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, "   ")],
        "doc_id long, text string",
    )
    # stride == max: disjoint windows
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_tokens"])
        for r in chunk_documents(docs, max_tokens=4, stride=4).collect()
    )
    assert rows == [
        (1, 0, "a b c d", 4), (1, 1, "e f g h", 4), (1, 2, "i j", 2),
        (2, 0, "x y", 2),
    ]  # blank doc 3 emits nothing
    # overlapping stride
    over = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"])
        for r in chunk_documents(docs, max_tokens=4, stride=2).collect()
        if r["doc_id"] == 1
    )
    assert over[0] == (1, 0, "a b c d")
    assert over[1] == (1, 1, "c d e f")
    assert over[-1] == (1, 4, "i j")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        chunk_documents(docs, max_tokens=0)


def test_pack_sequences_greedy_and_oversize(spark):
    from hstream_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(1, 50), (2, 60), (3, 30), (4, 200), (5, 10)],
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(docs, max_tokens=128, n_buckets=1)
    rows = {r["doc_id"]: (r["bucket"], r["pack_seq"]) for r in out.collect()}
    # one bucket -> id order: 50+60 fits (110), +30 would exceed -> new
    # pack; 200 > 128 gets its own pack; 10 opens the next
    assert rows[1][1] == rows[2][1] == 0
    assert rows[3][1] == 1
    assert rows[4][1] == 2
    assert rows[5][1] == 3
    # pack totals never exceed max except single oversize docs
    import collections
    totals = collections.Counter()
    sizes = {1: 50, 2: 60, 3: 30, 4: 200, 5: 10}
    members = collections.defaultdict(list)
    for d, (_, p) in rows.items():
        totals[p] += sizes[d]
        members[p].append(d)
    for p, t in totals.items():
        assert t <= 128 or len(members[p]) == 1


def test_pack_sequences_deterministic_across_partitionings(spark):
    from hstream_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, 20 + (i * 7) % 40) for i in range(100)],
        "doc_id long, n_tokens long",
    )
    a = {(r["doc_id"], r["bucket"], r["pack_seq"])
         for r in pack_sequences(docs, 128, n_buckets=4).collect()}
    b = {(r["doc_id"], r["bucket"], r["pack_seq"])
         for r in pack_sequences(docs.repartition(13), 128, n_buckets=4).collect()}
    assert a == b


def test_quality_classifier_orders_and_decides(spark):
    import math

    from hstream_spark.operators.text import quality_classifier

    docs = spark.createDataFrame(
        [
            # prose-like: long, diverse, stopwords present
            (1, "the quick brown fox jumps of the lazy dog and then it "
                "runs far away to a distant hill where it rests a while"),
            # degenerate repetition
            (2, "spam spam spam spam spam spam spam spam spam spam"),
            # PII-laden
            (3, "contact me at a@b.com or a2@b.com or a3@b.com now"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    assert rows[1]["keep_prob"] > rows[2]["keep_prob"]
    assert rows[1]["keep_prob"] > rows[3]["keep_prob"]
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False
    for r in rows.values():
        assert 0.0 <= r["keep_prob"] <= 1.0
    # hand-check doc 2: dup bigram frac = 1 - 1/9, distinct 1/10,
    # stopwords 0, length 10/50, pii 0
    z = -1.0 + 2.0 * 0.2 + 1.5 * 0.0 + 2.0 * 0.1 + (-3.0) * (1 - 1 / 9) + 0.0
    assert abs(rows[2]["keep_prob"] - round(1 / (1 + math.exp(-z)), 6)) < 1e-9


def test_gopher_rules_boundaries(spark):
    from pyspark.sql import functions as F

    from hstream_spark.operators.text import gopher_rules

    good = "the quick brown fox jumps over the lazy dog and " * 5  # 50 words
    docs = spark.createDataFrame(
        [
            (1, good.strip()),                     # passes every rule
            (2, "the of and " * 5),                # 15 words: too short
            (3, ("a " * 25 + "the of and that " * 7).strip()),  # short words
            (4, good.strip() + " " + "#tag " * 20),  # symbol-heavy
            (5, "\n".join("- item the of" for _ in range(10))),  # bullets
            (6, "\n".join("the of and so..." for _ in range(10))),  # ellipsis
            (7, ("42 " * 60 + "the of").strip()),  # numeric words
            (8, "word " * 60),                     # no required stopwords
        ],
        "doc_id long, text string",
    )
    rules = gopher_rules(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *[rules[k].alias(k) for k in rules]
        ).collect()
    }
    assert rows[1]["keep"] is True
    assert rows[2]["r_word_count"] is False and rows[2]["keep"] is False
    assert rows[3]["r_mean_word_len"] is False  # mean < 3 chars
    assert rows[4]["r_symbol_ratio"] is False   # >0.1 symbols per word
    assert rows[5]["r_bullet_lines"] is False   # 100% bullet lines
    assert rows[6]["r_ellipsis_lines"] is False  # 100% ellipsis lines
    assert rows[7]["r_alpha_words"] is False    # <80% alphabetic words
    assert rows[8]["r_stopwords"] is False      # <2 required stopwords
    # exactly-at-threshold: 50 words passes the lower word bound
    assert rows[1]["r_word_count"] is True


def test_remove_duplicate_passages_cuts_only_spans(spark):
    from hstream_spark.operators.dedup import remove_duplicate_passages

    shared = "one two three four five six seven eight"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc"),
            (2, f"{shared} xx yy zz"),
            (3, "nothing duplicated in here at all friends"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            remove_duplicate_passages(docs, min_tokens=8).collect()}
    assert rows[1]["clean_text"] == "aa bb cc" and rows[1]["n_removed"] == 8
    assert rows[2]["clean_text"] == "xx yy zz"
    assert rows[3]["clean_text"] == docs.collect()[2]["text"] or rows[3]["n_removed"] == 0
    assert rows[3]["n_removed"] == 0


def test_containment_asymmetric(spark):
    from hstream_spark.operators.dedup import containment_pairs

    long_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    excerpt = "gamma delta epsilon zeta"  # fully inside long_doc
    docs = spark.createDataFrame(
        [(1, long_doc, "en"), (2, excerpt, "en"), (3, "totally other words here", "en")],
        "doc_id long, text string, lang string",
    )
    out = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in containment_pairs(docs, ["lang"], threshold=0.8, n=3).collect()}
    # excerpt ⊂ long: containment(excerpt -> long) = 1.0; reverse is low
    assert out.get((2, 1)) == 1.0
    assert (1, 2) not in out
    assert not any(3 in k for k in out)


def test_quadratic_block_guard_fails_loudly(spark, monkeypatch):
    """The brute-force within-block pair operators enforce their
    'blocks must be bounded' contract: an oversized block raises with
    the LSH scale path in the message instead of silently running
    O(block²) — the `_MAX_QUERIES` pattern applied per block."""
    import pytest

    from hstream_spark.operators import dedup
    from hstream_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"some words here number {i}", "en") for i in range(30)],
        "doc_id long, text string, lang string",
    )
    monkeypatch.setattr(dedup, "_MAX_BLOCK", 10)
    with pytest.raises(ValueError, match="minhash_near_duplicates"):
        ngram_jaccard_pairs(docs, ["lang"])
    with pytest.raises(ValueError, match="_MAX_BLOCK=10"):
        containment_pairs(docs, ["lang"])
    # within bounds the operators run
    monkeypatch.setattr(dedup, "_MAX_BLOCK", 100)
    assert ngram_jaccard_pairs(docs, ["lang"]).count() >= 0
    assert containment_pairs(docs, ["lang"]).count() >= 0


def test_normalize_text_strips_and_collapses(spark):
    from hstream_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "  hello\t\tworld \u200b again  "),
            (2, "UPPER Case"),
            (3, " \ufeff\x07"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["c"] for r in
           docs.select("doc_id", normalize_text(F.col("text")).alias("c")).collect()}
    assert out[1] == "hello world again"
    assert out[2] == "UPPER Case"
    assert out[3] == ""


def test_pii_redact_placeholders(spark):
    from hstream_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [(1, "mail a@b.com and call +1-555-012-3456 now"), (2, "clean text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["c"] for r in
           docs.select("doc_id", pii_redact(F.col("text")).alias("c")).collect()}
    assert out[1] == "mail <EMAIL> and call <PHONE> now"
    assert out[2] == "clean text"


def test_url_dedup_collapses_variants(spark):
    from hstream_spark.operators.text import url_dedup

    docs = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Example.com/a?utm_source=x&id=1"),
            (2, "https://example.com/a?id=1"),          # same canonical as 1
            (3, "https://example.com/b"),
            (4, "https://example.com/b#frag"),          # same canonical as 3
            (5, "https://other.com/b"),
        ],
        "doc_id long, url string",
    )
    out = url_dedup(docs)
    rows = sorted((r["doc_id"], r["canonical_url"]) for r in out.collect())
    assert rows == [
        (1, "https://example.com/a?id=1"),
        (3, "https://example.com/b"),
        (5, "https://other.com/b"),
    ]


def test_perplexity_bands_ccnet_split(spark):
    """Per language, docs rank by unigram cross-entropy into 3 bands;
    the rare-token doc lands in the tail band and is dropped."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.text import perplexity_bands

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat sat on the mat"),
            (2, "en", "the dog sat on the mat"),
            (3, "en", "xqzt vprw glorp zzyx qq"),  # rare-token soup
            (4, "fr", "le chat est la"),
            (5, "fr", "le chien est la"),
            (6, "fr", "wxyz qrst uvwx"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r["doc_id"]: (r["ppl_band"], r["keep"])
           for r in perplexity_bands(docs, bands=3).collect()}
    assert len(out) == 6
    # each language's rare-token doc is band 3 (highest mean nll), dropped
    assert out[3] == (3, False)
    assert out[6] == (3, False)
    # common-vocab docs keep
    assert out[1][1] and out[2][1] and out[4][1] and out[5][1]


def test_deterministic_shuffle_stable_and_seed_sensitive(spark):
    from hstream_spark.operators.sampling import deterministic_shuffle

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = deterministic_shuffle(df, "doc_id", n_shards=4, seed="s1")
    b = deterministic_shuffle(df, "doc_id", n_shards=4, seed="s1")
    c = deterministic_shuffle(df, "doc_id", n_shards=4, seed="s2")
    ra = sorted((r["doc_id"], r["shard"], r["pos"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["shard"], r["pos"]) for r in b.collect())
    rc = sorted((r["doc_id"], r["shard"], r["pos"]) for r in c.collect())
    assert ra == rb                      # same seed -> identical order
    assert ra != rc                      # new seed -> a real reshuffle
    # positions are dense 1..k within every shard
    by_shard = {}
    for _id, sh, pos in ra:
        by_shard.setdefault(sh, []).append(pos)
    for sh, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_dedup_against_corpus_flags(spark):
    """Exact copies of corpus docs flag exact_dup; near-copies (shared
    shingles above threshold) flag near_dup; fresh docs flag neither."""
    from hstream_spark.operators.dedup import dedup_against_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark engines")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                                   # exact copy of 1
            (11, base + " ok"),                           # near copy of 1
            (12, "nothing in common with any corpus doc at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["exact_dup"], r["near_dup"])
           for r in dedup_against_corpus(batch, corpus, threshold=0.5).collect()}
    assert out[10] == (True, True)
    assert out[11] == (False, True)
    assert out[12] == (False, False)


def test_dedup_index_persisted_matches_inline(spark, sf_dir, tmp_path):
    """The persisted corpus index gives EXACTLY the flags of the inline
    two-sided computation; the batch pays only its own hashing."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_corpus,
        dedup_with_index,
    )
    from hstream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    idx = str(tmp_path / "dedup_idx")
    build_dedup_index(corpus, idx)
    inline = sorted(
        (r["doc_id"], r["exact_dup"], r["near_dup"])
        for r in dedup_against_corpus(batch, corpus, threshold=0.5).collect()
    )
    indexed = sorted(
        (r["doc_id"], r["exact_dup"], r["near_dup"])
        for r in dedup_with_index(spark, batch, idx, threshold=0.5).collect()
    )
    assert inline == indexed and len(indexed) > 0


def test_similar_docs_topk_ranks_near_dups_first(spark):
    from hstream_spark.operators.dedup import similar_docs_topk

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),                      # near-dup of 1
            (3, base.replace("alpha", "lambda")),       # weaker overlap
            (4, "totally different words entirely here today"),
        ],
        "doc_id long, text string",
    )
    out = similar_docs_topk(docs, [1], k=3).collect()
    ranked = sorted(((r["rank"], r["doc_id"], r["jaccard"]) for r in out))
    assert ranked[0][1] == 2                   # closest first
    assert all(r["q_id"] == 1 for r in out)
    assert all(0.0 < r["jaccard"] <= 1.0 for r in out)
    # doc 4 shares no shingles: never a candidate
    assert 4 not in {r["doc_id"] for r in out}


def test_similar_docs_topk_warm_index_parity(spark, tmp_path):
    """The warm path (stored band/shingle index) returns exactly the
    inline result — the amortization changes the plan, not the answer."""
    from hstream_spark.operators.dedup import build_dedup_index, similar_docs_topk

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, base.replace("alpha", "mu")),
         (4, "totally different words entirely here today")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "sidx")
    build_dedup_index(docs, idx)
    inline = sorted(
        (r["q_id"], r["doc_id"], r["jaccard"], r["rank"])
        for r in similar_docs_topk(docs, [1, 2], k=3).collect()
    )
    warm = sorted(
        (r["q_id"], r["doc_id"], r["jaccard"], r["rank"])
        for r in similar_docs_topk(
            None, [1, 2], k=3, index_path=idx, spark=spark
        ).collect()
    )
    assert inline == warm and len(warm) > 0


def test_bpe_train_learns_classic_merges(spark):
    """The Sennrich toy corpus: 'l o'→'lo'→'low' must be learned before
    any single-occurrence pair; ties break lexicographically; training
    is deterministic and bpe_tokenize applies merges leftmost
    non-overlapping."""
    from hstream_spark.operators.text import bpe_tokenize, bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    m = bpe_train(docs, merges=5)
    assert [(a, b) for a, b, _ in m[:2]] == [("l", "o"), ("lo", "w")]
    assert m[0][2] == 5  # 'l o' occurs in all five 'low*' words
    assert m == bpe_train(docs, merges=5)  # deterministic
    out = {r["doc_id"]: r for r in bpe_tokenize(docs, m).collect()}
    assert out[1]["subwords_sample"].startswith("low|low")
    assert out[1]["n_subwords"] < 5 * 4  # merges shrank the char count


def test_bpe_train_exhausts_small_vocab(spark):
    """Requesting more merges than the vocabulary supports stops early
    instead of looping or erroring."""
    from hstream_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    m = bpe_train(docs, merges=10)
    assert [(a, b) for a, b, _ in m] == [("a", "b")]


def test_prune_duplicates_by_priority(spark):
    """Priority pruning keeps the highest-priority cluster member (id
    as tie-break), not the lowest id; unclustered docs always survive."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.dedup import prune_duplicates_by

    docs = spark.createDataFrame(
        [(1, "crawl", 9), (2, "curated", 0), (3, "crawl", 9), (4, "other", 5)],
        "doc_id long, source string, prio int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in prune_duplicates_by(
            docs, pairs, [F.col("prio")], left_col="doc_a", right_col="doc_b"
        ).collect()
    )
    # cluster {1,2,3}: doc 2 wins on priority despite doc 1's lower id
    assert kept == [2, 4]


def test_bpe_reconstruction_invariant_and_unicode(spark):
    """Subwords always concatenate back to the original word (merges
    only join, never alter), and multibyte text is safe — Spark substr
    operates on codepoints, so CJK/accented words split and re-merge
    without byte tearing."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.text import bpe_tokenize, bpe_train

    docs = spark.createDataFrame(
        [(1, "héllo héllo wörld wörld wörld"),
         (2, "日本語 日本語 テスト"),
         (3, "mixed ascii héllo 日本語 punct!!! punct!!!")],
        "doc_id long, text string",
    )
    m = bpe_train(docs, merges=6)
    assert len(m) == 6
    # reconstruction: stripping the '|' sample separators of a 1-word
    # doc yields the word itself
    one = spark.createDataFrame([(9, "wörld")], "doc_id long, text string")
    row = bpe_tokenize(one, m, sample_n=100).collect()[0]
    assert row["subwords_sample"].replace("|", "") == "wörld"
    # counts: subwords per word never exceed its codepoint count
    out = bpe_tokenize(docs, m).collect()
    toks = {r["doc_id"]: r["n_subwords"] for r in out}
    chars = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.length(F.regexp_replace("text", r"\s+", "")).alias("n"),
        ).collect()
    }
    for d in toks:
        assert 0 < toks[d] <= chars[d]


def test_bigram_lm_flags_shuffled_text(spark):
    """The bigram model separates what the unigram model cannot: a
    document built from COMMON tokens in improbable transitions scores
    higher bigram cross-entropy than the coherent documents its tokens
    came from."""
    from hstream_spark.operators.text import lm_bigram_cross_entropy

    coherent = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [(1, coherent.strip()),
         (2, coherent.strip()),
         (3, "mat the on sat the cat " * 5)],  # same tokens, shuffled
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_bigram_cross_entropy(docs).collect()}
    def mean_nll(r):
        return r["nll_micro"] / 1e6 / r["n_tokens"]
    assert mean_nll(rows[3]) > mean_nll(rows[1])
    assert rows[1]["n_tokens"] == 30


def test_bpe_adjacent_runs_merge_simultaneously(spark):
    """Adjacent occurrences of a pair must ALL merge in one rule
    application (standard simultaneous BPE): 'a b a b' → 'ab ab', and
    training never learns the same rule twice."""
    from hstream_spark.operators.text import bpe_tokenize, bpe_train

    docs = spark.createDataFrame(
        [(1, "abab abab abab")], "doc_id long, text string"
    )
    m = bpe_train(docs, merges=4)
    rules = [(a, b) for a, b, _ in m]
    assert len(rules) == len(set(rules))  # no duplicate rule
    assert rules[:2] == [("a", "b"), ("ab", "ab")]
    out = bpe_tokenize(
        spark.createDataFrame([(1, "abab")], "doc_id long, text string"),
        [("a", "b")],
    ).collect()[0]
    assert out["subwords_sample"] == "ab|ab" and out["n_subwords"] == 2


def test_bigram_lm_single_token_and_empty_docs(spark):
    """Documents with <= 1 token score unigram-only instead of
    crashing (Spark's sequence(1,0) descends; guarded)."""
    from hstream_spark.operators.text import lm_bigram_cross_entropy

    docs = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in lm_bigram_cross_entropy(docs).collect()}
    assert rows[1]["n_tokens"] == 1 and rows[3]["n_tokens"] == 2
    assert rows[2]["n_tokens"] == 1  # '' tokenizes to the empty token


def test_trigram_lm_flags_what_bigram_cannot(spark):
    """The trigram model separates text whose BIGRAMS are all corpus-
    plausible but whose three-token windows never co-occur: doc 3
    below alternates between two common sentences' transitions, so
    every bigram exists in the corpus, yet the trigram contexts are
    improbable."""
    from hstream_spark.operators.text import (
        lm_bigram_cross_entropy,
        lm_trigram_cross_entropy,
    )

    # bigrams of the probe all corpus-frequent ("john likes" from a,
    # "likes oranges" from b) but the TRIGRAM "john likes oranges"
    # occurs only in the probe itself
    rows_in = (
        [(i, "john likes apples") for i in range(1, 11)]
        + [(i, "mary likes oranges") for i in range(11, 21)]
        + [(21, "john likes oranges")]
    )
    docs = spark.createDataFrame(rows_in, "doc_id long, text string")

    def mean_nll(rows, d):
        r = rows[d]
        return r["nll_micro"] / 1e6 / r["n_tokens"]

    tri = {r["doc_id"]: r for r in lm_trigram_cross_entropy(docs).collect()}
    bi = {r["doc_id"]: r for r in lm_bigram_cross_entropy(docs).collect()}
    # trigram model: the probe scores strictly worse than coherent docs
    assert mean_nll(tri, 21) > mean_nll(tri, 1)
    assert mean_nll(tri, 21) > mean_nll(tri, 11)
    # and the trigram GAP (probe vs coherent) dwarfs the bigram gap —
    # the extra order is what detects the splice
    tri_gap = mean_nll(tri, 21) - mean_nll(tri, 1)
    bi_gap = mean_nll(bi, 21) - mean_nll(bi, 1)
    assert tri_gap > 2 * max(bi_gap, 0.0)
    # every position scored exactly once
    assert tri[1]["n_tokens"] == 3 and tri[21]["n_tokens"] == 3


def test_trigram_lm_short_docs(spark):
    """1-token docs score unigram-only, 2-token docs unigram+bigram —
    no sequence(1,0)/(1,-1) descent crash, every position scored."""
    from hstream_spark.operators.text import lm_trigram_cross_entropy

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens"), (3, ""), (4, "a b c")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lm_trigram_cross_entropy(docs).collect()}
    assert rows[1]["n_tokens"] == 1
    assert rows[2]["n_tokens"] == 2
    assert rows[3]["n_tokens"] == 1  # '' tokenizes to the empty token
    assert rows[4]["n_tokens"] == 3


def test_trigram_lm_broadcast_gate(spark):
    """broadcast_tables=False pins SHUFFLE_HASH scoring joins on the
    n-gram keys instead of collecting the model tables to the driver."""
    from hstream_spark.operators.text import lm_trigram_cross_entropy

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    off = (
        lm_trigram_cross_entropy(docs, broadcast_tables=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    on = (
        lm_trigram_cross_entropy(docs, broadcast_tables=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in off
    assert "ShuffledHashJoin" not in on
    # results identical either way
    a = sorted(map(tuple, lm_trigram_cross_entropy(docs).collect()))
    b = sorted(map(tuple, lm_trigram_cross_entropy(
        docs, broadcast_tables=False).collect()))
    assert a == b


def test_dedup_index_append_then_compact_parity(spark, sf_dir, tmp_path):
    """Continuous-ingestion maintenance: batches APPEND to the standing
    index (file count grows), compaction re-coalesces (file count
    shrinks, ~1 file per band partition) and dedup decisions are
    byte-identical before/after."""
    from pyspark.sql import functions as F

    from hstream_spark.operators.dedup import (
        append_to_dedup_index,
        build_dedup_index,
        compact_dedup_index,
        dedup_with_index,
        index_file_counts,
    )
    from hstream_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    # seed + two appended batches — three write rounds of small files
    build_dedup_index(docs.where(F.col("doc_id") % 5 == 1), idx)
    append_to_dedup_index(docs.where(F.col("doc_id") % 5 == 2), idx)
    append_to_dedup_index(docs.where(F.col("doc_id") % 5 == 3), idx)
    before_files = index_file_counts(idx)
    before = sorted(
        map(tuple, dedup_with_index(spark, probe, idx, threshold=0.5).collect())
    )
    stats = compact_dedup_index(spark, idx, target_files=2)
    after = sorted(
        map(tuple, dedup_with_index(spark, probe, idx, threshold=0.5).collect())
    )
    assert before == after and len(after) > 0
    after_files = index_file_counts(idx)
    for comp in ("bands", "sets", "digests"):
        assert after_files[comp] < before_files[comp], (comp, stats)
        assert stats[comp]["files_after"] == after_files[comp]
    # band partition layout (the pruning substrate) survived
    import os

    assert any(
        d.startswith("band=") for d in os.listdir(os.path.join(idx, "bands"))
    )


def test_lsh_bucket_stats_counts_and_pairs(spark):
    """Histogram invariants: sum over (size × n_buckets) per band =
    docs with a signature in that band; candidate_pairs = C(size,2)
    per bucket; a duplicated text collapses into a shared bucket."""
    from hstream_spark.operators.dedup import lsh_bucket_stats

    dup = "the same exact words repeated in both documents verbatim here"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, "completely different content on another topic"),
         (4, "a fourth unrelated document with its own words entirely")],
        "doc_id long, text string",
    )
    rows = lsh_bucket_stats(docs).collect()
    per_band = {}
    for r in rows:
        per_band.setdefault(r["band"], 0)
        per_band[r["band"]] += r["bucket_size"] * r["n_buckets"]
        assert r["candidate_pairs"] == (
            r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2
        )
    assert set(per_band.values()) == {4}  # every doc lands in every band
    # identical docs share every band signature: each band has one
    # 2-doc bucket contributing exactly one candidate pair
    for band in per_band:
        sizes = {r["bucket_size"]: r["n_buckets"] for r in rows if r["band"] == band}
        assert sizes.get(2) == 1 and sizes.get(1) == 2


def test_lsh_recall_eval_finds_planted_dup(spark):
    """A planted near-duplicate is ground truth at every threshold and
    the band index must surface it (identical text ⇒ identical
    signatures ⇒ recall 1.0); the unrelated doc contributes nothing."""
    from hstream_spark.operators.dedup import lsh_recall_eval

    dup = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, "nothing in common with those")],
        "doc_id long, text string",
    )
    rows = {r["threshold"]: r for r in lsh_recall_eval(docs).collect()}
    for t in (0.3, 0.5, 0.7):
        assert rows[t]["true_pairs"] == 1
        assert rows[t]["hit_pairs"] == 1
        assert rows[t]["recall"] == 1.0
    assert all(r["total_candidates"] >= 1 for r in rows.values())


def test_lsh_recall_eval_empty_sample_yields_threshold_rows(spark):
    """Zero qualifying docs still yields one row per threshold with
    zero counts and NULL recall — the empty-group representation the
    driver gate compares byte-exact."""
    from hstream_spark.operators.dedup import lsh_recall_eval

    docs = spark.createDataFrame(
        [(100, "only one document beyond the sample bound")],
        "doc_id long, text string",
    )
    rows = lsh_recall_eval(docs.where("doc_id < 60")).collect()
    assert len(rows) == 3
    assert all(r["true_pairs"] == 0 and r["hit_pairs"] == 0
               and r["recall"] is None and r["total_candidates"] == 0
               for r in rows)


def test_lsh_ops_exclude_unshingleable_docs(spark):
    """Docs with < n tokens have no shingles: they must not fabricate a
    shared sentinel-signature bucket (lsh_bucket_stats) or phantom
    candidates (lsh_recall_eval) — the DuckDB oracle omits them."""
    from hstream_spark.operators.dedup import lsh_bucket_stats, lsh_recall_eval

    docs = spark.createDataFrame(
        [(1, "a full length document with plenty of words inside"),
         (2, "another quite different document with several words too"),
         (3, "too short"), (4, "tiny")],
        "doc_id long, text string",
    )
    rows = lsh_bucket_stats(docs).collect()
    per_band = {}
    for r in rows:
        per_band[r["band"]] = per_band.get(r["band"], 0) + (
            r["bucket_size"] * r["n_buckets"]
        )
    assert set(per_band.values()) == {2}  # only the two shingleable docs
    ev = lsh_recall_eval(docs).collect()
    assert all(r["total_candidates"] == 0 for r in ev)  # no phantom pairs


class TestCappedMinhashLSH:
    """Hot-bucket capping (capped_band_candidates): the web-corpus
    failure mode where one boilerplate-collapsed band bucket turns the
    candidate join quadratic. Decisions must equal the uncapped path
    wherever buckets fit the cap; an adversarial hot bucket must yield
    bounded pair counts while the dup CLUSTER stays connected."""

    def test_capped_equals_uncapped_on_standard_corpus(self, spark, sf_dir):
        from hstream_spark.operators import dedup as D

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in D.minhash_near_duplicates(docs, threshold=0.5).collect()
        )
        capped = sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in D.minhash_near_duplicates_capped(
                docs, threshold=0.5, cap=32
            ).collect()
        )
        assert capped == base and len(base) > 0

    def test_hot_bucket_bounded_pairs_and_connected_cluster(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import dedup as D

        m, cap = 200, 8
        boiler = "cookie consent banner please accept all cookies " * 4
        rows = [(i, boiler) for i in range(m)]
        # a few genuinely distinct docs that must NOT join the cluster
        rows += [(1000 + i, f"unique document body {i} " + " ".join(
            f"tok{i}x{j}" for j in range(20))) for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        sets = D.doc_shingle_sets(docs)
        bands = D.minhash_bands_from_sets(sets)
        uncapped = (
            bands.alias("a")
            .join(bands.alias("b"), ["band", "band_sig"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .count()
        )
        assert uncapped >= m * (m - 1) // 2  # the quadratic blow-up is real

        capped = D.capped_band_candidates(bands, cap)
        n_capped = capped.count()
        # bounded: per band, ceil(m/cap) sub-buckets of ~cap docs each
        # → O(m·cap) pairs, not O(m²)
        assert n_capped <= D.BANDS * m * cap
        assert n_capped < uncapped / 5

        # the identical-doc cluster stays ONE component (each doc only
        # needs to co-salt with ANY neighbour in ANY band)
        dups = D.minhash_near_duplicates_capped(docs, threshold=0.5, cap=cap)
        comps = D.connected_components(dups)
        hot = comps.filter(F.col("doc_id") < 1000)
        assert hot.count() == m
        assert hot.select("component").distinct().count() == 1
        # and the distinct docs never entered it
        assert comps.filter(F.col("doc_id") >= 1000).count() == 0


class TestCappedSimhash:
    """simhash_near_duplicates(cap=..): banded candidates with hot-
    bucket capping — same contract as the minhash twin (identical
    decisions when buckets fit the cap, bounded pairs + connected
    clusters when they don't)."""

    def test_capped_equals_uncapped_when_buckets_fit(self, spark, sf_dir):
        from hstream_spark.operators import dedup as D

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = sorted(
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_near_duplicates(docs, max_hamming=3).collect()
        )
        # cap well above any sf0.001 band-bucket occupancy
        capped = sorted(
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_near_duplicates(
                docs, max_hamming=3, cap=100_000
            ).collect()
        )
        assert capped == base

    def test_hot_bucket_bounded_and_cluster_connected(self, spark):
        from pyspark.sql import functions as F

        from hstream_spark.operators import dedup as D

        m, cap = 150, 8
        boiler = "cookie consent banner please accept all cookies " * 4
        rows = [(i, boiler) for i in range(m)]
        rows += [(1000 + i, "unique document body " + " ".join(
            f"tok{i}x{j}" for j in range(25))) for i in range(3)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        capped = D.simhash_near_duplicates(docs, max_hamming=3, cap=cap)
        n = capped.count()
        # identical docs share every band bucket: uncapped would be
        # m(m-1)/2 pairs; capped is O(bands·m·cap)
        assert 0 < n < m * (m - 1) // 2
        assert n <= 4 * m * cap
        comps = D.connected_components(
            capped, left_col="doc_a", right_col="doc_b"
        )
        hot = comps.filter(F.col("doc_id") < 1000)
        assert hot.count() == m
        assert hot.select("component").distinct().count() == 1
        assert comps.filter(F.col("doc_id") >= 1000).count() == 0


def test_c4_rules_boundaries(spark):
    from hstream_spark.operators.text import c4_filter

    good3 = (
        "One fine long sentence ends right here now.\n"
        "Two fine long sentence ends right here now!\n"
        "Three fine long sentence ends right here now?"
    )
    docs = spark.createDataFrame(
        [
            (1, good3),                                    # passes everything
            (2, good3 + "\nno terminal punctuation here"), # line dropped
            (3, good3 + "\nTiny line."),                   # <5 words dropped
            (4, good3 + "\nEnable javascript to continue reading this."),
            (5, "Only one fine sentence ends here now."),  # <3 sentences
            (6, good3 + "\nSome lorem ipsum filler shows up here."),
            (7, good3 + "\nA code block { appears } in this one."),
            (8, good3 + "\nSee our privacy policy for more details."),
            (9, good3 + "\nBuy cheap viagra pills online right now."),
        ],
        "doc_id long, text string",
    )
    rows = {row["doc_id"]: row for row in c4_filter(docs).collect()}
    assert rows[1]["keep"] is True and rows[1]["n_kept_lines"] == 3
    # the three LINE rules drop the offending line but keep the page
    assert rows[2]["n_kept_lines"] == 3 and rows[2]["keep"] is True
    assert rows[3]["n_kept_lines"] == 3
    assert rows[4]["n_kept_lines"] == 3
    assert "javascript" not in rows[4]["clean"]
    # the PAGE rules each flip exactly their own boolean
    assert rows[5]["r_min_sentences"] is False and rows[5]["keep"] is False
    assert rows[6]["r_no_lorem"] is False and rows[6]["keep"] is False
    assert rows[7]["r_no_braces"] is False and rows[7]["keep"] is False
    assert rows[8]["r_no_policy"] is False and rows[8]["keep"] is False
    assert rows[9]["r_no_badwords"] is False and rows[9]["keep"] is False
    # boundary: exactly 3 sentences passes the floor
    assert rows[1]["r_min_sentences"] is True


def test_c4_rules_optional_terminal_punct(spark):
    from hstream_spark.operators.text import c4_filter

    docs = spark.createDataFrame(
        [(1, "five plain words without punctuation\nshort one")],
        "doc_id long, text string",
    )
    row_s = c4_filter(docs).collect()[0]["n_kept_lines"]
    row_l = c4_filter(
        docs, require_terminal_punct=False
    ).collect()[0]["n_kept_lines"]
    assert row_s == 0      # no line ends in terminal punctuation
    assert row_l == 1      # ≥5-word line survives without the punct rule


def test_c4_rules_empty_policy_is_vacuously_true(spark):
    """bad_phrases=() or the lorem-only tuple must not crash — the
    policy rule is vacuously true, the lorem rule stands alone."""
    from hstream_spark.operators.text import c4_filter

    docs = spark.createDataFrame(
        [(1, "a perfectly ordinary sentence that keeps going fine here.")],
        "doc_id long, text string",
    )
    for phrases in ((), ("lorem ipsum",)):
        out = c4_filter(docs, bad_phrases=phrases).collect()[0]
        assert out["r_no_policy"] is True


def test_dedup_lines_first_occurrence_wins(spark):
    from hstream_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\ncommon footer line\nunique one"),
            (2, "common footer line\nunique two\n\nalpha beta"),
            (3, "only mine\nonly mine"),  # within-doc repeat
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    # doc 1 owns both shared lines (lowest doc_id)
    assert rows[1]["clean_text"] == "alpha beta\ncommon footer line\nunique one"
    # doc 2 loses both shared lines; blank line dropped as normalization
    assert rows[2]["clean_text"] == "unique two"
    assert rows[2]["n_lines_before"] == 3 and rows[2]["n_lines_after"] == 1
    # within-doc repeat keeps only the first occurrence
    assert rows[3]["clean_text"] == "only mine"
    assert rows[3]["n_lines_after"] == 1


def test_dedup_lines_total_loss_yields_empty_doc(spark):
    from hstream_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "the same line"), (2, "the same line")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert rows[1]["clean_text"] == "the same line"
    assert rows[2]["clean_text"] == "" and rows[2]["n_lines_after"] == 0
    assert rows[2]["n_lines_before"] == 1


def test_gopher_repetition_line_rules(spark):
    from hstream_spark.operators.text import gopher_repetition

    docs = spark.createDataFrame(
        [
            # 5 lines, "menu" ×4 → dup occurrences beyond first = 3;
            # 3/5 = 60% > 30% → fail; chars: menu=4, dup chars 12 of
            # (16 + 19) = 35 → 34% > 20% → fail
            (1, "menu\nmenu\nmenu\nmenu\nactual content line"),
            # 4 distinct lines → 0 dups → both line rules pass
            (2, "alpha one\nbeta two\ngamma three\ndelta four"),
            # exactly at the 30% boundary: 10 lines, dup=3 (x ×4)
            # 3*100 <= 10*30 → pass
            (3, "\n".join(["x"] * 4 + ["u1", "u2", "u3", "u4", "u5", "u6"])),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    assert rows[1]["r_dup_line"] is False
    assert rows[1]["r_dup_line_char"] is False
    assert rows[2]["r_dup_line"] is True and rows[2]["r_dup_line_char"] is True
    assert rows[3]["r_dup_line"] is True  # boundary inclusive


def test_gopher_repetition_top_and_dup_ngrams(spark):
    from hstream_spark.operators.text import gopher_repetition

    # doc 1: "buy now" bigram dominates — top-2 char share ≈ 100% > 20%
    # doc 2: long varied text — every rule passes
    varied = " ".join(f"w{i:03d}" for i in range(120))
    # doc 3: a repeated 7-token phrase → duplicated 5-grams cover it;
    # coverage is the UNION (overlaps once), rest of doc unique
    phrase = "one two three four five six seven"
    doc3 = f"{phrase} filler001 filler002 filler003 {phrase} trailer"
    docs = spark.createDataFrame(
        [(1, "buy now " * 30), (2, varied), (3, doc3)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    assert rows[1]["r_top2"] is False and rows[1]["r_dup5"] is False
    assert rows[2]["keep"] is True
    # doc 3: dup 5-grams cover the two phrase spans (union, no
    # double-count): covered token chars = 2 × chars(phrase tokens),
    # well above 15% of the doc's token chars → fail
    assert rows[3]["r_dup5"] is False
    # but no 10-gram repeats verbatim → r_dup10 passes
    assert rows[3]["r_dup10"] is True


def test_gopher_repetition_short_doc_passes(spark):
    from hstream_spark.operators.text import gopher_repetition

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    # docs below every n produce no grams — all rules pass vacuously
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is True


def test_fineweb_filter_rules(spark):
    from hstream_spark.operators.text import fineweb_filter

    long_line = "a perfectly reasonable long content line with many words."
    docs = spark.createDataFrame(
        [
            # 3 long punct-terminated distinct lines → all pass
            (1, "\n".join(f"{long_line[:-1]} v{i}." for i in range(3))),
            # no line ends in punctuation → punct rule fails
            (2, "\n".join(f"{long_line[:-1]} v{i}" for i in range(3))),
            # duplicated long line dominates chars → dup-char fails
            (3, "\n".join([long_line] * 5 + ["unique tail line here."])),
            # all lines short (<30 chars) → short-line rule fails
            (4, "\n".join(f"short one {i}." for i in range(4))),
            # empty doc: vacuous pass
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in fineweb_filter(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["r_punct_lines"] is False and rows[2]["keep"] is False
    assert rows[3]["r_dup_line_char"] is False
    assert rows[4]["r_short_lines"] is False
    assert rows[5]["keep"] is True and rows[5]["n_lines"] == 0
    # boundary: exactly 12% punct lines passes (25 lines, 3 punct)
    b = spark.createDataFrame(
        [(9, "\n".join([f"{long_line[:-1]} p{i}." for i in range(3)]
                       + [f"{long_line[:-1]} n{i}" for i in range(22)]))],
        "doc_id long, text string",
    )
    rb = fineweb_filter(b).collect()[0]
    assert rb["r_punct_lines"] is True


def test_line_index_roundtrip_and_append(spark, tmp_path):
    from hstream_spark.operators.dedup import (
        build_line_index,
        dedup_lines,
        dedup_lines_against_index,
    )

    corpus = spark.createDataFrame(
        [(10, "corpus footer line\ncorpus body one"),
         (11, "corpus body two\ncorpus footer line")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lineidx")
    build_line_index(corpus, path)
    batch = spark.createDataFrame(
        [(1, "corpus footer line\nnew unique line\nshared batch line"),
         (2, "shared batch line\nanother new line")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in dedup_lines_against_index(spark, batch, path).collect()}
    # corpus-owned line dies; within-batch first occurrence wins
    assert rows[1]["clean_text"] == "new unique line\nshared batch line"
    assert rows[2]["clean_text"] == "another new line"
    assert rows[1]["n_lines_before"] == 3 and rows[1]["n_lines_after"] == 2

    # fold the accepted batch in (rebuild over corpus + accepted); a
    # replayed identical batch now loses every line to the index
    accepted = spark.createDataFrame(
        [(1, rows[1]["clean_text"]), (2, rows[2]["clean_text"])],
        "doc_id long, text string",
    )
    build_line_index(corpus.unionByName(accepted), path)
    replay = {r["doc_id"]: r.asDict()
              for r in dedup_lines_against_index(spark, batch, path).collect()}
    assert replay[1]["n_lines_after"] == 0 and replay[1]["clean_text"] == ""
    assert replay[2]["n_lines_after"] == 0

    # parity: empty index == plain dedup_lines on the batch
    empty = str(tmp_path / "emptyidx")
    build_line_index(
        spark.createDataFrame([], "doc_id long, text string"), empty
    )
    via_idx = sorted(
        tuple(r) for r in dedup_lines_against_index(spark, batch, empty).collect()
    )
    plain = sorted(tuple(r) for r in dedup_lines(batch).collect())
    assert via_idx == plain


class TestShinglePrefilterEquivalence:
    def test_nonempty_flag_equals_size_filter(self, spark):
        """doc_shingle_sets(nonempty=True) must select EXACTLY the docs
        that .where(size(hs) > 0) would — the cheap token-count
        prefilter (size(tokens) >= n) replaces the pushdown-duplicating
        size(hs) predicate, so the equivalence is load-bearing for the
        whole MinHash family's correctness. Edge rows: NULL text, empty
        text, whitespace-only, exactly n-1 / n / n+1 tokens, repeated
        identical tokens (distinct shingles collapse to one, still
        nonempty)."""
        from pyspark.sql import functions as F

        from hstream_spark.operators import dedup as D

        rows = [
            (0, None),
            (1, ""),
            (2, "   "),
            (3, "one"),
            (4, "one two"),
            (5, "one two three"),
            (6, "one two three four"),
            (7, "same same same same same"),
            (8, "  padded   tokens\tand\nnewlines here  "),
            (9, "a b"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for n in (2, 3, 4):
            via_flag = sorted(
                r["doc_id"]
                for r in D.doc_shingle_sets(docs, n=n, nonempty=True)
                .select("doc_id").collect()
            )
            via_size = sorted(
                r["doc_id"]
                for r in D.doc_shingle_sets(docs, n=n)
                .where(F.size("hs") > 0).select("doc_id").collect()
            )
            assert via_flag == via_size, (n, via_flag, via_size)
        # and the hs contents themselves agree row-for-row
        flag_sets = {
            r["doc_id"]: sorted(r["hs"])
            for r in D.doc_shingle_sets(docs, nonempty=True).collect()
        }
        plain_sets = {
            r["doc_id"]: sorted(r["hs"])
            for r in D.doc_shingle_sets(docs).collect()
            if r["hs"]
        }
        assert flag_sets == plain_sets
