"""Text-analysis operators for large-scale training-data pipelines:
tokenization, language-ID heuristic, quality scoring, document
fingerprinting.

Not part of the reference surface (hstreamdb/hstream has no text ops);
these are the LLM-data-pipeline extensions. Every operator is built
from JVM-side Catalyst expressions (split/filter/aggregate/md5) — no
Python UDFs — so they run at full codegen speed over 100 TB of
documents and scale linearly: tokenize/score are map-only (no
shuffle); fingerprinting is a pure projection.

All hashing is engine-agnostic (md5-derived integers), so results are
reproducible bit-for-bit across Spark, DuckDB, or any SQL engine —
which is also how the correctness oracle validates them.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1, Mersenne prime — keeps fold arithmetic in int64
FNV_B = 31  # fold multiplier for the rolling fingerprint

# Tiny per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic. Deterministic, closed vocabulary.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "los", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "que", "est"),
    "zh": ("de", "le", "shi", "bu", "wo", "ta"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer: contraction suffixes, letter runs, digit
# runs, punctuation runs, residual whitespace — the BPE-ish segmentation
# whose match count approximates a subword-token count.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def subword_token_count(text: Column) -> Column:
    """BPE-ish token count: number of pre-tokenizer segments (JVM-side
    regexp_count — no UDF)."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def token_hash(tok: Column) -> Column:
    """Engine-agnostic 31-bit token hash: first 60 bits of md5, mod 2^31-1."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % P31


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over token hashes, mod 2^31-1.

    h_0 = 0; h_i = (h_{i-1} * 31 + hash(tok_i)) mod p — order-sensitive,
    so token reordering changes the fingerprint (unlike bag-of-words).
    Pure projection: map-only at any scale.
    """
    hashes = F.transform(tokens(text), token_hash)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FNV_B + h) % P31,
    )


# union of all language marker words — the deterministic stopword list
STOPWORDS = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))


def stopword_ratio(text: Column) -> Column:
    """Fraction of (lowercased) tokens that are stopwords — high-quality
    prose sits in a band; near-0 suggests keyword spam / non-language,
    near-1 suggests boilerplate. Map-only."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(F.lit(list(STOPWORDS)), t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, 1]:

    0.4 * min(n_tokens/50, 1)            — length credit
    + 0.3 * (1 - punct_ratio)            — low punctuation density
    + 0.3 * distinct_token_ratio        — vocabulary diversity

    The tokenize split evaluates once per row (``_bind_once``): the
    score references the token array three times (size, distinct size
    via size again, length credit), and composite consumers
    (quality_classifier) stack several such scores.
    """

    def score(toks: Column) -> Column:
        n_d = F.size(toks).cast("double")
        punct = F.length(text) - F.length(
            F.regexp_replace(text, r"[.,!?;:]", ""))
        punct_ratio = punct.cast("double") / F.length(text).cast("double")
        distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_d
        length_credit = F.least(n_d / F.lit(50.0), F.lit(1.0))
        return (
            F.lit(0.4) * length_credit
            + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
            + F.lit(0.3) * distinct_ratio
        )

    return _bind_once(tokens(text), score)


# Gopher rule R7's required-stopword set (Rae et al. 2021, appendix A1.1:
# "contains at least 2 of the following English words")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(text: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, Scaling
    Language Models: ..., appendix A1.1 — the public heuristic-filter
    suite most curation pipelines start from). Returns one BOOLEAN
    column per rule plus the ``keep`` conjunction; every threshold is
    compiled as INTEGER cross-multiplication (``3·nw ≤ Σlen ≤ 10·nw``
    instead of a float mean) so the booleans hash byte-exact against
    any engine's replay. Map-only — no shuffle, no UDF.

    - word_count: 50 ≤ words ≤ 100,000
    - mean_word_len: mean word length in [3, 10] chars
    - symbol_ratio: (# of '#' chars + '…'/'...' occurrences) ≤ 0.1·words
    - bullet_lines: < 90% of lines start with a bullet ('•', '-', '*')
    - ellipsis_lines: ≤ 30% of lines end with an ellipsis
    - alpha_words: ≥ 80% of words contain an alphabetic character
    - stopword_hits: ≥ 2 distinct required stopwords present
    """
    toks = tokens(text)
    nw = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    hash_syms = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    # count '…' plus disjoint '...' runs (each replace removes all)
    uni_ell = F.length(text) - F.length(F.regexp_replace(text, "…", ""))
    ascii_ell = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbols = hash_syms + uni_ell + ascii_ell.cast("int")
    lines = F.split(text, r"\n")
    nl = F.size(lines)
    bullet = F.size(F.filter(
        lines, lambda ln: F.ltrim(ln).rlike(r"^[•\-\*]")
    ))
    ell_end = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$")
    ))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(F.transform(toks, F.lower)),
        F.lit(list(GOPHER_STOPWORDS)),
    ))
    rules = {
        "r_word_count": (nw >= 50) & (nw <= 100_000),
        "r_mean_word_len": (sum_len >= 3 * nw) & (sum_len <= 10 * nw),
        "r_symbol_ratio": symbols * 10 <= nw,
        "r_bullet_lines": bullet * 10 < nl * 9,
        "r_ellipsis_lines": ell_end * 10 <= nl * 3,
        "r_alpha_words": alpha * 5 >= nw * 4,
        "r_stopwords": stop_hits >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else keep & c
    rules["keep"] = keep
    return rules


# C4 page-level drop phrases (Raffel et al. 2020, §2.2): boilerplate
# markers whose presence anywhere on the page discards it.
C4_BAD_PHRASES = (
    "lorem ipsum",
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
)

# Stand-in for C4's public blocklist ("List of Dirty, Naughty, Obscene
# or Otherwise Bad Words") — the MECHANISM (token-level match against a
# closed lowercase vocabulary) is what the operator implements; swap in
# the full list via the ``bad_words`` parameter in production.
C4_SPAM_WORDS = ("viagra", "casino", "clickbait")

# terminal punctuation accepted at line end: . ! ? or a closing quote
_C4_TERMINAL = '[.!?"”]$'


def c4_filter(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> "DataFrame":
    """C4 cleaning heuristics (Raffel et al. 2020, §2.2) per document.

    LINE filter — a line is retained only if it (a) ends in terminal
    punctuation (``. ! ?`` or a closing quote), (b) has at least
    ``min_words_per_line`` words, and (c) does not contain the word
    "javascript" (case-insensitive). ``clean`` is the page rebuilt
    from the retained lines (newline-joined, order preserved);
    ``n_lines`` / ``n_kept_lines`` are the before/after counts.

    PAGE rules — one boolean per rule plus the ``keep`` conjunction:
    ``r_min_sentences`` (the CLEANED page has ≥ ``min_sentences``
    terminal marks), ``r_no_lorem``, ``r_no_braces`` (no ``{``),
    ``r_no_policy`` (none of ``bad_phrases`` except lorem ipsum, which
    has its own rule; vacuously true when nothing else is listed) and
    ``r_no_badwords`` (no token in the ``bad_words`` blocklist).

    STAGED so the expensive intermediates (the retained-line array, the
    rebuilt page, the lowercased text) each evaluate once: higher-order
    functions are interpreted without common-subexpression elimination,
    and Spark's CollapseProject deliberately keeps multi-referenced
    non-cheap aliases in separate projections — three narrow selects
    buy a ~4× wall-time cut over the single-projection form at sf0.1.
    Emits (id, n_lines, n_kept_lines, clean, r_*, keep)."""
    min_words = kw.pop("min_words_per_line", 5)
    min_sentences = kw.pop("min_sentences", 3)
    require_tp = kw.pop("require_terminal_punct", True)
    bad_phrases = kw.pop("bad_phrases", C4_BAD_PHRASES)
    bad_words = kw.pop("bad_words", C4_SPAM_WORDS)
    if kw:
        raise TypeError(f"c4_filter: unknown options {sorted(kw)}")

    text = F.col(text_col)
    lines = F.split(text, r"\n")
    conds = [
        lambda ln: F.size(F.split(F.trim(ln), r"\s+")) >= min_words,
        lambda ln: ~F.lower(ln).contains("javascript"),
    ]
    if require_tp:
        conds.insert(0, lambda ln: F.rtrim(ln).rlike(_C4_TERMINAL))
    kept = F.filter(
        lines, lambda ln: _reduce(lambda a, c: a & c(ln), conds[1:], conds[0](ln))
    )
    s1 = docs.select(
        F.col(id_col),
        text.alias("__text"),
        F.lower(text).alias("__low"),
        F.size(lines).alias("n_lines"),
        kept.alias("__kept"),
    )
    policy = [p for p in bad_phrases if p != "lorem ipsum"]
    low = F.col("__low")
    s2 = s1.select(
        F.col(id_col),
        "n_lines",
        F.size(F.col("__kept")).alias("n_kept_lines"),
        F.array_join(F.col("__kept"), "\n").alias("clean"),
        (~low.contains("lorem ipsum")).alias("r_no_lorem"),
        (~F.col("__text").contains("{")).alias("r_no_braces"),
        _reduce(
            lambda a, p: a & ~low.contains(p), policy, F.lit(True)
        ).alias("r_no_policy"),
        (
            F.size(
                F.array_intersect(
                    F.array_distinct(tokens(low)), F.lit(list(bad_words))
                )
            )
            == 0
        ).alias("r_no_badwords"),
    )
    clean = F.col("clean")
    n_sent = F.length(clean) - F.length(F.regexp_replace(clean, "[.!?]", ""))
    s3 = s2.select(
        "*",
        (n_sent >= min_sentences).alias("r_min_sentences"),
    )
    keep = _reduce(
        lambda a, n: a & F.col(n),
        ("r_no_lorem", "r_no_braces", "r_no_policy", "r_no_badwords"),
        F.col("r_min_sentences"),
    )
    return s3.select(
        id_col, "n_lines", "n_kept_lines", "clean",
        "r_min_sentences", "r_no_lorem", "r_no_braces",
        "r_no_policy", "r_no_badwords", keep.alias("keep"),
    )


def fineweb_filter(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """FineWeb custom filters (Penedo et al. 2024, §3.6 — the third
    canonical public suite next to C4's and Gopher's; these three
    heuristics removed ~22% of tokens and drove FineWeb past RefinedWeb
    in their ablations). Over the document's non-empty lines:

    - ``r_punct_lines``: ≥ 12% of lines end in terminal punctuation
      (the C4-derived signal, applied as a fraction gate not a cut);
    - ``r_dup_line_char``: ≤ 10% of line characters sit in duplicate
      occurrences of a line (stricter than Gopher's 20%);
    - ``r_short_lines``: ≤ 67% of lines are shorter than 30 chars.

    Entirely map-only: the duplicate-char account folds over the
    SORTED line array in one pass (equal neighbours = repeats), so no
    explode and no shuffle — at 100 TB each document scores inside its
    scan task. Integer cross-multiplication thresholds; byte-exact
    oracle replay. Emits (id, n_lines, r_*, keep)."""
    text = F.col(text_col)
    s1 = docs.select(
        F.col(id_col),
        F.filter(
            F.split(text, r"\n"), lambda ln: F.trim(ln) != ""
        ).alias("__lines"),
    )
    lines = F.col("__lines")
    nl = F.size(lines)
    end_punct = F.size(F.filter(lines, lambda ln: F.rtrim(ln).rlike(_C4_TERMINAL)))
    short = F.size(F.filter(lines, lambda ln: F.length(ln) < 30))
    lchars = F.aggregate(
        F.transform(lines, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("dup"),
    )
    dup_chars = F.aggregate(
        F.array_sort(lines),
        init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["dup"] + F.length(x))
            .otherwise(acc["dup"])
            .alias("dup"),
        ),
    )["dup"]
    s2 = s1.select(
        id_col,
        nl.cast("long").alias("n_lines"),
        (end_punct * 100 >= nl * 12).alias("r_punct_lines"),
        (dup_chars * 10 <= lchars).alias("r_dup_line_char"),
        (short * 100 <= nl * 67).alias("r_short_lines"),
    )
    return s2.select(
        "*",
        (
            F.col("r_punct_lines")
            & F.col("r_dup_line_char")
            & F.col("r_short_lines")
        ).alias("keep"),
    )


# Gopher repetition thresholds (Rae et al. 2021, appendix A1 — the
# repetition half of the A1.1 quality suite): max allowed share, in
# integer percent so every rule compiles to cross-multiplication.
GOPHER_TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}
GOPHER_DUP_LINE_PCT = 30
GOPHER_DUP_LINE_CHAR_PCT = 20


def gopher_repetition(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> "DataFrame":
    """Gopher repetition filters (Rae et al. 2021 appendix A1 — the
    repetition table that complements ``gopher_rules``' heuristics):

    - duplicate LINE fraction ≤ 30% and duplicate-line CHAR fraction
      ≤ 20% (occurrences beyond a line's first, within the document);
    - TOP n-gram char share for n∈top_ns (2→20%, 3→18%, 4→16%):
      count(most frequent n-gram) × its token-chars over the doc's
      total token-chars — ties break to the lexicographically smallest
      gram so the pick is engine-deterministic;
    - DUPLICATED n-gram char coverage for n∈dup_ns (5→15% … 10→10%):
      token-chars under the UNION of positions covered by any n-gram
      occurring ≥2 times (overlaps counted once — the union matters:
      degenerate text is exactly where occurrences overlap).

    Char totals are token characters (whitespace excluded) so every
    numerator/denominator is an integer and each rule hashes byte-exact
    against the oracle's replay.

    Scale shape: one branch per rule family, each explode → groupBy
    keyed by (doc, gram) / (doc, position) — uniform keys, map-side
    combinable, linear in corpus size — then a doc-keyed join of the
    tiny per-doc aggregates. The tokenized frame is built ONCE and
    persisted (StorageLevel default) before the branches fan out:
    tokenize/pagify are interpreted higher-order expressions, and
    re-deriving them per branch multiplied the whole scan cost by the
    branch count (measured ~2× end-to-end). The returned rule table is
    checkpointed eagerly and the tokenized cache released. The in-array
    single-pass form (``repetition_signals``) stays the cheap
    count-based signal; this is the full char-accounting suite.
    """
    text = F.col(text_col)
    did = F.col(id_col)

    # cache the tokenized frame across the rule-family branches;
    # released below once the tiny rule table is checkpointed
    base = docs.select(
        did,
        tokens(text).alias("__tk"),
        F.split(text, r"\n").alias("__lines"),
    ).persist()
    tk = F.col("__tk")

    def _grams(n: int) -> Column:
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    ids = base.select(did).distinct()
    tot = base.select(
        did,
        F.aggregate(
            F.transform(tk, F.length),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("tchars"),
    )

    lines = base.select(
        did, F.explode(F.col("__lines")).alias("__line")
    ).where(F.trim(F.col("__line")) != "")
    lg = lines.groupBy(id_col, "__line").agg(F.count("*").alias("c"))
    la = lg.select(
        did, F.col("c"), F.length(F.col("__line")).alias("l")
    ).groupBy(id_col).agg(
        F.sum("c").alias("nl"),
        F.sum(F.col("c") - 1).alias("dup_lines"),
        F.sum(F.col("c") * F.col("l")).alias("lchars"),
        F.sum((F.col("c") - 1) * F.col("l")).alias("dup_lchars"),
    )

    out = ids.join(tot, id_col, "left").join(la, id_col, "left")

    for n in top_ns:
        gc = (
            base.select(did, F.explode(_grams(n)).alias("__g"))
            .groupBy(id_col, "__g")
            .agg(F.count("*").alias("c"))
        )
        top = gc.groupBy(id_col).agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("__g").alias("g"))
            ).alias("__t")
        ).select(
            did,
            (
                (-F.col("__t")["nc"])
                * (F.length(F.col("__t")["g"]) - F.lit(n - 1))
            ).alias(f"top{n}_chars"),
        )
        out = out.join(top, id_col, "left")

    lens = base.select(
        did, F.posexplode(tk).alias("__p", "__tok")
    ).select(did, F.col("__p"), F.length("__tok").alias("l"))
    for n in dup_ns:
        gp = base.select(
            did, F.posexplode(_grams(n)).alias("__i", "__g")
        )
        dup_keys = (
            gp.groupBy(id_col, "__g")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= 2)
            .select(id_col, "__g")
        )
        cover = (
            gp.join(dup_keys, [id_col, "__g"])
            .select(
                did,
                F.explode(
                    F.sequence(F.col("__i"), F.col("__i") + F.lit(n - 1))
                ).alias("__p"),
            )
            .distinct()
        )
        covch = cover.join(lens, [id_col, "__p"]).groupBy(id_col).agg(
            F.sum("l").alias(f"dup{n}_chars")
        )
        out = out.join(covch, id_col, "left")

    z = F.lit(0).cast("long")
    nl = F.coalesce(F.col("nl"), z)
    dup_lines = F.coalesce(F.col("dup_lines"), z)
    lchars = F.coalesce(F.col("lchars"), z)
    dup_lchars = F.coalesce(F.col("dup_lchars"), z)
    tchars = F.coalesce(F.col("tchars"), z)
    cols = [
        did,
        nl.alias("n_lines"),
        tchars.alias("token_chars"),
        (dup_lines * 100 <= nl * GOPHER_DUP_LINE_PCT).alias("r_dup_line"),
        (dup_lchars * 100 <= lchars * GOPHER_DUP_LINE_CHAR_PCT).alias(
            "r_dup_line_char"
        ),
    ]
    rule_names = ["r_dup_line", "r_dup_line_char"]
    for n in top_ns:
        c = F.coalesce(F.col(f"top{n}_chars"), z)
        cols.append(
            (c * 100 <= tchars * GOPHER_TOP_NGRAM_PCT[n]).alias(f"r_top{n}")
        )
        rule_names.append(f"r_top{n}")
    for n in dup_ns:
        c = F.coalesce(F.col(f"dup{n}_chars"), z)
        cols.append(
            (c * 100 <= tchars * GOPHER_DUP_NGRAM_PCT[n]).alias(f"r_dup{n}")
        )
        rule_names.append(f"r_dup{n}")
    res = out.select(*cols)
    keep = _reduce(lambda a, r: a & F.col(r), rule_names[1:], F.col(rule_names[0]))
    final = res.select("*", keep.alias("keep"))
    # The per-doc rule table (booleans + two longs per doc) is tiny next
    # to the tokenized base, so run the job NOW, keep only ITS blocks,
    # and release the fat cache rather than leaking it to the caller:
    # localCheckpoint blocks are
    # ContextCleaner-managed (freed when the returned frame is GC'd),
    # while a caller-invisible persist() would accumulate across
    # catalog/bench invocations. CLUSTER-MODE CAVEAT: localCheckpoint
    # truncates lineage to non-replicated executor blocks — an executor
    # loss makes the frame unrecoverable, and the eager job runs at
    # construction time.
    final = final.localCheckpoint(eager=True)
    base.unpersist()
    return final


def _bind_once(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE and pass it to ``fn`` as a bound lambda
    variable: ``element_at(transform(array(value), fn), 1)``.

    Column-level helpers that reference an expensive subexpression
    several times (a tokenize split, a hash transform) inline a full
    copy per reference — interpreted expression trees have no common-
    subexpression elimination, so an N-reference consumer pays N
    evaluations PER ROW (the round-12 md5-12x lesson, at expression
    scope instead of plan scope). Binding through a single-element
    higher-order function makes every reference a cheap variable read
    while keeping the helper a pure Column (no DataFrame restructure
    at the call sites). NULL propagates identically: array(NULL) gives
    the lambda a NULL argument, same as the inlined form."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _lang_scores_from(toks: Column) -> dict[str, Column]:
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.lit(list(markers))
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return out


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker count, ties broken by language
    code ascending ('und' when no marker hits at all).

    The tokenize split runs ONCE per row (``_bind_once``): the argmax
    ladder references every language's score ~3 times, and with the
    token array inlined per reference the plan evaluated the split
    60+ times per row (round-12 duplication audit)."""

    def pick(toks: Column) -> Column:
        scores = _lang_scores_from(toks)
        best_lang = F.lit("und")
        best_score = F.lit(0)
        for lang in sorted(scores, reverse=True):
            s = scores[lang]
            # iterate in reverse-alpha order with >= so that the final
            # winner is the alphabetically-first among maxima
            cond = s >= best_score
            best_lang = F.when((s > 0) & cond, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(cond, s).otherwise(best_score)
        return best_lang

    return _bind_once(tokens(F.lower(text)), pick)


def ngrams(text: Column, n: int) -> Column:
    """Array of word n-grams (space-joined). Map-only Catalyst expression.
    Empty array for texts shorter than n tokens (guards F.sequence, which
    would otherwise count downward)."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(df, text_col: str = "text", id_col: str = "doc_id",
                       n: int = 2):
    """Repetition quality signals per document: duplicate-n-gram fraction
    (1 - distinct/total) and top-n-gram share (most frequent n-gram's
    share of all n-grams).

    Map-only formulation: hash each n-gram to int64 (the signals need
    counts, not gram identity; 64-bit collisions are noise), sort the
    hash array, and take distinct-count + longest-run in ONE linear pass
    with `F.aggregate` over the sorted array. O(m log m) per document,
    zero shuffles — at 100 TB every document is scored inside its scan
    task, versus the explode→groupBy form whose (doc, gram) shuffle
    moves the entire exploded corpus (partial aggregation doesn't help:
    most grams are distinct). Docs with fewer than n tokens produce no
    n-grams and drop out (same as the explode form).
    """
    g = F.array_sort(
        F.transform(ngrams(F.col(text_col), n), lambda x: F.xxhash64(x))
    )
    total = F.size(g)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("long").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("uniq"),
    )

    def step(acc, x):
        same = acc["prev"].eqNullSafe(x)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            F.when(same, acc["uniq"]).otherwise(acc["uniq"] + 1).alias("uniq"),
        )

    scan = F.aggregate(g, init, step)
    suffix = "bi" if n == 2 else str(n)
    # Drop gram-less docs (< n tokens) with a CHEAP pushable predicate —
    # "has >= n-1 whitespace runs" — instead of filtering on size(g):
    # a filter that embeds the tokenize+hash+sort tree gets pushed below
    # the exchange by Catalyst and re-runs the whole heavy expression in
    # the (possibly single-task) scan stage.
    has_ngrams = F.trim(F.col(text_col)).rlike(r"^(\S+\s+){%d}\S" % (n - 1))
    return (
        df.filter(has_ngrams)
        .select(F.col(id_col), scan.alias("__s"), total.alias("__t"))
        .select(
            id_col,
            (
                F.lit(1.0)
                - F.col("__s.uniq").cast("double") / F.col("__t").cast("double")
            ).alias(f"dup_{suffix}gram_frac"),
            (F.col("__s.best").cast("double") / F.col("__t").cast("double"))
            .alias(f"top_{suffix}gram_frac"),
        )
    )


# PII detection patterns — deliberately simple syntax that means the same
# thing in Java regex (Spark) and RE2 (DuckDB), so the oracle can verify
# the counts bit-for-bit.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?"


def pii_email_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(EMAIL_PATTERN))


def pii_phone_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PHONE_PATTERN))


def decontaminate(train, eval_set, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5):
    """Benchmark-decontamination scan: for every training document, how
    many of its distinct word ``n``-grams also appear in the evaluation
    set, and the contaminated fraction.

    Shape: explode distinct n-grams per train doc (map-side), build the
    eval n-gram set (distinct), LEFT JOIN train grams against it, and
    re-aggregate per document. Eval sets are small relative to training
    corpora, so the join side is broadcast — at 100 TB the train grams
    never shuffle; the only wide op is the per-doc count re-aggregation,
    which Spark does with map-side partial counts. Both sides hash their
    grams to int64 before the join (overlap needs membership, not gram
    identity): the broadcast table carries 8-byte keys instead of
    ~30-byte strings and every probe is a long compare, not a string
    compare. 64-bit collisions are noise at eval-set scale.
    """
    from pyspark.sql.functions import broadcast

    def grams(df):
        return df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(
                        ngrams(F.col(text_col), n), lambda x: F.xxhash64(x)
                    )
                )
            ).alias("g"),
        )

    eval_g = grams(eval_set).select("g").distinct()
    train_g = grams(train)
    hit = eval_g.withColumn("__hit", F.lit(1))
    joined = train_g.join(broadcast(hit), "g", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_overlap"),
        (F.coalesce(F.sum("__hit"), F.lit(0)).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("contamination_frac"),
    )


def boilerplate_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 3,
):
    """Corpus-level boilerplate detection — the C4-style "remove lines
    that repeat across many documents" pass, at word-n-gram granularity
    (this corpus has no line structure): for each document, how many of
    its distinct n-grams occur in >= ``min_df`` documents, and the
    boilerplate fraction.

    Shape: per-doc DISTINCT grams explode map-side (int64-hashed —
    8-byte keys through every shuffle); one gram-keyed groupBy with
    map-side partial counts produces the document-frequency table; the
    high-DF "boiler" set is TINY by construction (repetition across
    >= min_df docs) so membership rides a broadcast LEFT join whose
    marker feeds the SAME per-doc aggregation that counts total grams
    (round-12: previously totals and hits were two separate per-doc
    aggregations joined at the end — one more corpus explode, one more
    shuffle, one more join for identical output). At 100 TB: two
    corpus passes (gram DF, annotated per-doc agg), two shuffles,
    boiler set broadcast, no strings wider than the hash ever move.
    """
    from pyspark.sql.functions import broadcast

    g = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(ngrams(F.col(text_col), n), lambda x: F.xxhash64(x))
            )
        ).alias("g"),
    )
    boiler = (
        g.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") >= min_df)
    ).select("g")
    return (
        g.join(broadcast(boiler.withColumn("__b", F.lit(1))), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__b").alias("n_boiler"),
        )
        .select(
            id_col,
            "n_grams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_grams")).alias(
                "boiler_frac"
            ),
        )
    )


def vocab_top(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 1000,
) -> DataFrame:
    """Vocabulary induction: the top-``k`` corpus tokens by frequency,
    with deterministic ids (rank by count desc, token asc) — the
    build-the-vocab step before any tokenizer/embedding work. One
    hash aggregation with map-side combine, then a distributed
    TakeOrdered top-k (per-partition heads merged on the driver — the
    global row_number window only ever sees the k survivors, never the
    full vocabulary)."""
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(k)
    # rank the k survivors WITHOUT a window: collect them into one
    # k-bounded sorted array (struct compares field-by-field, so
    # (-n, tok) ascending = count desc, token asc) and posexplode the
    # position into the id. Same single-reduce shape as the TakeOrdered
    # above — and no global-window "no partition defined" plan, which
    # at a glance reads like an unbounded all-to-one shuffle to an
    # operator auditing logs (it never was: only k rows reach it).
    ranked = topk.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("n")).alias("_negn"),
                    F.col("tok").alias("tok"),
                    F.col("n").alias("n"),
                )
            )
        ).alias("a")
    )
    return ranked.select(
        F.posexplode("a").alias("pos", "r")
    ).select(
        (F.col("pos") + 1).alias("token_id"),
        F.col("r.tok").alias("tok"),
        F.col("r.n").alias("n"),
    )


def lm_cross_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM cross-entropy per document — the CCNet-style
    perplexity quality signal: score(d) = mean over tokens of
    -ln p(tok), with p estimated from the corpus itself. Low scores =
    typical text, high scores = rare-token soup.

    Two shuffles at scale: the token-count aggregation (map-side
    combine) and the per-doc re-aggregation. The probability table is
    vocab-sized (sublinear in the corpus — Heaps' law), so it
    BROADCASTS to the doc-token side: the scoring join is map-only and
    immune to natural-language token skew (a hash join on the token
    key would put "the" ≈ 5% of all rows in one partition). Per-doc
    sums run in decimal so the mean is independent of token order and
    partitioning — exactly reproducible cross-engine.
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "tok",
        (-F.log(F.col("n").cast("double") / F.col("total").cast("double"))).alias(
            "nll"
        ),
    )
    scored = tok.join(F.broadcast(probs), "tok")
    # the total emits as exact integer micro-nats: decimal→double casts
    # round differently across engines in the last ulp, integer ops
    # don't. cross_entropy = nll_micro / 1e6 / n_tokens.
    nll_sum = F.sum(F.col("nll").cast("decimal(27,18)"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.floor(nll_sum * F.lit(1_000_000)).cast("long").alias("nll_micro"),
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    round_digits: int = 4,
) -> DataFrame:
    """BM25 keyword search: score every document against a fixed term
    list (Robertson/Walker BM25 with the Lucene ``ln(1 + (N-df+0.5)/
    (df+0.5))`` IDF) and return the top-``top_k`` hits.

    The plan is the one you'd want at 100 TB — NO inverted-index
    shuffle and NO token explode: per-term frequencies come from a
    map-only ``size(filter(tokens))`` fold per document (one corpus
    scan), the corpus statistics (N, avgdl, per-term df) reduce to ONE
    aggregate row in the same pass shape, broadcast back on a constant
    key (BroadcastHashJoin, not a nested-loop), and scoring plus the
    final ``TakeOrdered`` top-k are map-side. Queries with m terms cost
    one scan + one 1-row broadcast, independent of corpus size. The
    per-document score sums the per-term partials in fixed textual
    order, so it is bit-reproducible across engines and partitionings
    (no float reduction order in a groupBy).
    """
    if not query_terms:
        raise ValueError("bm25_search requires at least one query term")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def _eq(term):  # F.filter treats 2-arg lambdas as (elem, idx)
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _eq(t))).alias(f"__tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    base = docs.select(
        F.col(id_col), F.size(toks).alias("__dl"), *tf_cols
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    ).withColumn("__k", F.lit(1))
    scored = base.withColumn("__k", F.lit(1)).join(
        F.broadcast(stats), "__k"
    )
    parts = []
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfreq = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("__dl").cast("double") / F.col("__avgdl")
        )
        parts.append(
            F.when(tf > 0, idf * tf * F.lit(k1 + 1.0) / norm).otherwise(F.lit(0.0))
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    matched = sum(
        (F.col(f"__tf_{i}") > 0).cast("int") for i in range(len(query_terms))
    )
    out = scored.select(
        F.col(id_col),
        matched.alias("matched"),
        F.round(score, round_digits).alias("score"),
    ).where(F.col("matched") > 0)
    return out.orderBy(F.col("score").desc(), F.col(id_col)).limit(top_k)


def normalize_url(url: Column) -> Column:
    """URL canonicalization for web-crawl curation — the
    dedup-before-fetch / host-grouping normalizer: lowercase scheme and
    host, strip fragments, default ports (:80 http / :443 https), a
    leading ``www.``, tracking query parameters (``utm_*``, ``fbclid``,
    ``gclid``), empty leftover query separators, and a trailing slash.

    Pure Catalyst regexp pipeline (map-only, whole-stage codegen; the
    same steps express verbatim in ANSI SQL for the oracle). Non-URL
    strings pass through the component extraction as empty scheme and
    are returned unchanged.
    """
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    host = F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).otherwise(host)
    host = F.regexp_replace(host, r"^www\.", "")
    rest = F.regexp_replace(rest, r"(utm_[A-Za-z]+|fbclid|gclid)=[^&]*", "")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"[?&]$", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), host, rest)
    )


def url_host(url: Column) -> Column:
    """Registrable-host key for per-host grouping (no public-suffix
    list in-container; the full host minus ``www.`` is the grouping
    key)."""
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1))
    return F.regexp_replace(host, r"^www\.", "")


def perplexity_bands(
    docs: DataFrame,
    bands: int = 3,
    keep_bands: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity banding (Wenzek et al. 2020,
    arXiv:1911.00359 — public): per language, rank documents by
    unigram-LM cross-entropy (``lm_cross_entropy``) and NTILE them
    into ``bands`` quality bands — band 1 = most-typical text ("head"),
    the last band = rare-token soup ("tail"). Emits ``(doc_id, lang,
    ppl_band, keep)`` with ``keep`` true for ``keep_bands`` (CCNet
    trains on head+middle). Deterministic: total order is
    (mean nll, doc_id).

    Scale: inherits lm_cross_entropy's two skew-free shuffles (token
    counts + per-doc sums, vocab table broadcast); the banding itself
    is one window per language — per-partition state is a row counter,
    and language cardinality bounds the partition count, so band
    assignment is effectively free next to the scoring pass.
    """
    from pyspark.sql import Window

    xent = lm_cross_entropy(docs, text_col, id_col)
    langs = docs.select(F.col(id_col), F.col(lang_col))
    scored = xent.join(langs, id_col).select(
        F.col(id_col),
        F.col(lang_col),
        (F.col("nll_micro").cast("double") / F.col("n_tokens").cast("double")
         ).alias("__mean_nll"),
    )
    w = Window.partitionBy(lang_col).orderBy("__mean_nll", id_col)
    banded = scored.withColumn("ppl_band", F.ntile(int(bands)).over(w))
    return banded.select(
        id_col,
        lang_col,
        "ppl_band",
        F.col("ppl_band").isin(*[int(b) for b in keep_bands]).alias("keep"),
    )


def source_curation_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source (per-host) curation rollup — the
    which-domains-are-worth-crawling table: document count, language
    spread, total characters, and the exact-duplicate fraction
    (documents whose full text appears more than once in the corpus).

    Two shuffles at 100 TB, each paid ONCE: a count window over the md5
    hash tags every row with its text's corpus multiplicity (uniform
    128-bit keys — no skew; a groupBy + join-back would scan and
    shuffle the hashed corpus twice), then the per-source aggregation
    (source cardinality is tiny next to the corpus; partial
    aggregation map-side-combines).
    """
    from pyspark.sql import Window

    h = docs.select(
        F.col(group_col).alias("__grp"),
        F.col("lang"),
        F.length(F.col(text_col)).alias("__n"),
        F.md5(F.col(text_col)).alias("__h"),
    )
    tagged = h.withColumn(
        "__dup",
        (F.count(F.lit(1)).over(Window.partitionBy("__h")) > 1).cast("int"),
    )
    return tagged.groupBy(F.col("__grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("__n").alias("total_chars"),
        F.sum("__dup").alias("dup_docs"),
        F.round(
            F.sum("__dup").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 32,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows — the
    context-window chunking step before training/embedding (T5-style
    span packing input, RAG chunkers): window w covers tokens
    ``[w*stride+1, w*stride+max_tokens]`` (1-based), windows start
    while any new token remains. ``stride < max_tokens`` gives
    overlapping windows.

    Map-only: one ``transform`` over per-doc window starts, exploded —
    no shuffle at any scale; output rows ≈ corpus_tokens/stride.
    """
    stride = int(stride) if stride is not None else int(max_tokens)
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # the empty-text filter below guarantees n >= 1, so the sequence
    # end floor((n-1)/stride) is always >= 0 (never a descending range)
    n_windows = F.floor((n - 1) / F.lit(stride)) + 1
    win = F.explode(F.sequence(F.lit(0), n_windows - 1))
    base = docs.where(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), toks.alias("__toks"), win.alias("chunk_idx")
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, max_tokens)
    return base.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 64,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequence packing — assemble documents into training
    sequences of at most ``max_tokens`` tokens (the packing step that
    turns a curated corpus into fixed-length batches without padding
    waste). Greedy first-fit in id order: a document opens a new pack
    when it no longer fits; a document longer than ``max_tokens``
    gets a pack of its own (pre-chunk with ``chunk_documents`` to
    avoid truncation).

    Packing is inherently sequential, so the distributed shape SHARDS
    it: documents hash-bucket by id into ``n_buckets`` independent
    packers (one shuffle), each bucket packs its docs in id order
    inside an Arrow ``applyInPandas`` task. Parallelism and per-task
    memory are set by ``n_buckets`` (scale it with the corpus: ~1
    bucket per few hundred MB of tokens); determinism comes from the
    engine-agnostic id-hash bucketing + in-bucket id order, which the
    recursive SQL oracle replays exactly. Output: one row per doc with
    its (bucket, pack_seq) pack assignment.
    """
    from hstream_spark.operators.sampling import hash_bucket

    if max_tokens <= 0 or n_buckets <= 0:
        raise ValueError("max_tokens and n_buckets must be positive")
    b = docs.select(
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        hash_bucket(F.col(id_col), n_buckets).alias("bucket"),
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seqs = []
        acc, seq = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if acc > 0 and acc + n > max_tokens:
                seq += 1
                acc = n
            else:
                acc += n
            seqs.append(seq)
        pdf["pack_seq"] = seqs
        return pdf[[id_col, "n_tokens", "bucket", "pack_seq"]]

    schema = f"{id_col} long, n_tokens long, bucket long, pack_seq long"
    return b.groupBy("bucket").applyInPandas(pack, schema)


# Fixed logistic weights for the composite keep/drop classifier — a
# deterministic stand-in for a trained fasttext/regression quality
# model (the container has no training deps; the FEATURE PIPELINE and
# scoring plan are the real artifact, the weights are a config blob a
# deployment would swap).
QUALITY_CLF_WEIGHTS = {
    "bias": -1.0,
    "length_credit": 2.0,      # min(tokens/50, 1)
    "stopword_ratio": 1.5,     # in-band prose signal
    "distinct_ratio": 2.0,     # vocabulary diversity
    "dup_bigram_frac": -3.0,   # repetition penalty
    "pii_density": -2.0,       # emails+phones per 100 tokens
}


def quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Composite keep/drop quality classifier: the curation signals
    (length credit, stopword ratio, vocabulary diversity, bigram
    repetition, PII density) feed a fixed-weight logistic model and
    emit a calibrated keep-probability plus the boolean decision —
    the single-scan filter stage a corpus pipeline puts in front of
    dedup.

    Map-only Catalyst expressions end to end (every feature is already
    shuffle-free); the logistic link is ``1/(1+exp(-z))`` with the
    z-terms summed in fixed textual order, so probabilities reproduce
    bit-for-bit cross-engine (emitted rounded to 6 decimals).

    The token array is materialized in its OWN projection and every
    feature reads the column: higher-order subtrees are interpreted
    (CodegenFallback) and get NO subexpression elimination, so with
    the split inlined per reference this plan evaluated the regex
    tokenization 36x per row (round-12 duplication audit; same class
    as the MinHash md5-12x finding). CollapseProject leaves the
    two-projection split intact because the token column is referenced
    many times and is not cheap. Bigrams fold by zip_with over the
    1-shifted array — the sequence+slice form is O(tokens²) per row.
    """
    w = QUALITY_CLF_WEIGHTS
    text = F.col(text_col)
    base = docs.select(
        F.col(id_col), text.alias("__text"), tokens(text).alias("__tk")
    )
    toks = F.col("__tk")
    btext = F.col("__text")
    n = F.size(toks)
    n_d = n.cast("double")
    length_credit = F.least(n_d / F.lit(50.0), F.lit(1.0))
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n_d
    ).otherwise(F.lit(0.0))
    # stopword ratio on the shared token array (lowercasing after a
    # whitespace split is token-wise identical to splitting lower(text))
    sw_hits = F.size(
        F.filter(
            F.transform(toks, lambda t: F.lower(t)),
            lambda t: F.array_contains(F.lit(list(STOPWORDS)), t),
        )
    )
    sw_ratio = F.when(n > 0, sw_hits.cast("double") / n_d).otherwise(F.lit(0.0))
    # bigrams from the shared token array, linear-time (ngrams() would
    # re-tokenize; concat null-propagates into the zip_with padding)
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        lambda g: g.isNotNull(),
    )
    n_bi = F.size(bigrams)
    dup_bigram_frac = F.when(
        n_bi > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / n_bi.cast("double"),
    ).otherwise(F.lit(0.0))
    pii = (pii_email_count(btext) + pii_phone_count(btext)).cast("double")
    pii_density = F.when(n > 0, pii * F.lit(100.0) / n_d).otherwise(F.lit(0.0))
    z = (
        F.lit(w["bias"])
        + F.lit(w["length_credit"]) * length_credit
        + F.lit(w["stopword_ratio"]) * sw_ratio
        + F.lit(w["distinct_ratio"]) * distinct_ratio
        + F.lit(w["dup_bigram_frac"]) * dup_bigram_frac
        + F.lit(w["pii_density"]) * pii_density
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return base.select(
        F.col(id_col),
        F.round(p, 6).alias("keep_prob"),
        (p >= F.lit(threshold)).alias("keep"),
    )


def normalize_text(text: Column) -> Column:
    """Curation text normalizer: strip control and zero-width
    characters, collapse runs of whitespace to single spaces, trim —
    the cleanup pass before tokenization/hashing so dedup keys don't
    split on invisible bytes. Case is kept.

    Pure regexp pipeline (map-only, codegen); the same steps express
    verbatim in SQL for the oracle.
    """
    out = F.regexp_replace(
        text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F​‌‍﻿]", ""
    )
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def pii_redact(text: Column) -> Column:
    """PII redaction — the removal counterpart of the detection
    counts: emails and phone numbers replace with typed placeholders
    (``<EMAIL>`` / ``<PHONE>``), the standard pre-training scrub.
    Map-only regexp pipeline; phones first (an email regex can eat a
    phone-adjacent token boundary but not vice versa — order is part
    of the contract and the oracle replays it)."""
    out = F.regexp_replace(text, PHONE_PATTERN, "<PHONE>")
    return F.regexp_replace(out, EMAIL_PATTERN, "<EMAIL>")


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-keyed deduplication — the first dedup pass of every web
    pipeline: canonicalize each document's URL (``normalize_url``) and
    keep ONE document per canonical URL, deterministically the lowest
    id (re-crawls and tracking-param variants collapse before any
    content hashing runs).

    One groupBy on the canonical URL (min id) + one broadcast-friendly
    semi-join back; URL keys are near-uniform so the shuffle doesn't
    skew. Emits the surviving documents with their canonical URL.
    """
    canon = docs.withColumn("__curl", normalize_url(F.col(url_col)))
    keep = canon.groupBy("__curl").agg(F.min(id_col).alias(id_col))
    return (
        canon.join(keep, [id_col, "__curl"])
        .withColumnRenamed("__curl", "canonical_url")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909 — public)
# ---------------------------------------------------------------------------


def _char_symbols(word: Column) -> Column:
    """Word → space-joined character symbols ('hello' → 'h e l l o').

    Guarded for the empty string: Spark's ``sequence(1, 0)`` DESCENDS
    ([1, 0]) instead of returning an empty range, so empty tokens must
    short-circuit."""
    return F.when(
        F.length(word) > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(word)),
                lambda i: F.substr(word, i, F.lit(1)),
            ),
            " ",
        ),
    ).otherwise(F.lit(""))


def _apply_merges(sym: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply learned merges in rank order to a space-joined symbol
    string. Each merge is the literal ``replace`` of ``' a b '`` with
    ``' ab '`` over the space-padded string, applied TWICE: a single
    left-to-right scan misses every second occurrence of an ADJACENT
    run (``' a b a b '`` — the first match consumes the shared
    delimiter space), and those misses are provably isolated (two
    consecutive misses would require the scanner to have skipped a
    reachable match), so one more pass completes exactly the standard
    BPE simultaneous non-overlapping merge set. Identical in every
    engine — the SQL oracle replays the same doubled replaces."""
    out = F.concat(F.lit(" "), sym, F.lit(" "))
    for left, right in merges:
        pat = F.lit(f" {left} {right} ")
        rep = F.lit(f" {left}{right} ")
        out = F.replace(F.replace(out, pat, rep), pat, rep)
    return F.trim(out)


def bpe_train(
    docs: DataFrame,
    merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str, int]]:
    """Learn ``merges`` BPE merge rules from a corpus — the tokenizer-
    training step of an LLM data pipeline, Spark-first: the ONLY
    corpus-sized pass is the word count (one shuffle, map-side
    combined); every Lloyd-style iteration after that runs on the
    VOCABULARY frame (distinct words × counts — orders of magnitude
    smaller than the corpus, exactly how production BPE trainers
    operate on pre-counted words), and only the single winning pair
    (one row) returns to the driver per round.

    Deterministic: ties on pair count break lexicographically. Returns
    ``[(left, right, pair_count)]`` in merge-rank order; feed to
    `bpe_tokenize` / `_apply_merges`.
    """
    words = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    try:
        learned: list[tuple[str, str, int]] = []
        for _ in range(int(merges)):
            sym = _apply_merges(
                _char_symbols(F.col("w")), [(l, r) for l, r, _ in learned]
            )
            syms = words.select(sym.alias("s"), "c")
            lst = F.split(F.col("s"), " ")
            # explicit empty-array guard (not a post-filter): Spark's
            # sequence(1, 0) descends and element_at(_, 0) throws on
            # single-symbol words
            pairs = syms.select(
                F.explode(
                    F.when(
                        F.size(lst) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(lst) - 1),
                            lambda i: F.concat_ws(
                                " ",
                                F.element_at(lst, i),
                                F.element_at(lst, i + 1),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>"))
                ).alias("pr"),
                "c",
            )
            top = (
                pairs.groupBy("pr")
                .agg(F.sum("c").alias("pc"))
                .orderBy(F.col("pc").desc(), F.col("pr").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break  # vocabulary fully merged
            left, right = top[0]["pr"].split(" ", 1)
            learned.append((left, right, int(top[0]["pc"])))
        return learned
    finally:
        words.unpersist()


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_n: int = 8,
) -> DataFrame:
    """Tokenize a corpus with learned BPE merges — MAP-ONLY: per row,
    words split to character symbols, the merge rules apply as a chain
    of literal replaces (codegen'd string ops, no Python, no shuffle),
    and the subwords flatten back in document order. Emits
    (id, n_subwords, first ``sample_n`` subwords joined by '|') — the
    token-budget accounting shape, with a deterministic sample for
    verification."""
    pairs = [(m[0], m[1]) for m in merges]
    toks = F.filter(tokens(F.col(text_col)), lambda w: w != F.lit(""))
    per_tok = F.transform(
        toks, lambda w: F.split(_apply_merges(_char_symbols(w), pairs), " ")
    )
    flat = F.flatten(per_tok)
    return docs.select(
        F.col(id_col),
        F.size(flat).cast("long").alias("n_subwords"),
        F.array_join(F.slice(flat, 1, int(sample_n)), "|").alias(
            "subwords_sample"
        ),
    )


def _lm_ngram_tables(docs: DataFrame, text_col: str, id_col: str):
    """Shared substrate of the n-gram LM scorers: (t, p_uni, pairs,
    p_bi) — the tokenized docs frame, the unigram probability table
    (vocab-sized, with its 1-row total broadcast), the per-doc bigram
    pairs, and the bigram probability table. One definition so the
    tokenization, the <=1-token guard and the probability shapes can
    never drift between model orders (both depend on byte-exact
    oracle parity).

    Guard note: a <=1-token doc must contribute no bigrams, and
    Spark's sequence(1, 0) DESCENDS to [1, 0] instead of returning an
    empty range (element_at(arr, 0) then throws) — hence the explicit
    size>=2 gate.

    Deliberately NOT materialized, and the bespoke per-class branches
    are deliberate too (round-12 measurements): the scorer DAGs
    re-execute this subtree per consumer (8 physical scans for the
    bigram scorer, 15 for the trigram; AQE reuses no stages), but on
    page-cached local parquet persisting the tokenized frame ran
    25-39% SLOWER (columnar cache build dominates a cheap scan), and
    collapsing the branches into one position-record generator ran
    8-110% slower (every branch then explodes 4-field structs it
    mostly filters away, while whole-stage codegen already CSEs the
    textual split copies the bespoke Filter+Project branches carry).
    Round 13 re-measured under a DROPPED page cache
    (echo 3 > drop_caches before every rep): trigram plain 4.21 s vs
    persist-upstream 4.72 s — persisting loses in BOTH regimes on
    local NVMe, because cold sequential reads of a corpus this size
    are nearly free while the columnar cache build is not. The regime
    where persisting wins is genuinely REMOTE storage (object-store
    latency), which this box cannot emulate; on such storage persist
    the tokenized projection upstream instead of changing this shape."""
    toks = tokens(F.col(text_col))
    t = docs.select(F.col(id_col), toks.alias("__t"))
    tok = t.select(id_col, F.explode(F.col("__t")).alias("tok"))
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = uni.agg(F.sum("n").alias("total"))
    p_uni = uni.crossJoin(F.broadcast(total)).select(
        "tok",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "pu"
        ),
    )
    pairs = t.select(
        id_col,
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("__t"), i).alias("prev"),
                        F.element_at(F.col("__t"), i + 1).alias("tok"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<prev:string,tok:string>>"))
        ).alias("bg"),
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.tok").alias("tok"))
    bc = pairs.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c"))
    cx = bc.groupBy("prev").agg(F.sum("c").alias("ctx"))
    p_bi = bc.join(cx, "prev").select(
        "prev", "tok",
        (F.col("c").cast("double") / F.col("ctx").cast("double")).alias("pb"),
    )
    return t, p_uni, pairs, p_bi


def lm_bigram_cross_entropy(
    docs: DataFrame,
    lam: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bigrams: bool = True,
) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document — one model
    order up from `lm_cross_entropy` toward CCNet's 5-gram KenLM
    filter: score(d) = mean over positions of -ln p, with
    p(tok|prev) = lam·p_bigram + (1-lam)·p_unigram and the first token
    scored unigram-only. Bigram "soup" documents whose individual
    tokens are common but whose TRANSITIONS are improbable (shuffled
    text, keyword stuffing) now score high even when the unigram model
    passes them.

    Shape: token/bigram count aggregations (map-side combined), then
    scoring joins against the probability tables. The unigram table is
    vocab-sized and always broadcasts; the bigram table is larger (far
    sublinear in the corpus, but billions of rows at 100 TB) — so its
    scoring join is gated by ``broadcast_bigrams``: True (the small-
    corpus default) ships it as one broadcast, False leaves the plain
    equi-join to hash-partition on (prev, tok), whose two-token key
    spreads natural-language skew far better than a single-token key.
    At corpus scale pass False — a forced broadcast of a billion-row
    table would OOM the driver on collect; the gate-off path pins a
    SHUFFLE_HASH hint instead (partition-local hash build on the
    (prev, tok) key — no driver collect, no per-partition sort).
    Bigram pairs come from each document's token
    ARRAY (one projection), not a window — no per-doc ordering
    shuffle. Per-doc totals emit as exact integer micro-nats (decimal
    sums + floor quantization), reproducible cross-engine.
    """
    t, p_uni, pairs, p_bi = _lm_ngram_tables(docs, text_col, id_col)
    lam_l, inv_l = F.lit(float(lam)), F.lit(1.0 - float(lam))
    first = t.where(F.size("__t") >= 1).select(
        id_col, F.element_at(F.col("__t"), 1).alias("tok")
    )
    fn = first.join(F.broadcast(p_uni), "tok").select(
        id_col, (-F.log(F.col("pu"))).alias("nll")
    )
    bi_side = F.broadcast(p_bi) if broadcast_bigrams else p_bi.hint("shuffle_hash")
    bn = (
        pairs.join(bi_side, ["prev", "tok"])
        .join(F.broadcast(p_uni), "tok")
        .select(
            id_col,
            (-F.log(lam_l * F.col("pb") + inv_l * F.col("pu"))).alias("nll"),
        )
    )
    allr = fn.unionByName(bn)
    nll_sum = F.sum(F.col("nll").cast("decimal(27,18)"))
    return allr.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.floor(nll_sum * F.lit(1_000_000)).cast("long").alias("nll_micro"),
    )


def lm_trigram_cross_entropy(
    docs: DataFrame,
    l3: float = 0.6,
    l2: float = 0.3,
    l1: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_tables: bool = True,
) -> DataFrame:
    """Interpolated trigram-LM cross-entropy per document — the
    CCNet-style n-gram perplexity quality filter (Wenzek et al. 2020
    use a 5-gram KenLM; the interpolation ladder and count shapes are
    identical, only the order differs): score(d) = mean -ln p over
    positions, with

      pos 1:   p = p_uni(tok)                       (no context yet)
      pos 2:   p = (l3+l2)·p_bi(tok|prev) + l1·p_uni (trigram mass
               backs off to the bigram when only one context token
               exists — Jelinek-Mercer style)
      pos ≥3:  p = l3·p_tri(tok|p2,p1) + l2·p_bi(tok|p1) + l1·p_uni

    Repetitive/templated text scores LOW (its trigrams dominate the
    corpus tables); shuffled or keyword-stuffed text scores HIGH even
    when tokens and even bigrams are locally plausible.

    Shape: the same count-aggregation pipeline as
    `lm_bigram_cross_entropy` one order up — n-gram tuples come from
    each document's token ARRAY in one projection (no ordering
    window), counts are map-side combined, and the model tables join
    back for scoring. The trigram table is the largest (still far
    sublinear in corpus size) — ``broadcast_tables=False`` pins
    SHUFFLE_HASH joins that hash-partition on the tuple keys
    ((p2,p1,tok) spreads natural-language skew even better than
    (prev,tok)) instead of collecting the tables to the driver.
    Per-doc totals emit as exact integer micro-nats (decimal sums +
    floor quantization), reproducible cross-engine.
    """
    t, p_uni, pairs, p_bi = _lm_ngram_tables(docs, text_col, id_col)
    triples = t.select(
        id_col,
        F.explode(
            F.when(
                F.size("__t") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("__t"), i).alias("p2"),
                        F.element_at(F.col("__t"), i + 1).alias("p1"),
                        F.element_at(F.col("__t"), i + 2).alias("tok"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<p2:string,p1:string,tok:string>>")
            )
        ).alias("tg"),
    ).select(
        id_col, F.col("tg.p2").alias("p2"), F.col("tg.p1").alias("p1"),
        F.col("tg.tok").alias("tok"),
    )
    tc = triples.groupBy("p2", "p1", "tok").agg(F.count(F.lit(1)).alias("c"))
    tcx = tc.groupBy("p2", "p1").agg(F.sum("c").alias("ctx"))
    p_tri = tc.join(tcx, ["p2", "p1"]).select(
        "p2", "p1", "tok",
        (F.col("c").cast("double") / F.col("ctx").cast("double")).alias("pt"),
    )

    def _model(tbl: DataFrame) -> DataFrame:
        return F.broadcast(tbl) if broadcast_tables else tbl.hint("shuffle_hash")

    lit3, lit2, lit1 = F.lit(float(l3)), F.lit(float(l2)), F.lit(float(l1))
    lit32 = F.lit(float(l3) + float(l2))
    first = t.where(F.size("__t") >= 1).select(
        id_col, F.element_at(F.col("__t"), 1).alias("tok")
    )
    fn = first.join(F.broadcast(p_uni), "tok").select(
        id_col, (-F.log(F.col("pu"))).alias("nll")
    )
    second = t.where(F.size("__t") >= 2).select(
        id_col,
        F.element_at(F.col("__t"), 1).alias("prev"),
        F.element_at(F.col("__t"), 2).alias("tok"),
    )
    sn = (
        second.join(_model(p_bi), ["prev", "tok"])
        .join(F.broadcast(p_uni), "tok")
        .select(
            id_col,
            (-F.log(lit32 * F.col("pb") + lit1 * F.col("pu"))).alias("nll"),
        )
    )
    tn = (
        triples.join(_model(p_tri), ["p2", "p1", "tok"])
        .join(_model(p_bi.withColumnRenamed("prev", "p1")), ["p1", "tok"])
        .join(F.broadcast(p_uni), "tok")
        .select(
            id_col,
            (
                -F.log(
                    lit3 * F.col("pt") + lit2 * F.col("pb")
                    + lit1 * F.col("pu")
                )
            ).alias("nll"),
        )
    )
    allr = fn.unionByName(sn).unionByName(tn)
    nll_sum = F.sum(F.col("nll").cast("decimal(27,18)"))
    return allr.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.floor(nll_sum * F.lit(1_000_000)).cast("long").alias("nll_micro"),
    )
