"""Plan-quality regression tests — the scale properties SCALE.md
claims, pinned against the EXECUTED plans so a refactor that silently
un-pushes a filter, materializes a cartesian product, or drops a
broadcast fails loudly.

These are the properties that decide 100 TB behavior: filters reaching
the parquet scan, narrow read schemas, map-side partial aggregation
before every exchange, and dimension broadcasts. The absence of
nested-loop/cartesian physical nodes is checked for every catalog entry
by ``tests/test_catalog_oracle.py``.
"""

from __future__ import annotations

import pytest

from hstream_spark.queries import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = plan_of(spark, sf_dir, name)
        return cache[name]

    return get


def test_q6_filters_reach_the_scan(plans):
    p = plans("tpch_q6")
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_reads_only_needed_columns(plans):
    p = plans("tpch_q6")
    schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    # 4 referenced columns, not the 11-column table
    assert "l_extendedprice" in schema and "l_returnflag" not in schema


def test_dim_joins_broadcast(plans):
    for q in ("stream_table_join", "tpch_q5ish", "tpch_q9ish"):
        assert "BroadcastHashJoin" in plans(q), q


def test_lm_scoring_join_broadcasts_the_model(plans):
    """lm_cross_entropy joins doc tokens against the vocab-sized
    probability table: must broadcast (a token-keyed hash shuffle of
    the doc side is maximally skewed — Zipf: 'the' ≈ 5% of rows)."""
    p = plans("lm_cross_entropy")
    assert "BroadcastHashJoin" in p
    # the doc-token scoring join must not shuffle both sides on tok
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_aggregations_partial_before_exchange(plans):
    for q in ("tpch_q1", "agg_basic", "tumble_agg"):
        p = plans(q)
        # partial + final hash aggregation around the exchange
        assert p.count("HashAggregate") >= 2, q
        assert "Exchange" in p, q


def test_whole_stage_codegen_covers_scans(spark, sf_dir):
    # the scan→filter→project→agg pipeline must live inside codegen
    # stages; AQE wraps the plan lazily, so flip it off to see the
    # materialized codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["tpch_q6"].builder(spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen stages print as *(N) prefixes: span 1 = scan→filter→
    # project→partial-agg, span 2 = final agg after the exchange
    assert "*(1) Filter" in p and "*(1) HashAggregate" in p
    assert "*(2) HashAggregate" in p


def test_single_wide_shuffle_q21(plans):
    # the q21 rewrite's contract: the lineitem-orders base is shuffled
    # once; a regression to the semi+anti self-join pair doubles scans
    p = plans("tpch_q21ish")
    assert p.count("Scan parquet") <= 3  # lineitem, orders, supplier


def test_bm25_plan_is_shuffle_free_scoring(plans):
    """BM25: corpus stats reduce to ONE row (single partial+final agg),
    scoring is map-side, top-k is TakeOrdered — no gram explode, no
    inverted-index shuffle, no per-doc Exchange beyond the stats agg
    and the input spread."""
    p = plans("bm25_search")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # the only BroadcastNestedLoopJoin allowed is the 1-row stats join
    assert p.count("BroadcastNestedLoopJoin") == 1
    # no grouping shuffle on doc or token keys: every HashAggregate is
    # the global stats reduction (empty Keys)
    import re
    for m in re.finditer(r"HashAggregate\(keys=\[(.*?)\]", p):
        assert m.group(1) == "", p


def test_exact_substring_no_cartesian_and_int64_gram_keys(plans):
    """ExactSubstr spans: the gram self-count shuffles 8-byte xxhash64
    keys (never gram strings) and nothing is quadratic."""
    p = plans("dedup_exact_substring")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p


def test_temperature_sample_rate_table_broadcasts(plans):
    """The per-group rate table joins by broadcast — corpus rows never
    shuffle for the sampling decision."""
    p = plans("temperature_sample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_pq_encode_is_map_only(plans):
    """PQ encoding: nearest-centroid fold inside the scan task — zero
    exchanges beyond the input spread repartition."""
    p = plans("pq_encode")
    assert "Join" not in p
    import re
    exchanges = re.findall(r"Exchange (\w+)", p)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_quality_classifier_single_scan(plans):
    """Classifier: one scan, no joins, no aggregates — pure projection."""
    p = plans("quality_classifier")
    assert "Join" not in p and "HashAggregate" not in p


def test_bigram_lm_broadcast_gate(spark, sf_dir):
    """lm_bigram_cross_entropy(broadcast_bigrams=False) must NOT
    broadcast the bigram probability table (billions of rows at corpus
    scale — a forced broadcast OOMs the driver): its scoring join pins
    a SHUFFLE_HASH hint and hash-partitions on the (prev, tok) key.
    The vocab-sized unigram table still broadcasts on both paths."""
    from hstream_spark.operators.text import lm_bigram_cross_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    off = (
        lm_bigram_cross_entropy(docs, broadcast_bigrams=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    on = (
        lm_bigram_cross_entropy(docs, broadcast_bigrams=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin [prev" in off or "ShuffledHashJoin" in off
    assert "BroadcastHashJoin" in off  # unigram model still broadcasts
    assert "ShuffledHashJoin" not in on  # default path unchanged


def test_shingle_md5_pass_runs_once(spark, sf_dir):
    """The md5 token-hash transform must appear EXACTLY ONCE in the
    optimized plan of every single-corpus MinHash consumer.

    The shingle fold references the token-hash array n times and a
    size() filter pushed through the projection duplicates the whole
    tree — before round 12 the family's plans evaluated the md5 pass
    up to 12x per document (the dominant family cost; see
    doc_shingle_sets). The two-projection split + the posexplode
    when()-guard in minhash_bands_from_sets keep it at one; this pins
    that property against refactors and Catalyst rule changes.

    Cache is cleared first: earlier tests legitimately leave shingle
    sets persisted for the session (dedup persists them), and
    the cache manager substitutes a matching InMemoryRelation whose
    nested plan string double-counts md5 — this test pins the shape of
    the FRESH plan, not cache-substitution behavior."""
    from hstream_spark.operators import dedup as D

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = D.doc_shingle_sets(docs)
    cases = {
        "doc_shingle_sets": sets,
        "doc_shingle_sets_nonempty": D.doc_shingle_sets(docs, nonempty=True),
        "bands": D.minhash_bands_from_sets(sets),
        "lsh_bucket_stats": D.lsh_bucket_stats(docs),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5(") == 1, (
            f"{name}: md5 transform duplicated "
            f"({plan.count('md5(')} occurrences) — an expression "
            "reference or filter pushdown re-inlined the token-hash pass"
        )


def test_text_tokenize_pass_runs_once(spark, sf_dir):
    """The regex tokenize split must appear EXACTLY ONCE in the
    optimized plan of every multi-feature text scorer.

    Same failure class as the md5 pin above, at expression scope:
    Column helpers that reference tokens(text) N times inline N copies
    of the split (no CSE in interpreted/HOF subtrees) — lang_id's
    argmax ladder paid 62 splits per row, quality_classifier's feature
    set 36, before the round-12 _bind_once / own-projection fixes."""
    from pyspark.sql import functions as F

    from hstream_spark.operators import text as TX

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cases = {
        "lang_id": docs.select(
            "doc_id", TX.lang_id(F.col("text")).alias("lang_pred")
        ),
        "quality_score": docs.select(
            "doc_id", TX.quality_score(F.col("text")).alias("q")
        ),
        "quality_classifier": TX.quality_classifier(docs),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, (
            f"{name}: tokenize split duplicated "
            f"({plan.count('split(')} occurrences) — a multi-reference "
            "consumer re-inlined the tokenize pass"
        )


def test_operators_read_no_environment():
    """Operator plans are chosen by arguments alone: an environment
    read inside an operator lets an ambient variable silently change
    what a caller's query executes. Deployment settings belong in
    ``session.py`` and the connectors."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / "hstream_spark" / "operators"
    hits = [
        f"{path.name}:{i}: {line.strip()}"
        for path in sorted(ops.glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\benviron\b|\bgetenv\b", line)
    ]
    assert hits == []


# Reached only from tests, on purpose: each is the Catalyst-expression
# reference that the named test compares its production ``*_np`` kernel
# against.
_REFERENCE_ONLY = {
    "hstream_spark.operators.similarity.sq_encode":
        "tests/test_similarity.py::TestScalarQuantization::"
        "test_np_kernels_match_expression_path",
    "hstream_spark.operators.similarity.sq_adc_topk":
        "tests/test_similarity.py::TestScalarQuantization::"
        "test_np_kernels_match_expression_path",
    "hstream_spark.operators.similarity.pq_encode":
        "tests/test_similarity.py::test_pq_encode_np_matches_expression_path",
    "hstream_spark.operators.similarity.semantic_dedup":
        "tests/test_similarity.py::"
        "test_semantic_dedup_np_matches_expression_path",
}


_PROGRAM_ROOTS = ("__spark_entry__.py", "bench.py", "examples", "tools",
                  "perfbench", "hstream_spark")


def _program_trees(repo) -> dict:
    """Module name -> parsed AST of every program file: the package and
    the scripts that drive it. Tests are not program."""
    import ast

    trees = {}
    for rel in _PROGRAM_ROOTS:
        path = repo / rel
        for f in [path] if path.is_file() else sorted(path.rglob("*.py")):
            mod = ".".join(f.relative_to(repo).with_suffix("").parts)
            trees[mod] = ast.parse(f.read_text())
    return trees


def _is_library(mod: str) -> bool:
    """Library modules hold the definitions the guards check; every
    other program module (``plans/`` included) is only a caller."""
    return mod.startswith("hstream_spark.") and not mod.startswith("hstream_spark.plans")


def _unreached_definitions(repo) -> list[str]:
    """Top-level functions, classes and methods under ``hstream_spark/``
    that no program root reaches by name.

    The roots are every name in ``__spark_entry__.py``, ``bench.py``,
    ``examples/``, ``tools/``, ``perfbench/`` and ``hstream_spark/plans/``,
    the ``@register``-ed catalog builders, ``HStreamEngine``'s public
    methods, module-level statements that run on import, and
    ``_REFERENCE_ONLY``. A reached definition reaches every name its
    body mentions (``x`` and ``obj.x`` alike); a method counts only once
    its class is reached, and a reached class reaches its dunders."""
    import ast

    def refs(nodes):
        out = set()
        for node in nodes:
            for sub in ast.walk(node):
                if isinstance(sub, ast.Name):
                    out.add(sub.id)
                elif isinstance(sub, ast.Attribute):
                    out.add(sub.attr)
        return out

    trees = _program_trees(repo)
    names: set[str] = set()
    for mod, tree in trees.items():
        if not _is_library(mod):
            names |= refs([tree])

    # key -> (name, owning class key or None, referenced names, reported)
    defs: dict[str, tuple] = {}
    reached: set[str] = set()
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for mod, tree in trees.items():
        if not _is_library(mod):
            continue
        for node in tree.body:
            key = f"{mod}.{getattr(node, 'name', '')}"
            if isinstance(node, funcs):
                defs[key] = (node.name, None, refs([node]), True)
                if any(isinstance(d, ast.Call)
                       and getattr(d.func, "id", None) == "register"
                       for d in node.decorator_list):
                    reached.add(key)
            elif isinstance(node, ast.ClassDef):
                body = [n for n in node.body if not isinstance(n, funcs)]
                head = node.bases + node.keywords + node.decorator_list
                defs[key] = (node.name, None, refs(head + body), True)
                for m in node.body:
                    if isinstance(m, funcs):
                        mkey = f"{key}.{m.name}"
                        defs[mkey] = (m.name, key, refs([m]), True)
                        if node.name == "HStreamEngine" and not m.name.startswith("_"):
                            reached |= {key, mkey}
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", [getattr(node, "target", None)])
                for t in targets:
                    if isinstance(t, ast.Name):
                        defs[f"{mod}.{t.id}"] = (t.id, None, refs([node]), False)
                    else:
                        names |= refs([node])
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                names |= refs([node])
    reached |= set(_REFERENCE_ONLY)
    for key in reached:
        names |= defs[key][2]
    grew = True
    while grew:
        grew = False
        for key, (name, owner, body, _) in defs.items():
            if key in reached or (owner is not None and owner not in reached):
                continue
            dunder = owner is not None and name.startswith("__") and name.endswith("__")
            if name in names or dunder:
                reached.add(key)
                names |= body
                grew = True
    return sorted(
        key for key, (_, owner, _, reported) in defs.items()
        if reported and key not in reached
        and (owner is None or owner in reached)
    )


def test_library_code_is_reached():
    """Library code that no program path reaches is not part of the
    engine: it is either deleted or the reference a named test compares
    a reached twin against (``_REFERENCE_ONLY``). A test alone does not
    keep a definition alive."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    unreached = _unreached_definitions(repo)
    assert not unreached, "no program path reaches:\n" + "\n".join(unreached)


# Branch-selecting parameters that no program caller sets, kept on
# purpose: each is a scale mode the named test drives at both settings.
_SCALE_MODES = {
    "hstream_spark.operators.relational.profile_table(approx_distinct)":
        "tests/test_plans.py::test_profile_table_approx_one_pass",
    "hstream_spark.operators.text.lm_bigram_cross_entropy(broadcast_bigrams)":
        "tests/test_plan_quality.py::test_bigram_lm_broadcast_gate",
    "hstream_spark.operators.text.lm_trigram_cross_entropy(broadcast_tables)":
        "tests/test_text_pipeline.py::test_trigram_lm_broadcast_gate",
}


def _unset_branch_parameters(repo) -> list[str]:
    """Defaulted parameters of library functions and methods that pick a
    code branch, yet no program call site passes.

    A parameter picks a branch when its name appears in the test of an
    ``if``, conditional expression or ``while``, a ``match`` subject, or
    an ``and``/``or`` operand inside its own function. A call site is any
    call by the function's name (``f(...)`` or ``obj.f(...)``) in a
    program module; it passes a parameter by keyword, by position, or
    through ``*args``/``**kwargs``. Constructors, ``HStreamEngine``'s
    public methods, ``_REFERENCE_ONLY`` and ``_SCALE_MODES`` are exempt."""
    import ast

    trees = _program_trees(repo)
    calls: dict[str, list[tuple[int, set, bool]]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                kws = {k.arg for k in node.keywords}
                spread = None in kws or any(isinstance(a, ast.Starred) for a in node.args)
                calls.setdefault(name, []).append((len(node.args), kws, spread))

    def tested(fn) -> set[str]:
        exprs = []
        for sub in ast.walk(fn):
            if isinstance(sub, (ast.If, ast.IfExp, ast.While)):
                exprs.append(sub.test)
            elif isinstance(sub, ast.Match):
                exprs.append(sub.subject)
            elif isinstance(sub, ast.BoolOp):
                exprs.extend(sub.values)
        return {n.id for e in exprs for n in ast.walk(e) if isinstance(n, ast.Name)}

    unset = []
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)

    def visit(node, prefix, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}.{child.name}", child)
            elif isinstance(child, funcs):
                key = f"{prefix}.{child.name}"
                visit(child, key, None)
                if (child.name == "__init__" or key in _REFERENCE_ONLY
                        or (owner is not None and owner.name == "HStreamEngine"
                            and not child.name.startswith("_"))):
                    continue
                a = child.args
                positional = [p.arg for p in a.posonlyargs + a.args]
                if owner is not None and not any(
                        getattr(d, "id", None) == "staticmethod" for d in child.decorator_list):
                    positional = positional[1:]
                defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
                defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                branch = tested(child)
                for p in defaulted:
                    label = f"{key}({p})"
                    if p not in branch or label in _SCALE_MODES:
                        continue
                    pos = positional.index(p) if p in positional else None
                    if not any(spread or p in kws or (pos is not None and n > pos)
                               for n, kws, spread in calls.get(child.name, [])):
                        unset.append(label)
            else:
                visit(child, prefix, owner)

    for mod, tree in trees.items():
        if _is_library(mod):
            visit(tree, mod, None)
    return sorted(unset)


def test_branch_parameters_are_set_by_program():
    """A parameter that selects a code branch earns its place only when
    some program call site passes it: otherwise every program path takes
    the default's side and the other side is reached only by tests.
    Inline the default and delete the branch it never takes."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    for test in _SCALE_MODES.values():
        path, name = test.split("::")
        assert f"def {name}(" in (repo / path).read_text(), test
    unset = _unset_branch_parameters(repo)
    assert not unset, "no program call site passes:\n" + "\n".join(unset)
