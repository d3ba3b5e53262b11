"""Local mirror of the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry and its ``oracle_sql()``
DuckDB equivalent side-by-side at sf0.01 (configurable), compares row
count, column names, and order-insensitive values (columns sorted by
name, rows sorted by all columns). Strictly stronger than a hash
compare — on mismatch it prints the first differing rows.

Usage: python tools/check.py [--strict] [--sf N] [query ...]
       (no args = all queries)

``--sf N`` points both engines at a different scale: 0.001/0.01/0.1
resolve to /root/testdata/sfN, and 1 resolves to the replica-expanded
<repo>/.scale/sf1 built by tools/gen_scale_data.py — the sf1 STRICT
gate the round-10 verdict asked for: the sweep checks time at scale,
this checks VALUES at scale (the capped dedup/ANN shapes change their
candidate sets exactly when buckets overflow, which only happens at
the bigger SF). $SPARK_GRAFT_SF_DIR_CHECK still overrides everything.

``--strict`` mirrors the driver's byte-exact hash gate instead of the
tolerant local compare: floats must match to the last bit, any
list/array-typed output cell is an error (the driver's canonicalizer
crashes on unhashable cells), and the canonicalized dtypes of the two
frames must agree (int64-vs-float64 representation differences change
the driver's hash even when values are numerically equal). Tier-1
(``tests/test_catalog_oracle.py``) runs this strict compare over the
whole catalog at sf0.01 on every run; this script covers other scales.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def strict_hazards(side: str, pdf: pd.DataFrame) -> list[str]:
    """Driver-gate hazards: list-typed cells crash the driver's
    canonicalizer (pandas sort_values -> unhashable type)."""
    out = []
    for c in pdf.columns:
        if pdf[c].dtype == object:
            sample = pdf[c].dropna().head(50)
            if any(isinstance(v, (list, np.ndarray, dict)) for v in sample):
                out.append(
                    f"{side} col {c}: list/dict-typed cells — the driver's "
                    "canonicalizer crashes on these; serialize at the query edge"
                )
    return out


def values_equal(a, b, strict: bool = False) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if strict:
            return a == b
        # last-ulp tolerance: Spark and DuckDB convert the SAME exact
        # decimal to double with different roundings on some values
        # (e.g. DuckDB's decimal->double divides in double space); a
        # <=1e-12 relative difference is a representation artifact, not
        # a wrong answer. The driver's sf0.01 gate stays byte-exact —
        # this only widens the local mirror, where alternate-SF sweeps
        # surface the artifact (verified <=1 ulp on every case found).
        return a == b or abs(a - b) <= 1e-12 * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y, strict) for x, y in zip(a, b))
    if (a is None or a != a) and (b is None or b != b):  # NaN/None cross
        return True
    return a == b


def compare(
    name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, strict: bool = False
) -> list[str]:
    issues = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        issues.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return issues
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if strict:
        issues += strict_hazards("spark", spark_pdf)
        issues += strict_hazards("duck", duck_pdf)
        if issues:
            return issues
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if strict:
        for c in s.columns:
            if str(s[c].dtype) != str(d[c].dtype):
                issues.append(
                    f"dtype of {c}: spark={s[c].dtype} duck={d[c].dtype} — "
                    "numerically-equal values in different representations "
                    "hash differently at the driver gate"
                )
        if issues:
            return issues
    n = min(len(s), len(d))
    mismatches = 0
    for i in range(n):
        for c in s.columns:
            if not values_equal(s[c].iloc[i], d[c].iloc[i], strict):
                mismatches += 1
                if mismatches <= 3:
                    issues.append(f"row {i} col {c}: spark={s[c].iloc[i]!r} duck={d[c].iloc[i]!r}")
    if mismatches > 3:
        issues.append(f"... {mismatches} mismatched cells total")
    return issues


def main() -> int:
    import __spark_entry__ as entry
    from hstream_spark import get_spark

    argv = sys.argv[1:]
    strict = "--strict" in argv
    argv = [a for a in argv if a != "--strict"]
    sf_dir = SF_DIR
    if "--sf" in argv:
        i = argv.index("--sf")
        if i + 1 >= len(argv):
            print("usage: check.py [--strict] [--sf N] [query ...] "
                  "(--sf needs a value, e.g. --sf 0.01)")
            return 2
        sf = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
        if "SPARK_GRAFT_SF_DIR_CHECK" not in os.environ:
            if sf in ("0.001", "0.01", "0.1"):
                sf_dir = os.path.join(os.path.dirname(SF_DIR), f"sf{sf}")
            else:
                repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
                sf_dir = os.path.join(repo, ".scale", f"sf{sf}")
                if not os.path.isdir(sf_dir):
                    print(
                        f"--sf {sf}: {sf_dir} missing — generate it first:\n"
                        f"  python tools/gen_scale_data.py /root/testdata/sf0.1 "
                        f"{sf_dir} {int(float(sf) * 10)}"
                    )
                    return 2
    print(f"sf_dir={sf_dir} strict={strict}")
    only = set(argv)
    spark = get_spark("check")
    con = oracle_db(sf_dir)

    oracles = entry.oracle_sql()
    failed, passed = [], []
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"✗ {name}: SPARK ERROR {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"✗ {name}: DUCKDB ERROR {str(e).splitlines()[0][:200]}")
            continue
        issues = compare(name, spark_pdf, duck_pdf, strict)
        if issues:
            failed.append(name)
            print(f"✗ {name}: {len(spark_pdf)} rows")
            for msg in issues[:6]:
                print(f"    {msg}")
        else:
            passed.append(name)
            print(f"✓ {name}: {len(spark_pdf)} rows")
    print(f"\n{len(passed)} passed, {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
