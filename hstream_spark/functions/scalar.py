"""The closed scalar-function inventory of the HStream SQL dialect.

Reference surface: hstream-sql/src/HStream/SQL/Codegen/{BinOp,UnaryOp,
TerOp,JsonOp,Cast}.hs (see docstrings per function for file:line).
Everything here compiles to built-in Catalyst expressions — JVM-side,
whole-stage-codegen'd, no Python in the execution path.

Semantics policy (recorded in SEMANTICS.md): deliberate dialect choices
of the reference are preserved (null-safe ``=``, float→int cast floors);
plain reference bugs (TAKEEND/DROP/DROPEND all behaving as TAKE,
MAX/MIN accumulator initialized to 0, COUNT(col) counting NULLs) are
fixed to their *declared* semantics, with the divergence documented.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Binary operators — Codegen/BinOp.hs:33-302
# ---------------------------------------------------------------------------


def eq(left: Column, right: Column) -> Column:
    """Null-safe equality: NULL = NULL is TRUE (BinOp.hs:116-118)."""
    return left.eqNullSafe(right)


def neq(left: Column, right: Column) -> Column:
    """Null-safe inequality (BinOp.hs:136-138)."""
    return ~left.eqNullSafe(right)


def ifnull(value: Column, fallback: Column) -> Column:
    """IFNULL(a, b) — 2-arg coalesce (BinOp.hs:241)."""
    return F.coalesce(value, fallback)


def nullif(value: Column, other: Column) -> Column:
    """NULLIF(a, b) — NULL when equal (BinOp.hs:243)."""
    return F.when(value.eqNullSafe(other), F.lit(None)).otherwise(value)


def array_contain(arr: Column, value: Column) -> Column:
    """ARRAY_CONTAIN(arr, v) (BinOp.hs:245)."""
    return F.array_contains(arr, value)


def array_except_(left: Column, right: Column) -> Column:
    """ARRAY_EXCEPT — nub(a) minus b, order-preserving (BinOp.hs:247-249)."""
    return F.array_except(left, right)


def array_intersect_(left: Column, right: Column) -> Column:
    """ARRAY_INTERSECT — nub of intersection (BinOp.hs:251-253)."""
    return F.array_intersect(left, right)


def array_remove_(arr: Column, value: Column) -> Column:
    """ARRAY_REMOVE(arr, v) (BinOp.hs:255)."""
    return F.array_remove(arr, value)


def array_union_(left: Column, right: Column) -> Column:
    """ARRAY_UNION — nub(a ++ b) (BinOp.hs:257-259)."""
    return F.array_union(left, right)


def array_join_(arr: Column, sep: str | None = None) -> Column:
    """ARRAY_JOIN(arr[, sep]) (BinOp.hs:261-263, UnaryOp.hs:324)."""
    return F.array_join(arr, sep if sep is not None else "")


def split(delim: Column | str, text: Column) -> Column:
    """SPLIT(delim, s) — literal (non-regex) delimiter split (BinOp.hs:265-272).

    Spark's F.split takes a regex, so the delimiter is regex-escaped;
    stays JVM-side via regexp machinery.
    """
    import re

    if not isinstance(delim, str):
        raise TypeError("SPLIT delimiter must be a literal string")
    return F.split(text, re.escape(delim))


def _count_col(n: int | Column) -> Column:
    """Dialect count arguments may be any integer expression, not just
    literals; negatives clamp to 0 (Haskell take/drop semantics)."""
    c = F.lit(n) if isinstance(n, int) else n
    return F.greatest(c.cast("int"), F.lit(0))


def chunksof(n: int | Column, text: Column) -> Column:
    """CHUNKSOF(n, s) — string to array of n-char chunks (BinOp.hs:274-278).

    Expressed as a regexp_extract_all of `.{1,n}` — JVM-side, handles the
    ragged tail chunk like Haskell's chunksOf.
    """
    pattern = F.concat(F.lit("(.{1,"), _count_col(n).cast("string"), F.lit("})"))
    return F.regexp_extract_all(text, pattern, F.lit(1))


def take(n: int | Column, text: Column) -> Column:
    """TAKE(n, s) — first n chars (BinOp.hs:286-288)."""
    return F.substr(text, F.lit(1), _count_col(n))


def takeend(n: int | Column, text: Column) -> Column:
    """TAKEEND(n, s) — last n chars.

    Declared semantics; the reference accidentally implements this as
    T.take (BinOp.hs:290-294) — divergence documented in SEMANTICS.md.
    """
    nn = _count_col(n)
    # explicit start offset: substr with a negative position treats
    # -0 as position 0 (whole string), so derive start from length
    start = F.greatest(F.length(text) - nn + 1, F.lit(1))
    return F.when(nn <= 0, F.lit("")).otherwise(F.substr(text, start, nn))


def drop(n: int | Column, text: Column) -> Column:
    """DROP(n, s) — all but first n chars (declared semantics; ref bug as above)."""
    return F.substr(text, _count_col(n) + 1, F.lit(2147483647))


def dropend(n: int | Column, text: Column) -> Column:
    """DROPEND(n, s) — all but last n chars (declared semantics; ref bug as above)."""
    return F.substr(
        text, F.lit(1), F.greatest(F.length(text) - _count_col(n), F.lit(0))
    )


def datetostring(epoch_s: Column, fmt: str) -> Column:
    """DATETOSTRING(int, fmt) — epoch seconds → formatted GMT string (Codegen/Utils.hs dateToStrGMT)."""
    return F.from_unixtime(epoch_s.cast("long"), fmt)


def stringtodate(text: Column, fmt: str) -> Column:
    """STRINGTODATE(s, fmt) — parse → epoch seconds (Codegen/Utils.hs strToDateGMT)."""
    return F.unix_timestamp(text, fmt)


# ---------------------------------------------------------------------------
# Ternary operators — Codegen/TerOp.hs:34-103
# ---------------------------------------------------------------------------


def between(value: Column, low: Column, high: Column) -> Column:
    """BETWEEN AND (TerOp.hs:39-47)."""
    return value.between(low, high)


def not_between(value: Column, low: Column, high: Column) -> Column:
    return ~value.between(low, high)


def between_symmetric(value: Column, a: Column, b: Column) -> Column:
    """BETWEEN SYMMETRIC AND — bounds swapped if needed (TerOp.hs:95-103)."""
    return value.between(F.least(a, b), F.greatest(a, b))


# ---------------------------------------------------------------------------
# Unary operators — Codegen/UnaryOp.hs:33-358
# ---------------------------------------------------------------------------

# trig family (UnaryOp.hs:93-173): direct Catalyst equivalents. Spark
# returns NaN/NULL out of domain where the reference raises; we keep
# Spark behavior (SEMANTICS.md).
sin = F.sin
sinh = F.sinh
asin = F.asin
asinh = F.asinh
cos = F.cos
cosh = F.cosh
acos = F.acos
acosh = F.acosh
tan = F.tan
tanh = F.tanh
atan = F.atan
atanh = F.atanh


def abs_(value: Column) -> Column:
    return F.abs(value)


def ceil(value: Column) -> Column:
    """CEIL → integer-typed (UnaryOp.hs:179-183)."""
    return F.ceil(value).cast("long")


def floor(value: Column) -> Column:
    """FLOOR → integer-typed (UnaryOp.hs:175-177)."""
    return F.floor(value).cast("long")


def round_(value: Column) -> Column:
    """ROUND → integer-typed, half-even like Haskell `round` (UnaryOp.hs:185-191).

    Spark's F.round is half-up; Haskell rounds half-to-even. We use
    `bround` (banker's rounding) to match the reference exactly.
    """
    return F.bround(value).cast("long")


def sign(value: Column) -> Column:
    """SIGN → ±1/0 integer (UnaryOp.hs:199-209)."""
    return F.signum(value).cast("long")


sqrt = F.sqrt
exp = F.exp


def log_(value: Column) -> Column:
    """LOG — natural log (UnaryOp.hs:219-227)."""
    return F.log(value)


log2 = F.log2
log10 = F.log10


def to_str(value: Column) -> Column:
    """TO_STR — Haskell `show`-ish string form (UnaryOp.hs:282-284)."""
    return value.cast("string")


to_lower = F.lower
to_upper = F.upper
trim = F.trim
left_trim = F.ltrim
right_trim = F.rtrim
reverse_ = F.reverse
strlen = F.length

array_distinct_ = F.array_distinct
array_length = F.size
array_max_ = F.array_max
array_min_ = F.array_min


def array_sort_(arr: Column) -> Column:
    """ARRAY_SORT ascending (UnaryOp.hs:349-352)."""
    return F.sort_array(arr)


# ---------------------------------------------------------------------------
# JSON operators — Codegen/JsonOp.hs:32-84 (grammar SQL-v1.cf:278-281)
# ---------------------------------------------------------------------------


def json_get(col: Column, key: str) -> Column:
    """``->`` — field access returning JSON value as string (JsonOp.hs:38-46).

    On string-typed JSON columns; stays JVM-side via get_json_object.
    """
    return F.get_json_object(col, f"$.{key}")


def json_get_text(col: Column, key: str) -> Column:
    """``->>`` — field as text (JsonOp.hs:48-56)."""
    return F.get_json_object(col, f"$.{key}")


def json_path(col: Column, path: list[str | int]) -> Column:
    """``#>`` — path access; elements are keys or array indexes (JsonOp.hs:62-80)."""
    expr = "$" + "".join(f"[{p}]" if isinstance(p, int) else f".{p}" for p in path)
    return F.get_json_object(col, expr)


json_path_text = json_path  # ``#>>`` — same extraction, text form


# ---------------------------------------------------------------------------
# Array access — SQL-v1.cf:204-209, Codegen/Common.hs:72-86
# ---------------------------------------------------------------------------


def array_index(arr: Column, i: int) -> Column:
    """arr[i] — 0-based (Common.hs:75-78); Spark element_at is 1-based."""
    return F.element_at(arr, i + 1)


def array_slice(arr: Column, start: int | None, end: int | None) -> Column:
    """arr[i:j] — 0-based, inclusive end (Common.hs:79-86)."""
    lo = 0 if start is None else start
    if end is None:
        return F.slice(arr, lo + 1, F.size(arr) - lo)
    return F.slice(arr, lo + 1, max(end - lo + 1, 0))


# ---------------------------------------------------------------------------
# CAST — Codegen/Cast.hs:52-258
# ---------------------------------------------------------------------------


def cast_int(value: Column) -> Column:
    """CAST(x AS INTEGER): float→int **floors** (Cast.hs:91), bool→1/0,
    text parses (Cast.hs:96-104)."""
    return F.floor(value.cast("double")).cast("long")


def cast_float(value: Column) -> Column:
    return value.cast("double")


def cast_text(value: Column) -> Column:
    """CAST(x AS STRING): NULL → literal 'NULL' string (Cast.hs:152)."""
    return F.coalesce(value.cast("string"), F.lit("NULL"))


def cast_bool(value: Column) -> Column:
    """CAST(text AS BOOLEAN) accepts TRUE/FALSE/T/F/numeric (Cast.hs:131-138)."""
    s = F.upper(F.trim(value.cast("string")))
    return (
        F.when(s.isin("TRUE", "T", "YES", "ON", "1"), F.lit(True))
        .when(s.isin("FALSE", "F", "NO", "OFF", "0"), F.lit(False))
        .otherwise(value.cast("boolean"))
    )
