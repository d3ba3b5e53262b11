"""Extended-JSON wire-format ingestion (the reference's runtime record
encoding).

The reference's dynamic records serialize every non-trivial scalar as a
Mongo-style wrapper object (hstream-sql/src/HStream/SQL/Rts/Old.hs:
134-198, ``flowValueToJsonValue`` / ``jsonValueToFlowValue``):

- ``{"$numberLong": "42"}``                       → INTEGER
- ``{"$numberDouble": "1.5"}``                    → FLOAT
- ``{"$binary": {"base64": "...", "subType": "00"}}`` → BYTEA
- ``{"$date": "2024-01-01"}``                     → DATE (ISO8601)
- ``{"$time": "12:34:56"}``                       → TIME
- ``{"$timestamp": "2024-01-01T00:00:00Z"}``      → TIMESTAMP
- ``{"$interval": "P1DT2H"}``                     → INTERVAL (ISO8601)
- plain bool / string / number / array            → themselves
- any other object                                → nested document (JSONB)

Anyone feeding real hstream (or MongoDB CDC) records hits this format
on day one, so the scan layer must lower it to typed columns.

Spark-first design: the record parses ONCE with ``from_json`` into
``map<string,string>`` — Spark's Jackson path captures nested objects
as their raw JSON text and unquotes plain strings — then each declared
field applies a per-type Catalyst decoder (a ``from_json`` on the tiny
wrapper + fallback cast for the plain spelling). Everything stays in
whole-stage codegen: no Python in the row path, map-only at any scale,
and unreferenced fields are never decoded (column pruning applies to
the map lookups).

The reference REJECTS malformed wrappers at ingestion (RefineException,
Old.hs:171-198). A distributed scan cannot throw per-row without
killing the job, so malformed wrappers decode to NULL — the standard
PERMISSIVE-mode trade.
"""

from __future__ import annotations

import base64 as _b64
from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _wrapped(raw: Column, key: str) -> Column:
    """The wrapper payload string, NULL when ``raw`` isn't that wrapper."""
    return F.from_json(raw, f"struct<`{key}`:string>")[key]


def ej_long(raw: Column) -> Column:
    """INTEGER: ``{"$numberLong": "42"}`` or a plain JSON number."""
    return F.coalesce(
        _wrapped(raw, "$numberLong").try_cast("long"), raw.try_cast("long")
    )


def ej_double(raw: Column) -> Column:
    """FLOAT: ``{"$numberDouble": "1.5"}`` or a plain JSON number."""
    return F.coalesce(
        _wrapped(raw, "$numberDouble").try_cast("double"), raw.try_cast("double")
    )


def ej_bool(raw: Column) -> Column:
    return raw.try_cast("boolean")


def ej_text(raw: Column) -> Column:
    # plain JSON strings arrive already unquoted from the map parse
    return raw


def ej_binary(raw: Column) -> Column:
    """BYTEA: ``{"$binary": {"base64": ..., "subType": ...}}`` → bytes."""
    payload = F.from_json(
        raw, "struct<`$binary`:struct<base64:string,subType:string>>"
    )["$binary"]["base64"]
    return F.unbase64(payload)


def ej_date(raw: Column) -> Column:
    return F.coalesce(_wrapped(raw, "$date").try_cast("date"), raw.try_cast("date"))


def ej_time(raw: Column) -> Column:
    # TIME has no Spark type (runtime maps TIME→STRING); keep the text
    return F.coalesce(_wrapped(raw, "$time"), raw)


def ej_timestamp(raw: Column) -> Column:
    return F.coalesce(
        _wrapped(raw, "$timestamp").try_cast("timestamp"), raw.try_cast("timestamp")
    )


def ej_interval(raw: Column) -> Column:
    # ISO8601 duration text; consumers cast with make_interval / expr
    return F.coalesce(_wrapped(raw, "$interval"), raw)


def ej_jsonb(raw: Column) -> Column:
    # nested document (FlowSubObject) — stays a JSONB string column,
    # matching the engine's JSONB=string policy (json ops reach inside)
    return raw


DECODERS = {
    "INTEGER": ej_long,
    "FLOAT": ej_double,
    "BOOLEAN": ej_bool,
    "STRING": ej_text,
    "BYTEA": ej_binary,
    "DATE": ej_date,
    "TIME": ej_time,
    "TIMESTAMP": ej_timestamp,
    "INTERVAL": ej_interval,
    "JSONB": ej_jsonb,
}


def decode_record(
    df: DataFrame,
    payload_col: str,
    fields: Mapping[str, str],
    keep: list[str],
) -> DataFrame:
    """Lower an extended-JSON record column into typed columns, after
    the ``keep`` columns of ``df``.

    ``fields`` maps output column name → logical type (the DDL names:
    INTEGER/FLOAT/BOOLEAN/STRING/BYTEA/DATE/TIME/TIMESTAMP/INTERVAL/
    JSONB). One ``from_json`` pass over the record; per-field decoders
    are scalar Catalyst expressions on the map entries.
    """
    raw = F.from_json(F.col(payload_col), "map<string,string>")
    cols = [F.col(c) for c in keep]
    for name, ltype in fields.items():
        if ltype not in DECODERS:
            raise ValueError(f"unknown logical type {ltype!r} for field {name!r}")
        cols.append(DECODERS[ltype](raw[name]).alias(name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# encode side (flowValueToJsonValue): typed columns -> wire record
# ---------------------------------------------------------------------------


def _enc_long(c: Column) -> Column:
    return F.struct(c.cast("string").alias("$numberLong"))


def _enc_double(c: Column) -> Column:
    return F.struct(c.cast("string").alias("$numberDouble"))


def _enc_binary(c: Column) -> Column:
    return F.struct(
        F.struct(
            F.base64(c).alias("base64"), F.lit("00").alias("subType")
        ).alias("$binary")
    )


def _enc_date(c: Column) -> Column:
    return F.struct(F.date_format(c, "yyyy-MM-dd").alias("$date"))


def _enc_timestamp(c: Column) -> Column:
    return F.struct(
        F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("$timestamp")
    )


ENCODERS = {
    "INTEGER": _enc_long,
    "FLOAT": _enc_double,
    "BOOLEAN": lambda c: c,
    "STRING": lambda c: c,
    "BYTEA": _enc_binary,
    "DATE": _enc_date,
    "TIMESTAMP": _enc_timestamp,
}


def encode_record(df: DataFrame, fields: Mapping[str, str], out: str = "payload") -> DataFrame:
    """Serialize typed columns into one extended-JSON record column —
    the wire shape the reference emits to sinks (flowValueToJsonValue).
    ``to_json`` of nested structs: map-only, codegen'd."""
    parts = []
    for name, ltype in fields.items():
        if ltype not in ENCODERS:
            raise ValueError(f"unencodable logical type {ltype!r} for {name!r}")
        parts.append(ENCODERS[ltype](F.col(name)).alias(name))
    return df.withColumn(out, F.to_json(F.struct(*parts)))


# ---------------------------------------------------------------------------
# driver-side single-record decode (INSERT VALUES path)
# ---------------------------------------------------------------------------


def decode_python_value(v):
    """Recursive extended-JSON decode of one already-json.loads'd value —
    the INSERT VALUES ingestion path (one record, driver-side), matching
    jsonValueToFlowValue including its reject-on-malformed behavior."""
    if isinstance(v, dict):
        if set(v) == {"$numberLong"}:
            return int(v["$numberLong"])  # ValueError on junk = RefineException
        if set(v) == {"$numberDouble"}:
            return float(v["$numberDouble"])
        if set(v) == {"$binary"}:
            return _b64.b64decode(v["$binary"]["base64"])
        if set(v) == {"$date"}:
            return v["$date"]
        if set(v) == {"$time"}:
            return v["$time"]
        if set(v) == {"$timestamp"}:
            return v["$timestamp"]
        if set(v) == {"$interval"}:
            return v["$interval"]
        return {k: decode_python_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [decode_python_value(x) for x in v]
    return v
