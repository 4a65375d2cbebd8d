"""Portable expressions: the draw and the VARCHAR hops.

Exact engine/oracle parity rests on two devices, each written here once
as an engine (Column) form and its DuckDB SQL twin.

The salted-SHA-256 draw. A query that needs randomness hashes a salted
key instead of calling an RNG: sha256 of the key (the reference's own
cache-key hash), the first ``digits`` hex digits read as a base-16
integer. That is a bucket (``% 100``, ``% 16``) or, at 8 digits, the
uniform ``(k + 1) / 4294967297`` in (0, 1), a DOUBLE on both engines.
The draw is a pure function of the key, so it is the same across
reruns, partitionings and engines. The caller builds the salted key
(a string Column, or a SQL VARCHAR expression); a salt prefix keeps
draws of the same ids independent. A NULL key draws NULL.

The VARCHAR hops. DuckDB's DECIMAL->DOUBLE cast rounds twice (int128
to double, then the division by 10^s), so past 2^53 it can land an
ulp off the correctly-rounded value that Spark's decimal->double cast
gives. Going through the shortest string (strtod rounds the exact
value once) gives Spark's double: `vh`. `vd` is the hop into a
DECIMAL(p, s): Spark quantizes a double through its shortest decimal
string (BigDecimal), DuckDB's direct cast rounds the scaled binary
value, and the two disagree on ties such as a cents-exact mean landing
on .xx5. Through the string, DuckDB quantizes the same digits. The
hops are oracle-side only; the engine needs none.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_int(key: Column, digits: int) -> Column:
    """The first `digits` hex digits of sha256(`key`) as a BIGINT."""
    return F.conv(F.substring(F.sha2(key, 256), 1, digits), 16, 10).cast("bigint")


def hash_int_sql(key: str, digits: int) -> str:
    """The DuckDB twin of `hash_int`."""
    return f"CAST(('0x' || substr(sha256({key}), 1, {digits})) AS BIGINT)"


def uniform(key: Column) -> Column:
    """The DOUBLE uniform (k + 1) / (2^32 + 1) of the 8-digit draw k."""
    return (hash_int(key, 8) + 1) / F.lit(4294967297.0)


def uniform_sql(key: str) -> str:
    """The DuckDB twin of `uniform`."""
    return f"({hash_int_sql(key, 8)} + 1) / 4294967297.0"


def vh(x: str) -> str:
    """SQL `x` (a DECIMAL) as the correctly-rounded DOUBLE."""
    return f"CAST(CAST({x} AS VARCHAR) AS DOUBLE)"


def vd(x: str, p: int, s: int) -> str:
    """SQL `x` quantized to DECIMAL(`p`, `s`) through its string."""
    return f"CAST(CAST({x} AS VARCHAR) AS DECIMAL({p},{s}))"
