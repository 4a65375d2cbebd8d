"""The portable-expression device (`operators/portable.py`).

The engine forms and their DuckDB twins must agree bit for bit: the
salted-SHA-256 draw on any key (NULL, negative, past 2^32, multi-part
salts), and `vh` on a DECIMAL sum where DuckDB's direct cast is an ulp
off. A source guard keeps the devices of `operators/` (these, the
similarity device's cosine, and the events device's session gap and
life table) from being re-derived elsewhere.
"""

from __future__ import annotations

import math
import os
import re
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ocean_data_pipeline_spark.operators.portable import (
    hash_int,
    hash_int_sql,
    uniform,
    uniform_sql,
    vd,
    vh,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ocean_data_pipeline_spark",
)

#: (id, b) keys: a few hundred ordinary ids, the 2^32 boundary and
#: beyond, negatives, and NULLs in either part of the salt.
_IDS = (
    list(range(300))
    + [2**31 - 1, 2**31, 2**32 - 1, 2**32, 2**32 + 1, 2**40 + 7, 2**62 + 3]
    + [-1, -(2**33)]
)
_KEYS = [(i, i % 7) for i in _IDS] + [(None, 1), (5, None), (None, None)]


def _duck_keys(con):
    def lit(v):
        return "NULL" if v is None else str(v)

    rows = ", ".join(f"({lit(i)}, {lit(b)})" for i, b in _KEYS)
    con.execute(
        f"CREATE TABLE k AS SELECT CAST(i AS BIGINT) AS id, CAST(b AS BIGINT) AS b "
        f"FROM (VALUES {rows}) v(i, b)"
    )


def test_draw_is_bit_identical_on_both_engines(spark):
    schema = StructType(
        [StructField("id", LongType(), True), StructField("b", LongType(), True)]
    )
    df = spark.createDataFrame(_KEYS, schema)
    one = F.concat(F.lit("t_"), F.col("id").cast("string"))
    two = F.concat(
        F.lit("u_"), F.col("id").cast("string"), F.lit("_"), F.col("b").cast("string")
    )
    out = df.select(
        "id",
        "b",
        hash_int(one, 6).alias("h6"),
        hash_int(one, 8).alias("h8"),
        hash_int(two, 6).alias("m6"),
        uniform(one).alias("u1"),
        uniform(two).alias("u2"),
    )
    assert out.schema["u1"].dataType == DoubleType()
    assert out.schema["h8"].dataType == LongType()
    got = sorted(out.collect(), key=lambda r: (r.id is None, r.id, r.b is None, r.b))

    one_sql = "'t_' || CAST(id AS VARCHAR)"
    two_sql = "'u_' || CAST(id AS VARCHAR) || '_' || CAST(b AS VARCHAR)"
    con = duckdb.connect()
    _duck_keys(con)
    cur = con.execute(
        f"""SELECT id, b,
                   {hash_int_sql(one_sql, 6)}, {hash_int_sql(one_sql, 8)},
                   {hash_int_sql(two_sql, 6)},
                   {uniform_sql(one_sql)}, {uniform_sql(two_sql)}
            FROM k ORDER BY id NULLS LAST, b NULLS LAST"""
    )
    want = cur.fetchall()
    types = con.execute(
        f"SELECT DISTINCT typeof({uniform_sql(one_sql)}),"
        f" typeof({hash_int_sql(one_sql, 8)}) FROM k"
    ).fetchall()
    con.close()
    assert types == [("DOUBLE", "BIGINT")]

    assert len(got) == len(want) == len(_KEYS)
    for g, w in zip(got, want):
        assert tuple(g)[:5] == w[:5], (tuple(g), w)
        for a, b in zip(tuple(g)[5:], w[5:]):
            assert (a is None and b is None) or a.hex() == b.hex(), (tuple(g), w)
    # NULL in any part of the key draws NULL; ids past 2^32 draw normally
    nulls = [r for r in got if r.id is None or r.b is None]
    assert all(r.u2 is None and r.m6 is None for r in nulls)
    assert all(0.0 < r.u1 < 1.0 for r in got if r.id is not None)
    assert all(r.h8 is not None for r in got if r.id is not None and r.id >= 2**32)


#: 2 x 16134885559116110.91 = 32269771118232221.82, past 2^53: DuckDB's
#: direct cast (int128 -> double, then / 100) lands one ulp off the
#: correctly-rounded double.
_HALF = Decimal("16134885559116110.91")


def test_vh_matches_spark_where_duckdb_direct_cast_is_off(spark):
    schema = StructType([StructField("x", DecimalType(19, 2), False)])
    sdf = spark.createDataFrame([(_HALF,), (_HALF,)], schema)
    spark_double = sdf.agg(F.sum("x").cast("double").alias("s")).first().s

    con = duckdb.connect()
    direct, hopped = con.execute(
        f"""SELECT CAST(sum(x) AS DOUBLE), {vh("sum(x)")}
            FROM (VALUES (CAST('{_HALF}' AS DECIMAL(19,2))),
                         (CAST('{_HALF}' AS DECIMAL(19,2)))) v(x)"""
    ).fetchone()
    con.close()

    exact = 2 * _HALF
    assert exact > 2**53
    assert spark_double.hex() == hopped.hex() == float(exact).hex()
    assert abs(direct - hopped) == math.ulp(hopped)


#: The shortest string of this double ends in a 5 at the 13th decimal:
#: DuckDB's direct cast to DECIMAL(18,12) rounds the binary value down,
#: Spark quantizes the string half-up.
_TIE = -4.6898824853025


def test_vd_matches_spark_where_duckdb_direct_cast_is_off(spark):
    schema = StructType([StructField("x", DoubleType(), False)])
    sdf = spark.createDataFrame([(_TIE,)], schema)
    spark_dec = sdf.select(F.col("x").cast("decimal(18,12)").alias("d")).first().d

    con = duckdb.connect()
    direct, hopped = con.execute(
        f"SELECT CAST(x AS DECIMAL(18,12)), {vd('x', 18, 12)}"
        f" FROM (VALUES (CAST({_TIE!r} AS DOUBLE))) v(x)"
    ).fetchone()
    con.close()

    assert spark_dec == hopped == Decimal("-4.689882485303")
    assert direct == Decimal("-4.689882485302")


#: (device module, spellings that re-derive its device): the draw's
#: scaling constant and the VARCHAR hops live in `portable.py`; the
#: cosine quotient (the oracle's and the engine's inline norm) in
#: `similarity.py`, whose `cosine`, `cosine_pre`, `norm` and SQL twins
#: everything else calls; the 30-minute session gap and the hours to
#: first purchase in `events.py`; the value-census selections (kth,
#: quantile) and the doubled midrank, engine and SQL spellings, in
#: `ranks.py`.
_DEVICES = {
    "portable": (
        os.path.join("operators", "portable.py"),
        ("4294967297", "AS VARCHAR) AS DOUBLE", "AS VARCHAR) AS DECIMAL"),
    ),
    "similarity": (
        os.path.join("operators", "similarity.py"),
        ("/ (sqrt(list_dot_product(", "F.sqrt(dot("),
    ),
    "events": (
        os.path.join("operators", "events.py"),
        (
            "INTERVAL 30 MINUTE",
            "30 * 60",
            "date_diff('microsecond', u.t0, p.tp)",
            'unix_micros("tp")',
        ),
    ),
    "ranks": (
        os.path.join("operators", "ranks.py"),
        (
            'F.when(F.col("cn") >=',
            '* F.col("cn") >=',
            '* F.col("cw") >=',
            '* F.col("ck") >=',
            "CASE WHEN cn >=",
            "* cn >=",
            "2 * cw >=",
            "* ck >=",
            "2 * F.coalesce(F.sum(",
            "2 * (sum(",
        ),
    ),
}


@pytest.mark.parametrize("device", sorted(_DEVICES))
def test_devices_are_not_rewritten_outside_their_module(device):
    """Regrowth guard: each device is spelled only in its own module
    (whitespace-normalized, so a re-wrapped copy still matches)."""
    module, banned = _DEVICES[device]
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(module):
                continue
            text = re.sub(r"\s+", " ", open(path, encoding="utf-8").read())
            offenders += [(os.path.relpath(path, PKG), b) for b in banned if b in text]
    assert not offenders, offenders
