"""Measured scaling probe: run representative operators on the sf0.1
tables at 1x and on a 10x self-unioned copy (ids offset to stay
unique), and report the wall-time ratio. Linear-plan operators should
scale at or below the 10x data ratio (fixed job overhead amortizes);
anything super-linear is a plan bug this probe exists to catch.

The probe exercises the OPERATOR layer (DataFrame-parametric
functions), not the registry — the registry's (spark, sf_dir) contract
reads fixed paths, while the operator API is what a user composes at
arbitrary scale.

Usage: python tools/scale_probe.py  [writes SCALE.md]
"""

from __future__ import annotations

import os
import sys
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from ocean_data_pipeline_spark.catalog import table  # noqa: E402
from ocean_data_pipeline_spark.operators.graph import (  # noqa: E402
    copurchase_edges,
    degree_census,
    orient_by_degree,
    symmetrize,
    wedge_pair_census,
)
from ocean_data_pipeline_spark.operators.monthly import (  # noqa: E402
    monthly_revenue,
    year_month,
)
from ocean_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
REPEATS = 3


def replicate(df: DataFrame, id_col: str | list[str], copies: int) -> DataFrame:
    """Self-union `copies` times with the id column(s) offset per copy
    so keys stay unique ACROSS copies (multi-column form keeps e.g.
    graph copies disjoint in both endpoints)."""
    id_cols = [id_col] if isinstance(id_col, str) else id_col
    parts = [
        df.withColumns(
            {c: F.col(c) + F.lit(i * 10_000_000) for c in id_cols}
        )
        for i in range(copies)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def time_op(build) -> float:
    best = float("inf")
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    spark = get_spark("scale-probe")
    docs1 = table(spark, SF_DIR, "documents", spread=True)
    li1 = table(spark, SF_DIR, "lineitem", spread=True)
    docs10 = replicate(docs1, "doc_id", COPIES)
    li10 = replicate(li1, "l_orderkey", COPIES)
    li10g = replicate(li1, ["l_orderkey", "l_partkey"], COPIES)
    ord1 = table(spark, SF_DIR, "orders", spread=True)
    ord10 = replicate(ord1, "o_custkey", COPIES)

    from ocean_data_pipeline_spark.operators.dedup import exact_dedup
    from ocean_data_pipeline_spark.operators.chunking import chunk_by_tokens

    def dedup(d):
        return lambda: exact_dedup(d, "text", "doc_id").groupBy().count()

    def token_census(d):
        return lambda: (
            d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"))
            .groupBy("t")
            .count()
        )

    def q1_agg(li):
        return lambda: (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sp"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def chunk(d):
        return lambda: chunk_by_tokens(d, window=32, stride=32).groupBy().count()

    ev1 = table(spark, SF_DIR, "events", spread=True)
    ev10 = replicate(ev1, "user_id", COPIES)  # 10x USERS → 10x keyed state

    from ocean_data_pipeline_spark.operators.text import tokens

    def gopher_rules(d):
        def build():
            arr = tokens(F.lower(F.col("text")))
            g2 = F.transform(
                F.sequence(F.lit(0), F.size("arr") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("arr", i + 1), F.element_at("arr", i + 2)
                ),
            )
            staged = (
                d.select("source", arr.alias("arr"))
                .filter(F.size("arr") >= 2)
                .select("source", g2.alias("g2"))
            )
            top = F.array_max(
                F.transform(
                    F.array_distinct("g2"),
                    lambda x: F.size(F.filter("g2", lambda y: y == x)),
                )
            )
            return staged.select(
                "source", (top.cast("double") / F.size("g2")).alias("f")
            ).groupBy("source").agg(F.avg("f"))

        return build

    def bigram_lm(d):
        def build():
            arr = tokens(F.lower(F.col("text")))
            base = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
                "doc_id", arr.alias("arr")
            )
            pairs = F.transform(
                F.sequence(F.lit(0), F.size("arr") - 2),
                lambda i: F.struct(
                    F.element_at("arr", i + 1).alias("w1"),
                    F.element_at("arr", i + 2).alias("w2"),
                ),
            )
            trans = (
                base.filter(F.size("arr") >= 2)
                .select("doc_id", F.explode(pairs).alias("p"))
                .select("doc_id", "p.w1", "p.w2")
            )
            big = trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
            return (
                trans.join(F.broadcast(big), ["w1", "w2"])
                .groupBy("doc_id")
                .agg(F.sum(F.log(F.col("c2").cast("double"))).alias("s"))
            )

        return build

    def funnel(ev):
        def build():
            v = (
                ev.filter(F.col("event_type") == "view")
                .groupBy("user_id")
                .agg(F.min("ts").alias("t_view"))
            )
            c = (
                ev.filter(F.col("event_type") == "click")
                .join(v, "user_id")
                .filter(F.col("ts") > F.col("t_view"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t_click"))
            )
            return c.groupBy().count()

        return build

    def markov(ev):
        def build():
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            seq = ev.select(
                F.col("event_type").alias("a"),
                F.lead("event_type").over(w).alias("b"),
            ).filter(F.col("b").isNotNull())
            return seq.groupBy("a", "b").count()

        return build

    def absorbing_chain(ev):
        # absorbing_chain_steps' full shape (VERDICT r10 item 7): the
        # scalable half is the per-user lead() window + state-pair
        # census; the 25-round t = 1 + Q·t unroll is ≤5-row algebra
        # with a checkpoint every 8 rounds, so the 10x ratio should
        # track the window/census and dilute toward sub-linear as the
        # flat round cost amortizes
        def build():
            from pyspark.sql import Window

            from ocean_data_pipeline_spark.queries.wave34_ops import (
                _ABSORB_STATE,
                _CHAIN_ROUNDS,
            )

            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            seq = ev.select(
                F.col("event_type").alias("s"),
                F.lead("event_type").over(w).alias("s_next"),
            )
            trans = (
                seq.filter(
                    F.col("s_next").isNotNull()
                    & (F.col("s") != _ABSORB_STATE)
                )
                .groupBy("s", "s_next")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
                .localCheckpoint()
            )
            outs = trans.groupBy("s").agg(
                F.sum("c").cast("bigint").alias("tot")
            )
            q = (
                trans.filter(F.col("s_next") != _ABSORB_STATE)
                .join(outs, "s")
                .select(
                    F.col("s").alias("i"),
                    F.col("s_next").alias("j"),
                    (F.col("c").cast("double") / F.col("tot")).alias("p"),
                )
            )
            d9 = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
            t = outs.select(
                F.col("s").alias("i"),
                F.lit(0).cast("decimal(28,9)").alias("t"),
            )
            for r in range(_CHAIN_ROUNDS):
                t = (
                    outs.select(F.col("s").alias("i"))
                    .join(q, "i", "left")
                    .join(
                        t.select(
                            F.col("i").alias("j"), F.col("t").alias("tj")
                        ),
                        "j",
                        "left",
                    )
                    .groupBy("i")
                    .agg(
                        d9(
                            1.0
                            + F.coalesce(
                                F.sum(
                                    d9(F.col("p") * F.col("tj").cast("double"))
                                ).cast("double"),
                                F.lit(0.0),
                            )
                        ).alias("t")
                    )
                )
                if (r + 1) % 8 == 0 and (r + 1) < _CHAIN_ROUNDS:
                    t = t.localCheckpoint()
            return t

        return build

    def aes_sample(d):
        def build():
            u = (
                F.conv(
                    F.substring(
                        F.sha2(F.concat(F.lit("samp_"), F.col("doc_id").cast("string")), 256),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                + 1
            ) / F.lit(4294967297.0)
            return (
                d.select(
                    "source",
                    "n_chars",
                    (-F.log(u) / F.col("n_chars")).alias("k"),
                )
                .orderBy("k")
                .limit(50)
            )

        return build

    def scd2_islands(o):
        def build():
            from pyspark.sql import Window

            w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            seq = o.withColumn(
                "chg",
                F.when(
                    F.lag("o_orderpriority").over(w).isNull()
                    | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
                    1,
                ).otherwise(0),
            )
            islands = seq.withColumn(
                "island",
                F.sum("chg").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            return islands.groupBy("o_custkey", "o_orderpriority", "island").agg(
                F.min("o_orderdate").alias("vf"), F.count(F.lit(1)).alias("n")
            )

        return build

    def pair_overlap(li):
        def build():
            a = li.select(
                F.col("l_orderkey").alias("k"),
                F.col("l_linenumber").alias("la"),
                F.col("l_shipdate").alias("sa"),
            )
            b = li.select(
                F.col("l_orderkey").alias("k"),
                F.col("l_linenumber").alias("lb"),
                F.col("l_shipdate").alias("sb"),
            )
            return (
                a.join(b, "k")
                .filter(F.col("la") < F.col("lb"))
                .filter(F.abs(F.datediff("sb", "sa")) <= 7)
                .groupBy()
                .count()
            )

        return build

    def edge_orient(li):
        def build():
            edges = copurchase_edges(li)
            deg = degree_census(edges)
            return edges.join(
                deg.select(F.col("node").alias("pa"), F.col("degree").alias("da")), "pa"
            ).groupBy().count()

        return build

    def ewma_window(o):
        def build():
            from pyspark.sql import Window

            m = o.groupBy(
                F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-01").alias(
                    "month"
                )
            ).agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
                    "rev"
                )
            )
            w = Window.orderBy("month")
            t = m.select(
                "month",
                "rev",
                F.row_number().over(w).alias("rn"),
                (F.col("rev") * F.pow(F.lit(0.7), -F.row_number().over(w))).alias(
                    "term"
                ),
            )
            return t.select(
                "month",
                F.sum("term")
                .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .alias("prefix"),
            )

        return build

    def bm25_probe(d):
        def build():
            terms = ("dup", "join", "vector")
            base = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
                "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr")
            )
            dl = base.select("doc_id", F.size("arr").alias("dl"))
            toks = base.select(
                "doc_id", F.explode("arr").alias("token")
            ).filter(F.col("token").isin(*terms))
            tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
            df_ = toks.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            return (
                tf.join(F.broadcast(df_), "token")
                .join(dl, "doc_id")
                .groupBy("doc_id")
                .agg(F.sum(F.col("tf") / (F.col("tf") + 1.2 * F.col("dl"))).alias("s"))
            )

        return build

    def cms_probe(o):
        def build():
            k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
            h = k.select(
                "c",
                *[
                    ((F.col("o_custkey") * mx) % 4294967296 % 64).alias(f"b{i}")
                    for i, mx in enumerate((2654435761, 2246822519, 3266489917))
                ],
            )
            parts = [
                h.groupBy(f"b{i}").agg(F.sum("c").alias("s")) for i in range(3)
            ]
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
            )

        return build

    def kmv_probe(o):
        def build():
            from pyspark.sql import Window

            keys = o.select("o_orderpriority", "o_custkey").distinct()
            u = (
                F.conv(
                    F.substring(
                        F.sha2(F.col("o_custkey").cast("string"), 256), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                + 1
            ) / F.lit(4294967297.0)
            w = Window.partitionBy("o_orderpriority").orderBy("u", "o_custkey")
            return (
                keys.select("o_orderpriority", "o_custkey", u.alias("u"))
                .select("o_orderpriority", "u", F.row_number().over(w).alias("rn"))
                .filter(F.col("rn") <= 64)
            )

        return build

    def skyline_probe(o):
        def build():
            from pyspark.sql import Window

            levels = o.groupBy("o_totalprice").agg(
                F.min("o_orderdate").alias("md")
            )
            w = Window.orderBy(F.desc("o_totalprice")).rowsBetween(
                Window.unboundedPreceding, -1
            )
            surviving = levels.select(
                "o_totalprice", "md", F.min("md").over(w).alias("ba")
            ).filter(F.col("ba").isNull() | (F.col("md") < F.col("ba")))
            return o.join(F.broadcast(surviving), "o_totalprice").filter(
                F.col("o_orderdate") == F.col("md")
            )

        return build

    def kcore_probe(li):
        def build():
            edges = copurchase_edges(li)
            sym = symmetrize(edges, "u", "v")
            survivors = (
                sym.groupBy("u")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= 80)
                .select("u")
            )
            return (
                sym.join(survivors, "u", "left_semi")
                .join(survivors.select(F.col("u").alias("v")), "v", "left_semi")
                .groupBy()
                .count()
            )

        return build

    def boot_probe(o):
        def build():
            reps = o.select(
                "o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
                F.explode(F.sequence(F.lit(1), F.lit(32))).alias("b"),
            )
            u = (
                F.conv(
                    F.substring(
                        F.sha2(
                            F.concat(
                                F.col("o_orderkey").cast("string"),
                                F.lit("_"),
                                F.col("b").cast("string"),
                            ),
                            256,
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                + 1
            ) / F.lit(4294967297.0)
            w = F.when(u <= 0.3678794411714423, 0).when(u <= 0.7357588823428847, 1).otherwise(2)
            return (
                reps.select("b", "price", w.alias("w"))
                .groupBy("b")
                .agg((F.sum(F.col("w") * F.col("price")).cast("double") / F.sum("w")).alias("m"))
            )

        return build


    def item_cosine_probe(li):
        def build():
            op = li.select("l_orderkey", "l_partkey").distinct()
            c = op.groupBy(F.col("l_partkey").alias("item")).agg(
                F.count(F.lit(1)).alias("n_orders")
            )
            a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
            b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
            canon = (
                a.join(b, "k")
                .filter(F.col("pa") < F.col("pb"))
                .groupBy("pa", "pb")
                .agg(F.count(F.lit(1)).alias("c_ij"))
                .filter(F.col("c_ij") >= 2)
            )
            return canon.join(
                c.select(F.col("item").alias("pa"), F.col("n_orders").alias("ci")), "pa"
            ).groupBy().count()

        return build

    def hotspot_cells_probe(li):
        def build():
            cells = li.groupBy(
                F.col("l_quantity").cast("int").alias("x"),
                F.floor(F.col("l_extendedprice") / 5000).cast("int").alias("y"),
            ).agg(F.count(F.lit(1)).alias("n"))
            tot = cells.agg(
                F.count(F.lit(1)).alias("nc"), F.sum("n").cast("double").alias("np")
            )
            return (
                cells.crossJoin(F.broadcast(tot))
                .filter(F.col("n") >= 1.25 * (F.col("np") / F.col("nc")))
                .groupBy()
                .count()
            )

        return build

    def attribution_probe(ev):
        def build():
            from pyspark.sql import Window

            fp = (
                ev.filter(F.col("event_type") == "purchase")
                .groupBy("user_id")
                .agg(F.min("ts").alias("t_p"))
            )
            touch = ev.join(fp, "user_id").filter(
                (F.col("event_type") != "purchase") & (F.col("ts") < F.col("t_p"))
            )
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            wn = Window.partitionBy("user_id")
            t = touch.select(
                "event_type",
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"),
            )
            return t.groupBy("event_type").count()

        return build

    def url_extract_probe(d):
        def build():
            aug = d.select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        F.concat(
                            F.lit(" see https://w"),
                            (F.col("doc_id") % 50).cast("string"),
                            F.lit(".example"),
                            (F.col("doc_id") % 7).cast("string"),
                            F.lit(".com/p/"),
                            F.col("doc_id").cast("string"),
                        ),
                    ).otherwise(""),
                ).alias("t"),
            )
            urls = aug.select(
                F.explode(
                    F.regexp_extract_all(
                        "t", F.lit(r"https?://[A-Za-z0-9.-]+[A-Za-z0-9/?=._-]*"), 0
                    )
                ).alias("url")
            )
            return urls.groupBy(
                F.regexp_extract("url", r"\.([A-Za-z]+)(/|$)", 1).alias("tld")
            ).count()

        return build

    def encoding_runs_probe(li):
        def build():
            from pyspark.sql import Window

            w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "v")
            base = li.select("l_orderkey", "l_linenumber", F.col("l_partkey").alias("v"))
            prev = F.lag("v").over(w)
            return (
                base.select(
                    "v",
                    F.when(prev.isNull() | (prev != F.col("v")), 1)
                    .otherwise(0)
                    .alias("s"),
                )
                .agg(F.count(F.lit(1)), F.countDistinct("v"), F.sum("s"))
            )

        return build

    # wave 9/10 probes ---------------------------------------------------

    part1 = table(spark, SF_DIR, "part", spread=True)
    part10 = replicate(part1, "p_partkey", COPIES)
    emb1 = table(spark, SF_DIR, "embeddings", spread=True)
    emb10 = replicate(emb1, "vec_id", COPIES)

    def snm_probe(d):
        def build():
            from pyspark.sql import Window

            from ocean_data_pipeline_spark.operators.text import normalize_text

            normed = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
                "doc_id", normalize_text(F.col("text")).alias("norm")
            )
            ranked = normed.withColumn(
                "rn", F.row_number().over(Window.orderBy(F.substring("norm", 1, 40), "doc_id"))
            )
            a = ranked.select(F.col("doc_id").alias("id_a"), F.col("rn").alias("rn_a"))
            b = (
                ranked.select(F.col("doc_id").alias("id_b"), F.col("rn").alias("rn_b"))
                .withColumn("g", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
                .withColumn("rn_a", F.col("rn_b") - F.col("g"))
            )
            return a.join(b, "rn_a").groupBy().count()

        return build

    def edit_join_probe(d):
        def build():
            names = d.groupBy("p_name").agg(F.count(F.lit(1)).alias("n")).withColumn(
                "noun", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
            )
            a = names.select(F.col("p_name").alias("na"), "noun", F.length("p_name").alias("la"))
            b = names.select(F.col("p_name").alias("nb"), "noun", F.length("p_name").alias("lb"))
            return (
                a.join(b, "noun")
                .where((F.col("na") < F.col("nb")) & (F.abs(F.col("la") - F.col("lb")) <= 2))
                .withColumn("dist", F.levenshtein("na", "nb"))
                .where(F.col("dist") <= 4)
                .groupBy()
                .count()
            )

        return build

    def hplsh_probe(e):
        def build():
            dims = spark.range(1, 65).select(F.col("id").cast("int").alias("d"))
            planes = spark.range(0, 8).select(F.col("id").cast("int").alias("p"))
            weights = planes.crossJoin(dims).select(
                "p", "d",
                (F.conv(F.substring(F.sha2(F.concat(F.lit("hp:"), F.col("p").cast("string"),
                 F.lit(":"), F.col("d").cast("string")), 256), 1, 6), 16, 10).cast("bigint")
                 - F.lit(8388608)).alias("w"),
            )
            comps = e.select("vec_id", F.posexplode("embedding").alias("d0", "v")).select(
                "vec_id", (F.col("d0") + 1).cast("int").alias("d"),
                F.floor(F.col("v").cast("double") * 1000000).cast("bigint").alias("q"),
            )
            dots = (
                comps.join(F.broadcast(weights), "d")
                .groupBy("vec_id", "p")
                .agg(F.sum(F.col("q") * F.col("w")).alias("dot"))
            )
            return dots.groupBy("vec_id").count()

        return build

    def capped_recursion_probe(o):
        def build():
            import uuid as _uuid

            # 10x replication pushes the recursion's working set past the
            # default 1M-row safety cap; the cap exists to catch runaway
            # fixpoints, not sized workloads — raise it for this probe.
            spark.conf.set("spark.sql.cteRecursionRowLimit", 50_000_000)
            view = f"probe_orders_{_uuid.uuid4().hex[:8]}"
            o.createOrReplaceTempView(view)
            return spark.sql(f"""
                WITH RECURSIVE seq AS (
                  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) - 150000.00 AS delta,
                         row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey, o_totalprice) AS rn
                  FROM {view}
                ), bal AS (
                  SELECT o_custkey, rn,
                         greatest(CAST(0.00 AS DECIMAL(20,2)), CAST(delta AS DECIMAL(20,2))) AS balance
                  FROM seq WHERE rn = 1
                  UNION ALL
                  SELECT s.o_custkey, s.rn,
                         greatest(CAST(0.00 AS DECIMAL(20,2)), CAST(b.balance + s.delta AS DECIMAL(20,2))) AS balance
                  FROM bal b JOIN seq s ON s.o_custkey = b.o_custkey AND s.rn = b.rn + 1
                )
                SELECT o_custkey, count(*) AS n FROM bal GROUP BY o_custkey
            """)

        return build

    def bpe_round_probe(d):
        def build():
            norm = F.trim(F.regexp_replace(F.regexp_replace(
                F.lower(F.trim("text")), r"[^a-z0-9\s]", ""), r"\s+", " "))
            words = (
                d.filter(F.length(F.trim("text")) > 0)
                .select(F.explode(F.split(norm, " ")).alias("word"))
                .where(F.length("word") > 0)
                .groupBy("word")
                .agg(F.count(F.lit(1)).alias("freq"))
            )
            r = words.select(
                F.concat(F.lit(" "), F.regexp_replace(
                    F.concat(F.col("word"), F.lit("_")), "(.)", "$1 ")).alias("s"),
                "freq",
            )
            arr = r.select(F.split(F.trim("s"), " ").alias("a"), "freq")
            pairs = arr.select(
                F.posexplode(F.slice("a", 1, F.size("a") - 1)).alias("k0", "sym"), "a", "freq"
            ).select(
                F.concat("sym", F.lit(" "), F.element_at("a", F.col("k0") + 2)).alias("pair"),
                "freq",
            )
            return pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))

        return build

    def fifo_probe(li):
        def build():
            from pyspark.sql import Window

            base = li.select(
                "l_partkey", "l_orderkey", "l_linenumber",
                F.col("l_quantity").cast("bigint").alias("qty"),
                "l_shipdate", (F.col("l_orderkey") % 2 == 0).alias("is_supply"),
            )
            w = (
                Window.partitionBy("l_partkey")
                .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "qty")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            sup = base.where("is_supply").select(
                "l_partkey", "qty", F.sum("qty").over(w).alias("s_end"))
            dem = base.where("NOT is_supply").select(
                F.col("l_partkey").alias("pk"), "qty", F.sum("qty").over(w).alias("d_end"))
            s = sup.select("l_partkey", (F.col("s_end") - F.col("qty")).alias("s0"), "s_end")
            d2 = dem.select("pk", (F.col("d_end") - F.col("qty")).alias("d0"), "d_end")
            return (
                s.join(d2, s.l_partkey == d2.pk)
                .where(F.least("s_end", "d_end") > F.greatest("s0", "d0"))
                .groupBy("l_partkey")
                .count()
            )

        return build

    def moments4_probe(li):
        def build():
            c = F.round(F.col("l_extendedprice") * 100).cast("bigint").cast(
                "decimal(19,0)"
            )
            c2w = (c * c).cast("decimal(19,0)")
            return (
                li.select(
                    "l_returnflag", c.alias("c"), (c * c).alias("c2"),
                    (c2w * c).alias("c3"), (c2w * c2w).alias("c4"),
                )
                .groupBy("l_returnflag")
                .agg(F.sum("c"), F.sum("c2"), F.sum("c3"), F.sum("c4"))
            )

        return build

    def level_select_probe(li):
        def build():
            from pyspark.sql import Window

            lv = (
                li.select(
                    "l_returnflag",
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")
                    .alias("pc"),
                    F.round("l_quantity").cast("bigint").alias("q"),
                )
                .groupBy("l_returnflag", "pc")
                .agg(F.sum("q").alias("w"))
            )
            wo = Window.partitionBy("l_returnflag").orderBy("pc")
            wt = Window.partitionBy("l_returnflag")
            cum = lv.select(
                "l_returnflag", "pc",
                F.sum("w").over(wo).alias("cw"),
                F.sum("w").over(wt).alias("tw"),
            )
            return cum.groupBy("l_returnflag").agg(
                F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("pc")))
            )

        return build

    def simhash_band_probe(docs):
        def build():
            from ocean_data_pipeline_spark.operators.text import simhash16

            sigs = (
                docs.filter(F.length(F.trim(F.col("text"))) > 0)
                .select(simhash16(F.col("text")).alias("sig"))
                .groupBy("sig")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            bands = sigs.select(
                "sig",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("bi"),
                                F.shiftright("sig", 4 * i)
                                .bitwiseAND(F.lit(15))
                                .alias("bv"),
                            )
                            for i in range(4)
                        ]
                    )
                ).alias("b"),
            ).select("sig", "b.bi", "b.bv")
            l = bands.select(F.col("sig").alias("sa"), "bi", "bv")
            r = bands.select(F.col("sig").alias("sb"), "bi", "bv")
            return (
                l.join(r, ["bi", "bv"])
                .filter(F.col("sa") < F.col("sb"))
                .select("sa", "sb")
                .distinct()
                .filter(
                    F.bit_count(
                        F.col("sa").cast("bigint").bitwiseXOR(
                            F.col("sb").cast("bigint")
                        )
                    )
                    <= 3
                )
                .groupBy()
                .count()
            )

        return build

    # wave 16-19 probes: contamination gram join (gram contraction
    # absorbs copies — grams repeat verbatim across replicas), int8
    # quantization (posexplode + 64-cell agg + scan-bound dequant),
    # fixed-probe retrieval panel (panel size is constant, so 10x
    # corpus = 10x scored rows, one scan), zone-map audit (two global
    # sort windows — the deliberately sort-bound probe), periodogram
    # (month contraction absorbs nearly everything).
    def contamination_probe(d):
        def build():
            is_test = (
                F.conv(
                    F.substring(
                        F.sha2(F.concat(F.lit("split:"), F.col("doc_id").cast("string")), 256),
                        1, 6,
                    ), 16, 10,
                ).cast("bigint") % 100 < 10
            )
            grams = d.select(
                "doc_id",
                is_test.alias("is_test"),
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1))),
                            lambda i: F.substring(F.col("text"), i, F.lit(8)),
                        )
                    )
                ).alias("gram"),
            )
            train = grams.filter(~F.col("is_test")).select("gram").distinct()
            return (
                grams.filter(F.col("is_test"))
                .join(train, "gram")
                .groupBy()
                .agg(F.countDistinct("doc_id"))
            )

        return build

    def quant_probe(e):
        def build():
            from ocean_data_pipeline_spark.operators.similarity import dot

            v = F.col("embedding").cast("array<double>")
            base = e.select("vec_id", "label", v.alias("v"))
            dims = (
                base.select(F.posexplode("v").alias("pos", "val"))
                .groupBy("pos")
                .agg(F.max(F.abs(F.col("val"))).alias("scale"))
            )
            scales = dims.agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "scale"))),
                    lambda s: s["scale"],
                ).alias("s")
            )
            deq = base.crossJoin(F.broadcast(scales)).select(
                "label",
                "v",
                F.zip_with(
                    "v", "s",
                    lambda x, s: F.when(s == 0, F.lit(0.0)).otherwise(
                        F.round(x * 127.0 / s) * s / 127.0
                    ),
                ).alias("d"),
            )
            diff = F.zip_with("v", "d", lambda x, y: x - y)
            return deq.groupBy("label").agg(F.avg(dot(diff, diff)))

        return build

    def retrieval_panel_probe(e):
        def build():
            from pyspark.sql import Window as W

            from ocean_data_pipeline_spark.operators.similarity import dot

            v = F.col("embedding").cast("array<double>")
            base = e.select("vec_id", "label", v.alias("v"))
            probes = base.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("pid"),
                F.col("label").alias("pl"),
                F.col("v").alias("pv"),
            )
            cos = dot(F.col("pv"), F.col("v")) / (
                F.sqrt(dot(F.col("pv"), F.col("pv"))) * F.sqrt(dot(F.col("v"), F.col("v")))
            )
            ranked = (
                F.broadcast(probes)
                .join(base, F.col("vec_id") != F.col("pid"))
                .select("pid", "pl", "label", cos.alias("sim"))
                .withColumn(
                    "rnk",
                    F.row_number().over(
                        W.partitionBy("pid").orderBy(F.col("sim").desc())
                    ),
                )
                .filter(F.col("rnk") <= 10)
            )
            return ranked.groupBy("pl").agg(
                F.avg(F.when(F.col("label") == F.col("pl"), 1.0).otherwise(0.0))
            )

        return build

    def zonemap_probe(o):
        def build():
            from pyspark.sql import Window as W

            lo = F.lit("1995-01-01").cast("date")
            hi = F.lit("1995-04-01").cast("date")
            ins = o.select(
                F.lit("ins").alias("layout"),
                F.ntile(32).over(W.orderBy("o_orderkey")).alias("fid"),
                "o_orderdate",
            )
            clu = o.select(
                F.lit("clu").alias("layout"),
                F.ntile(32).over(W.orderBy("o_orderdate", "o_orderkey")).alias("fid"),
                "o_orderdate",
            )
            zones = (
                ins.unionByName(clu)
                .groupBy("layout", "fid")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("o_orderdate").alias("dmin"),
                    F.max("o_orderdate").alias("dmax"),
                )
            )
            ov = (F.col("dmax") >= lo) & (F.col("dmin") < hi)
            return zones.groupBy("layout").agg(
                F.sum(F.when(ov, F.col("n")).otherwise(0))
            )

        return build

    def periodogram_probe(o):
        def build():
            import math

            from pyspark.sql import Window as W

            m = (
                o.groupBy(
                    (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx")
                )
                .agg(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("rev")
                )
            )
            t = m.select(
                "rev",
                F.row_number().over(W.orderBy("idx")).alias("t"),
                F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
                F.avg("rev").over(W.partitionBy()).alias("mu"),
            )
            freqs = t.sparkSession.range(1, 13).select(F.col("id").alias("k"))
            ang = 2 * F.lit(math.pi) * F.col("k") * F.col("t") / F.col("n")
            return (
                t.crossJoin(F.broadcast(freqs))
                .select("k", ((F.col("rev") - F.col("mu")) * F.cos(ang)).alias("c"))
                .groupBy("k")
                .agg(F.sum("c"))
            )

        return build

    def wedge_census_probe(li):
        def build():
            # degree-ordered wedge enumeration + one canonical-edge
            # close — the clustering_coefficient / triangle-census core
            # (graph copies are disjoint, so wedge mass scales exactly
            # with the data and the ratio isolates plan behavior)
            edges = copurchase_edges(li)
            deg = degree_census(edges)
            e = orient_by_degree(edges, deg, None)  # unmeasured: shuffled joins
            w1 = e.select(F.col("src").alias("s"), F.col("dst").alias("x"))
            w2 = e.select(F.col("src").alias("s"), F.col("dst").alias("y"))
            wedges = (
                w1.join(w2, "s")
                .filter(F.col("x") < F.col("y"))
                .select(F.col("x").alias("pa"), F.col("y").alias("pb"))
            )
            return wedges.join(edges, ["pa", "pb"]).groupBy().count()

        return build

    def capped_wedge_probe(li):
        def build():
            # the link_prediction_capped census core: per-node sorted
            # adjacency lists truncated to the 64 lowest-id neighbors,
            # packed-BIGINT map-side wedge explode, bare-count aggregate
            # (operators/graph.py::wedge_pair_census) — Σ min(deg,64)²
            # wedge mass, bounded per node no matter how hot the hub
            edges = copurchase_edges(li)
            adj = (
                symmetrize(edges)
                .groupBy(F.col("src").alias("w"))
                .agg(
                    F.slice(
                        F.sort_array(F.collect_list("dst")), 1, 64
                    ).alias("ids")
                )
                .localCheckpoint()  # the shipped queries checkpoint adj too
            )
            return wedge_pair_census(adj, F.col("ids"), "cn").groupBy().count()

        return build

    def rank_device_probe(o):
        def build():
            from ocean_data_pipeline_spark.operators.ranks import (
                with_global_row_number,
            )

            return with_global_row_number(
                o.select("o_orderkey", "o_totalprice"),
                ["o_totalprice", "o_orderkey"],
                "o_totalprice",
                out="rn",
            )

        return build

    # round 9: the wave 30-34 scalable devices (VERDICT r08 item 8).
    # The fixed-rounds / fixed-grid algebra downstream of each is
    # sf-invariant; these probe the part that actually scales.
    from pyspark.sql import Window as W

    def markov_probe(ev):
        # absorbing_chain_steps' scalable stage: per-user lead window
        # over the event scan -> state-pair census (the 25-round
        # <=5-row fixed point downstream is sf-invariant)
        def build():
            seq = ev.select(
                F.col("event_type").alias("s"),
                F.lead("event_type")
                .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
                .alias("s_next"),
            )
            return (
                seq.filter(F.col("s_next").isNotNull())
                .groupBy("s", "s_next")
                .agg(F.count(F.lit(1)).alias("c"))
            )

        return build

    def perm_fanout_probe(ev):
        # permutation_test_lite's hot shape: one scan fanned out xB
        # map-side via a broadcast draw grid, sha2-seeded relabel in
        # codegen, partial aggs combining into a B-group result
        def build():
            base = ev.filter(
                F.col("event_type").isin("click", "view")
            ).select("event_id", "value")
            bs = spark.range(1, 51).select(F.col("id").alias("b"))
            gp = (
                F.conv(
                    F.substring(
                        F.sha2(
                            F.concat_ws(
                                ":",
                                F.col("event_id").cast("string"),
                                F.col("b").cast("string"),
                            ),
                            256,
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            )
            return (
                base.crossJoin(F.broadcast(bs))
                .select("b", "value", gp.alias("gp"))
                .groupBy("b")
                .agg(
                    F.sum(F.when(F.col("gp") == 1, F.col("value"))).alias("s1"),
                    F.count(F.lit(1)).alias("n"),
                )
            )

        return build

    def month_device_probe(o):
        # the Theta / Haar / trend-strength shared device: fact scan ->
        # (y, mo) census agg (operators/monthly.py); the global window
        # runs over the <=84-row census, so 10x data only grows the
        # scan+partial-agg stage
        def build():
            m = monthly_revenue(o, *year_month())
            w = W.orderBy("y", "mo")
            return m.select(
                "y",
                "mo",
                F.row_number().over(w).alias("t"),
                F.avg("x").over(w.rowsBetween(-11, 0)).alias("ma12"),
            )

        return build

    # round 12 probes (VERDICT r11 item 8) — see the ops-dict comments
    def cc_route_probe(li):
        def build():
            from ocean_data_pipeline_spark.operators.components import (
                connected_components,
            )

            edges = li.select(
                F.col("l_orderkey").cast("long").alias("src"),
                (F.col("l_partkey").cast("long") + F.lit(5_000_000_000)).alias(
                    "dst"
                ),
            )
            return connected_components(edges, "src", "dst").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("component")).alias("s"),
            )

        return build

    def recursive_prefix_probe(o):
        def build():
            import uuid as _uuid

            from ocean_data_pipeline_spark.queries.recursive_sql import (
                _loop_confs,
            )

            spark.conf.set("spark.sql.cteRecursionRowLimit", 50_000_000)
            view = f"probe_rp_{_uuid.uuid4().hex[:8]}"
            o.createOrReplaceTempView(view)
            seq = spark.sql(f"""
                SELECT o_custkey,
                       CAST(o_totalprice AS DECIMAL(18,2)) - 150000.00 AS delta,
                       row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey, o_totalprice) AS rn
                FROM {view}""").localCheckpoint()
            sview = f"probe_rpm_{_uuid.uuid4().hex[:8]}"
            seq.createOrReplaceTempView(sview)
            with _loop_confs(spark, level_rows=seq.count()):
                out = spark.sql(f"""
                    WITH RECURSIVE bal AS (
                      SELECT o_custkey, rn,
                             greatest(CAST(0.00 AS DECIMAL(20,2)),
                                      CAST(delta AS DECIMAL(20,2))) AS balance
                      FROM {sview} WHERE rn = 1
                      UNION ALL
                      SELECT s.o_custkey, s.rn,
                             greatest(CAST(0.00 AS DECIMAL(20,2)),
                                      CAST(b.balance + s.delta AS DECIMAL(20,2))) AS balance
                      FROM bal b
                      JOIN {sview} s
                        ON s.o_custkey = b.o_custkey AND s.rn = b.rn + 1
                    )
                    SELECT o_custkey, count(*) AS n
                    FROM bal GROUP BY o_custkey
                """).localCheckpoint()
            return out

        return build

    def spread_gate_probe(li):
        def build():
            # catalog.table's guard, inlined on an arbitrary input
            target = spark.sparkContext.defaultParallelism
            d = li
            if d.rdd.getNumPartitions() < target:
                d = d.repartition(target)
            x = F.col("l_quantity").cast("double")
            y = F.col("l_extendedprice").cast("double")
            return d.agg(
                F.sum(F.round(x * y, 9).cast("decimal(38,9)")).alias("sxy"),
                F.sum(F.round(x * x, 9).cast("decimal(38,9)")).alias("sxx"),
                F.sum(F.round(y * y, 9).cast("decimal(38,9)")).alias("syy"),
            )

        return build

    # raw (unspread) scan: the degenerate one-row-group input the gate
    # exists for — li1 above is already spread, so read it directly
    li_raw = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))

    ops = {
        "exact_dedup(documents)": (dedup(docs1), dedup(docs10)),
        "token_census(documents)": (token_census(docs1), token_census(docs10)),
        "q1_agg(lineitem)": (q1_agg(li1), q1_agg(li10)),
        "chunk_32tok(documents)": (chunk(docs1), chunk(docs10)),
        "gopher_rules(documents)": (gopher_rules(docs1), gopher_rules(docs10)),
        "bigram_lm(documents)": (bigram_lm(docs1), bigram_lm(docs10)),
        "funnel_stages(events)": (funnel(ev1), funnel(ev10)),
        "markov_lead(events)": (markov(ev1), markov(ev10)),
        "absorbing_chain(events)": (
            absorbing_chain(ev1),
            absorbing_chain(ev10),
        ),
        "aes_topk_sample(documents)": (aes_sample(docs1), aes_sample(docs10)),
        # round 5: keyed windows (SCD2), keyed self-join (interval
        # pairs), graph edge census + degree join, post-agg calendar
        # window (EWMA). orders replicate by custkey (10x key groups,
        # same per-key series shape); the graph replicates by BOTH
        # orderkey and partkey so the 10 copies are disjoint graphs.
        "scd2_islands(orders)": (scd2_islands(ord1), scd2_islands(ord10)),
        "pair_overlap(lineitem)": (pair_overlap(li1), pair_overlap(li10)),
        "edge_census_degree(lineitem)": (
            edge_orient(li1),
            edge_orient(li10g),
        ),
        "ewma_month_window(orders)": (ewma_window(ord1), ewma_window(ord10)),
        # round 6: retrieval scoring, sketch builds, skyline levels,
        # one k-core peel round, bootstrap fanout. All replicate
        # cleanly by id offset. (prefix_filter_jaccard_join is NOT
        # probed: content-identical copies are genuine near-dups of
        # each other, so its OUTPUT grows quadratically under
        # replication — super-linear time there would be semantics,
        # not a plan bug.)
        "bm25_score(documents)": (bm25_probe(docs1), bm25_probe(docs10)),
        "cms_counters(orders)": (cms_probe(ord1), cms_probe(ord10)),
        "kmv_bottomk(orders)": (kmv_probe(ord1), kmv_probe(ord10)),
        "skyline_levels(orders)": (skyline_probe(ord1), skyline_probe(ord10)),
        "kcore_peel_round(lineitem)": (kcore_probe(li1), kcore_probe(li10g)),
        "bootstrap_reps(orders)": (boot_probe(ord1), boot_probe(ord10)),
        # wave 7: recommender pair counting (disjoint graph copies),
        # density-grid agg, per-user attribution windows, URL
        # extraction scan, per-order run census. hotspot cell GRID is
        # value-defined, so replication multiplies occupancy, not
        # cells — the threshold scales with it (scale-relative by
        # design); bfs/components are covered by kcore/edge probes.
        "item_cosine_pairs(lineitem)": (
            item_cosine_probe(li1),
            item_cosine_probe(li10g),
        ),
        "hotspot_cells(lineitem)": (
            hotspot_cells_probe(li1),
            hotspot_cells_probe(li10),
        ),
        "attribution_windows(events)": (
            attribution_probe(ev1),
            attribution_probe(ev10),
        ),
        "url_extract(documents)": (
            url_extract_probe(docs1),
            url_extract_probe(docs10),
        ),
        "encoding_runs(lineitem)": (
            encoding_runs_probe(li1),
            encoding_runs_probe(li10),
        ),
        # wave 9/10: SNM rank-gap equi-join, edit-join distinct-name
        # contraction (names repeat across copies, so the contraction
        # ABSORBS the 10x — expect strongly sub-linear), hyperplane
        # bit census, one UnionLoop recursion (10x key groups, same
        # serial depth), one BPE pair-count round (vocab contraction
        # absorbs), FIFO interval matching (disjoint part copies —
        # same-part replication would quadratically grow true pairs,
        # the prefix-join caveat). dtw is NOT probed: its input is the
        # fixed 25-nation series set (cardinality doesn't scale with
        # corpus replication).
        "snm_candidates(documents)": (snm_probe(docs1), snm_probe(docs10)),
        "edit_join(part)": (edit_join_probe(part1), edit_join_probe(part10)),
        "hyperplane_bits(embeddings)": (hplsh_probe(emb1), hplsh_probe(emb10)),
        "capped_recursion(orders)": (
            capped_recursion_probe(ord1),
            capped_recursion_probe(ord10),
        ),
        "bpe_pair_round(documents)": (
            bpe_round_probe(docs1),
            bpe_round_probe(docs10),
        ),
        "fifo_alloc(lineitem)": (fifo_probe(li1), fifo_probe(li10g)),
        # wave 11: exact 4th-moment decimal agg (pure map-side partials,
        # expect ~linear-or-below), level-census order-statistic
        # selection (price levels repeat across copies -> the census
        # contraction absorbs much of the 10x), SimHash band join (the
        # signature-space contraction absorbs it almost entirely).
        "moments4(lineitem)": (moments4_probe(li1), moments4_probe(li10)),
        "level_selection(lineitem)": (
            level_select_probe(li1),
            level_select_probe(li10),
        ),
        "simhash_band_join(documents)": (
            simhash_band_probe(docs1),
            simhash_band_probe(docs10),
        ),
        # wave 16-19
        "contamination_grams(documents)": (
            contamination_probe(docs1),
            contamination_probe(docs10),
        ),
        "int8_quant(embeddings)": (quant_probe(emb1), quant_probe(emb10)),
        "retrieval_panel(embeddings)": (
            retrieval_panel_probe(emb1),
            retrieval_panel_probe(emb10),
        ),
        "zonemap_audit(orders)": (zonemap_probe(ord1), zonemap_probe(ord10)),
        "periodogram_terms(orders)": (
            periodogram_probe(ord1),
            periodogram_probe(ord10),
        ),
        # round 7: the distributed exact-rank device (operators/ranks.py)
        # that replaced the row-scale single-partition windows — global
        # row_number over the whole orders relation, K-way bucketed
        "distributed_rank(orders)": (
            rank_device_probe(ord1),
            rank_device_probe(ord10),
        ),
        # round 8: the degree-ordered wedge enumeration behind the
        # triangle / clustering-coefficient / link-prediction family
        # (VERDICT r07 item 8) — graph copies disjoint via li10g
        "wedge_census(lineitem)": (
            wedge_census_probe(li1),
            wedge_census_probe(li10g),
        ),
        # round 10: the ENFORCED-cap wedge device behind
        # link_prediction_capped (VERDICT r09 item 6) — wedge mass is
        # Σ min(deg, 64)² per node instead of Σ deg², so the measured
        # ratio should sit at or below the exact device's
        "capped_wedge_census(lineitem)": (
            capped_wedge_probe(li1),
            capped_wedge_probe(li10g),
        ),
        # round 9: wave 30-34 devices (VERDICT r08 item 8)
        "markov_transition_census(events)": (
            markov_probe(ev1),
            markov_probe(ev10),
        ),
        "permutation_fanout(events)": (
            perm_fanout_probe(ev1),
            perm_fanout_probe(ev10),
        ),
        "month_census_device(orders)": (
            month_device_probe(ord1),
            month_device_probe(ord10),
        ),
        # round 12 (VERDICT r11 item 8): the three r11 devices.
        # cc_dsu_route: the probe-routed connected-components — 1x
        # (~600 K bipartite order-part edges) routes to the single-task
        # union-find fast path, 10x (~6 M edges, disjoint copies)
        # crosses components._CC_LOCAL_EDGE_CAP=1M and routes to the
        # iterative min-label loop; the ratio prices the HANDOFF, i.e.
        # what the threshold protects the local path from.
        "cc_dsu_route(lineitem)": (
            cc_route_probe(li1),
            cc_route_probe(li10g),
        ),
        # capped_recursion_prefix: the r11/r12 Spark-side shape of
        # sql_recursive_capped_balance — prefix materialized once under
        # AQE sizing, recursion under _loop_confs with the shuffle
        # width DERIVED from the measured prefix (8 partitions at 10x,
        # 1 at 1x — the r12 parameterization exercised at both widths).
        "capped_recursion_prefix(orders)": (
            recursive_prefix_probe(ord1),
            recursive_prefix_probe(ord10),
        ),
        # spread_gate_kernel: catalog.table's guarded spread — 1x runs
        # the gate on the degenerate single-row-group scan (fires: one
        # round-robin exchange, kernel uses all cores), 10x runs it on
        # a >= defaultParallelism-partition input (no-op by the guard,
        # kernel scales with the data). Sub-10x ratio = the gate's
        # no-op branch does not tax properly-partitioned input.
        "spread_gate_kernel(lineitem)": (
            spread_gate_probe(li_raw),
            spread_gate_probe(li10),
        ),
    }

    # Optional argv filter: run only probes whose name contains one of
    # the given substrings, and MERGE their rows into the existing
    # SCALE.md table instead of rewriting it — re-measuring ~50 probes
    # to add one row would burn an hour and churn every number.
    only = sys.argv[1:]
    if only:
        ops = {
            k: v for k, v in ops.items() if any(s in k for s in only)
        }
        if not ops:
            print(f"no probes match {only}", file=sys.stderr)
            sys.exit(1)

    header = [
        "# SCALE — measured 1x vs 10x operator scaling",
        "",
        f"sf0.1 tables self-unioned {COPIES}x (ids offset), local[32], "
        f"best of {REPEATS}; ratio <= {COPIES} means the plan amortizes "
        f"fixed overhead and scales at or below linear.",
        "",
        "| operator | 1x (s) | 10x (s) | ratio |",
        "|---|---|---|---|",
    ]
    rows: dict[str, str] = {}
    scale_path = os.path.join(REPO, "SCALE.md")
    if only and os.path.exists(scale_path):
        with open(scale_path) as f:
            table_lines = [
                ln.rstrip("\n")
                for ln in f
                if ln.startswith("| ")
                and not ln.startswith("| operator")
                and "---" not in ln
            ]
        for ln in table_lines:
            # Key on the cell-split name, not the text before the first
            # " |": every data row is `| name | 1x | 10x | ratio |`, so
            # the name is everything before the LAST three cells — a
            # probe name containing " | " still round-trips (ADVICE r10).
            cells = [c.strip() for c in ln.strip().strip("|").split("|")]
            if len(cells) < 4:
                raise AssertionError(f"unparseable SCALE.md row: {ln!r}")
            rows[" | ".join(cells[:-3])] = ln
        if len(rows) != len(table_lines):
            raise AssertionError(
                f"SCALE.md merge parse lost rows: {len(table_lines)} table lines "
                f"-> {len(rows)} keys (duplicate probe names?)"
            )
    for name, (b1, b10) in ops.items():
        # one broken probe must not lose the whole table
        try:
            t1 = time_op(b1)
            t10 = time_op(b10)
        except Exception as e:  # noqa: BLE001
            rows[name] = f"| {name} | FAIL | FAIL | {type(e).__name__} |"
            print(rows[name], flush=True)
            continue
        ratio = t10 / t1 if t1 > 0 else float("nan")
        rows[name] = f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x |"
        print(rows[name], flush=True)
    with open(scale_path, "w") as f:
        f.write("\n".join(header + list(rows.values())) + "\n")
    print("wrote SCALE.md")


if __name__ == "__main__":
    main()
