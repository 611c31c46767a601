"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full rule-pack classification of the
sf0.001 tables.  ``queries()`` — one entry per implemented operator
family (SURVEY.md §2 + training-data ops), each taking
``(spark, sf_dir)``.  ``oracle_sql()`` — DuckDB-equivalent SQL for every
SQL-expressible query (24 of 29): simhash AND minhash via sha256-parity
signature families, byte-exact PII scrub, connected components via a
recursive CTE, the char-trigram perplexity model re-trained and replayed
in double-precision SQL, and the full keep/drop decision tree
(langid → quality → perplexity → PII density → drop_reason precedence)
per document.  The 5 rows-only queries are production variants whose
mechanism has an oracle-checked twin (xxhash64 minhash, LSH/IVF ANN,
the synthetic-corpus pipeline), each justified inline in ``queries()``.

All float outputs are rounded on BOTH sides (Spark and oracle) so the
driver's value-hash comparison is insensitive to summation order.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F, Window

from metacrafter_spark.ops.dedup import WORD_SPLIT


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a benchmark table, restoring cluster-like parallelism.

    The local test tables are single parquet files with one row group,
    so the scan yields ONE split and every downstream operator runs on
    one core — an artifact of the fixture, not of the design (a real
    corpus scan has thousands of splits).  Repartition only when the
    scan is narrower than half the configured parallelism; on real
    multi-split inputs this is a no-op, so no gratuitous shuffle at
    scale.

    Round-6: the split count is estimated from FILE BYTES and
    ``spark.sql.files.maxPartitionBytes`` instead of probing
    ``df.rdd.getNumPartitions()`` — the ``.rdd`` conversion forced a
    full physical-planning pass per call (~80 ms; q5 touches six
    tables × three bench repeats).  The estimate reproduces the scan
    split rule for the decision threshold (a parquet file can't split
    below row-group granularity, so byte-count // maxPartitionBytes is
    a lower bound and single-file fixtures still yield 1)."""
    import glob as _glob
    import os as _os

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    target = spark.sparkContext.defaultParallelism
    root = f"{sf_dir}/{name}.parquet"
    paths = ([root] if _os.path.isfile(root)
             else _glob.glob(f"{root}/**/*.parquet", recursive=True)
             or [root])
    total = sum(_os.path.getsize(p) for p in paths if _os.path.exists(p))
    # the session's own parse of the conf, so human forms ("128MB",
    # "64m", "1g") read the same as the scan's split rule reads them
    max_split = spark._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    est_splits = max(len(paths), total // max(max_split, 1))
    if est_splits < max(2, target // 2):
        df = df.repartition(target)
    return df


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Classify every column of the sf0.001 documents+customer tables
    with the full builtin rule pack (stats → prune → match → labels).

    Reads directly (no _t repartition): the engine's match phase samples
    the FIRST `limit` rows by row-sequence, so the flagship stays
    deterministic in file order."""
    from metacrafter_spark.scanner import labels_dataframe, scan_dataframe

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    rep_docs = scan_dataframe(docs)
    rep_cust = scan_dataframe(cust)
    return labels_dataframe(spark, rep_docs).unionByName(
        labels_dataframe(spark, rep_cust)
    )


# ------------------------------------------------------------- sql queries


def q_tpch_q1(spark, sf_dir):
    """Sums run over exact DECIMAL casts so the result is independent of
    partition/summation order (double accumulation differs in the last
    ulp between partitionings, which flips round()); the oracle casts
    identically."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(price * (F.lit(1).cast("decimal(18,4)") - disc))
                .cast("double"), 2
            ).alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = spend.join(F.broadcast(cust), spend.o_custkey == cust.c_custkey)
    w = Window.orderBy(F.desc("total_spend"), F.asc("c_custkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("c_custkey", "c_name", "total_spend", "n_orders", "rank")
    )


def q_field_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    outs = []
    for c in ("text", "lang", "source"):
        col = F.col(c)
        outs.append(
            docs.agg(
                F.lit(c).alias("key"),
                F.count(col).alias("total"),
                F.countDistinct(col).alias("n_uniq"),
                F.min(F.length(col)).alias("minlen"),
                F.max(F.length(col)).alias("maxlen"),
                F.round(F.avg(F.length(col)), 4).alias("avglen"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_dict_detection(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    outs = []
    for c in ("lang", "source"):
        col = F.col(c)
        outs.append(
            docs.agg(
                F.lit(c).alias("key"),
                F.round(
                    F.countDistinct(col) * 100.0 / F.count(col), 6
                ).alias("share_uniq"),
                (F.countDistinct(col) * 100.0 / F.count(col) <= 10).alias(
                    "is_dictkey"
                ),
            )
        )
    return outs[0].unionByName(outs[1])


def _mini_pack():
    from metacrafter_spark.rules.model import CompiledRule, CompiledRulePack

    rule = CompiledRule(
        seq=0, id="langtag_mini", dataclass="languagetag", rtype="data",
        match="text", lang="common", contexts=("common",), group="mini",
        group_desc="mini pack", country=None, imprecise=False, is_pii=False,
        minlen=2, maxlen=2,
        keywords=frozenset({"en", "fr", "de", "es", "zh"}),
    )
    return CompiledRulePack(rules=(rule,))


def q_rule_confidence(spark, sf_dir):
    """The rule engine end-to-end (stats → prune → match → confidence)
    with a 1-rule pack, so the oracle stays one SQL expression."""
    from metacrafter_spark.scanner import labels_dataframe, scan_dataframe

    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    rep = scan_dataframe(docs, pack=_mini_pack(), limit=1_000_000)
    labels = labels_dataframe(spark, rep)
    return (
        labels.filter(F.col("ruletype") == "data")
        .select(
            "field", "ruleid", "dataclass",
            F.round("confidence", 6).alias("confidence"),
        )
        .orderBy("field")
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): two big fact joins shuffled
    on their keys after a broadcast-pruned customer filter; revenue sums
    over exact DECIMAL casts (q1's determinism pattern), total-order
    tie-break so the top-10 is unique."""
    cu = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cu), o["o_custkey"] == cu["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(price * (one - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): the 6-table join — dims
    (region→nation) broadcast, facts shuffled on join keys, the
    c_nationkey = s_nationkey co-location predicate applied post-join;
    decimal-exact revenue."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(cu, (o["o_custkey"] == cu["c_custkey"])
              & (cu["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(price * (one - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): pure scan + pushed
    filters + one-row agg — the pushdown/pruning benchmark; decimal sum."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(price * disc).cast("double"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): fact-fact join on
    orderkey, customer join shuffled on custkey, nation broadcast,
    decimal-exact revenue, deterministic top-20."""
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n), cu["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(price * (one - disc)).cast("double"), 2)
             .alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue",
                F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking, adapted to the columns
    this lineitem carries): EXISTS becomes a LEFT SEMI join — orders in
    1996-Q3 having at least one deep-discount line item, counted per
    priority.  The semi join never widens the row and ships only the
    distinct orderkeys of the matching side."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    ).select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_discount") >= 0.08
    ).select("l_orderkey")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): one-month lineitem scan with
    the part dimension broadcast; the promo/total revenue ratio is
    computed decimal-exact then rounded once."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    rev = price * (one - disc)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                (F.lit(100.0)
                 * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev)
                         .otherwise(F.lit(0).cast("decimal(18,4)")))
                 .cast("double"))
                / F.sum(rev).cast("double"), 4).alias("promo_revenue")
        )
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue): DISJUNCTIVE brand/size/
    quantity predicates spanning both join sides — the planner must
    keep the OR intact across the broadcast join rather than losing
    rows to a wrong pushdown; revenue decimal-exact."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    cond = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(F.round(F.sum(price * (one - disc)).cast("double"), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


# The driver's embeddings table ships 64-float vectors at every SF
# (TESTDATA.md); a literal keeps the LSH plane seeding off the driver
# (was a one-row .first() — harmless but needless).
_EMB_DIM = 64


def _dec(col: str):
    return F.col(col).cast("decimal(18,4)")


def _dec_one():
    return F.lit(1).cast("decimal(18,4)")


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier; adapted — the driver
    schema has no partsupp, so lineitem's observed unit prices stand in
    for ps_supplycost): the correlated MIN subquery becomes a window
    min over the regional price list — one shuffle on partkey instead
    of a per-row re-scan; dims (region→nation→supplier) broadcast; the
    part filter lands BEFORE the window so only relevant parts shuffle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_acctbal", "s_name", "n_name")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    ).select("p_partkey", "p_name")
    price = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey",
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("uc"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("uc").alias("unit_cost"))
    )
    regional = price.join(F.broadcast(s),
                          F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    return (
        regional.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("min_uc", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_uc"))
        .select(F.round("s_acctbal", 2).alias("s_acctbal"), "s_name",
                "n_name", "p_partkey", "p_name",
                F.round("unit_cost", 4).alias("unit_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): the
    nation-pair disjunction is applied AFTER both broadcast nation
    lookups so the planner keeps the OR across sides; facts shuffle on
    their join keys only; per-year revenue decimal-exact."""
    nn = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cu = _t(spark, sf_dir, "customer").join(
        F.broadcast(nn), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    pair = (
        ((F.col("supp_nation") == "NATION_1")
         & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2")
           & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_dec("l_extendedprice")
                           * (_dec_one() - _dec("l_discount")))
                     .cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): eight-table join — the
    customer side resolves region membership, the supplier side tags
    the competing nation; the share is a conditional decimal sum over
    the same decimal total, converted to double once."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation"))
    cu = _t(spark, sf_dir, "customer").join(
        F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "nation")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY").select("p_partkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    vol = _dec("l_extendedprice") * (_dec_one() - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(zero))
            .cast("double")
            / F.sum(vol).cast("double"), 4).alias("mkt_share"))
        .orderBy("o_year")
    )


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit; p_retailprice stands in for
    the absent ps_supplycost at a 1% cost ratio): name-filtered part and
    the supplier→nation dim broadcast; profit decimal-exact per
    (nation, year)."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    n = _t(spark, sf_dir, "nation").select("n_nationkey",
                                           F.col("n_name").alias("nation"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")
    amount = (
        _dec("l_extendedprice") * (_dec_one() - _dec("l_discount"))
        - _dec("p_retailprice")
        * (F.col("l_quantity") / F.lit(100)).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important stock): per-part value for one
    nation's suppliers, kept only above a fraction of the GLOBAL total —
    the scalar total rides a broadcast cross join (one row), so the
    HAVING never re-aggregates."""
    nn = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_semi")
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_quantity"))
             .alias("value_dec"))
    )
    total = val.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.002)).alias("cutoff"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("cutoff"))
        .select("ps_partkey",
                F.round(F.col("value_dec").cast("double"), 2).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (late shipments by class; l_returnflag stands in
    for the absent l_shipmode, ship-vs-order-date lateness for the
    commit/receipt pair): one fact-fact join, conditional counts as
    CASE sums — no second pass over the join."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
        .orderBy("ship_class")
    )


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with the extra non-key predicate INSIDE the join condition (the
    canonical not-like becomes a priority exclusion), count(col) null
    semantics, then the second aggregation over the first."""
    cu = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        cu.join(o, (F.col("c_custkey") == F.col("o_custkey"))
                & (F.col("o_orderpriority") != "5-LOW"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    the MAX scalar broadcast back over the same aggregate — decimal
    equality, so ties surface all maxima deterministically."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                & (F.col("l_shipdate") < F.lit("1996-04-01")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_dec("l_extendedprice")
                   * (_dec_one() - _dec("l_discount"))).alias("rev_dec"))
    )
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.round(F.col("rev_dec").cast("double"), 2)
                .alias("total_revenue"))
        .orderBy("s_suppkey")
    )


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier-part relation count; lineitem stands in
    for partsupp, negative account balance for the complaints filter):
    NOT IN becomes a broadcast LEFT ANTI join — null-safe here because
    the key is non-nullable; COUNT DISTINCT shuffles (brand, size)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_size")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    AVG subquery becomes one aggregate over the unfiltered lineitem,
    semi-pruned to the brand's parts and broadcast back — the fact table
    is scanned twice but never re-scanned per row.  l_quantity is
    integral so the avg is exact in both engines."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#2") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    avg_qty = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"),
                "left_semi")
        .groupBy(F.col("l_partkey").alias("ap_key"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("half_avg"))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2)
             .alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the IN subquery is the
    same aggregate the output needs, so it is computed once and joined —
    no semi-join plus re-aggregation; quantities are integral doubles,
    summed exactly."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.round("qty", 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (part-promotion suppliers; shipped volume stands
    in for the absent ps_availqty): the doubly-nested IN collapses to
    aggregate→distinct-keys→semi-join; only (suppkey, partkey, qty)
    triples ever shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 20)
        .select("l_suppkey").distinct()
    )
    nn = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey"),
              "left_semi")
        .join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting; ship-vs-order
    lateness for the absent receipt/commit dates): the EXISTS /
    NOT EXISTS pair over the same fact becomes two window counts over
    one orderkey shuffle — a late line qualifies iff the order has
    another supplier and no OTHER late supplier."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS")
    w = Window.partitionBy("l_orderkey")
    flagged = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("is_late", late)
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn("n_late_supp", F.size(F.collect_set(
            F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)))
        .filter(F.col("is_late") & (F.col("n_supp") >= 2)
                & (F.col("n_late_supp") == 1))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity; nationkey digits stand
    in for phone country codes, 'no recent orders' for 'no orders'): the
    positive-balance AVG threshold compares cross-multiplied —
    bal*n > sum — so no engine-dependent double division sits on the
    keep/drop boundary; the anti-join side carries only custkeys."""
    code = (F.col("c_nationkey") % 10).cast("int")
    cu = _t(spark, sf_dir, "customer").filter(
        code.isin(1, 2, 3, 4, 5)
    ).select(code.alias("cntrycode"), "c_custkey", "c_acctbal")
    pos = cu.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"))
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")).select("o_custkey")
    return (
        cu.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast("double") * F.col("n") > F.col("s"))
        .groupBy("cntrycode")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("totacctbal"))
        .orderBy("cntrycode")
    )


def q_regex_match_rate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pat = r"\b(?:join|merge)\b"
    return (
        docs.groupBy("source")
        .agg(
            F.round(
                F.sum(F.when(F.col("text").rlike(pat), 1).otherwise(0))
                * 100.0
                / F.count(F.lit(1)),
                4,
            ).alias("match_rate"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


def q_exact_dedup(spark, sf_dir):
    from metacrafter_spark.ops.dedup import exact_dedup

    ev = _t(spark, sf_dir, "events")
    out = exact_dedup(ev, ["user_id", "event_type"], "event_id")
    return out.select("event_id", "user_id", "event_type").orderBy("event_id")


def q_jaccard_pairs(spark, sf_dir):
    """Exact word-set Jaccard over a capped doc subset (the oracle-checked
    baseline; the MinHash-LSH scale path is the rows-only twin below)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT), lambda w: F.length(w) > 0)
    )
    t = docs.select(F.col("doc_id"), words.alias("ws"))
    a, b = t.alias("a"), t.alias("b")
    jac = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws"))).cast("double") / \
        F.size(F.array_union(F.col("a.ws"), F.col("b.ws"))).cast("double")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def q_near_dup_clusters(spark, sf_dir):
    """Iterative distributed algorithm, oracle-checked: exact-Jaccard
    pair edges → connected components (min-label propagation) — DuckDB
    recomputes via a recursive CTE."""
    from metacrafter_spark.ops.dedup import connected_components

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT),
                 lambda w: F.length(w) > 0)
    )
    t = docs.select(F.col("doc_id"), words.alias("ws"))
    a, b = t.alias("a"), t.alias("b")
    jac = (F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws"))).cast("double")
           / F.size(F.array_union(F.col("a.ws"), F.col("b.ws"))).cast("double"))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.round(jac, 4).alias("j"))
        .filter(F.col("j") >= 0.5)
        .select("id_a", "id_b")
    )
    return connected_components(pairs).orderBy("id")


def q_quality_dedup_clusters(spark, sf_dir):
    """Quality-aware survivor selection per near-dup cluster (the
    FineWeb curation move): exact-Jaccard pair edges → connected
    components → keep the member with the MAXIMUM quality score (here:
    text length), ties broken by minimum id.  Returns one row per doc
    with its kept flag, so the full decision — clustering AND survivor
    choice — is value-checked; DuckDB replays components via a
    recursive CTE and the survivor via a null-safe max-score filter."""
    from metacrafter_spark.ops.dedup import dedup_by_clusters

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT),
                 lambda w: F.length(w) > 0)
    )
    t = docs.select(F.col("doc_id"), words.alias("ws"))
    a, b = t.alias("a"), t.alias("b")
    jac = (F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws"))).cast("double")
           / F.size(F.array_union(F.col("a.ws"), F.col("b.ws"))).cast("double"))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.round(jac, 4).alias("j"))
        .filter(F.col("j") >= 0.5)
        .select("id_a", "id_b")
    )
    scored = docs.select(
        "doc_id", F.length("text").cast("long").alias("q_score"))
    kept = dedup_by_clusters(scored, "doc_id", pairs, prefer_col="q_score")
    return (
        scored.select("doc_id")
        .join(kept.select("doc_id", F.lit(True).alias("kept")),
              "doc_id", "left")
        .select("doc_id", F.coalesce("kept", F.lit(False)).alias("kept"))
        .orderBy("doc_id")
    )


def q_ann_topk(spark, sf_dir):
    from metacrafter_spark.ops.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    out = brute_force_topk(emb, [float(x) for x in query], k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_token_counts(spark, sf_dir):
    from metacrafter_spark.ops.textstats import (
        subword_token_count,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("n_tokens_ws"),
        subword_token_count(F.col("text")).alias("n_tokens_subword"),
    ).orderBy("doc_id")


def q_dup_span_stats(spark, sf_dir):
    """Substring-dedup signal (Lee et al. 2021) — per-doc duplicated-span
    counts over hashed 8-token windows.  This IS the prod path
    (xxhash64 keys); the oracle groups the gram strings themselves, so
    the counts match exactly unless xxhash64 collides (~n²/2⁶⁵)."""
    from metacrafter_spark.ops.dedup import dup_span_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", span_words=8).orderBy("doc_id")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C recipe): flag corpus
    documents sharing any 8-gram with a benchmark/eval set.  Here the
    benchmark is every 25th document and the corpus is the rest; the
    bench gram-hash set is broadcast, so corpus grams never shuffle.
    This IS the prod path (xxhash64 keys); the oracle joins gram
    strings directly, value-checking the whole pipeline."""
    from metacrafter_spark.ops.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=8).orderBy("doc_id")


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination ACTION (round 5,
    ops/decontam.py::remove_contaminated_spans): excise every token
    covered by an 8-token window occurring verbatim in the benchmark
    split (every 25th doc), instead of dropping whole documents.
    Byte-exactness of the rebuilt text via sha256; the oracle joins
    gram STRINGS (value-checking the xxhash64 path) and replays
    positional grams, window coverage and the token rebuild."""
    from metacrafter_spark.ops.decontam import remove_contaminated_spans

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return (
        remove_contaminated_spans(corpus, bench, span_words=8)
        .select(
            "doc_id",
            F.sha2(F.col("text_decontam"), 256).alias("decontam_sha"),
            "n_tokens",
            "n_removed",
        )
        .orderBy("doc_id")
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition battery completion (round 5,
    corpus/quality.py::with_repetition_stats): top-ngram char fraction
    (n=2,3,4) and dup-ngram char coverage (n=5,10 here; 6-9 are the
    same code path) over documents with a planted hot bigram and a
    planted repeated 5-gram so every metric fires.  The oracle replays
    words, positional grams, per-gram counts, the (count, gram-chars)
    total-order top selection, duplicate-window coverage and the char
    sums in SQL."""
    from metacrafter_spark.corpus.quality import with_repetition_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat("text", F.lit(" very nice very nice very nice "
                                   "one two three four five and "
                                   "one two three four five")))
        .otherwise(F.col("text")).alias("text"))
    return (with_repetition_stats(planted, top_ns=(2, 3, 4),
                                  dup_ns=(5, 10))
            .select("doc_id", "top_2gram_char_frac",
                    "top_3gram_char_frac", "top_4gram_char_frac",
                    "dup_5gram_char_frac", "dup_10gram_char_frac")
            .orderBy("doc_id"))


def q_robots_header(spark, sf_dir):
    """X-Robots-Tag crawl policy (round 5, corpus/html.py
    with_robots_meta header_col): header values are synthesized
    in-plan over the documents table covering every grammar shape
    (plain, multi-directive, agent-scoped, none, valued
    unavailable_after, repeated-header join, empty), then parsed by
    the header token logic; the oracle replays the identical
    lower/split/trim/last-colon-part token walk in SQL."""
    from metacrafter_spark.corpus.html import with_robots_meta

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hdr = (F.when(F.col("doc_id") % 7 == 1, F.lit("noindex"))
           .when(F.col("doc_id") % 7 == 2,
                 F.lit("googlebot: noindex, noarchive"))
           .when(F.col("doc_id") % 7 == 3, F.lit("nofollow, nosnippet"))
           .when(F.col("doc_id") % 7 == 4, F.lit("none"))
           .when(F.col("doc_id") % 7 == 5,
                 F.lit("unavailable_after: 25 Jun 2010 15:00 PST"))
           .when(F.col("doc_id") % 7 == 6,
                 F.lit("noindex, nofollow"))
           .otherwise(F.lit("")))
    src = docs.select(
        "doc_id", F.lit("<html><body>x</body></html>").alias("html"),
        hdr.alias("x_robots"))
    return (with_robots_meta(src, "html", header_col="x_robots")
            .select("doc_id", "x_robots", "noindex", "nofollow")
            .orderBy("doc_id"))


def q_image_dhash(spark, sf_dir):
    """Perceptual image hashing through the REAL multimodal path
    (round 5, ops/imagehash.py): deterministic 9×8 grayscale images are
    synthesized in-plan (pixel bytes = sha256 chain of each document's
    text), encoded as real 24-bpp BMP containers, then decoded by the
    clean-room BMP decoder and dHashed by the exact-integer kernel —
    container encode → decode → luma → grid → 64 comparisons all live.
    The oracle re-derives every pixel from the same sha256 chain and
    replays the 64 cross-comparisons + two's-complement bit packing in
    SQL, so a regression ANYWHERE in the decode/hash path breaks the
    hash match.  (Grayscale pixels make the BT.601 luma exact — the
    weights sum to 1000 — and the 9×8 dims make the grid the identity,
    so the SQL replay needs no rational block arithmetic; bigger-image
    block math is pinned by the Fraction replay in
    tests/test_imagehash.py.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from metacrafter_spark.ops.imagehash import with_image_dhash

    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
            .select("doc_id", "text"))
    hx = F.concat(F.sha2(F.col("text"), 256),
                  F.sha2(F.concat(F.col("text"), F.lit("1")), 256),
                  F.sha2(F.concat(F.col("text"), F.lit("2")), 256))

    def _to_bmp(col):
        from metacrafter_spark.ops.gif_bmp_codec import encode_bmp

        out = []
        for h in col:
            g = np.frombuffer(bytes.fromhex(h[:144]), dtype=np.uint8)
            out.append(encode_bmp(np.repeat(g.reshape(8, 9)[:, :, None],
                                            3, axis=2)))
        return pd.Series(out)

    to_bmp = pandas_udf(_to_bmp, "binary")

    img = docs.select("doc_id", to_bmp(hx).alias("content"))
    return (with_image_dhash(img, "content", "dhash", strict=True)
            .select("doc_id", "dhash").orderBy("doc_id"))


def q_audio_fingerprint(spark, sf_dir):
    """Audio envelope fingerprint through the REAL multimodal path
    (round 5, ops/audiohash.py — the audio sibling of image_dhash):
    320 deterministic int16 samples per document (big-endian pairs of
    the text's sha256 chain, offset to signed) are encoded as real
    PCM-16 WAV containers in-plan, then decoded by the clean-room WAV
    decoder and fingerprinted by the exact-integer kernel — container
    encode → decode → |sample| / |Δsample| window grids → 64
    cross-multiplied comparisons all live.  The oracle re-derives every
    sample from the same sha256 chain and replays both 65-window grids
    (the k·n//65 boundaries as list slices) plus all 64 comparisons and
    the two's-complement bit packing in SQL, so a regression ANYWHERE
    in the WAV decode or fingerprint math breaks the hash match."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from metacrafter_spark.ops.audiohash import with_audio_fingerprint
    from metacrafter_spark.ops.multimodal import encode_wav

    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 200) & F.col("text").isNotNull())
            .select("doc_id", "text"))
    hx = F.concat(F.sha2(F.col("text"), 256),
                  *[F.sha2(F.concat(F.col("text"), F.lit(str(i))), 256)
                    for i in range(1, 20)])

    def _to_wav(col):
        out = []
        for h in col:
            raw = np.frombuffer(bytes.fromhex(h), dtype=">u2")
            out.append(encode_wav(
                (raw.astype(np.int32) - 32768).astype(np.int16)))
        return pd.Series(out)

    to_wav = pandas_udf(_to_wav, "binary")

    wav = docs.select("doc_id", to_wav(hx).alias("content"))
    return (with_audio_fingerprint(wav, "content", "afp",
                                   strict=True, keep=["doc_id"])
            .select("doc_id", "afp").orderBy("doc_id"))


def q_video_dhash(spark, sf_dir):
    """Video frame hashing through the REAL multimodal path (round 5,
    ops/audiohash.py video leg): each document becomes a real 3-frame
    MCVF video container (frame pixels = per-frame sha256 chains of the
    text, 8×9 grayscale — the image_dhash geometry), then
    `sample_frames` decodes the container and time-spaces the frames
    (duration 3000 ms / every 1000 ms → all three, linspace identity)
    and each frame rides the exact-integer dHash kernel — container
    encode → frame sampling → PPM decode → luma → 64 comparisons all
    live.  The oracle re-derives every frame's pixels from the same
    sha256 chains and replays the comparisons + bit packing per
    (doc, frame) in SQL."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from metacrafter_spark.ops.audiohash import video_frame_hashes
    from metacrafter_spark.ops.multimodal import encode_video

    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 100) & F.col("text").isNotNull())
            .select("doc_id", "text"))
    hxs = [F.concat(*[F.sha2(F.concat(F.col("text"), F.lit(f"f{f}{s}")),
                             256) for s in ("", "a", "b")])
           for f in range(3)]

    def _to_video(h0, h1, h2):
        out = []
        for a, b, c in zip(h0, h1, h2):
            frames = []
            for h in (a, b, c):
                g = np.frombuffer(bytes.fromhex(h[:144]), dtype=np.uint8)
                frames.append(np.repeat(g.reshape(8, 9)[:, :, None],
                                        3, axis=2))
            out.append(encode_video(frames))
        return pd.Series(out)

    to_video = pandas_udf(_to_video, "binary")

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(3000).alias("duration_ms"),
        to_video(*hxs).alias("content"))
    return (video_frame_hashes(media, every_ms=1000, strict=True)
            .orderBy("media_id", "frame_idx"))


def q_global_para_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (round 5, ops/dedup.py::
    remove_global_dup_paragraphs — the CCNet §3.1 boilerplate remover,
    cross-document twin of dedup_paragraphs).  Deterministic shared
    boilerplate is injected in-plan (a header paragraph on every
    doc_id%3==0, a footer on every doc_id%4==0 — case/punct-varied on
    doc_id%6==0 so the normalized KEY must unify them), then BOTH
    modes run: keep_first (the minimal (id, idx) occurrence survives)
    and drop_common (min_docs=3: boilerplate vanishes everywhere).
    The oracle replays the split, the ASCII-fold normalization, the
    global winner window, and the rebuild byte-exactly."""
    from metacrafter_spark.ops.dedup import remove_global_dup_paragraphs

    hdr = "Subscribe to our NEWSLETTER today."
    hdr_v = "subscribe   to our newsletter, today!!"  # same normalized key
    ftr = "(c) example site 2024 all rights reserved"
    d = F.col("doc_id")
    docs = (_t(spark, sf_dir, "documents")
            .filter((d < 500) & F.col("text").isNotNull())
            .select("doc_id", "text"))
    txt = F.when(d % 3 == 0,
                 F.concat(F.when(d % 6 == 0, F.lit(hdr_v))
                          .otherwise(F.lit(hdr)),
                          F.lit("\n\n"), F.col("text"))) \
        .otherwise(F.col("text"))
    txt = F.when(d % 4 == 0, F.concat(txt, F.lit("\n\n"), F.lit(ftr))) \
        .otherwise(txt)
    corpus = docs.select("doc_id", txt.alias("text"))
    kf = remove_global_dup_paragraphs(corpus).select(
        "doc_id",
        F.sha2(F.col("text_dedup"), 256).alias("kf_sha"),
        F.col("n_paras").alias("n_paras"),
        F.col("n_removed").alias("kf_removed"))
    dc = remove_global_dup_paragraphs(
        corpus, mode="drop_common", min_docs=3).select(
        "doc_id",
        F.sha2(F.col("text_dedup"), 256).alias("dc_sha"),
        F.col("n_removed").alias("dc_removed"))
    return kf.join(dc, "doc_id").orderBy("doc_id")


def q_incremental_para_dedup(spark, sf_dir):
    """Cross-dump incremental paragraph dedup (round 5, ops/dedup.py::
    incremental_para_dedup — CCNet's production shape: each new crawl
    dump dedups against the dumps already ingested).  The injected
    boilerplate corpus of global_para_dedup splits into two waves
    (doc_id parity); wave 1 runs the first-dump path (store = None),
    its `para_keys` become the store, and wave 2 dedups against it —
    so a wave-2 paragraph already seen in wave 1 drops even as its
    batch's first occurrence.  The oracle replays wave splitting, the
    key store, the anti-join, both winner windows, and both rebuilds
    byte-exactly."""
    from metacrafter_spark.ops.dedup import (
        incremental_para_dedup, para_keys)

    hdr = "Subscribe to our NEWSLETTER today."
    hdr_v = "subscribe   to our newsletter, today!!"
    ftr = "(c) example site 2024 all rights reserved"
    d = F.col("doc_id")
    docs = (_t(spark, sf_dir, "documents")
            .filter((d < 400) & F.col("text").isNotNull())
            .select("doc_id", "text"))
    txt = F.when(d % 3 == 0,
                 F.concat(F.when(d % 6 == 0, F.lit(hdr_v))
                          .otherwise(F.lit(hdr)),
                          F.lit("\n\n"), F.col("text"))) \
        .otherwise(F.col("text"))
    txt = F.when(d % 4 == 0, F.concat(txt, F.lit("\n\n"), F.lit(ftr))) \
        .otherwise(txt)
    corpus = docs.select("doc_id", txt.alias("text"))
    w1 = corpus.filter(d % 2 == 0)
    w2 = corpus.filter(d % 2 == 1)
    out1 = incremental_para_dedup(w1, None).withColumn("wave", F.lit(1))
    out2 = incremental_para_dedup(w2, para_keys(w1)) \
        .withColumn("wave", F.lit(2))
    return (out1.unionByName(out2)
            .select("doc_id", "wave",
                    F.sha2(F.col("text_dedup"), 256).alias("dedup_sha"),
                    "n_paras", "n_removed")
            .orderBy("doc_id"))


def q_hash_sample(spark, sf_dir):
    """Deterministic 10% Bernoulli-by-hash sample of documents — the
    membership predicate is pure integer arithmetic on doc_id (Knuth
    multiplicative hash), so DuckDB replays it exactly; zero shuffles
    beyond the final orderBy (map-side filter on the scan)."""
    from metacrafter_spark.ops.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_sample(docs, "doc_id", 0.10, seed=7)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Exactly 20 documents per source (the mixing-quota op): the 20
    smallest id hashes per stratum — deterministic across partitionings;
    the window only ever sees the hash-thresholded survivor set."""
    from metacrafter_spark.ops.sampling import stratified_quota_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_quota_sample(docs, "source", "doc_id", quota=20, seed=7)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_budget_mix(spark, sf_dir):
    """Token-budget mixing: down-sample every source to ~3k chars of
    expected weight via deterministic hash membership — one tiny
    per-source agg broadcast back plus a map-side filter; the corpus
    itself never shuffles."""
    from metacrafter_spark.ops.sampling import budget_mix

    docs = _t(spark, sf_dir, "documents")
    return (
        budget_mix(docs, "source", "doc_id", "n_chars", 3000.0, seed=7)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_normalize_text(spark, sf_dir):
    """Unicode NFC + control-strip + whitespace-collapse normalization,
    byte-exactness checked via sha256 of the normalized text.  Each doc
    is deterministically dirtied first (decomposed accents, tabs, a BEL
    control char, edge whitespace) so the oracle exercises every
    normalization stage, not a passthrough."""
    from metacrafter_spark.ops.textstats import normalize_text

    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("  cafe\u0301\t"), F.col("text"), F.lit(" \x07a\u030a \n")
        ).alias("text"),
    )
    return (
        normalize_text(messy)
        .select(
            "doc_id",
            F.sha2(F.col("text_norm"), 256).alias("norm_sha"),
            F.length("text_norm").alias("norm_len"),
        )
        .orderBy("doc_id")
    )


def q_dedup_paragraphs(spark, sf_dir):
    """Within-document paragraph dedup (keep first occurrence): each
    doc is deterministically given a repeated paragraph plus a unique
    tail, and the oracle replays the same first-occurrence filter with
    DuckDB's indexed list lambda; byte-exactness via sha256."""
    from metacrafter_spark.corpus.quality import with_dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n\n"), F.col("text"),
            F.lit("\n\nunique tail "), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return (
        with_dedup_paragraphs(messy)
        .select(
            "doc_id",
            F.sha2(F.col("text_dedup"), 256).alias("dedup_sha"),
            F.col("n_paras").cast("long").alias("n_paras"),
            F.col("n_dup_paras").cast("long").alias("n_dup_paras"),
        )
        .orderBy("doc_id")
    )


def q_url_domain_filter(spark, sf_dir):
    """URL curation: host extraction (userinfo/port-aware), registered
    domain (public-suffix-lite incl. co.uk-style ccTLD second levels),
    UT1-style broadcast blocklist anti-join.  URLs are deterministically
    synthesized from the documents table so the oracle replays every
    branch (userinfo@, :port, query strings, .co.uk vs .com vs .org)."""
    from metacrafter_spark.ops.urls import domain_blocklist_filter, with_url_parts

    docs = _t(spark, sf_dir, "documents")
    tld = (
        F.when(F.col("doc_id") % 3 == 0, ".co.uk")
        .when(F.col("doc_id") % 3 == 1, ".com")
        .otherwise(".org")
    )
    prefix = F.when(F.col("doc_id") % 7 == 0, "https://user@www.").otherwise(
        "https://www."
    )
    port = F.when(F.col("doc_id") % 5 == 0, ":8443").otherwise("")
    urls = docs.select(
        "doc_id",
        F.concat(
            prefix, F.col("source"), tld, port,
            F.lit("/a/"), F.col("doc_id").cast("string"), F.lit("?ref=x"),
        ).alias("url"),
    )
    parts = with_url_parts(urls)
    kept = domain_blocklist_filter(parts, ["src1.com", "src3.co.uk"])
    return kept.select("doc_id", "host", "domain").orderBy("doc_id")


def q_toxicity_filter(spark, sf_dir):
    """Toxicity wordlist metrics + C4/density keep decision + masking
    scrub (the toxicity half of the north rule's PII/toxicity-scrub).
    Listed words are deterministically injected into a subset of docs
    so every branch fires; the oracle replays tokenization, counting,
    the two-policy keep predicate, and the byte-level scrub (sha256)."""
    from metacrafter_spark.corpus.toxicity import (
        scrub_toxic,
        toxicity_pass,
        with_toxicity,
    )

    docs = _t(spark, sf_dir, "documents")
    inj = (
        F.when(F.col("doc_id") % 11 == 0, F.lit(" badword Badword slur1"))
        .when(F.col("doc_id") % 7 == 0, F.lit(" OBSCENITY"))
        .otherwise(F.lit(""))
    )
    messy = docs.select(
        "doc_id", F.concat(F.col("text"), inj).alias("text")
    )
    t = with_toxicity(messy)
    t = t.withColumn("keep_c4", toxicity_pass(t, max_hits=0))
    t = t.withColumn("keep_density", toxicity_pass(t, max_hits=None, max_frac=0.02))
    return (
        scrub_toxic(t, out_col="text_scrubbed")
        .select(
            "doc_id",
            F.col("tox_n").cast("long").alias("tox_n"),
            "tox_frac",
            "tox_any",
            "keep_c4",
            "keep_density",
            F.sha2(F.col("text_scrubbed"), 256).alias("scrub_sha"),
        )
        .orderBy("doc_id")
    )


def q_diversity_sample(spark, sf_dir):
    """SemDeDup-style semantic balancing: assign every embedding to its
    nearest of 4 deterministic centroids (the first vector of labels
    0-3, L2-normalized), then cap each semantic bucket at 30 vectors by
    deterministic id hash.  The oracle re-derives the same centroids,
    replays cosine argmax with list_cosine_similarity, and applies the
    same quota arithmetic."""
    import numpy as np

    from metacrafter_spark.ops.similarity import diversity_sample

    emb = _t(spark, sf_dir, "embeddings")
    first = (
        emb.filter(F.col("label") < 4)
        .groupBy("label")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    cent_rows = (
        emb.join(first, ["label", "vec_id"])
        .select("label", "embedding")
        .orderBy("label")
        .collect()
    )
    cents = []
    for r in cent_rows:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        n = np.linalg.norm(v)
        cents.append([float(x) for x in (v / n if n > 0 else v)])
    out = diversity_sample(emb, cents, quota=30, seed=7)
    return out.select("vec_id", F.col("cluster").cast("int").alias("cluster")).orderBy(
        "vec_id"
    )


def q_readability(spark, sf_dir):
    """Flesch reading-ease / Flesch-Kincaid grade over documents —
    native word/sentence/vowel-group expressions; the oracle replays
    the identical arithmetic in SQL."""
    from metacrafter_spark.ops.textstats import with_readability

    docs = _t(spark, sf_dir, "documents")
    return (
        with_readability(docs)
        .select("doc_id", "read_words", "read_sentences", "read_syllables",
                "read_ease", "read_grade")
        .orderBy("doc_id")
    )


def q_remove_dup_spans(spark, sf_dir):
    """Substring-dedup ACTION: excise every token covered by an 8-token
    window that occurs in ≥2 documents; byte-exactness of the rebuilt
    text via sha256.  The oracle replays positional grams, cross-doc
    frequency, window coverage and token rebuild in SQL."""
    from metacrafter_spark.ops.dedup import remove_dup_spans

    docs = _t(spark, sf_dir, "documents")
    return (
        remove_dup_spans(docs, "doc_id", "text", span_words=8)
        .select(
            "doc_id",
            F.sha2(F.col("text_dedup"), 256).alias("dedup_sha"),
            "n_tokens",
            "n_removed",
        )
        .orderBy("doc_id")
    )


def q_events_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    n = F.count(F.lit(1))
    return (
        ev.groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                    .cast("double") / n, 4).alias("avg_value"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation must equal a plain GROUP BY — the
    oracle IS the plain form, so the skew-safe plan is value-checked."""
    from metacrafter_spark.corpus.pipeline import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(ev, "event_type", "value", salt_col="event_id")
    return out.select(
        "event_type", "n_rows",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
    ).orderBy("event_type")


def q_daily_event_windows(spark, sf_dir):
    """Tumbling-window daily aggregation (batch form of the streaming op)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date(F.col("ts")).alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                    .cast("double"), 4).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


def q_c4_line_filter(spark, sf_dir):
    """C4-style line cleaning, byte-exact vs a DuckDB list_filter
    replay (sha256 of the cleaned text per doc)."""
    from metacrafter_spark.corpus.quality import c4_line_filter

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = docs.select(
        "doc_id",
        F.sha2(c4_line_filter(F.col("text")), 256).alias("clean_sha256"),
        F.length(c4_line_filter(F.col("text"))).alias("clean_len"),
    )
    return out.orderBy("doc_id")


def q_langid(spark, sf_dir):
    """Language distribution over the real documents table UNIONed with
    a multi-language synthetic corpus (the flat samples list cycled over
    doc_ids, 3 docs per snippet) — one langid pass covers every
    language in BUILTIN_PACK,
    incl. the whitespace-free CJK/Thai script paths, all hash-checked
    against the DuckDB replay generated from the same pack."""
    from metacrafter_spark.corpus.langid import with_langid
    from metacrafter_spark.corpus.langid_samples import flat_samples

    docs = _t(spark, sf_dir, "documents")
    flat = flat_samples()
    snippets = F.array(*[F.lit(t) for (_l, t) in flat])
    n_snip = len(flat)
    synth = docs.filter(F.col("doc_id") < 3 * n_snip).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.element_at(snippets,
                     (F.col("doc_id") % n_snip + 1).cast("int")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionAll(synth)
    return (
        with_langid(both)
        .groupBy(
            F.when(F.col("doc_id") >= 1_000_000, F.lit("synth"))
            .otherwise(F.lit("docs")).alias("corpus"),
            F.col("langid_lang").alias("lang_pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("corpus", "lang_pred")
    )


def q_quality_flags(spark, sf_dir):
    """SQL-checkable slice of the Gopher metrics over the real docs
    UNIONed with the multi-language sample corpus — the round-5 CJK-mode
    metrics (cjk_char_frac / n_units / dup_cjk_2gram_frac /
    letter_char_frac) and the script-aware q_pass are hash-checked on
    genuinely whitespace-free zh/ja/th rows, not just Latin text."""
    from metacrafter_spark.corpus.langid_samples import flat_samples
    from metacrafter_spark.corpus.quality import with_quality

    base = _t(spark, sf_dir, "documents")
    docs = base.filter(F.col("doc_id") < 100)
    flat = flat_samples()
    snippets = F.array(*[F.lit(t) for (_l, t) in flat])
    n_snip = len(flat)
    # synth ids come from the UNFILTERED table: n_snip may exceed the
    # docs slice above (34-language pack → 102 snippets)
    synth = base.filter(F.col("doc_id") < n_snip).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.element_at(snippets,
                     (F.col("doc_id") % n_snip + 1).cast("int")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionAll(synth)
    out = with_quality(both)
    return out.select(
        "doc_id",
        F.col("q_n_words").alias("n_words"),
        F.round("q_mean_word_len", 4).alias("mean_word_len"),
        F.round("q_dup_line_frac", 4).alias("dup_line_frac"),
        F.round("q_alpha_char_frac", 4).alias("alpha_char_frac"),
        F.round("q_dup_para_frac", 4).alias("dup_para_frac"),
        F.round("q_dup_2gram_frac", 4).alias("dup_2gram_frac"),
        F.round("q_cjk_char_frac", 4).alias("cjk_char_frac"),
        F.col("q_n_units").alias("n_units"),
        F.round("q_dup_cjk_2gram_frac", 4).alias("dup_cjk_2gram_frac"),
        F.round("q_letter_char_frac", 4).alias("letter_char_frac"),
        F.col("q_pass").alias("q_pass"),
    ).orderBy("doc_id")


# ------------------------------------------------- rows-only (non-SQL ops)


def q_minhash_near_dups(spark, sf_dir):
    """Production xxhash64 MinHash-LSH pairs.  No SQL oracle exists for
    xxhash64 signatures, so the OUTPUT CONTRACT is checked in-plan
    instead (round-5): ``pair_verified`` recomputes each emitted pair's
    exact shingle Jaccard INDEPENDENTLY of the operator (fresh
    shingle derivation, not the op's own column) and asserts it clears
    the threshold and agrees with the op's reported jaccard — every
    emitted row carries its own proof.  (The sha256-family twin
    minhash_near_dups_sha remains fully oracle-checked.)"""
    from metacrafter_spark.ops.dedup import (
        jaccard, near_dup_pairs_minhash, shingles_from_words, split_words,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = near_dup_pairs_minhash(docs, "doc_id", threshold=0.5)
    sh = docs.select(
        "doc_id",
        shingles_from_words(split_words(F.col("text"))).alias("sh"),
    )
    return (
        pairs
        .join(sh.select(F.col("doc_id").alias("id_a"),
                        F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("sh").alias("sh_b")), "id_b")
        .withColumn("exact_j", jaccard(F.col("sh_a"), F.col("sh_b")))
        .select(
            "id_a", "id_b", F.round("jaccard", 4).alias("jaccard"),
            ((F.col("exact_j") >= 0.5)
             & (F.round("exact_j", 4) == F.round("jaccard", 4))
             ).alias("pair_verified"),
        )
    )


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs, oracle-checked end-to-end: the sha256-
    parity projection family is reproducible in DuckDB, and for
    max_distance ≤ 3 the 4×16-bit chunk blocking is LOSSLESS (pigeonhole)
    — so the DuckDB all-pairs recomputation must agree exactly."""
    from metacrafter_spark.ops.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = simhash_near_dups(docs, "doc_id", max_distance=3)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_fingerprints(spark, sf_dir):
    """quality_score is oracle-checked value-for-value (re-derived in
    DuckDB SQL); the xxhash64 winnowing fingerprint has no SQL twin, so
    the query carries its contract as a CHECKED INVARIANT instead:
    recomputing on a repartitioned copy must give identical
    fingerprints (fp_stable hash-compares against the oracle's TRUE)."""
    from metacrafter_spark.ops.textstats import with_text_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = with_text_stats(docs).select("doc_id", "fingerprint", "quality_score")
    b = with_text_stats(docs.repartition(7)).select(
        F.col("doc_id").alias("doc_id_b"), F.col("fingerprint").alias("fp_b")
    )
    return (
        a.join(b, a.doc_id == b.doc_id_b)
        .select(
            "doc_id",
            "quality_score",
            (F.col("fingerprint") == F.col("fp_b")).alias("fp_stable"),
        )
        .orderBy("doc_id")
    )


def q_pii_scrub_documents(spark, sf_dir):
    """Byte-exact scrub oracle: documents.text is digit-free prose, so
    injecting deterministic PII (email always; ipv4 on even ids; SSN on
    ids % 3 == 0) makes exactly those three rules fire.  DuckDB rebuilds
    the same text and replays the rule sequence with lookaround-free
    twins (the guards are trivially satisfied at the injected
    boundaries), so the scrubbed sha256 AND per-rule counts must match
    value-for-value."""
    from metacrafter_spark.corpus.scrub import with_scrub

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.when(did % 2 == 0,
               F.concat(F.lit(" ip 10.0."), (did % 250).cast("string"),
                        F.lit(".7"))).otherwise(F.lit("")),
        F.when(did % 3 == 0,
               F.concat(F.lit(" ssn 123-45-"),
                        F.lpad(did.cast("string"), 4, "0"))).otherwise(F.lit("")),
    )
    out = with_scrub(docs.select(did, injected.alias("text")))
    return out.select(
        "doc_id",
        F.sha2(F.col("text_scrubbed"), 256).alias("scrub_sha256"),
        F.col("pii_hits.email").alias("n_email"),
        F.col("pii_hits.ipv4").alias("n_ipv4"),
        F.col("pii_hits.ssn_like").alias("n_ssn"),
    ).orderBy("doc_id")


def q_perplexity(spark, sf_dir):
    """Char-trigram perplexity, oracle-checked end-to-end (round-3
    upgrade from rows-only): the logp table is float64, and the query
    scores an ASCII projection of the text (non-ASCII chars → '#', one
    per BMP char) so the scorer's BYTE-level trigram stream equals the
    CHAR-level stream a SQL engine sees.  The DuckDB oracle re-trains
    the trigram table from the same embedded seed text and replays
    add-k scoring in double precision — agreement is ~1 ulp, rounded to
    4 decimals."""
    from metacrafter_spark.corpus.perplexity import with_perplexity

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    proj = docs.withColumn(
        "text", F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "#")
    )
    return with_perplexity(proj).select(
        "doc_id", F.round("ppl", 4).alias("ppl")
    ).orderBy("doc_id")


def _planted_ann_corpus(spark, sf_dir):
    """(queries, corpus) with deterministic planted near-duplicates —
    shared by the *_recall and *_topk queries.  Each of 20 query
    vectors gets 4 clones at per-coordinate perturbations
    ``x·(1 + 0.02j·(±1 by index parity))`` (cos ≈ 0.997-0.9998, far
    above the ≈0.5 noise ceiling), built with pure double arithmetic a
    SQL engine replays exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    queries = base.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("embedding")
    )
    # 4 clones per query: vec_id = 1_000_000 + qid*10 + j, j = 1..4
    sign = lambda i: F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))  # noqa: E731
    clones = queries.crossJoin(spark.range(1, 5).toDF("j")).select(
        (F.lit(1_000_000) + F.col("qid") * 10 + F.col("j")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.02) * F.col("j") * sign(i)),
        ).alias("embedding"),
    )
    corpus = base.select("vec_id", F.col("v").alias("embedding")).unionByName(clones)
    return queries, corpus


def _recall_ok(exact, approx, need: int):
    """One-row broadcast frame: did the approximate engine recover
    ≥ need of the exact ids?  Computed fully in-plan."""
    return (
        exact.select("qid", "vec_id")
        .join(approx.select("qid", "vec_id"), ["qid", "vec_id"])
        .agg((F.count(F.lit(1)) >= need).alias("recall_ok"))
    )


def q_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH approximate top-k over the planted-clone
    corpus.  The row set is approximate by construction (no SQL oracle
    can predict which neighbors a probe sequence surfaces), so the
    query carries its recall bound IN-PLAN (round-5): ``recall_ok`` is
    TRUE iff ≥ 90 of the 100 exact top-5 ids were recovered — the same
    bound the oracle-green lsh_recall query pins, here attached to the
    approximate engine's own output rows."""
    from metacrafter_spark.ops.similarity import lsh_topk, topk_join

    queries, corpus = _planted_ann_corpus(spark, sf_dir)
    approx = lsh_topk(queries, corpus, dim=_EMB_DIM, k=5, bits=8,
                      multiprobe=2)
    exact = topk_join(queries, corpus, k=5)
    ok = _recall_ok(exact, approx, need=90)
    return (
        approx.crossJoin(F.broadcast(ok))
        .select("qid", "vec_id", F.round("cosine", 4).alias("cosine"),
                "rank", "recall_ok")
        .orderBy("qid", "rank")
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (train-on-sample spherical k-means →
    cell-bucketed search) over the planted-clone corpus, with the same
    in-plan ``recall_ok`` ≥ 90/100 contract as q_lsh_topk."""
    from metacrafter_spark.ops.similarity import (
        ivf_topk, topk_join, train_ivf_centroids,
    )

    queries, corpus = _planted_ann_corpus(spark, sf_dir)
    cents = train_ivf_centroids(corpus, nlist=16, sample=2048, seed=42)
    approx = ivf_topk(queries, corpus, cents, k=5, nprobe=4)
    exact = topk_join(queries, corpus, k=5)
    ok = _recall_ok(exact, approx, need=90)
    return (
        approx.crossJoin(F.broadcast(ok))
        .select("qid", "vec_id", F.round("cosine", 4).alias("cosine"),
                "rank", "recall_ok")
        .orderBy("qid", "rank")
    )


def _ann_recall(spark, sf_dir, engine: str):
    """Driver-visible ANN recall on PLANTED near-duplicates (round 4).

    The driver's ``embeddings`` table is unstructured random noise, on
    which sublinear search has no neighborhood structure to exploit (at
    bits=8/nprobe=4 both engines recover ~30-70% of arbitrary top-5 —
    a property of the data, not the index).  The production question —
    does the index retrieve TRUE near-duplicates? — is answered by
    planting them deterministically: each of 20 query vectors gets 4
    clones at per-coordinate perturbations ``x·(1 + 0.02j·(±1 by index
    parity))`` (cos ≈ 0.997-0.9998 vs noise max ≈ 0.5), built with pure
    double arithmetic that DuckDB replays exactly.  Exact top-5 per
    query = self + its 4 clones; the query emits those rows (fully
    SQL-checkable: cosine + rank) plus ``recall_ok``, computed IN-QUERY:
    true iff the approximate engine recovered ≥ 90/100 of the exact
    ids.  The oracle expects TRUE (the fingerprints ``fp_stable``
    invariant pattern), so a recall regression in the deterministic
    planes/centroids flips every row and fails the value hash.  The
    intersection count never leaves the plan — one broadcast 1-row
    cross join, no driver-side collect; unit bounds on the structured
    fixtures (multi-probe ≥ 0.9, IVF ≥ 0.9 @ nprobe=4) remain in
    tests."""
    from metacrafter_spark.ops.similarity import (
        ivf_topk,
        lsh_topk,
        topk_join,
        train_ivf_centroids,
    )

    queries, corpus = _planted_ann_corpus(spark, sf_dir)
    k, n_queries, threshold = 5, 20, 0.9
    exact = topk_join(queries, corpus, k=k)
    if engine == "lsh":
        approx = lsh_topk(queries, corpus, dim=_EMB_DIM, k=k, bits=8,
                          multiprobe=2)
    else:
        cents = train_ivf_centroids(corpus, nlist=16, sample=2048, seed=42)
        approx = ivf_topk(queries, corpus, cents, k=k, nprobe=4)
    need = int(threshold * k * n_queries)  # 90 of the 100 exact ids
    ok = _recall_ok(exact, approx, need)
    return (
        exact.crossJoin(F.broadcast(ok))
        .select("qid", "vec_id", F.round("cosine", 4).alias("cosine"),
                "rank", "recall_ok")
        .orderBy("qid", "rank")
    )


#: shared oracle for lsh_recall / ivf_recall: the exact top-5 per query
#: (cosine + deterministic rank tie-break on vec_id) with the expected
#: recall_ok = TRUE invariant column
_ANN_RECALL_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    clones AS (
      SELECT 1000000 + q.qid * 10 + r.j AS vec_id,
             list_transform(q.qv, (x, i) ->
               x * (1.0 + 0.02 * r.j *
                    CASE WHEN (i - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END)) AS v
      FROM q CROSS JOIN range(1, 5) r(j)),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL SELECT vec_id, v FROM clones),
    scored AS (
      SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.v, q.qv) AS cos,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(e.v, q.qv) DESC,
                        e.vec_id) AS rank
      FROM corpus e CROSS JOIN q)
    SELECT qid, vec_id, round(cos, 4) AS cosine, CAST(rank AS INT) AS rank,
           TRUE AS recall_ok
    FROM scored WHERE rank <= 5 ORDER BY qid, rank
"""


def q_lsh_recall(spark, sf_dir):
    return _ann_recall(spark, sf_dir, "lsh")


def q_ivf_recall(spark, sf_dir):
    return _ann_recall(spark, sf_dir, "ivf")


#: committed materialization of synth_webpages(2000, seed=42) — same
#: pure function of (seed, doc_id), written by
#: scripts/gen_webcorpus_fixture.py so the driver's DuckDB can replay
#: the BASELINE-shape corpus path (tests pin fixture == live generation)
WEBCORPUS_FIXTURE = str(
    Path(__file__).resolve().parent
    / "tests/fixtures/webcorpus/webcorpus_2000.parquet"
)

#: scrub-rule subset for the hash-green corpus queries: the three rules
#: whose spans actually occur in the synthetic corpus AND whose regexes
#: have exact RE2 equivalents in context (the lookaround guards are
#: vacuous at every occurrence site — space-delimited spans).  The FULL
#: 14-rule cascade incl. Luhn/mod-97 validators stays byte-exact-green
#: via pii_scrub_documents; this subset makes the BASELINE-shape path
#: itself replayable.
_WEBCORPUS_RULE_NAMES = ("email", "uuid", "phone_intl")

#: RE2/DuckDB-safe equivalents of the three rules' Python regexes: the
#: patterns are identical minus the lookaround guards, which are vacuous
#: on this corpus (every span occurrence is space-delimited, never
#: hex/digit/word-adjacent) — a property the Spark side also relies on
#: and the hash match verifies end-to-end.
_EMAIL_RE2 = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_UUID_RE2 = (r"[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}-"
             r"[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}")
_PHONE_RE2 = r"\+\d{1,3}[\s\-.]?\(?\d{1,4}\)?(?:[\s\-.]?\d{2,4}){2,4}"


def _webcorpus_rules():
    from metacrafter_spark.corpus.scrub import WEB_PII_RULES

    return tuple(r for r in WEB_PII_RULES if r.name in _WEBCORPUS_RULE_NAMES)


def q_html_extract_text(spark, sf_dir):
    """HTML → text extraction under the north rule's byte-identity
    contract (round 5): the corpus is regenerated live, text is
    extracted FROM THE HTML BYTES by the stdlib-clean-room parser
    (head/script/style dropped, entities decoded, body text kept
    byte-faithfully), and the oracle hashes the committed fixture's
    ``text`` column directly — the sha256s can only match if the
    extractor reproduces the extracted-text column byte-for-byte on
    every one of the 2000 documents."""
    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.corpus.webpages import synth_webpages

    corpus = synth_webpages(spark, 2000, seed=42, partitions=8)
    out = with_extracted_text(corpus, "html", "tx")
    return out.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.sha2(F.col("tx"), 256).alias("extract_sha"),
        F.length("tx").alias("n_chars"),
    ).orderBy("doc_id")


def q_pdf_extract_text(spark, sf_dir):
    """PDF → text extraction round-trip (round 5, io/pdf_codec.py —
    clean-room ISO 32000): each document's printable-ASCII projection
    is rendered to a PDF 1.5 file IN-PLAN (object streams + xref
    stream, Flate-compressed) by the deterministic writer, then the
    extractor recovers the text layer from those bytes (xref-stream
    load, ObjStm objects, page tree, content-stream interpretation
    with line tracking).  The oracle hashes the same projection
    computed directly from the text column — the sha256s match only
    if the parse→extract chain reproduces every document
    byte-for-byte."""
    from metacrafter_spark.io.pdf_codec import (with_pdf_text,
                                                write_simple_pdf)

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"[^\x20-\x7e\n]", "?").alias("atext"))

    def gen(batches):
        for b in batches:
            b = b.copy()
            b["pdf"] = [write_simple_pdf([t], compress=True,
                                         xref_stream=True)
                        for t in b["atext"]]
            yield b[["doc_id", "pdf"]]

    pdfs = docs.mapInPandas(gen, "doc_id long, pdf binary")
    out = with_pdf_text(pdfs, "pdf", "ptext")
    return out.select(
        "doc_id",
        F.sha2(F.col("ptext"), 256).alias("pdf_sha"),
        F.length("ptext").alias("n_chars")).orderBy("doc_id")


def q_office_extract_text(spark, sf_dir):
    """Office-document text extraction (io/office_codec.py, clean-room
    ECMA-376 / ODF 1.2 / RTF 1.9.1 / [MS-DOC] / EPUB-OCF — the crawl
    payloads that are not HTML): each document's XML-legal projection
    is rendered IN-PLAN into one of five containers chosen by
    ``doc_id % 5`` (DOCX zip, ODT OCF package, RTF with ``\\uN``
    unicode escapes, legacy DOC with a multi-piece mixed-encoding
    piece table, multi-chapter EPUB), then the unified byte-router +
    per-format extractors recover the text.  The oracle hashes the
    same projection computed directly from the text column and pins
    the expected route — the sha256s match on every document only if
    all five write→route→extract chains are byte-exact inverses, and
    ``routed_ok`` only if magic-byte sniffing (which must peek INSIDE
    zip/CFB containers — docx/odt/epub share ``PK``, doc/xls share
    the CFB magic) picked the right extractor every time."""
    from metacrafter_spark.io.office_codec import (
        with_document_text, write_doc, write_docx, write_epub,
        write_odt, write_rtf)

    fmts = ["docx", "odt", "rtf", "doc", "epub"]
    writers = {"docx": write_docx, "odt": write_odt, "rtf": write_rtf,
               "doc": write_doc, "epub": write_epub}
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"[\x00-\x08\x0B-\x1F\x7F]", "")
        .alias("ptext"),
        F.element_at(F.array(*[F.lit(x) for x in fmts]),
                     (F.col("doc_id") % 5 + 1).cast("int")).alias("fmt"))

    def gen(batches):
        for b in batches:
            b = b.copy()
            b["payload"] = [writers[f](t)
                            for f, t in zip(b["fmt"], b["ptext"])]
            yield b[["doc_id", "fmt", "payload"]]

    blobs = docs.mapInPandas(gen, "doc_id long, fmt string, payload binary")
    out = with_document_text(blobs, "payload", "etext", "etype")
    return out.select(
        "doc_id",
        "fmt",
        (F.col("etype") == F.col("fmt")).alias("routed_ok"),
        F.sha2(F.col("etext"), 256).alias("text_sha"),
        F.length("etext").alias("n_chars"),
    ).orderBy("doc_id")


def q_web_table_columns(spark, sf_dir):
    """Web-table harvesting + distributed column classification
    (corpus/webtables.py — the crawl-scale bridge to the reference's
    tabular rule engine): one html page per document source is built
    IN-PLAN with a real <table> (lang / n_chars / doc_ref columns,
    rows ordered by doc_id, planted empties at doc_id%13 and invalid
    refs at doc_id%29), the stdlib parser explodes it to the long cell
    frame, and the dynamic-column classifier — ONE groupBy over
    (url, table_idx, col_idx) with per-rule gated sums, matches
    emitted in-plan — scores a field-name rule on the header plus two
    data rules (keyword languagetag, ppr hex ref) at the reference's
    success*100/(total−empty) strict-> semantics.  The oracle rebuilds
    the same cells from the documents table and replays counts,
    confidence math and thresholding in SQL — equality proves the
    html build → table extraction → long frame → distributed
    confidence chain end-to-end."""
    from metacrafter_spark.corpus.webtables import (
        classify_web_table_columns, with_web_table_cells)
    from metacrafter_spark.rules.model import (CompiledRule,
                                               CompiledRulePack)

    pack = CompiledRulePack(rules=(
        CompiledRule(
            seq=0, id="hdr_lang", dataclass="language", rtype="field",
            match="text", lang="common", contexts=("common",),
            group="wt", group_desc="wt", country=None, imprecise=False,
            is_pii=False, minlen=4, maxlen=4,
            keywords=frozenset({"lang"})),
        CompiledRule(
            seq=1, id="langtag", dataclass="languagetag", rtype="data",
            match="text", lang="common", contexts=("common",),
            group="wt", group_desc="wt", country=None, imprecise=False,
            is_pii=False, minlen=2, maxlen=2,
            keywords=frozenset({"en", "fr", "de", "es", "zh"})),
        CompiledRule(
            seq=2, id="hex8", dataclass="hexref", rtype="data",
            match="ppr", lang="common", contexts=("common",),
            group="wt", group_desc="wt", country=None, imprecise=False,
            is_pii=False, minlen=8, maxlen=8,
            pattern=r"[0-9a-f]{8}", pattern_re2=r"[0-9a-f]{8}"),
    ))

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "lang", "n_chars")

    def build(pdf):
        pdf = pdf.sort_values("doc_id")
        rows = []
        for did, lang, nch in zip(pdf["doc_id"], pdf["lang"],
                                  pdf["n_chars"]):
            v_lang = "" if did % 13 == 0 else lang
            v_ref = "zz" if did % 29 == 0 else f"{did:08x}"
            rows.append(f"<tr><td>{v_lang}</td><td>{nch}</td>"
                        f"<td>{v_ref}</td></tr>")
        src = pdf["source"].iloc[0]
        html = ("<html><body><table><tr><th>lang</th><th>n_chars</th>"
                "<th>doc_ref</th></tr>" + "".join(rows)
                + "</table></body></html>")
        import pandas as _pd
        return _pd.DataFrame(
            [{"url": f"https://tables.example/{src}",
              "html": html.encode()}])

    pages = docs.groupBy("source").applyInPandas(
        build, "url string, html binary")
    # the oracle counts EVERY document: disable the kernel's noise
    # filters so the Spark side can never truncate what SQL counts
    # (min_rows=1 keeps a 1-document source's table; the cell budget
    # comfortably exceeds 3 cells/doc at any tested SF)
    cells = with_web_table_cells(pages, min_rows=1,
                                 max_cells_per_doc=100_000_000)
    out = classify_web_table_columns(cells, pack, confidence=50.0,
                                     max_rows_per_col=1_000_000_000)
    return out.select(
        "url", "col_idx", "header", "n_rows", "n_empty", "ruletype",
        "ruleid", "dataclass", "confidence", "is_pii",
    ).orderBy("url", "col_idx", "ruleid")


def q_warc_roundtrip(spark, sf_dir):
    """WARC container round-trip under the north rule's Common-Crawl
    input shape (io/warc.py, clean-room ISO 28500 — the reference has
    no WARC source, ``metacrafter/core.py`` scans stop at flat files):
    the BASELINE-shape corpus is exported distributively as
    member-per-record ``.warc.gz`` shards + CDXJ indexes, read back via
    the CDX-indexed range-fetch scan (index is line-splittable text →
    record-level parallelism; each task inflates exactly one gzip
    member per record), text is re-extracted from the scanned html
    bytes, and the oracle hashes the committed fixture's url/text
    columns directly.  Hash equality proves the whole chain — WARC/HTTP
    framing, gzip members, CDX offsets, timestamp round-trip, html
    byte-identity, extractor — on all 2000 documents."""
    import shutil
    import tempfile

    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import scan_warc_cdx, write_warc_shards

    out_dir = os.path.join(tempfile.gettempdir(), "mc_warc_q_2000_42")
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        os.makedirs(out_dir)
        corpus = synth_webpages(spark, 2000, seed=42, partitions=8)
        n = sum(r["n_records"]
                for r in write_warc_shards(corpus, out_dir, 4).collect())
        assert n == 2000, n
        open(done, "w").close()
    scanned = scan_warc_cdx(spark, os.path.join(out_dir, "*.cdx"),
                            out_dir)
    out = with_extracted_text(scanned, "html", "tx")
    return out.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.sha2(F.col("url"), 256).alias("url_sha"),
        F.sha2(F.col("tx"), 256).alias("extract_sha"),
        F.length("tx").alias("n_chars"),
        F.col("http_status").cast("int").alias("http_status"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_dt"),
    ).orderBy("doc_id")


def q_wet_roundtrip(spark, sf_dir):
    """WET container round-trip (round 5, io/warc.py WET section): the
    BASELINE-shape corpus's extracted text is exported distributively
    as member-per-record ``*.warc.wet.gz`` shards (ISO 28500
    ``conversion`` records, Common Crawl's WET layout — deterministic
    bytes, WARC-Refers-To citing the matching response record ids by
    construction) and read back via the whole-file WET scan.  The
    oracle hashes the committed fixture's url/text columns directly —
    hash equality proves WET framing, gzip members, UTF-8 payload and
    timestamp round-trip on all 2000 documents."""
    import shutil
    import tempfile

    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import scan_wet, write_wet_shards

    out_dir = os.path.join(tempfile.gettempdir(), "mc_wet_q_2000_42")
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        os.makedirs(out_dir)
        corpus = synth_webpages(spark, 2000, seed=42, partitions=8)
        n = sum(r["n_records"]
                for r in write_wet_shards(
                    corpus.select("url", "warc_ts", "text"),
                    out_dir, 4).collect())
        assert n == 2000, n
        open(done, "w").close()
    scanned = scan_wet(spark, os.path.join(out_dir, "*.warc.wet.gz"))
    return scanned.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.sha2(F.col("url"), 256).alias("url_sha"),
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.length("text").alias("n_chars"),
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_dt"),
    ).orderBy("doc_id")


def q_corpus_report(spark, sf_dir):
    """Dataset-card composition report (corpus/report.py): long-format
    (dim, value) rows with exact-integer n_docs/n_kept/chars/words over
    total, per-language, per-drop-reason and top-N-domain dimensions.
    The classified-like input is synthesized deterministically in-plan
    (domain/lang/drop_reason as doc_id arithmetic) so the oracle
    replays the REPORT operator itself: the salted two-phase domain
    agg, the (n_docs DESC, domain ASC) top-3 cut + '(other)' fold, and
    the WORD_SPLIT word counts, all value-for-value in DuckDB."""
    from metacrafter_spark.corpus.report import corpus_report

    docs = _t(spark, sf_dir, "documents")
    langs = F.array(F.lit("en"), F.lit("ru"), F.lit("de"), F.lit("zh"))
    base = docs.select(
        "doc_id", "text",
        F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com")).alias("domain"),
        F.element_at(langs, (F.col("doc_id") % 4).cast("int") + 1)
        .alias("langid_lang"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("quality"))
        .when(F.col("doc_id") % 5 == 1, F.lit("near_dup"))
        .alias("drop_reason"),
    ).withColumn("keep", F.col("drop_reason").isNull())
    return corpus_report(base, top_domains=3)


def q_corpus_pipeline(spark, sf_dir):
    """Full keep/drop pipeline on the BASELINE-shape synthetic corpus,
    oracle-checked PER DOCUMENT (round-4 upgrade from rows-only): the
    corpus is generated live (synth_webpages — deterministic at any
    parallelism) while the oracle replays langid → 12 quality gates →
    BYTE-level trigram perplexity → PII density → drop_reason precedence
    in DuckDB over the committed parquet materialization of the same
    2000 rows.  A hash match therefore proves both generation
    determinism and the decision tree on full-unicode web text (no
    ASCII projection — the ppl oracle expands each char to its UTF-8
    byte count, matching the scorer's byte-level trigrams).

    Policy thresholds sit clear of every observed score (nearest ppl
    0.018 away at ~1e-9 cross-engine agreement; pii_per_kchar is exact
    integer/length rational arithmetic, identical in both engines), so
    engine drift cannot flip a decision; all four drop branches fire
    (10 lang_unknown / 325 quality / 508 perplexity / 14 pii_density /
    1143 keep)."""
    from metacrafter_spark.corpus.pipeline import KeepPolicy, classify_corpus
    from metacrafter_spark.corpus.webpages import synth_webpages

    corpus = synth_webpages(spark, 2000, seed=42, partitions=8)
    out = classify_corpus(
        corpus,
        policy=KeepPolicy(max_ppl=33.2, max_pii_per_kchar=2.9),
        scrub_rules=_webcorpus_rules(),
    )
    return out.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("langid_lang").alias("lang_pred"),
        "q_pass",
        F.round("ppl", 4).alias("ppl"),
        "pii_total",
        F.round("pii_per_kchar", 4).alias("pii_per_kchar"),
        "keep",
        F.coalesce(F.col("drop_reason"), F.lit("none")).alias("drop_reason"),
    ).orderBy("doc_id")


def q_corpus_pipeline_documents(spark, sf_dir):
    """The north-rule keep/drop decision, oracle-checked per document
    (round-3 upgrade: corpus_pipeline on the synthetic corpus stays as
    the shape test; THIS twin runs the same ``classify_corpus`` over the
    documents parquet the driver's DuckDB can see, and the oracle
    replays langid → quality gates → trigram perplexity → PII density →
    drop_reason precedence in pure SQL).

    Construction: text is ASCII-projected (makes the perplexity scorer
    SQL-replayable; non-Latin docs become '#'-runs and drop as
    lang_unknown — langid's Cyrillic path is oracle-covered separately
    by langid_documents); deterministic PII is injected per doc_id
    (email always, ipv4 on even ids, ssn on %3, a dense email wall on
    %13 to trip the pii_density gate); policy thresholds (max_ppl=29.0,
    max_pii_per_kchar=5.0) sit mid-gap in the observed score
    distribution so every branch of the decision tree fires on sf0.01
    while both engines agree to ~1 ulp."""
    from metacrafter_spark.corpus.pipeline import KeepPolicy, classify_corpus
    from metacrafter_spark.corpus.scrub import WEB_PII_RULES

    rules = tuple(
        r for r in WEB_PII_RULES if r.name in ("email", "ipv4", "ssn_like")
    )
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    ascii_text = F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "#")
    injected = F.concat(
        ascii_text,
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.when(did % 2 == 0,
               F.concat(F.lit(" ip 10.0."), (did % 250).cast("string"),
                        F.lit(".7"))).otherwise(F.lit("")),
        F.when(did % 3 == 0,
               F.concat(F.lit(" ssn 123-45-"),
                        F.lpad(did.cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.lit(" pii wall a@b.co c@d.co e@f.co g@h.co j@k.co"
                     " m@n.co p@q.co r@s.co")).otherwise(F.lit("")),
    )
    pages = docs.select(
        did,
        F.concat(F.lit("https://site"), (did % 7).cast("string"),
                 F.lit(".example/doc/"), did.cast("string")).alias("url"),
        injected.alias("text"),
    )
    out = classify_corpus(
        pages,
        policy=KeepPolicy(max_ppl=29.0, max_pii_per_kchar=5.0),
        scrub_rules=rules,
    )
    return out.select(
        "doc_id",
        F.col("langid_lang").alias("lang_pred"),
        F.col("q_pass"),
        F.round("ppl", 4).alias("ppl"),
        "pii_total",
        F.round("pii_per_kchar", 4).alias("pii_per_kchar"),
        "keep",
        F.coalesce(F.col("drop_reason"), F.lit("none")).alias("drop_reason"),
    ).orderBy("doc_id")


def q_minhash_sha(spark, sf_dir):
    """MinHash-LSH banding + exact-Jaccard verify, oracle-checked
    value-for-value (round-3 upgrade; the xxhash64 prod path stays
    rows-only): the sha256-min signature family is reproducible in
    DuckDB, and banding/bucket-count-guard/verify replay identically."""
    from metacrafter_spark.ops.dedup import near_dup_pairs_minhash_sha

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    # 2-word shingles + 6 bands × 2 rows + threshold 0 → EVERY banding
    # candidate pair is emitted with its exact Jaccard, so the oracle
    # value-checks the full candidate set (58 pairs at sf0.01), not just
    # the high-similarity survivors
    return near_dup_pairs_minhash_sha(
        docs, "doc_id", threshold=0.0, n_hashes=12, bands=6, rows=2,
        shingle=2,
    ).orderBy("id_a", "id_b")


def q_incremental_dedup(spark, sf_dir):
    """Cross-snapshot incremental dedup — the CommonCrawl monthly-ingest
    shape: the corpus-so-far ("prior" = docs 0..99) participates ONLY as
    its persisted sha256-MinHash signature table (text-free); the NEW
    snapshot (docs 100..199 plus planted clones of both sides) gets a
    per-doc keep/drop decision with prior-vs-new dup provenance counts.
    Verification is signature-agreement (≥ ceil(0.8·12)=10 of 12 slots),
    an integer bar — the whole decision chain is exact and the oracle
    replays it end-to-end (signatures, banding, bucket guard, agreement
    count, keep-first-by-id policy)."""
    from metacrafter_spark.ops.dedup import (
        incremental_keep_decisions, sha_minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.filter(F.col("doc_id") < 100)
    new = (
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
        .unionAll(prior.filter(F.col("doc_id") < 15)
                  .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
        .unionAll(docs.filter((F.col("doc_id") >= 100)
                              & (F.col("doc_id") < 110))
                  .select((F.col("doc_id") + 20000).alias("doc_id"), "text"))
    )
    prior_sigs = sha_minhash_signatures(prior, "doc_id")
    return incremental_keep_decisions(
        new, prior_sigs, "doc_id", threshold=0.8,
    ).orderBy("doc_id")


def q_cosine_pairs_exact(spark, sf_dir):
    """Exact embedding near-dup pairs — the oracle twin of the
    LSH-bucketed ``cosine_near_dup_pairs`` (same cosine expression, no
    bucketing, capped input).  Threshold 0.4 sits mid-gap in the
    fixture's cosine distribution (nearest values ≥1e-5 away at every
    sf), so last-ulp engine differences cannot flip membership."""
    from metacrafter_spark.ops.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def q_pii_scrub(spark, sf_dir):
    """Scrub over the BASELINE-shape corpus, byte-exact-checked
    (round-4 upgrade from rows-only): the oracle replays the
    email → uuid → phone cascade in RE2 over the committed fixture and
    sha256-compares the scrubbed bytes per url.  Rule subset rationale
    in ``_WEBCORPUS_RULE_NAMES``; the full default cascade stays green
    via pii_scrub_documents.  First 300 docs == the 300-doc corpus
    (each row is a pure function of (seed, doc_id))."""
    from metacrafter_spark.corpus.scrub import with_scrub
    from metacrafter_spark.corpus.webpages import synth_webpages

    corpus = synth_webpages(spark, 300, seed=42, partitions=4)
    out = with_scrub(corpus, rules=_webcorpus_rules())
    return out.select(
        "url",
        F.sha2(F.col("text_scrubbed"), 256).alias("scrub_sha256"),
        F.col("pii_hits.email").alias("n_email"),
        F.col("pii_hits.uuid").alias("n_uuid"),
        F.col("pii_hits.phone_intl").alias("n_phone"),
    ).orderBy("url")


def q_iceberg_scan(spark, sf_dir):
    """Pure-Python Iceberg v2 round-trip (io/iceberg.py — clean-room
    from the public table spec; the reference has no table-format layer,
    this serves the north rule's "over Iceberg tables"): documents →
    identity-partitioned table (append = snapshot 1), then a dynamic
    partition overwrite of lang='de' with tagged text (snapshot 2).
    BOTH snapshots are read back through the metadata/manifest layer
    (manifest list → manifests → pruned distributed parquet scan) and
    aggregated per (snapshot_id, lang); the oracle recomputes the same
    aggregates from the raw parquet with the overwrite replayed as a
    CASE.  Lost files, failed tombstones, wrong partition values or
    broken time travel all change the counts/hashes."""
    import hashlib
    import shutil
    import tempfile

    from metacrafter_spark.io.iceberg import IcebergTable

    loc = os.path.join(
        tempfile.gettempdir(),
        "mc_iceberg_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = IcebergTable.create(loc, docs.schema, partition_by=["lang"])
    t.append(docs)
    t.overwrite_partitions(
        docs.filter(F.col("lang") == "de")
        .withColumn("text", F.concat(F.lit("DE::"), F.col("text")))
    )
    t = IcebergTable.load(loc)

    def agg(df, snap):
        return df.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("doc_id").alias("n_ids"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.min(F.md5(F.encode("text", "utf-8"))).alias("min_md5"),
            F.max(F.md5(F.encode("text", "utf-8"))).alias("max_md5"),
        ).withColumn("snapshot_id", F.lit(snap))

    out = agg(t.read(spark, snapshot_id=1), 1).unionByName(
        agg(t.read(spark, snapshot_id=2), 2)
    )
    return out.select(
        "snapshot_id", "lang", "n_docs", "n_ids", "sum_chars",
        "min_md5", "max_md5",
    ).orderBy("snapshot_id", "lang")


def q_iceberg_bucket_prune(spark, sf_dir):
    """Iceberg bucket-transform partitioning + pruning (round 5,
    io/iceberg.py transforms — spec-conformant 32-bit Murmur3 bucket,
    validated against the spec's Appendix B vectors in
    tests/test_iceberg_transforms.py): documents land in a table
    partitioned by bucket(8, doc_id) — how a 10¹²-doc corpus would
    actually shard — then each bucket is read back through its OWN
    pruned metadata plan.  Every row carries ``bucket_ok`` (the bucket
    recomputed in-plan from doc_id equals the partition that served
    it; oracle expects TRUE), and the union of the 8 pruned reads must
    tile the table exactly — any lost/duplicated/misplaced file breaks
    row count, hash, or the flag."""
    import hashlib
    import shutil
    import tempfile
    from functools import reduce

    from metacrafter_spark.io.iceberg import (
        IcebergTable, transform_spark_column)

    loc = os.path.join(
        tempfile.gettempdir(),
        "mc_icebkt_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = IcebergTable.create(loc, docs.schema,
                            partition_by=["bucket(8, doc_id)"])
    t.append(docs)
    t = IcebergTable.load(loc)
    parts = []
    for k in range(8):
        d = t.read(spark, partition_filter={"doc_id_bucket": k})
        parts.append(d.withColumn(
            "bucket_ok",
            transform_spark_column("bucket[8]", "doc_id", "long")
            == F.lit(k)))
    u = reduce(DataFrame.unionByName, parts)
    return u.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.col("lang"),
        F.col("bucket_ok"),
    ).orderBy("doc_id")


def q_iceberg_evolution(spark, sf_dir):
    """Iceberg schema evolution + table maintenance end-to-end (round 5,
    io/iceberg.py): three append waves interleaved with add-column,
    rename (text→body via the spec's name-mapping property), and an
    int→long widening promotion; then the manifests compact
    (rewrite_manifests) and all history but the current snapshot
    expires WITH physical file cleanup.  The final read must still
    resolve wave-1/2 files written under the old column name and the
    narrow int type — the oracle replays all three waves in SQL, so a
    broken alias trail, a lost file after expiry, or a bad promotion
    flips counts or hashes."""
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from metacrafter_spark.io.iceberg import IcebergTable

    loc = os.path.join(
        tempfile.gettempdir(),
        "mc_icevo_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    def wave(shift, hits_base=0):
        return docs.select(
            (F.col("doc_id") + shift).alias("doc_id"), "lang", "text",
            (F.col("doc_id") % 1000 + hits_base).alias("hits"))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("hits", T.IntegerType(), True),
    ])
    t = IcebergTable.create(loc, schema, partition_by=["lang"])
    t.append(wave(0).withColumn("hits", F.col("hits").cast("int")))
    t.add_column("src", T.StringType())
    t.append(wave(10_000_000).withColumn("hits", F.col("hits").cast("int"))
             .withColumn("src", F.lit("w2")))
    t.rename_column("text", "body")
    t.update_column_type("hits", T.LongType())
    t.append(wave(20_000_000, hits_base=3_000_000_000)  # needs int64
             .withColumnRenamed("text", "body")
             .withColumn("src", F.lit("w3")))
    t.rewrite_manifests()
    t.expire_snapshots(keep_last=1)
    t = IcebergTable.load(loc)
    return (t.read(spark)
            .groupBy("lang", F.coalesce("src", F.lit("w1")).alias("wave"))
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("doc_id").alias("n_ids"),
                 F.sum("hits").cast("long").alias("sum_hits"),
                 F.sum(F.length("body")).cast("long").alias("sum_chars"),
                 F.min(F.md5(F.encode("body", "utf-8"))).alias("min_md5"))
            .orderBy("lang", "wave"))


def q_url_canonical(spark, sf_dir):
    """URL canonicalization for dedup-by-url (round 5, ops/urls.py):
    3000 deterministically-messied URLs (scheme/host case, default vs
    real ports, tracking params, unsorted queries, fragments) must
    collapse to exactly 40 canonical pages with the right variant
    counts.  All native regexp/array expressions — the oracle replays
    every normalization step in SQL."""
    from metacrafter_spark.ops.urls import canonicalize_url

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    scheme = F.when(F.col("doc_id") % 2 == 0, "HTTPS://") \
        .otherwise(F.lit("https://"))
    hostc = F.when(F.col("doc_id") % 3 == 0, F.upper("source")) \
        .otherwise(F.col("source"))
    port = F.when(F.col("doc_id") % 5 == 0, ":443") \
        .when(F.col("doc_id") % 5 == 1, ":8443").otherwise(F.lit(""))
    track = (F.when(F.col("doc_id") % 4 == 0, "?utm_source=x&b=2&a=1")
             .when(F.col("doc_id") % 4 == 1, "?a=1&b=2")
             .otherwise(F.lit("")))
    frag = F.when(F.col("doc_id") % 7 == 0, "#sec").otherwise(F.lit(""))
    url = F.concat(scheme, hostc, F.lit(".com"), port, F.lit("/page/"),
                   (F.col("doc_id") % 40).cast("string"), track, frag)
    return (docs.select(F.col("doc_id"), url.alias("url"))
            .select("doc_id", canonicalize_url("url").alias("canon"))
            .groupBy("canon")
            .agg(F.count("*").alias("n_variants"),
                 F.min("doc_id").alias("first_id"))
            .orderBy("canon"))


def q_url_revisit_dedup(spark, sf_dir):
    """Multi-crawl URL-revisit dedup (round 5, ops/urls.py
    dedup_url_revisits): the url_canonical variant fleet gets a
    per-doc crawl timestamp; per canonical page only the NEWEST
    snapshot survives (ties impossible here — timestamps are strictly
    increasing in doc_id).  The oracle replays canonicalization and
    picks the survivor with the identical (ts, url) DESC window."""
    from metacrafter_spark.ops.urls import dedup_url_revisits

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    scheme = F.when(F.col("doc_id") % 2 == 0, "HTTPS://") \
        .otherwise(F.lit("https://"))
    hostc = F.when(F.col("doc_id") % 3 == 0, F.upper("source")) \
        .otherwise(F.col("source"))
    port = F.when(F.col("doc_id") % 5 == 0, ":443") \
        .when(F.col("doc_id") % 5 == 1, ":8443").otherwise(F.lit(""))
    track = (F.when(F.col("doc_id") % 4 == 0, "?utm_source=x&b=2&a=1")
             .when(F.col("doc_id") % 4 == 1, "?a=1&b=2")
             .otherwise(F.lit("")))
    frag = F.when(F.col("doc_id") % 7 == 0, "#sec").otherwise(F.lit(""))
    url = F.concat(scheme, hostc, F.lit(".com"), port, F.lit("/page/"),
                   (F.col("doc_id") % 40).cast("string"), track, frag)
    snaps = docs.select(
        "doc_id", url.alias("url"),
        F.expr("timestamp'2025-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, 0, doc_id * 37)")
        .alias("warc_ts"))
    kept = dedup_url_revisits(snaps)
    return (kept.select("url_canonical", "doc_id", "warc_ts")
            .orderBy("url_canonical"))


def q_anchor_text_agg(spark, sf_dir):
    """Aggregated anchor text per link target (round 5,
    corpus/html.py with_anchor_texts): what the web calls a page.
    Anchors with labels (quoted/bare, padded, nested-markup-stopped
    empty text) are injected into the live corpus; the oracle replays
    the two-group extraction regex, the zip, the (simplified-identity)
    resolution for these shapes and the aggregation in DuckDB."""
    from metacrafter_spark.corpus.html import with_anchor_texts
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    m = (d * 7 + 1) % 500
    anchors = (
        F.when(d % 3 == 1, F.concat(
            F.lit('<a href="/p/'), m, F.lit('">Label '), d,
            F.lit('</a>')))
        .when(d % 3 == 2, F.concat(
            F.lit("<a href='https://ext.example.com/q/"), m,
            F.lit("'> padded "), d, F.lit(" </a>"),
            F.lit('<a href="/p/'), m, F.lit('"><b>x</b></a>')))
        .otherwise(F.lit("")))
    injected = pages.select(
        d.alias("doc_id"), "url",
        F.regexp_replace(F.decode("html", "utf-8"), "</body>",
                         F.concat(anchors, F.lit("</body>"))
                         ).alias("html"))
    out = with_anchor_texts(injected, "html", "url")
    pairs = out.select(
        "doc_id", F.explode("anchors").alias("a")).select(
        "doc_id", F.col("a.link").alias("link"),
        F.col("a.text").alias("text"))
    return (pairs.groupBy("link")
            .agg(F.count("*").alias("n_refs"),
                 F.sum((F.col("text") == "").cast("long"))
                 .alias("n_empty"),
                 F.min("text").alias("min_text"),
                 F.max("text").alias("max_text"))
            .orderBy("link"))


def q_sitemap_recrawl(spark, sf_dir):
    """Sitemap parsing + recrawl selection (round 5,
    corpus/sitemaps.py): per-host sitemap XML is synthesized from the
    live corpus (every even doc gets an entry; lastmod one day after /
    one day before / absent by doc_id mod 3), aggregated in
    deterministic order, parsed back via the (?is) block regexes, and
    joined against each snapshot's warc_ts — pages whose sitemap says
    they changed after the crawl are recrawl candidates.  The oracle
    replays entry synthesis, string_agg, both extraction regexes and
    the staleness comparison in DuckDB."""
    from metacrafter_spark.corpus.sitemaps import (
        parse_sitemap_entries, stale_urls)
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    entry = F.concat(
        F.lit("<url><loc>"), F.col("url"), F.lit("</loc>"),
        F.when(d % 3 == 2, F.lit("<lastmod>2025-01-02</lastmod>"))
        .when(d % 3 == 1, F.lit("<lastmod>2024-12-31</lastmod>"))
        .otherwise(F.lit("")),
        F.lit("</url>"))
    xml = (pages.filter(d % 2 == 0)
           .select(host.alias("host"), d.alias("k"),
                   entry.alias("e"))
           .groupBy("host")
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(F.struct("k", "e"))),
                   lambda x: x["e"]), "").alias("sitemap_xml")))
    entries = parse_sitemap_entries(xml, keep_cols=("host",))
    docs = pages.select(d.alias("doc_id"), "url", "warc_ts")
    out = stale_urls(docs, entries)
    return (out.select("doc_id", "sitemap_stale", "sitemap_lastmod")
            .orderBy("doc_id"))


def q_feed_extract(spark, sf_dir):
    """RSS/Atom feed parsing (round 5, corpus/feeds.py): per-site
    feeds are synthesized in-plan from the documents table — even
    sites get RSS (<item>, entity-escaped titles/links, RFC 822
    pubDate), odd sites Atom (<entry>, rel="self" decoy links ahead of
    the real href, RFC 3339 updated) — then parsed back with the
    (?is) block regexes and the rel-aware link filter.  The oracle
    computes every expected field DIRECTLY from the table (round-trip
    identity: extraction must recover exactly what was embedded,
    entities decoded, dates reduced, absent fields NULL)."""
    from metacrafter_spark.corpus.feeds import _MONTHS, parse_feed_entries

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    site = d % 20
    m = d % 12 + 1
    day = d % 28 + 1
    mon = F.lit(None).cast("string")
    for i, name in enumerate(_MONTHS, 1):
        mon = F.when(m == i, F.lit(name)).otherwise(mon)
    link_xml = F.concat(F.lit("https://s"), site, F.lit(".example/d/"),
                        d, F.lit("?a=1&amp;b=2"))
    title_xml = F.when(
        d % 5 != 0,
        F.concat(F.lit("<title>D "), d, F.lit(" &lt;x&gt;</title>"))
    ).otherwise(F.lit(""))
    rss_entry = F.concat(
        F.lit("<item><link>"), link_xml, F.lit("</link>"), title_xml,
        F.lit("<guid>g-"), d, F.lit("</guid>"),
        F.when(d % 7 != 0,
               F.concat(F.lit("<pubDate>Mon, "), day, F.lit(" "), mon,
                        F.lit(" 2025 08:00:00 GMT</pubDate>")))
        .otherwise(F.lit("")),
        F.lit("</item>"))
    atom_entry = F.concat(
        F.lit('<entry><link rel="self" href="https://skip/'), d,
        F.lit('"/><link href="'), link_xml, F.lit('"/>'), title_xml,
        F.lit("<id>urn:"), d, F.lit("</id>"),
        F.when(d % 7 != 0,
               F.concat(F.lit("<updated>2025-"),
                        F.lpad(m.cast("string"), 2, "0"), F.lit("-"),
                        F.lpad(day.cast("string"), 2, "0"),
                        F.lit("T00:00:00Z</updated>")))
        .otherwise(F.lit("")),
        F.lit("</entry>"))
    entry = F.when(site % 2 == 0, rss_entry).otherwise(atom_entry)
    xml = (docs.select(site.alias("site"), d.alias("k"),
                       entry.alias("e"))
           .groupBy("site")
           .agg(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(F.struct("k", "e"))),
                   lambda x: x["e"]), "").alias("body")))
    xml = xml.select(
        "site",
        F.when(F.col("site") % 2 == 0,
               F.concat(F.lit("<rss version=\"2.0\"><channel>"
                              "<title>S</title>"
                              "<link>https://chan.example/</link>"),
                        F.col("body"), F.lit("</channel></rss>")))
        .otherwise(
            F.concat(F.lit('<feed><title>S</title>'
                           '<link rel="self" href="https://skip/f"/>'),
                     F.col("body"), F.lit("</feed>")))
        .alias("feed_xml"))
    out = parse_feed_entries(xml, keep_cols=("site",))
    return out.select("site", "feed_type", "title", "link", "entry_id",
                      "published", "published_date").orderBy("link")


def q_iceberg_data_skipping(spark, sf_dir):
    """Iceberg column-bounds file skipping (round 5, io/iceberg.py
    lower_bounds/upper_bounds from parquet footer stats): two appends
    with disjoint doc_id ranges, then range + equality reads that must
    PLAN fewer files (asserted in-plan via ``files_pruned``) while the
    aggregates replay exactly over a flat SQL filter — wrong bounds
    under-read (count mismatch), missing bounds never over-prune."""
    import hashlib
    import shutil
    import tempfile

    from metacrafter_spark.io.iceberg import IcebergTable

    loc = os.path.join(
        tempfile.gettempdir(),
        "mc_iceskip_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = IcebergTable.create(loc, docs.schema, partition_by=["lang"])
    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    t.append(docs.filter(F.col("doc_id") % 2 == 1)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    t = IcebergTable.load(loc)
    n_all = len(t.plan_files())
    n_hot = len(t.plan_files(where=[("doc_id", ">=", 1_000_000)]))
    pruned = F.lit(0 < n_hot < n_all)
    hot = (t.read(spark, where=[("doc_id", ">=", 1_000_000)])
           .groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("sum_ids"),
                F.min(F.md5(F.encode("text", "utf-8"))).alias("min_md5"))
           .withColumn("files_pruned", pruned))
    return hot.select("lang", "n_docs", "sum_ids", "min_md5",
                      "files_pruned").orderBy("lang")


def q_zorder_prune(spark, sf_dir):
    """Z-order multi-column layout (io/zorder.py) + Iceberg bounds
    skipping: a 25x20 grid derived from doc_id (window inside
    doc_id < 500, identical at every sf) is written as 8 z-ordered
    files; the Morton key makes every file a compact RECTANGLE of the
    (x, y) space, so the file planner prunes on EITHER column — the
    single-column-sort layout would prune only on its sort column.
    In-plan ``x_pruned``/``y_pruned`` assert both filters planned
    fewer than all files; the returned rows (a pruned y-filter read,
    Morton key attached) must equal the oracle's flat filter + its
    replay of the exact quantize/interleave arithmetic
    (:func:`zorder_sql` — generated from the same bounds/bits, so
    engine and oracle cannot drift)."""
    import hashlib
    import shutil
    import tempfile

    from metacrafter_spark.io.iceberg import IcebergTable
    from metacrafter_spark.io.zorder import zorder_key, zordered

    loc = os.path.join(
        tempfile.gettempdir(),
        "mc_zorder_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    if os.path.exists(loc):
        shutil.rmtree(loc)
    cols = [("x", 0, 25), ("y", 0, 20)]
    grid = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.pmod(F.col("doc_id"), F.lit(25)).cast("int").alias("x"),
                    (F.col("doc_id") / 25).cast("int").alias("y")))
    t = IcebergTable.create(loc, grid.schema)
    t.append(zordered(grid, cols, num_files=8))
    t = IcebergTable.load(loc)
    n_all = len(t.plan_files())
    x_pruned = F.lit(0 < len(t.plan_files(where=[("x", "<", 5)])) < n_all)
    y_pruned = F.lit(0 < len(t.plan_files(where=[("y", "<", 4)])) < n_all)
    return (t.read(spark, where=[("y", "<", 4)])
            .select("doc_id", "x", "y",
                    zorder_key(cols).alias("zkey"),
                    x_pruned.alias("x_pruned"), y_pruned.alias("y_pruned"))
            .orderBy("doc_id"))


def _zorder_prune_sql() -> str:
    """Oracle for q_zorder_prune: the grid derivation, the flat
    y-filter and the full Morton arithmetic replayed via zorder_sql
    (same bounds/bits constants)."""
    from metacrafter_spark.io.zorder import zorder_sql

    z = zorder_sql([("x", 0, 25), ("y", 0, 20)])
    return f"""
        WITH grid AS (
          SELECT doc_id::BIGINT AS doc_id,
                 (doc_id % 25)::INT AS x,
                 (doc_id // 25)::INT AS y
          FROM documents WHERE doc_id < 500)
        SELECT doc_id, x, y, {z} AS zkey,
               TRUE AS x_pruned, TRUE AS y_pruned
        FROM grid WHERE y < 4 ORDER BY doc_id
    """


def q_robots_meta(spark, sf_dir):
    """Robots-meta directive detection (round 5, corpus/html.py
    with_robots_meta): production pipelines drop noindex pages.  Meta
    tags in four syntax variants (quoted/bare values, both attribute
    orders, a 'none' shorthand, plus a decoy non-robots meta) are
    injected deterministically into the live-regenerated webcorpus
    html; the oracle injects the same tags into the committed fixture
    and replays the exact extraction regexes in RE2."""
    from metacrafter_spark.corpus.html import with_robots_meta
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    doc_id = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    meta = (F.when(doc_id % 4 == 0,
                   '<meta name="robots" content="noindex, follow">')
            .when(doc_id % 4 == 1,
                  "<meta content='nofollow,noarchive' name=robots>")
            .when(doc_id % 4 == 2, "<meta name=robots content=none>")
            .otherwise('<meta name="description" content="noindex">'))
    injected = pages.select(
        doc_id.alias("doc_id"),
        F.regexp_replace(F.decode("html", "utf-8"), "<head>",
                         F.concat(F.lit("<head>"), meta)).alias("html"))
    out = with_robots_meta(injected, "html")
    return (out.groupBy("robots_content", "noindex", "nofollow")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_id"),
                 F.max("doc_id").alias("last_id"))
            .orderBy("robots_content"))


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (round 5, ops/dsir.py — Xie et al.
    2023): select the 300 corpus documents whose hashed-n-gram
    distribution best matches the English subset, by Gumbel-top-k over
    add-1-smoothed target/raw log-likelihood ratios.  Per-bucket ratios
    quantize to decimal(18,9) so per-doc weight sums are EXACT
    (order-independent) in both engines; the Gumbel key is the Knuth
    id-hash from ops/sampling.py.  The oracle replays features, both
    bag-of-buckets LMs, the ratio table, the decimal sums and the
    selection in pure SQL — byte-equal weights, same 300 ids."""
    from metacrafter_spark.ops.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    sel = dsir_resample(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "en").select("text"),
        300, buckets=4096, max_words=500, seed=11)
    return (sel.select(
        "doc_id", "n_feats",
        F.round(F.col("log_weight").cast("double"), 6).alias("log_weight"),
        "score").orderBy("doc_id"))


#: per-host robots.txt bodies for the robots_policy query — defined
#: once; the Spark CASE and the DuckDB CASE are both generated from
#: this dict so engine and oracle cannot drift.  Shapes exercised:
#: comments, blank lines, wildcard+anchor patterns, longest-match vs
#: Allow, agent-specificity (exact > prefix > *), a no-op empty
#: Disallow, a rule-less file, and a group matching no agent.
_ROBOTS_BODIES = {
    "news.example.org": (
        "# news policy\nUser-agent: *\nDisallow: /en/\n"
        "Allow: /en/article/\n\nUser-agent: mycrawler\n"
        "Disallow: /*/article/1*$\nAllow: /ru/"),
    "blog.example.net": (
        "User-agent: mycrawler-news\nDisallow: /fr/\n"
        "User-agent: *\nDisallow: /"),
    "shop.example.io": "User-agent: *\nDisallow: /",
    "wiki.example.edu": "# no rules here\n",
    "forum.example.co": "User-agent: otherbot\nDisallow: /",
    "big.skewed.example.com": (
        "User-agent: *\nDisallow: /es/article/\n"
        "Allow: /es/article/9\nDisallow:"),
}


def q_robots_policy(spark, sf_dir):
    """robots.txt crawl-policy evaluation (round 5, corpus/robots.py):
    per-host robots.txt files (shared _ROBOTS_BODIES literals) are
    parsed for product token 'mycrawler-news' — group detection,
    RFC 9309 agent-specificity selection, pattern→RE2 translation —
    and evaluated over every corpus URL with longest-match precedence
    (Allow wins ties).  The oracle replays the entire parse + match in
    DuckDB windows/regexps over the committed fixture."""
    from metacrafter_spark.corpus.robots import (
        parse_robots_txt, with_robots_allowed)
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    hosts = pages.select(host.alias("host")).distinct()
    body = F.lit(None).cast("string")
    for h, txt in _ROBOTS_BODIES.items():
        body = F.when(F.col("host") == h, F.lit(txt)).otherwise(body)
    robots = hosts.withColumn("robots_txt", body) \
        .filter(F.col("robots_txt").isNotNull())
    rules = parse_robots_txt(robots, agent="mycrawler-news")
    docs = pages.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "url", host.alias("host"))
    out = with_robots_allowed(docs, rules)
    return (out.select("doc_id", "host", "robots_allowed",
                       "robots_rule")
            .orderBy("doc_id"))


def q_robots_harvest(spark, sf_dir):
    """robots.txt harvest from the crawl (round 5, corpus/robots.py
    robots_from_corpus): every 10th doc is rewritten into its host's
    /robots.txt response (three captures per host with different
    timestamps and bodies — the NEWEST must win); the oracle replays
    the url filter, host extraction and the survivor window in SQL."""
    from metacrafter_spark.corpus.robots import robots_from_corpus
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    src = pages.select(
        F.when(d % 10 == 0,
               F.concat(F.lit("https://"), host, F.lit("/robots.txt")))
        .otherwise(F.col("url")).alias("url"),
        F.when(d % 10 == 0,
               F.concat(F.lit("User-agent: *\nDisallow: /v"),
                        (d % 3).cast("string")))
        .otherwise(F.col("text")).alias("text"),
        "warc_ts")
    out = robots_from_corpus(src)
    return (out.select("host", F.md5(F.encode("robots_txt", "utf-8"))
                       .alias("robots_md5"))
            .orderBy("host"))


def q_temperature_mix(spark, sf_dir):
    """Temperature-based mixture sampling (round 5,
    ops/sampling.temperature_mix — the mT5/ROOTS multilingual recipe):
    per-source budgets ∝ total_chars^(1/3), selection by the Knuth
    hash filter.  The single libm pow is rounded to 9 decimals (the
    perplexity tolerance convention); everything else is the integer
    hash arithmetic the oracle replays exactly."""
    from metacrafter_spark.ops.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "source", "n_chars")
    sel = temperature_mix(docs, "source", "doc_id", "n_chars",
                          total_budget=60000.0, temperature=3.0,
                          seed=3)
    return sel.select("doc_id", "source", "n_chars").orderBy("doc_id")


def q_sequence_packing(spark, sf_dir):
    """GPT-style sequence packing (round 5, ops/packing.py): global
    token offsets in deterministic hash order via a two-phase
    distributed prefix sum (range buckets + broadcast bucket offsets —
    no global-order window), then sequence index / offset / boundary
    flags at seq_len=512.  Exact integer arithmetic throughout; the
    oracle replays the identical total order with one SQL window."""
    from metacrafter_spark.ops.packing import pack_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"),
                        lambda w: w != "")).cast("long")
        .alias("n_tokens"))
    out = pack_documents(toks, seq_len=512)
    return (out.select("doc_id", "n_tokens", "pack_h", "token_start",
                       "seq_id", "seq_offset", "spans_boundary")
            .orderBy("doc_id"))


def q_packed_sequences(spark, sf_dir):
    """Materialized training sequences (round 5, ops/packing.py
    materialize_sequences): the packed token stream cut into
    seq_len=512 sequences, documents split at the boundaries they
    span.  The oracle rebuilds every sequence in SQL — same slices,
    same offset-ordered assembly — and compares md5(seq_text)."""
    from metacrafter_spark.ops.packing import (
        materialize_sequences, pack_documents)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn(
        "n_tokens",
        F.size(F.filter(F.split("text", r"\s+"),
                        lambda w: w != "")).cast("long"))
    packed = pack_documents(toks, seq_len=512)
    seqs = materialize_sequences(packed, seq_len=512)
    return (seqs.select("seq_id", "n_docs", "n_tokens",
                        F.md5(F.encode("seq_text", "utf-8"))
                        .alias("seq_md5"))
            .orderBy("seq_id"))


def q_token_budget(spark, sf_dir):
    """Quality-ordered token-budget selection (round 5, ops/sampling.py
    select_token_budget — the SlimPajama/FineWeb-Edu "best B tokens"
    step): documents ranked by alpha-char ratio descending (quantized
    floor(ratio·1e6), hash/id tie-breaks), the cumulative-token prefix
    under budget=12000 kept via the distributed prefix-sum cut
    (score-unit × hash-bucket keyed — no global-order window).  The
    oracle replays score, total order and running sum with one SQL
    window."""
    from metacrafter_spark.ops.sampling import select_token_budget

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"),
                        lambda w: w != "")).cast("long")
        .alias("n_tokens"),
        (F.lit(1.0)
         * F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
         / F.greatest(F.length("text"), F.lit(1))).alias("score"))
    out = select_token_budget(scored, "doc_id", "n_tokens", "score",
                              budget=12000)
    return (out.select("doc_id", "n_tokens", "score_unit", "token_start")
            .orderBy("doc_id"))


def q_page_metadata(spark, sf_dir):
    """Page-metadata extraction (round 5, corpus/html.py
    with_page_metadata): <title> comes from the corpus's own html;
    description/OpenGraph metas (quoted/bare values, both attribute
    orders, a decoy) are injected by doc_id; every extraction regex
    replays verbatim in RE2/DuckDB."""
    from metacrafter_spark.corpus.html import with_page_metadata
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    meta = (
        F.when(d % 4 == 0, F.concat(
            F.lit('<meta name="description" content="Summary of '),
            d, F.lit('">')))
        .when(d % 4 == 1, F.concat(
            F.lit("<meta content='og page "), d,
            F.lit("' property='og:title'>"
                  "<meta property=og:type content=article>")))
        .when(d % 4 == 2, F.concat(
            F.lit('<meta property="og:locale" content="en_US">'
                  '<meta name=description content=bare-'), d,
            F.lit('>')))
        .otherwise(F.lit('<meta name="author" content="decoy">')))
    injected = pages.select(
        d.alias("doc_id"),
        F.regexp_replace(F.decode("html", "utf-8"), "<head>",
                         F.concat(F.lit("<head>"), meta)).alias("html"))
    out = with_page_metadata(injected, "html")
    return (out.select("doc_id", "page_title", "meta_description",
                       "og_title", "og_type", "og_locale")
            .orderBy("doc_id"))


def q_outlink_graph(spark, sf_dir):
    """Web-graph construction (round 5, corpus/html.py with_outlinks +
    ops/urls.py resolve_url): anchors in five href shapes — absolute,
    scheme-relative, root-relative with query+fragment, bare relative
    with a parent segment, ./x/../ dot chains plus a mailto decoy —
    are injected into the live-regenerated webcorpus html; extraction,
    RFC 3986 resolution against each page's own URL, the https filter
    and canonicalization all replay verbatim in RE2/DuckDB."""
    from metacrafter_spark.corpus.html import with_outlinks
    from metacrafter_spark.corpus.webpages import synth_webpages

    pages = synth_webpages(spark, 2000, seed=42)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    m = (d * 7 + 1) % 2000
    m2 = (d * 13 + 3) % 2000
    k = d % 5
    anchors = (
        F.when(k == 1, F.concat(
            F.lit('<a href="https://ext.example.com/page/'), m,
            F.lit('">x</a>'),
            F.lit("<a href='//cdn.example.net/a/"), m2,
            F.lit("'>y</a>")))
        .when(k == 2, F.concat(
            F.lit('<a class="c" href="/p/'), m,
            F.lit('?b=2&a=1#frag">x</a>')))
        .when(k == 3, F.concat(
            F.lit('<a href=../article/'), m, F.lit('>x</a>')))
        .when(k == 4, F.concat(
            F.lit('<a href="./x/../y/'), m,
            F.lit('">x</a><a href="mailto:a@b.example">m</a>')))
        .otherwise(F.lit("")))
    injected = pages.select(
        d.alias("doc_id"), "url",
        F.regexp_replace(F.decode("html", "utf-8"), "</body>",
                         F.concat(anchors, F.lit("</body>"))
                         ).alias("html"))
    out = with_outlinks(injected, "html", "url")
    return (out.select("doc_id", F.explode("outlinks").alias("link"))
            .groupBy("link")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_src"),
                 F.max("doc_id").alias("last_src"))
            .orderBy("link"))


def q_page_rank(spark, sf_dir):
    """PageRank link-quality signal (round 5, ops/linkgraph.py): the
    Common-Crawl-domain-ranks shape.  Edges derive arithmetically from
    the documents table (i → (7i+3j) mod N for j ≤ i mod 4; 25% of
    nodes dangling), five damped iterations in integer fixed-point
    (1e-12 rank units, floor division, damping 17/20) — every step is
    exact BIGINT arithmetic, so the oracle unrolls the identical
    iterations in SQL and matches bit-for-bit."""
    from metacrafter_spark.ops.linkgraph import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_df = docs.agg(F.count("*").alias("N"))
    j = F.explode(
        F.when(F.col("doc_id") % 4 >= 1,
               F.sequence(F.lit(1).cast("long"), F.col("doc_id") % 4))
        .otherwise(F.array().cast("array<long>"))).alias("j")
    edges = (docs.crossJoin(F.broadcast(n_df))
             .select("doc_id", "N", j)
             .select(F.col("doc_id").alias("src"),
                     ((F.col("doc_id") * 7 + 3 * F.col("j"))
                      % F.col("N")).alias("dst")))
    pr = pagerank(edges, iterations=5)
    return (pr.select(F.col("node").alias("node_id"), "pr_units")
            .orderBy("node_id"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (round 5, ops/similarity.py — Abbas et al. 2023):
    semantic deduplication over the planted-clone embedding corpus.
    Four seed-vector centroids (collected driver-side like IVF
    centroids — bounded rows, literal in the plan so the oracle can
    recompute them from the parquet), exact JVM fold assignment
    (SQL-replayable argmax), within-cluster cosine pairs at τ = 0.95,
    min-label connected components, and the paper's keep rule (the
    group member least similar to its centroid survives).  The oracle
    replays assignment, the cluster-scoped self-join, the recursive-CTE
    components and the representative selection."""
    from metacrafter_spark.ops.similarity import semdedup

    _, corpus = _planted_ann_corpus(spark, sf_dir)
    corpus = corpus.filter(
        (F.col("vec_id") < 200) | (F.col("vec_id") >= 1_000_000))
    cents = [
        [float(x) for x in r.embedding]
        for r in _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    out = semdedup(corpus, cents, threshold=0.95, exact_assign=True)
    return out.orderBy("vec_id")


def q_langid_ft(spark, sf_dir):
    """fastText-style SUPERVISED language ID (round 5,
    corpus/langid_ft.py) — one-vs-rest logistic regression over
    hashed character 1+2-grams, trained jointly (one chain, every
    table keyed (cls, bucket)/(id, cls)) on the 34-language sample
    corpus, 6 decimal-exact GD iterations, argmax prediction
    total-ordered by (z desc, cls).  The oracle unrolls the full
    multiclass trajectory — weights, biases, scores byte-equal — and
    the in-plan acc_ok asserts ≥95% train accuracy (the distillation
    contract; measured 100%)."""
    from metacrafter_spark.corpus.langid_ft import (
        predict_langid_ft, train_langid_ft)
    from metacrafter_spark.corpus.langid_samples import flat_samples

    fs = flat_samples()
    df = spark.createDataFrame(
        [(i, l, t) for i, (l, t) in enumerate(fs)],
        "doc_id int, lang string, text string")
    m = train_langid_ft(df, buckets=2048, iterations=6,
                        lr=8.0, w_pos=33.0)
    pred = predict_langid_ft(df, m)
    out = pred.join(df.select("doc_id", "lang"), "doc_id")
    acc = out.agg(
        (F.avg((F.col("pred_lang") == F.col("lang")).cast("double"))
         >= 0.95).alias("acc_ok"))
    return (out.crossJoin(F.broadcast(acc))
            .select("doc_id", "lang", "pred_lang", "score", "acc_ok")
            .orderBy("doc_id"))


def q_semdedup_trained(spark, sf_dir):
    """Composed pipeline (round 5): k-means-TRAINED centroids feeding
    SemDeDup — the integration the two operators were built for.
    kmeans_fit (2 integer-exact Lloyd iterations, k=4) runs on the
    same planted-clone corpus semdedup will dedup; its unit centroids
    go back to float space via centroids_as_vectors (one exact
    division per coordinate) and into the exact-assign SemDeDup.  The
    oracle re-derives the trained centroids bit-for-bit through the
    unrolled k-means chain, then replays the full SemDeDup chain —
    end-to-end hash coverage across the operator boundary."""
    from metacrafter_spark.ops.kmeans import (
        centroids_as_vectors, kmeans_fit)
    from metacrafter_spark.ops.similarity import semdedup

    _, corpus = _planted_ann_corpus(spark, sf_dir)
    corpus = corpus.filter(
        (F.col("vec_id") < 200) | (F.col("vec_id") >= 1_000_000))
    cents_u, _ = kmeans_fit(corpus, 4, 2)
    cents = centroids_as_vectors(cents_u)
    out = semdedup(corpus, cents, threshold=0.95, exact_assign=True)
    return out.orderBy("vec_id")


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (round 5, ops/bpe.py —
    Sennrich et al. 2016): 12 merges learned over the documents
    corpus's word-frequency table.  Integer counts and strings only —
    the merge table is EXACT, and the tie-broken argmax (count desc,
    lhs asc, rhs asc) makes the learned order deterministic.  The
    oracle unrolls all 12 steps as MATERIALIZED CTEs, applying each
    merge through a delimited-string list_reduce — a different
    mechanism than the Spark array fold, so the hash match is a
    differential test of the greedy rewrite semantics."""
    from metacrafter_spark.ops.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents") \
        .select("text").filter(F.col("doc_id") < 2000)
    return train_bpe(docs, 12, max_words=200).orderBy("step")


def q_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (round 5, corpus/kenlm.py —
    Wenzek et al. 2020): the corpus split into head/middle/tail
    tertiles by the KN-bigram LM score.  The NTILE rides a fully
    deterministic total order (average negative log-prob rounded to
    6 dp, doc_id tie-break); the oracle replays the whole KN chain
    plus the same window."""
    from metacrafter_spark.corpus.kenlm import (
        score_kn_bigram, train_kn_bigram, with_ppl_buckets)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    model = train_kn_bigram(
        docs.filter(F.col("lang") == "en").select("text"),
        vocab_size=512, max_words=200)
    scored = score_kn_bigram(docs.select("doc_id", "text"), model)
    return (with_ppl_buckets(scored, 3)
            .select("doc_id", "avg_nlp", "ppl_bucket")
            .orderBy("doc_id"))


def q_ppl_buckets_sampled(spark, sf_dir):
    """The 10^12-doc form of CCNet bucketing, oracle-checked
    (corpus/kenlm.with_ppl_buckets_sampled): thresholds from a 300-doc
    deterministic bottom-k-by-hash sample of the 2000 scored docs
    (genuine sampling — 15%), broadcast back, every document bucketed
    MAP-SIDE by threshold comparison; no global sort anywhere.  The
    oracle replays the whole KN scoring chain plus the identical
    sample selection, quantile_cont thresholds (bit-identical
    interpolation, verified) and the strictly-greater bucket rule."""
    from metacrafter_spark.corpus.kenlm import (
        score_kn_bigram, train_kn_bigram, with_ppl_buckets_sampled)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    model = train_kn_bigram(
        docs.filter(F.col("lang") == "en").select("text"),
        vocab_size=512, max_words=200)
    scored = score_kn_bigram(docs.select("doc_id", "text"), model)
    return (with_ppl_buckets_sampled(scored, 3, sample_k=300)
            .select("doc_id", "avg_nlp", "ppl_bucket")
            .orderBy("doc_id"))


#: shared literal (oracle conventions): the BM25 probe queries used by
#: BOTH the Spark query and the DuckDB replay — one constant, no drift
_BM25_QUERIES = [("q1", "fast table scan"),
                 ("q2", "customer query join"),
                 ("q3", "spark window agg sort")]


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (round 5, ops/bm25.py) — Lucene-variant
    scoring over the documents corpus for three probe queries.  tf /
    df / dl / N are exact integers; each per-term score is one
    fixed-shape IEEE double expression quantized to decimal(18,9), so
    the per-doc sum is exact decimal addition; ranking total-ordered
    by (score desc, doc_id).  The oracle replays tokenization,
    postings, df, the scoring expression and the window in DuckDB."""
    from metacrafter_spark.ops.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "text").filter(F.col("doc_id") < 2000)
    return bm25_topk(docs, _BM25_QUERIES, top_k=5, max_words=2000)


def q_kmeans(spark, sf_dir):
    """Distributed k-means training (round 5, ops/kmeans.py) — the
    centroid stage upstream of IVF / SemDeDup.  Coordinates quantized
    to non-negative fixed-point units (floor(x*1e6)+2e6 — distances
    unchanged by the shift), then Lloyd's algorithm is pure integer
    arithmetic: exact BIGINT distances, portable floor-division
    centroid updates, (dist, id)-total-ordered argmin.  The oracle
    unrolls all 3 iterations and re-derives the centroids
    bit-for-bit — every output column an exact integer."""
    from metacrafter_spark.ops.kmeans import kmeans_summary

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return kmeans_summary(emb, 4, 3).orderBy("cluster")


def q_kenlm_trigram(spark, sf_dir):
    """Trigram interpolated Kneser-Ney (round 5, corpus/kenlm.py) —
    the full three-level KN recursion (raw counts on top,
    continuation counts in the middle, unigram continuation at the
    bottom; one count-of-counts discount per level), trained on the
    English slice, scoring the whole corpus.  Same exactness contract
    as the bigram model: every probability quantized round(ln p, 9)
    once per MODEL row, per-doc sums exact decimal addition.  The
    oracle replays tokenization (double-BOS padding), all five model
    tables, both discounts and the three-level backoff chain."""
    from metacrafter_spark.corpus.kenlm import (
        score_kn_trigram, train_kn_trigram)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    model = train_kn_trigram(
        docs.filter(F.col("lang") == "en").select("text"),
        vocab_size=512, max_words=200)
    return (score_kn_trigram(docs.select("doc_id", "text"), model)
            .select("doc_id", "n_grams",
                    F.round(F.col("sum_logp").cast("double"), 6)
                    .alias("sum_logp"))
            .orderBy("doc_id"))


def q_quality_classifier(spark, sf_dir):
    """fastText-style supervised quality classifier (round 5,
    ops/quality_classifier.py) — the model-based filtering stage of
    CCNet/DCLM/FineWeb-Edu pipelines, distilled against a junk-marker
    label on the BASELINE-shape corpus.  Six full-batch GD iterations
    over binary hashed-n-gram features with the junk class residuals
    upweighted 50× (junk is 1.8% of the corpus); weights/probabilities
    quantize to decimal(18,9) each step (the linkgraph unroll
    contract) so the oracle replays all six iterations as CTEs and
    matches the final per-doc scores byte-for-byte.  acc_ok asserts
    in-plan that the trained model reproduces ≥99% of labels (it
    catches all 36 planted junk docs).  4096 hash buckets since the
    WORD_SPLIT migration: Unicode tokenization adds real features for
    the corpus's Russian pages, and at 1024 buckets their grams
    collide into junk-upweighted buckets (train acc 0.9255); 4096
    restores 0.9995."""
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.ops.quality_classifier import (
        score_logreg, train_logreg_hashed)

    corpus = synth_webpages(spark, 2000, seed=42, partitions=8)
    labeled = corpus.select(
        "url", "text",
        (~(F.col("text").contains("lorem ipsum")
           | F.col("text").contains("function f() {")))
        .cast("int").alias("y"))
    model = train_logreg_hashed(
        labeled, label_col="y", id_col="url", buckets=4096,
        max_words=200, iterations=6, lr=2.0,
        class_weights=(50.0, 1.0), binary=True)
    scored = score_logreg(labeled.select("url", "text"), model,
                          id_col="url")
    j = scored.join(labeled.select("url", "y"), "url")
    acc = j.agg((F.avg((F.col("pred") == F.col("y")).cast("double"))
                 >= F.lit(0.99)).alias("acc_ok"))
    return (j.crossJoin(F.broadcast(acc))
            .select("url", "y",
                    F.round(F.col("score").cast("double"), 6)
                    .alias("score"),
                    "pred", "acc_ok")
            .orderBy("url"))


def q_kenlm_perplexity(spark, sf_dir):
    """Word-bigram interpolated Kneser-Ney LM (round 5,
    corpus/kenlm.py) — the north rule's "KenLM-style n-gram
    perplexity" at word level (Chen & Goodman 1998 §2.7; reference
    north star names the signal; the char-trigram stand-in is
    q_perplexity).  Trained distributively on the English subset
    (top-512 vocab via TakeOrdered, OOV → <unk> through broadcast
    joins), scored over all 2000 docs.  Every probability is an
    IEEE-double expression of integer counts quantized
    round(ln(p), 9) → decimal(18,9) at the MODEL row, so per-doc sums
    are exact decimal addition — order- and engine-independent.  The
    oracle replays tokenization, vocab selection, bigram counts,
    count-of-counts discount, all three model tables and the scoring
    joins verbatim in DuckDB."""
    from metacrafter_spark.corpus.kenlm import (
        train_kn_bigram, score_kn_bigram)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    model = train_kn_bigram(
        docs.filter(F.col("lang") == "en").select("text"),
        vocab_size=512, max_words=200)
    scored = score_kn_bigram(docs.select("doc_id", "text"), model)
    return (scored.select(
        "doc_id", "n_grams",
        F.round(F.col("sum_logp").cast("double"), 6).alias("sum_logp"))
        .orderBy("doc_id"))


def q_kenlm_persisted(spark, sf_dir):
    """Model persistence (round 5, corpus/modelstore.py): the SAME
    KN chain as q_kenlm_perplexity, but the trained model is saved to
    a parquet+manifest artifact and RELOADED before scoring — the
    train-once / score-every-dump production flow (CCNet trains its
    LM once, then scores each monthly dump in a separate job).  The
    oracle is the identical SQL replay: a hash match proves the
    artifact round-trips the decimal(18,9) model tables byte-exactly
    (parquet decimals are lossless), so a model scored weeks later
    from disk is bit-equal to the freshly trained one."""
    import os
    import tempfile

    from metacrafter_spark.corpus.kenlm import (
        train_kn_bigram, score_kn_bigram)
    from metacrafter_spark.corpus.modelstore import (
        load_model, save_model)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "lang", "text").filter(F.col("doc_id") < 2000)
    model = train_kn_bigram(
        docs.filter(F.col("lang") == "en").select("text"),
        vocab_size=512, max_words=200)
    # fixed path + overwrite, NOT mkdtemp: the loaded model reads the
    # artifact lazily (the caller collects after we return), so the
    # dir can't be deleted here — reuse one location so repeated
    # bench/oracle runs never accumulate temp artifacts.  The location
    # keys on sf_dir (ADVICE r5): two concurrent runs at different SFs
    # previously shared one path, so one run's save_model rotation
    # could delete files the other's scoring job was still reading.
    import hashlib as _hl

    path = os.path.join(
        tempfile.gettempdir(),
        "metacrafter_kenlm_persist_"
        + _hl.sha256(sf_dir.encode()).hexdigest()[:12])
    save_model(model, path, overwrite=True)
    reloaded = load_model(spark, path)
    scored = score_kn_bigram(docs.select("doc_id", "text"), reloaded)
    return (scored.select(
        "doc_id", "n_grams",
        F.round(F.col("sum_logp").cast("double"), 6).alias("sum_logp"))
        .orderBy("doc_id"))


def q_fix_mojibake(spark, sf_dir):
    """Mojibake repair (round 5, corpus/mojibake.py — the ftfy
    use-case): each document is deterministically corrupted in-plan
    (one in-text substitution plus a suffix exercising 2-byte Latin,
    3-byte punctuation, € and a WHATWG C1-control sequence), then
    repaired by the generated sloppy-cp1252 table.  The oracle injects
    the identical corruption and replays the identical single
    left-to-right pass (same alternation, same MAP — both generated
    from the same pairs list), so fixed text is checked sha-exact and
    the repair counts value-exact."""
    from metacrafter_spark.corpus.mojibake import (
        corrupt_text, with_fixed_text)

    suffix = corrupt_text(" — café “qüote” … ©2025 €9")
    docs = _t(spark, sf_dir, "documents")
    moji = docs.select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(" the "), F.lit(" thÃ© ")),
            F.lit(suffix),
        ).alias("text"))
    return (with_fixed_text(moji)
            .select("doc_id",
                    F.sha2(F.col("text_fixed"), 256).alias("fixed_sha"),
                    F.length("text_fixed").alias("fixed_len"),
                    "n_mojibake_fixed")
            .orderBy("doc_id"))


def _mojibake_oracle_sql() -> str:
    """DuckDB replay of q_fix_mojibake: identical in-plan corruption,
    then the repair replayed via corpus/mojibake.oracle_sql_exprs —
    generated from the SAME pairs list as the Spark kernel.  The
    injected suffix is spliced as quoted chunks + chr(n) for C1
    controls (raw control bytes in SQL literals are fragile)."""
    from metacrafter_spark.corpus.mojibake import (
        corrupt_text, oracle_sql_exprs)

    suffix = corrupt_text(" — café “qüote” … ©2025 €9")
    parts, buf = [], []
    for ch in suffix:
        if ord(ch) < 0x20 or 0x7F <= ord(ch) <= 0x9F:
            if buf:
                parts.append("'" + "".join(buf).replace("'", "''") + "'")
                buf = []
            parts.append(f"chr({ord(ch)})")
        else:
            buf.append(ch)
    if buf:
        parts.append("'" + "".join(buf).replace("'", "''") + "'")
    suffix_sql = " || ".join(parts)
    fixed, n_fixed = oracle_sql_exprs("t")
    return f"""
        WITH moji AS (
          SELECT doc_id,
                 replace(text, ' the ', ' thÃ© ') || {suffix_sql} AS t
          FROM documents),
        fixed AS (
          SELECT doc_id, {fixed} AS f, {n_fixed} AS n FROM moji)
        SELECT doc_id, sha256(f) AS fixed_sha,
               length(f)::BIGINT AS fixed_len,
               n::INT AS n_mojibake_fixed
        FROM fixed ORDER BY doc_id
    """


def _repetition_oracle_sql() -> str:
    """DuckDB replay of q_repetition_stats: per-n positional grams,
    per-gram counts, the (count desc, gram-chars desc) top selection
    as a two-step max, duplicate-window coverage and the char sums —
    generated for the same (top_ns, dup_ns) the Spark query uses."""
    top_ns, dup_ns = (2, 3, 4), (5, 10)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    gram_selects = "\n              UNION ALL\n".join(
        f"""              SELECT doc_id, {n} AS n, s.pos AS pos,
                     s.gram AS gram
              FROM (SELECT doc_id, unnest(list_transform(
                      range(1, len(words) - {n - 2}),
                      i -> {{'pos': i - 1,
                            'gram': array_to_string(
                                words[i:i+{n - 1}], ' ')}})) AS s
                    FROM w WHERE len(words) >= {n}) t{n}"""
        for n in all_ns)
    top_pivot = ",\n                     ".join(
        f"max(CASE WHEN n = {n} THEN top_chars END) AS t{n}"
        for n in top_ns)
    dup_pivot = ",\n                     ".join(
        f"max(CASE WHEN n = {n} THEN starts END) AS s{n}"
        for n in dup_ns)
    top_cols = ",\n                   ".join(
        f"round(coalesce(t{n}, 0)::DOUBLE / total, 9)"
        f" AS top_{n}gram_char_frac" for n in top_ns)
    dup_cols = ",\n                   ".join(
        f"""round(coalesce(list_aggregate(list_transform(
                     list_filter(range(0, len(words)),
                       j -> len(list_filter(coalesce(s{n}, []),
                              s -> j >= s AND j < s + {n})) > 0),
                     j -> length(words[j + 1])), 'sum'), 0)::DOUBLE
                   / total, 9) AS dup_{n}gram_char_frac"""
        for n in dup_ns)
    return f"""
        WITH p AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN text ||
                   ' very nice very nice very nice one two three four'
                   || ' five and one two three four five'
                 ELSE text END AS text
          FROM documents WHERE doc_id < 300),
        w AS (
          SELECT doc_id,
                 (list_filter(string_split_regex(lower(text),
                                '[^\\p{{L}}\\p{{N}}_]+'),
                              x -> length(x) > 0))[1:2000] AS words
          FROM p),
        g AS (
{gram_selects}),
        pg AS (
          SELECT doc_id, n, gram,
                 count(*) AS cnt,
                 length(gram) - (n - 1) AS gc,
                 list(pos) AS poss
          FROM g GROUP BY doc_id, n, gram),
        tops AS (
          SELECT doc_id, n, max(cnt) AS mc
          FROM pg GROUP BY doc_id, n),
        topc AS (
          SELECT pg.doc_id, pg.n, tops.mc * max(pg.gc) AS top_chars
          FROM pg JOIN tops USING (doc_id, n)
          WHERE pg.cnt = tops.mc
          GROUP BY pg.doc_id, pg.n, tops.mc),
        dups AS (
          SELECT doc_id, n, list_sort(flatten(list(poss))) AS starts
          FROM pg WHERE cnt >= 2 AND n IN ({", ".join(map(str, dup_ns))})
          GROUP BY doc_id, n),
        tj AS (SELECT doc_id, {top_pivot}
               FROM topc GROUP BY doc_id),
        dj AS (SELECT doc_id, {dup_pivot}
               FROM dups GROUP BY doc_id),
        fin AS (
          SELECT w.doc_id, w.words,
                 greatest(coalesce(list_aggregate(list_transform(
                   w.words, x -> length(x)), 'sum'), 0), 1)::DOUBLE
                   AS total,
                 {", ".join(f"t{n}" for n in top_ns)},
                 {", ".join(f"s{n}" for n in dup_ns)}
          FROM w LEFT JOIN tj USING (doc_id) LEFT JOIN dj USING (doc_id))
        SELECT doc_id,
                   {top_cols},
                   {dup_cols}
        FROM fin ORDER BY doc_id
    """


def q_hll_distinct(spark, sf_dir):
    """Cross-dump distinct-URL counting via mergeable HyperLogLog
    sketches (ops/sketches.py) — the 10^12-scale answer to "how many
    unique URLs have we ever crawled?": each dump persists only its
    O(2^p)-row register table; the cross-dump estimate merges the
    tables (per-bucket max), never re-reading a dump.  Two precisions
    exercise BOTH estimator branches (p=6 raw harmonic mean, p=12
    linear counting) at the driver's sf0.01 scale — the dump windows
    sit inside doc_id < 500 so the value set (500 distinct URLs, 200
    overlapping) is identical at every sf.  The Spark side estimates
    from the MERGE of two overlapping dump sketches while the oracle
    re-derives registers from the flat union — a hash match proves
    merge == sketch-of-union plus the exact-integer register/estimate
    arithmetic end to end.  In-plan ``err_ok`` asserts the estimate
    lands inside the published error envelope against the exact
    distinct count."""
    from metacrafter_spark.ops.sketches import (
        hll_estimate, hll_merge, hll_registers)

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://s"), F.col("doc_id"),
                   F.lit("/p")).alias("url")
    d1 = docs.filter(F.col("doc_id") < 350).select(url)
    d2 = docs.filter((F.col("doc_id") >= 150)
                     & (F.col("doc_id") < 500)).select(url)
    exact = (d1.unionByName(d2)
             .agg(F.countDistinct("url").alias("exact_distinct")))
    parts = []
    for p in (6, 12):
        merged = hll_merge(hll_registers(d1, "url", p=p),
                           hll_registers(d2, "url", p=p))
        parts.append(hll_estimate(merged, p=p)
                     .withColumn("sketch_p", F.lit(p)))
    bar = F.when(F.col("sketch_p") == 6, F.lit(0.30)).otherwise(F.lit(0.05))
    return (parts[0].unionByName(parts[1])
            .crossJoin(F.broadcast(exact))
            .select(
                "sketch_p", "n_buckets_set", "lc_used", "est_distinct",
                "exact_distinct",
                (F.abs(F.col("est_distinct").cast("double")
                       / F.col("exact_distinct") - 1) < bar).alias("err_ok"))
            .orderBy("sketch_p"))


def _hll_distinct_sql() -> str:
    """Oracle for q_hll_distinct, generated from the SAME module
    constants via hll_sql_snippets (engine and oracle cannot drift);
    registers are re-derived from the flat dump union, so the hash
    match also proves the merge property."""
    from metacrafter_spark.ops.sketches import hll_sql_snippets

    def est_cte(p: int) -> str:
        sn = hll_sql_snippets(p)
        return f"""(
            WITH __items AS (SELECT url AS item FROM allu),
            __regs AS (SELECT bucket, max(rho)::INT AS reg
                       FROM ({sn["rho"]}) GROUP BY 1)
            SELECT {p} AS sketch_p, * FROM ({sn["estimate"]}))"""

    return f"""
        WITH d1 AS (SELECT 'https://s' || doc_id || '/p' AS url
                    FROM documents WHERE doc_id < 350),
        d2 AS (SELECT 'https://s' || doc_id || '/p' AS url
               FROM documents WHERE doc_id >= 150 AND doc_id < 500),
        allu AS (SELECT url FROM d1 UNION ALL SELECT url FROM d2),
        ex AS (SELECT count(DISTINCT url)::BIGINT AS exact_distinct
               FROM allu),
        e6 AS {est_cte(6)},
        e12 AS {est_cte(12)},
        u AS (SELECT * FROM e6 UNION ALL SELECT * FROM e12)
        SELECT sketch_p, n_buckets_set, lc_used, est_distinct,
               exact_distinct,
               abs(est_distinct::DOUBLE / exact_distinct - 1) <
                 CASE WHEN sketch_p = 6 THEN 0.30 ELSE 0.05 END AS err_ok
        FROM u, ex ORDER BY sketch_p
    """


def q_kmv_overlap(spark, sf_dir):
    """Cross-dump OVERLAP estimation via KMV (k-minimum-values)
    sketches — the recrawl-rate metric HLL cannot provide: two dump
    URL sets (350 and 350 docs, 200 shared → true Jaccard 0.4, true
    union 500; windows sit inside doc_id < 500 so the truth is
    identical at every sf) are sketched to their 256 smallest distinct
    hashes, the union's k-minima give an unbiased Jaccard sample and
    the k-th smallest hash gives the union cardinality.  Everything up
    to the two quantized divisions is exact integer arithmetic
    (sha256-family hashes, distributed TakeOrdered top-k, set-
    membership counts), so the oracle replays it value-for-value.
    In-plan ``j_ok``/``u_ok`` assert both estimates land inside their
    sampling-error envelopes of the known truths."""
    from metacrafter_spark.ops.sketches import (
        kmv_estimate_distinct, kmv_jaccard, kmv_merge, kmv_sketch)

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://s"), F.col("doc_id"),
                   F.lit("/p")).alias("url")
    d1 = docs.filter(F.col("doc_id") < 350).select(url)
    d2 = docs.filter((F.col("doc_id") >= 150)
                     & (F.col("doc_id") < 500)).select(url)
    sa = kmv_sketch(d1, "url", k=256)
    sb = kmv_sketch(d2, "url", k=256)
    jac = kmv_jaccard(sa, sb, k=256)
    est = kmv_estimate_distinct(kmv_merge(sa, sb, k=256), k=256)
    return (jac.crossJoin(est)
            .select(
                "n_union_sample", "n_both", "jaccard",
                "n_sketch", "exact", "est_distinct",
                (F.abs(F.col("jaccard").cast("double") - 0.4) < 0.1)
                .alias("j_ok"),
                (F.abs(F.col("est_distinct").cast("double") / 500.0 - 1)
                 < 0.15).alias("u_ok")))


def _kmv_overlap_sql() -> str:
    """Oracle for q_kmv_overlap: hashes, distinct-top-k, union
    k-minima, membership counts and both quantized estimators replayed
    in DuckDB (constants shared with ops/sketches)."""
    from metacrafter_spark.ops.sketches import HASH_BITS

    k = 256
    full = repr(float(1 << HASH_BITS))
    return f"""
        WITH d1 AS (
          SELECT ('0x' || substr(sha256('https://s' || doc_id || '/p'),
                                 1, 15))::BIGINT AS h
          FROM documents WHERE doc_id < 350),
        d2 AS (
          SELECT ('0x' || substr(sha256('https://s' || doc_id || '/p'),
                                 1, 15))::BIGINT AS h
          FROM documents WHERE doc_id >= 150 AND doc_id < 500),
        sa AS (SELECT DISTINCT h FROM d1 ORDER BY h LIMIT {k}),
        sb AS (SELECT DISTINCT h FROM d2 ORDER BY h LIMIT {k}),
        uk AS (SELECT DISTINCT h FROM
                 (SELECT h FROM sa UNION ALL SELECT h FROM sb)
               ORDER BY h LIMIT {k}),
        j AS (SELECT count(*)::BIGINT AS n_union_sample,
                     sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                              THEN 1 ELSE 0 END)::BIGINT AS n_both
              FROM uk LEFT JOIN sa ON uk.h = sa.h
                      LEFT JOIN sb ON uk.h = sb.h),
        e AS (SELECT count(*)::BIGINT AS n_sketch, max(h) AS hk FROM uk),
        fin AS (
          SELECT n_union_sample, n_both,
                 coalesce(round(n_both::DOUBLE / n_union_sample, 6),
                          0.0)::DECIMAL(18,6)
                   AS jaccard,
                 n_sketch, n_sketch < {k} AS exact,
                 round(CASE WHEN n_sketch < {k} THEN n_sketch::DOUBLE
                            ELSE {float(k - 1)!r} * {full} / hk::DOUBLE
                       END, 6)::DECIMAL(28,6) AS est_distinct
          FROM j, e)
        SELECT *,
               abs(jaccard::DOUBLE - 0.4) < 0.1 AS j_ok,
               abs(est_distinct::DOUBLE / 500.0 - 1) < 0.15 AS u_ok
        FROM fin
    """


def q_bloom_membership(spark, sf_dir):
    """Cross-dump exact-URL membership via a mergeable Bloom filter
    (ops/sketches.py) — the third leg of the per-dump store family
    (HLL counts distinct, KMV estimates overlap, Bloom answers "was
    this exact URL ever seen?"): a prior dump (doc_id < 300; the
    window sits inside doc_id < 500 so the value set is identical at
    every sf) persists only its ~64-row packed-word table, and every
    probe rides k broadcast joins — the probe stream never shuffles
    (EXPLAIN audit).  Membership is a pure integer function of the
    value set (60-bit sha256 hash, Kirsch–Mitzenmacher double
    hashing, 63-bit word packing), so the oracle replays every probe
    — including any false positives — bit-for-bit.  In-plan
    ``nfn_ok`` asserts the no-false-negative guarantee per row."""
    from metacrafter_spark.ops.sketches import bloom_contains, bloom_sketch

    m_bits, k = 4096, 5
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://s"), F.col("doc_id"),
                   F.lit("/p")).alias("url")
    prior = docs.filter(F.col("doc_id") < 300).select(url)
    sk = bloom_sketch(prior, "url", m_bits=m_bits, k=k)
    probes = docs.filter(F.col("doc_id") < 500).select(
        F.col("doc_id").cast("long").alias("doc_id"), url)
    out = bloom_contains(probes, "url", sk, m_bits=m_bits, k=k)
    return out.select(
        "doc_id", "member",
        (F.col("doc_id") < 300).alias("inserted"),
        (F.col("member") | (F.col("doc_id") >= 300)).alias("nfn_ok"),
    ).orderBy("doc_id")


def _bloom_membership_sql() -> str:
    """Oracle for q_bloom_membership: the position/word fragments are
    GENERATED from the same module constants (bloom_sql_snippets — the
    hll/cms pattern, engine and oracle cannot drift); the packed-word
    build, the k-way probe and the AND-fold are all replayed."""
    from metacrafter_spark.ops.sketches import bloom_sql_snippets

    sn = bloom_sql_snippets(m_bits=4096, k=5)
    probe_pos = sn["positions"].replace("__items", "__probes")
    return f"""
        WITH __items AS (
          SELECT 'https://s' || doc_id || '/p' AS item
          FROM documents WHERE doc_id < 300),
        words AS ({sn["words"]}),
        __probes AS (
          SELECT 'https://s' || doc_id || '/p' AS item
          FROM documents WHERE doc_id < 500),
        ppos AS ({probe_pos}),
        mem AS (
          SELECT p.doc_id::BIGINT AS doc_id,
                 bool_and(coalesce((w.bits & pp.mask) <> 0, FALSE))
                   AS member
          FROM documents p
          JOIN ppos pp ON pp.item = 'https://s' || p.doc_id || '/p'
          LEFT JOIN words w ON pp.word = w.word
          WHERE p.doc_id < 500
          GROUP BY 1)
        SELECT doc_id, member,
               doc_id < 300 AS inserted,
               member OR doc_id >= 300 AS nfn_ok
        FROM mem ORDER BY doc_id
    """


def q_containment_pairs(spark, sf_dir):
    """Directional n-gram containment (ops/dedup.containment_pairs) —
    the syndication/subset-duplication signal: 20 excerpt documents
    (first 30 words of every doc_id % 4 == 0 parent, id + 10000) are
    planted into an 80-doc corpus; each excerpt's trigram set is a
    subset of its parent's by construction, so the planted pairs
    surface at containment exactly 1.0 (``planted`` marks them)
    while unrelated docs stay below threshold.  The oracle replays
    the whole chain — word split, trigram shingles, sha256 gram keys,
    the hot-gram guard with its consistent denominators, the pair
    join, size orientation and the quantized division —
    value-for-value in DuckDB."""
    from metacrafter_spark.ops.dedup import containment_pairs, split_words

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    exc = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(F.slice(split_words(F.col("text")), 1, 30), " ")
        .alias("text"))
    corpus = docs.select("doc_id", "text").unionByName(exc)
    out = containment_pairs(corpus, threshold=0.9, n=3,
                            max_gram_docs=60)
    return (out.withColumn(
        "planted",
        # a parent with <= 30 words equals its excerpt: sizes tie and
        # the PARENT becomes id_small — the relation is symmetric
        (F.col("id_small") - 10000 == F.col("id_big"))
        | (F.col("id_big") - 10000 == F.col("id_small")))
        .orderBy("id_small", "id_big"))


#: (expected type, container-head hex) for the media-route oracle —
#: offset types carry their real container head (RIFF....WAVE,
#: size+ftyp) so the sniff exercises non-zero offsets.
_MEDIA_HEADS = (
    ("png", "89504e470d0a1a0a"),
    ("jpeg", "ffd8ffe0"),
    ("gif", "474946383961"),
    ("bmp", "424d"),
    ("ppm", "5036"),
    ("wav", "52494646240000005741564500"),
    ("mp4", "000000186674797069736f6d"),
    ("mp3", "494433"),
    ("video/mcvf", "4d435646"),
    ("gzip", "1f8b08"),
    ("zstd", "28b52ffd"),
    ("pdf", "255044462d"),
    ("parquet", "50415231"),
    ("avro", "4f626a01"),
    ("unknown", "deadbeef"),
)


def q_media_type_route(spark, sf_dir):
    """Native-Column media-type routing (ops/multimodal.media_type_of):
    every binary container the multimodal layer decodes, classified
    by magic bytes as pure JVM hex-prefix compares — the decode
    dispatcher a 10^12-row corpus runs BEFORE any pandas UDF, so the
    partition-by-container step never leaves the JVM.  Each of 300
    docs gets one of 15 container heads (doc_id arithmetic; wav/mp4
    exercise the non-zero-offset magics); the oracle regenerates both
    the payload construction and the sniff CASE from the same
    MEDIA_MAGIC table, so first-match-wins ordering (a PNG never
    misroutes to jpeg's 2-byte magic) is verified cross-engine."""
    from metacrafter_spark.ops.multimodal import with_media_type

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    heads = F.array(*[F.lit(h) for _, h in _MEDIA_HEADS])
    df = docs.select(
        "doc_id",
        F.unhex(F.element_at(
            heads, (F.col("doc_id") % len(_MEDIA_HEADS)).cast("int") + 1))
        .alias("payload"))
    return (with_media_type(df, "payload")
            .groupBy("media_type")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc"))
            .orderBy("media_type"))


def _media_type_route_sql() -> str:
    """Oracle for q_media_type_route: payload heads from _MEDIA_HEADS,
    sniff CASE generated from ops/multimodal.MEDIA_MAGIC in table
    order (CASE arms evaluate top-down = first match wins)."""
    from metacrafter_spark.ops.multimodal import MEDIA_MAGIC

    pick = " ".join(
        f"WHEN {i} THEN '{h}'" for i, (_, h) in enumerate(_MEDIA_HEADS))
    arms = " ".join(
        f"WHEN upper(substr(hex(payload), {2 * off + 1}, {len(sig)})) = "
        f"'{sig.upper()}' THEN '{mt}'"
        for mt, sig, off in MEDIA_MAGIC)
    return f"""
        WITH p AS (
          SELECT doc_id,
                 from_hex(CASE doc_id % {len(_MEDIA_HEADS)} {pick} END)
                   AS payload
          FROM documents WHERE doc_id < 300)
        SELECT CASE {arms} ELSE 'unknown' END AS media_type,
               count(*)::BIGINT AS n_docs,
               min(doc_id) AS first_doc
        FROM p GROUP BY 1 ORDER BY media_type
    """


def q_quantile_sketch(spark, sf_dir):
    """Distribution tracking via the deterministic bottom-k sample
    sketch (ops/sketches.py): the n_chars quartiles a 10^12-doc
    pipeline needs for threshold policies (the with_ppl_buckets scale
    recipe) estimated from a 200-row hash-minimum sample, merged from
    two dump sketches (merge == sample-of-union, so the oracle samples
    the flat union).  Every row selection is exact integer hash order
    (distributed TakeOrdered); the percentile interpolation is
    bit-identical between Spark ``percentile`` and DuckDB
    ``quantile_cont`` (verified), quantized decimal(28,6).  In-plan
    ``*_ok`` flags assert each sample quartile lands within 15% of the
    exact population quartile."""
    from metacrafter_spark.ops.sketches import (
        bottomk_merge, bottomk_sample, sample_quantiles)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    d1 = docs.filter(F.col("doc_id") < 250)
    d2 = docs.filter(F.col("doc_id") >= 250)
    merged = bottomk_merge(
        bottomk_sample(d1, "doc_id", k=200, keep_cols=("n_chars",)),
        bottomk_sample(d2, "doc_id", k=200, keep_cols=("n_chars",)),
        k=200)
    sq = sample_quantiles(merged, "n_chars")
    ex = docs.agg(*[
        F.round(F.percentile(F.col("n_chars"), F.lit(q)), 6)
        .cast("decimal(28,6)").alias(f"ex{round(q * 100)}")
        for q in (0.25, 0.5, 0.75)])
    out = sq.crossJoin(F.broadcast(ex))
    flags = [
        (F.abs(F.col(f"q{p}").cast("double")
               / F.col(f"ex{p}").cast("double") - 1) < 0.15)
        .alias(f"ok{p}") for p in (25, 50, 75)]
    return out.select("q25", "q50", "q75", "ex25", "ex50", "ex75", *flags)


def _quantile_sketch_sql() -> str:
    """Oracle for q_quantile_sketch: hash-minimum sampling over the
    flat union (== the merged per-dump sketches) + quantile_cont."""
    return """
        WITH pop AS (SELECT doc_id, n_chars FROM documents
                     WHERE doc_id < 500),
        s AS (SELECT n_chars FROM (
                SELECT ('0x' || substr(sha256(doc_id::VARCHAR), 1, 15))
                         ::BIGINT AS h,
                       doc_id, n_chars
                FROM pop ORDER BY h, doc_id LIMIT 200)),
        sq AS (SELECT
                 round(quantile_cont(n_chars, 0.25), 6)::DECIMAL(28,6)
                   AS q25,
                 round(quantile_cont(n_chars, 0.5), 6)::DECIMAL(28,6)
                   AS q50,
                 round(quantile_cont(n_chars, 0.75), 6)::DECIMAL(28,6)
                   AS q75
               FROM s),
        ex AS (SELECT
                 round(quantile_cont(n_chars, 0.25), 6)::DECIMAL(28,6)
                   AS ex25,
                 round(quantile_cont(n_chars, 0.5), 6)::DECIMAL(28,6)
                   AS ex50,
                 round(quantile_cont(n_chars, 0.75), 6)::DECIMAL(28,6)
                   AS ex75
               FROM pop)
        SELECT q25, q50, q75, ex25, ex50, ex75,
               abs(q25::DOUBLE / ex25::DOUBLE - 1) < 0.15 AS ok25,
               abs(q50::DOUBLE / ex50::DOUBLE - 1) < 0.15 AS ok50,
               abs(q75::DOUBLE / ex75::DOUBLE - 1) < 0.15 AS ok75
        FROM sq, ex
    """


def q_cms_word_counts(spark, sf_dir):
    """Count-min sketch term-frequency estimation (ops/sketches.py):
    word occurrences of 500 documents compress to a depth*width
    exact-integer counter table (mergeable across dumps by summing);
    the exact top-15 words are then point-queried against the sketch.
    In-plan ``ge_ok`` asserts the CMS contract — estimates never
    underestimate.  Every count is deterministic integer arithmetic,
    so the oracle replays the sha256 bucket hashing, the counter agg
    and the min-over-rows lookup value-for-value."""
    from metacrafter_spark.ops.sketches import cms_lookup, cms_sketch

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    words = docs.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT),
                 lambda w: F.length(w) > 0)).alias("w"))
    exact = words.groupBy("w").agg(F.count("*").alias("true_cnt"))
    top = exact.orderBy(F.desc("true_cnt"), "w").limit(15)
    sk = cms_sketch(words, "w", depth=4, width=512)
    est = cms_lookup(sk, top, "w", depth=4, width=512)
    return (est.select(
        "w", "true_cnt", "est_count",
        (F.col("est_count") >= F.col("true_cnt")).alias("ge_ok"))
        .orderBy("w"))


def _cms_word_counts_sql() -> str:
    """Oracle for q_cms_word_counts: WORD_SPLIT tokenization + the
    cms_sql_snippets bucket arms (same constants as the engine)."""
    from metacrafter_spark.ops.sketches import cms_sql_snippets

    arms = cms_sql_snippets(depth=4, width=512)["buckets"]
    return f"""
        WITH w AS (
          SELECT unnest(list_filter(
                   string_split_regex(lower(text), '{WORD_SPLIT}'),
                   x -> len(x) > 0)) AS w
          FROM documents WHERE doc_id < 500),
        ex AS (SELECT w, count(*)::BIGINT AS true_cnt FROM w GROUP BY 1),
        top AS (SELECT * FROM ex ORDER BY true_cnt DESC, w LIMIT 15),
        sk AS (
          WITH __items AS (SELECT w AS item FROM w)
          SELECT d, bucket, count(*)::BIGINT AS cnt
          FROM ({arms}) GROUP BY 1, 2),
        pb AS (
          WITH __items AS (SELECT w AS item FROM top)
          SELECT item AS w, d, bucket FROM ({arms})),
        lk AS (SELECT pb.w,
                      min(coalesce(sk.cnt, 0))::BIGINT AS est_count
               FROM pb LEFT JOIN sk USING (d, bucket) GROUP BY 1)
        SELECT top.w AS w, true_cnt, est_count,
               est_count >= true_cnt AS ge_ok
        FROM top JOIN lk ON top.w = lk.w
        ORDER BY top.w
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tpch_q1_pricing_summary": q_tpch_q1,
        "tpch_q3_shipping_priority": q_tpch_q3,
        "tpch_q5_local_supplier": q_tpch_q5,
        "tpch_q6_forecast_revenue": q_tpch_q6,
        "tpch_q10_returned_items": q_tpch_q10,
        "tpch_q4_priority_check": q_tpch_q4,
        "tpch_q14_promo_effect": q_tpch_q14,
        "tpch_q19_discounted_revenue": q_tpch_q19,
        "tpch_q2_min_cost_supplier": q_tpch_q2,
        "tpch_q7_volume_shipping": q_tpch_q7,
        "tpch_q8_market_share": q_tpch_q8,
        "tpch_q9_product_profit": q_tpch_q9,
        "tpch_q11_important_stock": q_tpch_q11,
        "tpch_q12_late_lines": q_tpch_q12,
        "tpch_q13_order_distribution": q_tpch_q13,
        "tpch_q15_top_supplier": q_tpch_q15,
        "tpch_q16_supplier_part_cnt": q_tpch_q16,
        "tpch_q17_small_qty_revenue": q_tpch_q17,
        "tpch_q18_large_orders": q_tpch_q18,
        "tpch_q20_part_promotion": q_tpch_q20,
        "tpch_q21_waiting_supplier": q_tpch_q21,
        "tpch_q22_global_sales_opp": q_tpch_q22,
        "top_customers_by_spend": q_top_customers,
        "field_stats_documents": q_field_stats,
        "dict_detection": q_dict_detection,
        "rule_confidence_minipack": q_rule_confidence,
        "regex_match_rate": q_regex_match_rate,
        "exact_dedup_events": q_exact_dedup,
        "jaccard_pairs_exact": q_jaccard_pairs,
        "dup_span_stats": q_dup_span_stats,
        "decontaminate": q_decontaminate,
        "decontaminate_spans": q_decontaminate_spans,
        "repetition_stats": q_repetition_stats,
        "robots_header": q_robots_header,
        # real BMP decode + exact-integer dHash, every pixel and every
        # hash bit replayed in SQL (round 5)
        "image_dhash": q_image_dhash,
        # real WAV decode + exact-integer envelope fingerprint, every
        # sample and every bit replayed in SQL (round 5)
        "audio_fingerprint": q_audio_fingerprint,
        # real MCVF container + frame sampling + per-frame dHash, every
        # frame pixel and bit replayed in SQL (round 5)
        "video_dhash": q_video_dhash,
        # CCNet corpus-wide paragraph dedup, both modes byte-exact
        # (round 5)
        "global_para_dedup": q_global_para_dedup,
        # cross-dump incremental paragraph dedup vs a key store
        # (round 5)
        "incremental_para_dedup": q_incremental_para_dedup,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "budget_mix": q_budget_mix,
        "normalize_text": q_normalize_text,
        "dedup_paragraphs": q_dedup_paragraphs,
        "url_domain_filter": q_url_domain_filter,
        "toxicity_filter": q_toxicity_filter,
        "diversity_sample": q_diversity_sample,
        "readability": q_readability,
        "remove_dup_spans": q_remove_dup_spans,
        "near_dup_clusters": q_near_dup_clusters,
        # quality-aware survivor per cluster (round 5)
        "quality_dedup_clusters": q_quality_dedup_clusters,
        "ann_topk_cosine": q_ann_topk,
        "token_counts": q_token_counts,
        "events_json_agg": q_events_json,
        "daily_event_windows": q_daily_event_windows,
        "salted_agg_events": q_salted_agg,
        "langid_documents": q_langid,
        "quality_flags": q_quality_flags,
        "c4_line_filter": q_c4_line_filter,
        "simhash_near_dups": q_simhash_dedup,
        "fingerprints": q_fingerprints,
        "pii_scrub_documents": q_pii_scrub_documents,
        "perplexity": q_perplexity,
        "corpus_pipeline_documents": q_corpus_pipeline_documents,
        "minhash_near_dups_sha": q_minhash_sha,
        # cross-snapshot incremental dedup: prior corpus as a text-free
        # signature table, integer signature-agreement bar (round 5)
        "incremental_dedup": q_incremental_dedup,
        "cosine_pairs_exact": q_cosine_pairs_exact,
        # hash-green since round 4: the oracle reads the committed
        # parquet materialization of the same deterministic corpus
        # (WEBCORPUS_FIXTURE) and replays the full pipeline / scrub
        # cascade in SQL — see the query docstrings
        "corpus_pipeline": q_corpus_pipeline,
        # dataset-card composition report (round 5 s11)
        "corpus_report": q_corpus_report,
        # mergeable corpus sketches: cross-dump HLL distinct counting
        # + count-min term frequencies (round 5)
        "hll_distinct": q_hll_distinct,
        "cms_word_counts": q_cms_word_counts,
        "kmv_overlap": q_kmv_overlap,
        "bloom_membership": q_bloom_membership,
        "zorder_prune": q_zorder_prune,
        "quantile_sketch": q_quantile_sketch,
        "containment_pairs": q_containment_pairs,
        "media_type_route": q_media_type_route,
        "pii_scrub_hashes": q_pii_scrub,
        # html:binary → text extraction, byte-identity per url (round 5)
        "html_extract_text": q_html_extract_text,
        # pdf:binary → text layer, byte-identity per doc (round 5)
        "pdf_extract_text": q_pdf_extract_text,
        "office_extract_text": q_office_extract_text,
        "web_table_columns": q_web_table_columns,
        "warc_roundtrip": q_warc_roundtrip,
        # WET (extracted-text conversion records) export + scan (round 5)
        "wet_roundtrip": q_wet_roundtrip,
        # pure-Python Iceberg v2 layer: append + dynamic partition
        # overwrite + time travel, read back through the manifest
        # metadata (round 5)
        "iceberg_scan": q_iceberg_scan,
        "iceberg_bucket_prune": q_iceberg_bucket_prune,
        "iceberg_evolution": q_iceberg_evolution,
        "dsir_select": q_dsir_select,
        "url_canonical": q_url_canonical,
        "iceberg_data_skipping": q_iceberg_data_skipping,
        "robots_meta": q_robots_meta,
        "robots_policy": q_robots_policy,
        "robots_harvest": q_robots_harvest,
        "page_metadata": q_page_metadata,
        "sequence_packing": q_sequence_packing,
        "packed_sequences": q_packed_sequences,
        "token_budget_select": q_token_budget,
        "temperature_mix": q_temperature_mix,
        "outlink_graph": q_outlink_graph,
        "anchor_text_agg": q_anchor_text_agg,
        "url_revisit_dedup": q_url_revisit_dedup,
        "sitemap_recrawl": q_sitemap_recrawl,
        "feed_extract": q_feed_extract,
        "fix_mojibake": q_fix_mojibake,
        "page_rank": q_page_rank,
        "kenlm_perplexity": q_kenlm_perplexity,
        "kenlm_persisted": q_kenlm_persisted,
        "kenlm_trigram": q_kenlm_trigram,
        "ppl_buckets": q_ppl_buckets,
        "ppl_buckets_sampled": q_ppl_buckets_sampled,
        "bpe_merges": q_bpe_merges,
        "quality_classifier": q_quality_classifier,
        "bm25": q_bm25,
        "langid_ft": q_langid_ft,
        "kmeans": q_kmeans,
        "semdedup": q_semdedup,
        "semdedup_trained": q_semdedup_trained,
        # hash-green ANN quality bars (round 4): exact top-k rows are
        # SQL-replayed; recall_ok is computed in-query vs the exact set
        # (oracle expects TRUE — the fp_stable invariant pattern)
        "lsh_recall": q_lsh_recall,
        "ivf_recall": q_ivf_recall,
        # rows-only, each with its reason no SQL oracle exists — and
        # (round 5) each row now carries an IN-PLAN contract column so
        # the output is self-checking even without an oracle:
        # - minhash_near_dups: xxhash64 signatures (no DuckDB twin);
        #   pair_verified independently recomputes each emitted pair's
        #   exact shingle Jaccard in-plan (TRUE on every row); the
        #   sha256-family twin minhash_near_dups_sha IS oracle-checked
        #   end-to-end (same banding/verify mechanism), and determinism-
        #   across-partitioning is unit-tested
        # - lsh_topk / ivf_topk: approximate by construction (no SQL
        #   engine can predict which neighbors a probe sequence
        #   surfaces); both now run on the planted-clone corpus and
        #   emit recall_ok (≥90/100 exact ids recovered, computed
        #   in-plan); the exact twins ann_topk_cosine + lsh_recall /
        #   ivf_recall are oracle-checked
        "minhash_near_dups": q_minhash_near_dups,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
    }


def _sql_dot_segments(expr: str, depth: int = 4) -> str:
    """DuckDB replay of ops.urls.remove_dot_segments: the identical
    regexp rewrites, with the 'g' flag (Spark's regexp_replace is
    global already, DuckDB's defaults to first-match)."""
    p = expr
    for _ in range(depth):
        p = f"regexp_replace({p}, '/\\./', '/', 'g')"
        p = f"regexp_replace({p}, '/\\./', '/', 'g')"
        p = f"regexp_replace({p}, '/\\.$', '/', 'g')"
        p = f"regexp_replace({p}, '/[^/]+/\\.\\./', '/', 'g')"
        p = f"regexp_replace({p}, '/[^/]+/\\.\\.$', '/', 'g')"
    p = f"regexp_replace({p}, '^/(\\.\\./)+', '/', 'g')"
    p = f"regexp_replace({p}, '^/\\.\\.$', '/', 'g')"
    return p


def _pagerank_sql(iterations: int = 5, unit: int = 10**12,
                  dnum: int = 17, dden: int = 20) -> str:
    """Unrolled integer-fixed-point PageRank replay (ops/linkgraph.py
    docstring rationale: every step is exact BIGINT arithmetic, so the
    SQL matches bit-for-bit — no rounding mode exists to disagree on)."""
    ctes = [
        "nn AS (SELECT count(*) AS N FROM documents)",
        """e AS (SELECT doc_id AS src,
                 (doc_id*7 + 3*j) % (SELECT N FROM nn) AS dst
          FROM documents, (VALUES (1),(2),(3)) t(j)
          WHERE j <= doc_id % 4)""",
        """nodes AS (SELECT DISTINCT v FROM
          (SELECT src AS v FROM e UNION ALL SELECT dst FROM e))""",
        "outdeg AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY 1)",
        "cnt AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT v, {unit} // n AS pr FROM nodes, cnt)",
    ]
    for k in range(iterations):
        ctes += [
            f"""c{k} AS (SELECT r.v, r.pr // o.deg AS c
               FROM r{k} r JOIN outdeg o USING (v))""",
            f"""d{k} AS (SELECT coalesce(sum(r.pr), 0)::BIGINT AS dangle
               FROM r{k} r LEFT JOIN outdeg o USING (v)
               WHERE o.v IS NULL)""",
            f"""i{k} AS (SELECT e.dst AS v, sum(c.c)::BIGINT AS s
               FROM e JOIN c{k} c ON c.v = e.src GROUP BY 1)""",
            f"""r{k + 1} AS (SELECT nodes.v,
                 {(dden - dnum) * unit} // ({dden} * cnt.n)
                 + ({dnum} * (coalesce(i.s, 0) + d.dangle // cnt.n))
                   // {dden} AS pr
               FROM nodes LEFT JOIN i{k} i ON i.v = nodes.v
               CROSS JOIN d{k} d CROSS JOIN cnt)""",
        ]
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT v AS node_id, pr AS pr_units FROM r{iterations}"
            + "\nORDER BY node_id")


def _quality_classifier_sql(iterations: int = 6, buckets: int = 4096,
                            max_words: int = 200, lr: float = 2.0,
                            w_neg: float = 50.0) -> str:
    """DuckDB replay of q_quality_classifier: binary hashed-n-gram
    features, then ``iterations`` full-batch GD steps unrolled as
    CTEs.  Expression shapes mirror ops/quality_classifier.py
    verbatim: exact decimal dot products (x as DECIMAL(7,0) keeps
    products inside the 38-digit cap), round(sigmoid,9) and
    round(step,9) as the only quantized libm/division sites."""
    dec = "DECIMAL(18,9)"
    ctes = [
        f"""corpus AS (SELECT url, text
           FROM read_parquet('{WEBCORPUS_FIXTURE}'))""",
        """lab AS MATERIALIZED (SELECT url,
             CASE WHEN contains(text, 'lorem ipsum')
                    OR contains(text, 'function f() {')
                  THEN 0 ELSE 1 END AS y FROM corpus)""",
        f"""ws AS (SELECT url,
             list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                         w -> len(w) > 0)[1:{max_words}] AS ws
           FROM corpus)""",
        """gr AS (SELECT url, unnest(ws || list_transform(
             range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM ws)""",
        f"""feats AS MATERIALIZED (SELECT url,
             ('0x' || substr(sha256(g), 1, 8))::BIGINT % {buckets}
               AS bucket,
             1::BIGINT AS x
           FROM gr GROUP BY 1, 2)""",
        "nn AS (SELECT count(*) AS N FROM lab)",
        f"""w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0::{dec} AS w FROM feats)""",
        f"b0 AS MATERIALIZED (SELECT 0::{dec} AS b)",
    ]
    for k in range(iterations + 1):
        ctes += [
            f"""z{k} AS MATERIALIZED (SELECT l.url, l.y,
                 (coalesce(s.wx, 0::{dec}) + b{k}.b)::DECIMAL(38,9)
                   AS z
               FROM lab l LEFT JOIN (
                 SELECT f.url, sum(w.w * f.x::DECIMAL(7,0)) AS wx
                 FROM feats f JOIN w{k} w USING (bucket)
                 GROUP BY f.url) s ON l.url = s.url
               CROSS JOIN b{k})""",
            f"""p{k} AS MATERIALIZED (SELECT url, y,
                 round(1.0 / (1.0 + exp(-(z::DOUBLE))), 9)::{dec} AS p
               FROM z{k})""",
        ]
        if k == iterations:
            break
        ctes += [
            f"""r{k} AS MATERIALIZED (SELECT url, y,
                 round((p - y)::DOUBLE
                       * (CASE WHEN y = 1 THEN 1.0 ELSE {w_neg} END),
                       9)::{dec} AS r
               FROM p{k})""",
            f"""g{k} AS MATERIALIZED (SELECT f.bucket,
                 sum(r.r * f.x::DECIMAL(7,0)) AS g
               FROM r{k} r JOIN feats f USING (url) GROUP BY 1)""",
            f"""w{k + 1} AS MATERIALIZED (SELECT w.bucket,
                 (w.w - coalesce(round(g.g::DOUBLE * {lr} / nn.N,
                                       9)::{dec}, 0::{dec}))::{dec}
                   AS w
               FROM w{k} w LEFT JOIN g{k} g USING (bucket)
               CROSS JOIN nn)""",
            f"""b{k + 1} AS MATERIALIZED (SELECT
                 (b{k}.b - round(gb.g::DOUBLE * {lr} / nn.N,
                                 9)::{dec})::{dec} AS b
               FROM (SELECT sum(r) AS g FROM r{k}) gb
               CROSS JOIN b{k} CROSS JOIN nn)""",
        ]
    k = iterations
    ctes += [
        f"""fin AS (SELECT z.url, z.y,
             round(z.z::DOUBLE, 6) AS score,
             CASE WHEN p.p >= 0.5 THEN 1 ELSE 0 END AS pred
           FROM z{k} z JOIN p{k} p USING (url))""",
        """acc AS (SELECT
             (avg(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END) >= 0.99)
               AS acc_ok FROM fin)""",
    ]
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT url, y, score, pred, acc_ok FROM fin, acc"
            + "\nORDER BY url")


def _robots_policy_sql(agent: str = "mycrawler-news") -> str:
    """DuckDB replay of q_robots_policy: the full RFC 9309 parse
    (comment strip, group windows, agent-specificity selection,
    pattern→RE2 translation) + longest-match evaluation, over the same
    _ROBOTS_BODIES literals and the committed fixture."""
    def esc(s: str) -> str:
        return (s.replace("\\", "\\\\").replace("'", "''")
                .replace("\n", "\\n"))
    case = ("CASE " + " ".join(
        f"WHEN host = '{h}' THEN e'{esc(t)}'"
        for h, t in _ROBOTS_BODIES.items()) + " ELSE NULL END")
    return f"""
    WITH corpus AS (
      SELECT regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT
                 AS doc_id,
             url,
             regexp_extract(url, '^https?://([^/]+)', 1) AS host
      FROM read_parquet('{WEBCORPUS_FIXTURE}')),
    hosts AS (SELECT DISTINCT host FROM corpus),
    robots AS (SELECT host, {case} AS txt FROM hosts),
    rlines AS (
      SELECT host,
             generate_subscripts(string_split(txt, chr(10)), 1) AS pos,
             unnest(string_split(txt, chr(10))) AS raw
      FROM robots WHERE txt IS NOT NULL),
    clean AS (
      SELECT host, pos,
             trim(regexp_replace(raw, '#.*$', '')) AS line
      FROM rlines),
    kv AS (
      SELECT host, pos,
             lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS key,
             trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS value
      FROM clean WHERE line != ''),
    kv2 AS (SELECT * FROM kv WHERE key != ''),
    flag AS (
      SELECT host, pos, key, value,
             CASE WHEN key = 'user-agent'
                  AND NOT coalesce(lag(key = 'user-agent')
                    OVER (PARTITION BY host ORDER BY pos), FALSE)
                  THEN 1 ELSE 0 END AS gstart
      FROM kv2),
    grp AS (
      SELECT host, pos, key, value,
             sum(gstart) OVER (PARTITION BY host ORDER BY pos) AS gid
      FROM flag),
    uas AS (
      SELECT host, gid, lower(value) AS ua FROM grp
      WHERE key = 'user-agent' AND value != ''),
    spec AS (
      SELECT host, gid,
             max(CASE WHEN ua = '*' THEN 0
                 WHEN starts_with('{agent}', ua) THEN length(ua) + 1
                 ELSE NULL END) AS spec
      FROM uas GROUP BY 1, 2),
    spec2 AS (SELECT * FROM spec WHERE spec IS NOT NULL),
    best AS (SELECT host, max(spec) AS best FROM spec2 GROUP BY 1),
    winning AS (
      SELECT s.host, s.gid FROM spec2 s
      JOIN best b ON b.host = s.host AND s.spec = b.best),
    rawrules AS (
      SELECT DISTINCT g.host, g.value AS pattern,
             (g.key = 'allow') AS allow
      FROM grp g JOIN winning w ON w.host = g.host AND w.gid = g.gid
      WHERE g.key IN ('allow', 'disallow') AND g.value != ''
        AND g.gid > 0),
    bodies AS (
      SELECT host, pattern, allow,
             CASE WHEN pattern LIKE '%$'
                  THEN substr(pattern, 1, length(pattern) - 1)
                  ELSE pattern END AS body,
             (pattern LIKE '%$') AS anchored
      FROM rawrules),
    rules AS (
      SELECT host, pattern, allow, length(pattern) AS plen,
        '^' || regexp_replace(regexp_replace(
            CASE WHEN body LIKE '/%' OR body LIKE '*%' THEN body
                 ELSE '/' || body END,
            '([.^$+?(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'),
            '\\*', '.*', 'g')
        || CASE WHEN anchored THEN '$' ELSE '' END AS regex
      FROM bodies),
    cpath AS (
      SELECT doc_id, host,
        CASE WHEN regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
          THEN '/'
          ELSE regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)
          END AS path
      FROM corpus),
    matches AS (
      SELECT c.doc_id, r.plen, r.allow, r.pattern
      FROM cpath c JOIN rules r ON r.host = c.host
      WHERE regexp_matches(c.path, r.regex)),
    winners AS (
      SELECT doc_id, allow, pattern FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY plen DESC, allow DESC, pattern DESC) AS rn
        FROM matches) WHERE rn = 1)
    SELECT c.doc_id, c.host,
           coalesce(w.allow, TRUE) AS robots_allowed,
           w.pattern AS robots_rule
    FROM cpath c LEFT JOIN winners w USING (doc_id)
    ORDER BY c.doc_id
    """


def _page_metadata_sql() -> str:
    """DuckDB replay of q_page_metadata: identical meta injection into
    the committed fixture; the title regex and all four
    quoted/bare × attribute-order meta regexes embedded verbatim from
    corpus/html.py (single source of the patterns)."""
    from metacrafter_spark.corpus.html import _TITLE_RE, _meta_value_res

    def first_meta(attr: str, key: str) -> str:
        parts = ", ".join(
            f"nullif(regexp_extract(html, '{rx}', 1), '')"
            for rx in _meta_value_res(attr, key))
        return f"coalesce({parts}, NULL)"

    return r"""
        WITH src AS (
          SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                     AS doc_id,
                 decode(html) AS h
          FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
        inj AS (
          SELECT doc_id, regexp_replace(h, '<head>', '<head>' ||
            CASE WHEN doc_id % 4 = 0
                 THEN '<meta name="description" content="Summary of '
                      || doc_id || '">'
                 WHEN doc_id % 4 = 1
                 THEN '<meta content=''og page ' || doc_id
                      || ''' property=''og:title''>'
                      || '<meta property=og:type content=article>'
                 WHEN doc_id % 4 = 2
                 THEN '<meta property="og:locale" content="en_US">'
                      || '<meta name=description content=bare-'
                      || doc_id || '>'
                 ELSE '<meta name="author" content="decoy">'
            END) AS html
          FROM src)
        SELECT doc_id,
               nullif(regexp_extract(html, '""" + _TITLE_RE + r"""', 1),
                      '') AS page_title,
               """ + first_meta("name", "description") + r"""
                   AS meta_description,
               """ + first_meta("property", "og:title") + r""" AS og_title,
               """ + first_meta("property", "og:type") + r""" AS og_type,
               """ + first_meta("property", "og:locale") + r"""
                   AS og_locale
        FROM inj ORDER BY doc_id
    """


def _outlink_graph_sql() -> str:
    """DuckDB replay of q_outlink_graph: identical anchor injection
    into the committed fixture, the href-extraction regex verbatim in
    RE2, RFC 3986 resolution as the same CASE/regexp chain (dot-segment
    removal via _sql_dot_segments), then the url_canonical
    canonicalization stages."""
    dot_root = _sql_dot_segments("hpath")
    dot_rel = _sql_dot_segments(
        "(regexp_replace(bpath, '/[^/]*$', '/', 'g') || hpath)")

    def dot_abs(x: str) -> str:
        # §5.2.2 for references carrying their own authority: decompose
        # hierarchical URLs, clean the path, rebuild; opaque pass
        pre = (f"regexp_extract({x}, "
               "'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)")
        path = (f"regexp_extract({x}, "
                "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
        q = f"regexp_extract({x}, '(\\?.*)$', 1)"
        return (f"CASE WHEN {pre} = '' THEN {x} ELSE {pre} || "
                + _sql_dot_segments(path) + f" || {q} END")
    return r"""
        WITH src AS (
          SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                     AS doc_id,
                 url, decode(html) AS h
          FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
        inj AS (
          SELECT doc_id, url, regexp_replace(h, '</body>',
            (CASE WHEN doc_id % 5 = 1 THEN
                '<a href="https://ext.example.com/page/'
                || ((doc_id*7+1) % 2000) || '">x</a>'
                || '<a href=''//cdn.example.net/a/'
                || ((doc_id*13+3) % 2000) || '''>y</a>'
              WHEN doc_id % 5 = 2 THEN
                '<a class="c" href="/p/' || ((doc_id*7+1) % 2000)
                || '?b=2&a=1#frag">x</a>'
              WHEN doc_id % 5 = 3 THEN
                '<a href=../article/' || ((doc_id*7+1) % 2000)
                || '>x</a>'
              WHEN doc_id % 5 = 4 THEN
                '<a href="./x/../y/' || ((doc_id*7+1) % 2000)
                || '">x</a><a href="mailto:a@b.example">m</a>'
              ELSE '' END) || '</body>') AS html
          FROM src),
        lnk AS (
          SELECT doc_id, url,
                 unnest(regexp_extract_all(html,
                   '(?i)<a\s[^>]*href\s*=\s*["\x27]?([^"\x27\s>]+)',
                   1)) AS href
          FROM inj),
        b AS (
          SELECT doc_id,
                 regexp_replace(href, '#.*$', '', 'g') AS h,
                 regexp_replace(url, '#.*$', '', 'g') AS base_nf
          FROM lnk),
        parts AS (
          SELECT doc_id, h, base_nf,
            regexp_extract(base_nf,
              '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS scheme,
            regexp_extract(base_nf,
              '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS origin,
            CASE WHEN regexp_extract(base_nf,
                '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
              THEN '/'
              ELSE regexp_extract(base_nf,
                '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
              END AS bpath,
            regexp_extract(h, '^([^?]*)', 1) AS hpath,
            regexp_extract(h, '(\?.*)$', 1) AS hquery
          FROM b),
        res AS (
          SELECT doc_id, CASE
            WHEN h = '' THEN base_nf
            WHEN regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:')
              THEN """ + dot_abs("h") + r"""
            WHEN h LIKE '//%'
              THEN """ + dot_abs("(scheme || ':' || h)") + r"""
            WHEN h LIKE '/%' THEN origin || """ + dot_root + r""" || hquery
            WHEN h LIKE '?%' THEN origin || bpath || h
            ELSE origin || """ + dot_rel + r""" || hquery
            END AS r
          FROM parts),
        kept AS (
          SELECT doc_id, r FROM res
          WHERE regexp_matches(r, '(?i)^https?://')),
        p2 AS (SELECT doc_id,
                      regexp_replace(r, '#.*$', '') AS base FROM kept),
        x AS (SELECT doc_id,
          lower(regexp_extract(base,
                '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          regexp_extract(base,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
          regexp_extract(base,
                '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                1) AS path,
          regexp_extract(base, '\?([^#]*)', 1) AS query
          FROM p2),
        y AS (SELECT doc_id, scheme,
          regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
          lower(regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                '^([^:]*)', 1)) AS host,
          regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                ':(\d+)$', 1) AS port,
          CASE WHEN path = '' THEN '/' ELSE path END AS path,
          list_aggregate(list_sort(list_filter(
            string_split(query, '&'),
            q -> q != '' AND NOT regexp_matches(q,
              '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)='))),
            'string_agg', '&') AS qstr
          FROM x),
        c AS (SELECT doc_id,
          scheme || '://' || userinfo || host
          || (CASE WHEN port != ''
                    AND NOT (scheme = 'http' AND port = '80')
                    AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END)
          || path
          || (CASE WHEN coalesce(qstr, '') != ''
              THEN '?' || qstr ELSE '' END) AS canon
          FROM y),
        dl AS (SELECT DISTINCT doc_id, canon FROM c)
        SELECT canon AS link, count(*) AS n_docs,
               min(doc_id) AS first_src, max(doc_id) AS last_src
        FROM dl GROUP BY 1 ORDER BY 1
    """


#: shared WITH-body of the interpolated-Kneser-Ney replay — the
#: kenlm_perplexity and ppl_buckets oracles both compose from it
_KENLM_CORE = r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 2000),
            train AS (
              SELECT text FROM documents
              WHERE doc_id < 2000 AND lang = 'en'),
            tw AS (SELECT
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:200] AS ws
                   FROM train),
            wc AS (SELECT w, count(*) AS c
                   FROM (SELECT unnest(ws) AS w FROM tw) GROUP BY 1),
            vocab AS (SELECT w FROM wc ORDER BY c DESC, w ASC
                      LIMIT 512),
            tt AS (SELECT ['<s>'] || ws || ['</s>'] AS t FROM tw),
            tp AS (SELECT unnest(list_transform(range(1, len(t)),
                     i -> {'a': t[i], 'b': t[i+1]})) AS p FROM tt),
            mp AS (SELECT
                   CASE WHEN p['a'] IN ('<s>','</s>')
                          OR va.w IS NOT NULL
                        THEN p['a'] ELSE '<unk>' END AS w1,
                   CASE WHEN p['b'] IN ('<s>','</s>')
                          OR vb.w IS NOT NULL
                        THEN p['b'] ELSE '<unk>' END AS w2
                   FROM tp LEFT JOIN vocab va ON p['a'] = va.w
                           LEFT JOIN vocab vb ON p['b'] = vb.w),
            big AS (SELECT w1, w2, count(*) AS c12 FROM mp
                    GROUP BY 1, 2),
            c1t AS (SELECT w1, sum(c12)::BIGINT AS c1,
                           count(*) AS n1a FROM big GROUP BY 1),
            cnt AS (SELECT w2, count(*) AS n1b FROM big GROUP BY 1),
            ko AS (SELECT count(*) AS B,
                   sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n1,
                   sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n2
                   FROM big),
            kd AS (SELECT B, greatest(n1, 1)::DOUBLE
                          / (greatest(n1, 1) + 2 * n2) AS d FROM ko),
            plp AS (SELECT w1, w2,
                    round(ln((greatest(c12 - d, 0.0)
                              + d * n1a * n1b / B) / c1),
                          9)::DECIMAL(18,9) AS lp
                    FROM big JOIN c1t USING (w1) JOIN cnt USING (w2),
                         kd),
            bot AS (SELECT w1, round(ln(d * n1a / c1),
                          9)::DECIMAL(18,9) AS bo FROM c1t, kd),
            cvt AS (SELECT w2, round(ln(n1b::DOUBLE / B),
                          9)::DECIMAL(18,9) AS cv FROM cnt, kd),
            flv AS (SELECT round(ln(1.0 / (B + 1)),
                          9)::DECIMAL(18,9) AS fl FROM kd),
            sw AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:200] AS ws
                   FROM corpus),
            st AS (SELECT doc_id, ['<s>'] || ws || ['</s>'] AS t
                   FROM sw),
            sp AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                     i -> {'a': t[i], 'b': t[i+1]})) AS p FROM st),
            smp AS (SELECT doc_id,
                    CASE WHEN p['a'] IN ('<s>','</s>')
                           OR va.w IS NOT NULL
                         THEN p['a'] ELSE '<unk>' END AS w1,
                    CASE WHEN p['b'] IN ('<s>','</s>')
                           OR vb.w IS NOT NULL
                         THEN p['b'] ELSE '<unk>' END AS w2
                    FROM sp LEFT JOIN vocab va ON p['a'] = va.w
                            LEFT JOIN vocab vb ON p['b'] = vb.w),
            scored AS (SELECT doc_id,
                       coalesce(lp, coalesce(bo, fl)
                                    + coalesce(cv, fl)) AS logp
                       FROM smp LEFT JOIN plp USING (w1, w2)
                                LEFT JOIN bot USING (w1)
                                LEFT JOIN cvt USING (w2), flv),
            agg AS (SELECT doc_id, count(*) AS n_grams, sum(logp) AS s
                    FROM scored GROUP BY 1)
"""


def _bpe_oracle_sql(num_merges: int = 12, max_words: int = 200) -> str:
    """DuckDB replay of train_bpe: the word-frequency table, then each
    merge step unrolled as MATERIALIZED CTEs (pair counts → total-order
    argmax → greedy rewrite).  The rewrite mechanism is deliberately
    different from Spark's array fold: symbols ride a chr(31)-delimited
    STRING and the merge is a ``list_reduce`` whose accumulator is that
    string — replacing the tail symbol ``a`` with ``a||b`` is exactly
    ``acc || b`` because the delimiter discipline makes the
    ``ends_with(acc, chr(31) || a)`` check symbol-exact.  A hash match
    is therefore a differential test of the greedy left-to-right
    non-overlapping semantics, not an echo of the same code."""
    parts = [f"""
            WITH wf0 AS MATERIALIZED (
              SELECT word, count(*)::BIGINT AS freq,
                     array_to_string(regexp_extract_all(word, '.'),
                                     chr(31))
                       || chr(31) || '</w>' AS syms
              FROM (SELECT unnest(
                      list_filter(string_split_regex(lower(text),
                                                     '[^\\p{{L}}\\p{{N}}_]+'),
                                  w -> len(w) > 0)[1:{max_words}])
                      AS word
                    FROM documents WHERE doc_id < 2000)
              GROUP BY word)"""]
    for k in range(1, num_merges + 1):
        parts.append(f""",
            pc{k} AS MATERIALIZED (
              SELECT p['a'] AS a, p['b'] AS b,
                     sum(freq)::BIGINT AS cnt
              FROM (SELECT freq,
                           unnest(list_transform(range(1, len(t)),
                             i -> {{'a': t[i], 'b': t[i+1]}})) AS p
                    FROM (SELECT freq,
                                 string_split(syms, chr(31)) AS t
                          FROM wf{k - 1}))
              GROUP BY 1, 2),
            best{k} AS MATERIALIZED (
              SELECT a, b, cnt FROM pc{k}
              ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
            wf{k} AS MATERIALIZED (
              SELECT word, freq,
                list_reduce(string_split(syms, chr(31)),
                  (acc, x) -> CASE
                    WHEN (acc = a OR ends_with(acc, chr(31) || a))
                         AND x = b
                    THEN acc || b
                    ELSE acc || chr(31) || x END) AS syms
              FROM wf{k - 1}, best{k})""")
    steps = "\n              UNION ALL ".join(
        f"SELECT {k}::INT AS step, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_count FROM best{k}"
        for k in range(1, num_merges + 1))
    parts.append(f"""
            SELECT * FROM (
              {steps}
            ) ORDER BY step""")
    return "".join(parts)


def _bm25_oracle_sql(top_k: int = 5, k1: float = 1.2, b: float = 0.75,
                     max_words: int = 2000) -> str:
    """DuckDB replay of bm25_topk over _BM25_QUERIES: tokenization,
    query-term-pruned postings, tf/df/N/Σdl, the SAME fixed-shape
    double scoring expression (constants emitted via repr so both
    engines see bit-identical literals), decimal(18,9) per-term
    quantization + exact decimal sums, and the (score desc, doc_id)
    window."""
    from metacrafter_spark.ops.bm25 import tokenize_query

    all_terms = sorted({t for _, q in _BM25_QUERIES
                        for t in tokenize_query(q, max_words)})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qt_rows = ", ".join(
        f"('{qid}', '{t}')" for qid, q in _BM25_QUERIES
        for t in tokenize_query(q, max_words))
    return f"""
            WITH corpus AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                                    '[^\\p{{L}}\\p{{N}}_]+'),
                                 w -> len(w) > 0)[1:{max_words}] AS ws
              FROM documents WHERE doc_id < 2000),
            dls AS (SELECT doc_id, len(ws) AS dl, ws FROM corpus),
            gl AS (SELECT count(*)::BIGINT AS n_docs,
                          sum(dl)::BIGINT AS sum_dl FROM dls),
            posts AS (SELECT doc_id, dl, unnest(ws) AS term FROM dls),
            tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
                   FROM posts WHERE term IN ({in_list})
                   GROUP BY 1, 2, 3),
            dft AS (SELECT term, count(*)::BIGINT AS df
                    FROM tf GROUP BY 1),
            qt (query_id, term) AS (VALUES {qt_rows}),
            ts AS (SELECT qt.query_id, tf.doc_id,
                     round(ln(1.0 + (gl.n_docs - dft.df + 0.5)
                                    / (dft.df + 0.5))
                           * (tf.tf * {k1 + 1.0!r})
                           / (tf.tf + {k1!r}
                              * ({1.0 - b!r}
                                 + {b!r} * (tf.dl
                                    / (gl.sum_dl::DOUBLE
                                       / gl.n_docs)))),
                           9)::DECIMAL(18,9) AS ts
                   FROM tf JOIN qt USING (term)
                           JOIN dft USING (term), gl),
            sc AS (SELECT query_id, doc_id, sum(ts) AS s
                   FROM ts GROUP BY 1, 2),
            rk AS (SELECT query_id, doc_id, s,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY s DESC, doc_id ASC) AS rank
                   FROM sc)
            SELECT query_id, rank::INT AS rank, doc_id,
                   round(s::DOUBLE, 6) AS score
            FROM rk WHERE rank <= {top_k}
            ORDER BY query_id, rank
    """


#: trigram interpolated-KN replay — the corpus/train/tokenize/vocab
#: prefix repeats _KENLM_CORE's (same shared tokenization contract);
#: then the five model tables, two count-of-counts discounts and the
#: three-level backoff chain, every expression shape mirroring
#: corpus/kenlm.py::train_kn_trigram verbatim
_KENLM3_SQL = r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 2000),
            train AS (
              SELECT text FROM documents
              WHERE doc_id < 2000 AND lang = 'en'),
            tw AS (SELECT
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:200] AS ws
                   FROM train),
            wc AS (SELECT w, count(*) AS c
                   FROM (SELECT unnest(ws) AS w FROM tw) GROUP BY 1),
            vocab AS (SELECT w FROM wc ORDER BY c DESC, w ASC
                      LIMIT 512),
            tt AS (SELECT ['<s>', '<s>'] || ws || ['</s>'] AS t
                   FROM tw),
            tp AS (SELECT unnest(list_transform(range(1, len(t) - 1),
                     i -> {'a': t[i], 'b': t[i+1], 'c': t[i+2]})) AS p
                   FROM tt),
            mp AS (SELECT
                   CASE WHEN p['a'] IN ('<s>','</s>')
                          OR va.w IS NOT NULL
                        THEN p['a'] ELSE '<unk>' END AS w1,
                   CASE WHEN p['b'] IN ('<s>','</s>')
                          OR vb.w IS NOT NULL
                        THEN p['b'] ELSE '<unk>' END AS w2,
                   CASE WHEN p['c'] IN ('<s>','</s>')
                          OR vc.w IS NOT NULL
                        THEN p['c'] ELSE '<unk>' END AS w3
                   FROM tp LEFT JOIN vocab va ON p['a'] = va.w
                           LEFT JOIN vocab vb ON p['b'] = vb.w
                           LEFT JOIN vocab vc ON p['c'] = vc.w),
            tri AS MATERIALIZED (
                   SELECT w1, w2, w3, count(*) AS c3 FROM mp
                   GROUP BY 1, 2, 3),
            ctx AS (SELECT w1, w2, sum(c3)::BIGINT AS c2,
                           count(*) AS nuv FROM tri GROUP BY 1, 2),
            mid AS MATERIALIZED (
                   SELECT w2, w3, count(*) AS m FROM tri
                   GROUP BY 1, 2),
            mcx AS (SELECT w2, sum(m)::BIGINT AS mv,
                           count(*) AS nv FROM mid GROUP BY 1),
            cn3 AS (SELECT w3, count(*) AS nw FROM mid GROUP BY 1),
            k3 AS (SELECT
                   sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n1_3,
                   sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n2_3
                   FROM tri),
            k2 AS (SELECT count(*) AS B2,
                   sum(CASE WHEN m = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n1_2,
                   sum(CASE WHEN m = 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n2_2
                   FROM mid),
            kd AS (SELECT B2,
                   greatest(n1_3, 1)::DOUBLE
                     / (greatest(n1_3, 1) + 2 * n2_3) AS d3,
                   greatest(n1_2, 1)::DOUBLE
                     / (greatest(n1_2, 1) + 2 * n2_2) AS d2
                   FROM k3, k2),
            l3t AS (SELECT w1, w2, w3,
                    round(ln((greatest(c3 - d3, 0.0)
                              + d3 * nuv
                                * ((greatest(m - d2, 0.0)
                                    + d2 * nv * (nw::DOUBLE / B2))
                                   / mv)) / c2),
                          9)::DECIMAL(18,9) AS lp3
                    FROM tri JOIN ctx USING (w1, w2)
                             JOIN mid USING (w2, w3)
                             JOIN mcx USING (w2)
                             JOIN cn3 USING (w3), kd),
            b3t AS (SELECT w1, w2, round(ln(d3 * nuv / c2),
                          9)::DECIMAL(18,9) AS bo3 FROM ctx, kd),
            l2t AS (SELECT w2, w3,
                    round(ln((greatest(m - d2, 0.0)
                              + d2 * nv * (nw::DOUBLE / B2)) / mv),
                          9)::DECIMAL(18,9) AS lp2
                    FROM mid JOIN mcx USING (w2)
                             JOIN cn3 USING (w3), kd),
            b2t AS (SELECT w2, round(ln(d2 * nv / mv),
                          9)::DECIMAL(18,9) AS bo2 FROM mcx, kd),
            cvt AS (SELECT w3, round(ln(nw::DOUBLE / B2),
                          9)::DECIMAL(18,9) AS cv FROM cn3, kd),
            flv AS (SELECT round(ln(1.0 / (B2 + 1)),
                          9)::DECIMAL(18,9) AS fl FROM kd),
            sw AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:200] AS ws
                   FROM corpus),
            st AS (SELECT doc_id,
                          ['<s>', '<s>'] || ws || ['</s>'] AS t
                   FROM sw),
            sp AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                     i -> {'a': t[i], 'b': t[i+1], 'c': t[i+2]})) AS p
                   FROM st),
            smp AS (SELECT doc_id,
                    CASE WHEN p['a'] IN ('<s>','</s>')
                           OR va.w IS NOT NULL
                         THEN p['a'] ELSE '<unk>' END AS w1,
                    CASE WHEN p['b'] IN ('<s>','</s>')
                           OR vb.w IS NOT NULL
                         THEN p['b'] ELSE '<unk>' END AS w2,
                    CASE WHEN p['c'] IN ('<s>','</s>')
                           OR vc.w IS NOT NULL
                         THEN p['c'] ELSE '<unk>' END AS w3
                    FROM sp LEFT JOIN vocab va ON p['a'] = va.w
                            LEFT JOIN vocab vb ON p['b'] = vb.w
                            LEFT JOIN vocab vc ON p['c'] = vc.w),
            scored AS (SELECT doc_id,
                       CASE WHEN lp3 IS NOT NULL THEN lp3
                            ELSE coalesce(bo3, 0::DECIMAL(18,9))
                                 + CASE WHEN lp2 IS NOT NULL THEN lp2
                                        ELSE coalesce(bo2,
                                               0::DECIMAL(18,9))
                                             + coalesce(cv, fl) END
                       END AS logp
                       FROM smp LEFT JOIN l3t USING (w1, w2, w3)
                                LEFT JOIN b3t USING (w1, w2)
                                LEFT JOIN l2t USING (w2, w3)
                                LEFT JOIN b2t USING (w2)
                                LEFT JOIN cvt USING (w3), flv),
            agg AS (SELECT doc_id, count(*) AS n_grams, sum(logp) AS s
                    FROM scored GROUP BY 1)
            SELECT doc_id, n_grams, round(s::DOUBLE, 6) AS sum_logp
            FROM agg ORDER BY doc_id
"""


def _langid_ft_sql(buckets: int = 2048, iterations: int = 6,
                   lr: float = 8.0, w_pos: float = 33.0,
                   max_chars: int = 200) -> str:
    """DuckDB replay of q_langid_ft: the labeled sample corpus as
    VALUES (same flat_samples() source as the Spark literal frame),
    char 1+2-gram hashed features, then the full one-vs-rest
    multiclass GD trajectory unrolled — every table keyed on
    (cls, bucket) / (doc_id, cls), mirroring corpus/langid_ft.py
    expression-for-expression (exact decimal sums; round(sigmoid,9)
    and round(step,9) the only quantized sites) — and the argmax
    prediction window plus the ≥95% accuracy bar."""
    from metacrafter_spark.corpus.langid_samples import flat_samples

    rows = ", ".join(
        f"({i}, '{l}', '" + t.replace("'", "''") + "')"
        for i, (l, t) in enumerate(flat_samples()))
    dec = "DECIMAL(18,9)"
    ctes = [
        f"""corpus AS (SELECT * FROM (VALUES {rows})
             t(doc_id, lang, text))""",
        "cls AS (SELECT DISTINCT lang AS cls FROM corpus)",
        f"""ch AS (SELECT doc_id,
             regexp_extract_all(lower(text), '(?s).')[1:{max_chars}]
               AS ch FROM corpus)""",
        """gr AS (SELECT doc_id, unnest(ch || list_transform(
             range(1, len(ch)), i -> ch[i] || ch[i+1])) AS g
           FROM ch)""",
        f"""feats AS MATERIALIZED (SELECT doc_id,
             ('0x' || substr(sha256(g), 1, 8))::BIGINT % {buckets}
               AS bucket,
             1::BIGINT AS x
           FROM gr GROUP BY 1, 2)""",
        """grid AS MATERIALIZED (SELECT c.doc_id, k.cls,
             CASE WHEN c.lang = k.cls THEN 1 ELSE 0 END AS y
           FROM corpus c CROSS JOIN cls k)""",
        "nn AS (SELECT count(*) AS N FROM corpus)",
        f"""w0 AS MATERIALIZED (SELECT k.cls, b.bucket, 0::{dec} AS w
           FROM (SELECT DISTINCT bucket FROM feats) b
           CROSS JOIN cls k)""",
        f"b0 AS MATERIALIZED (SELECT cls, 0::{dec} AS b FROM cls)",
    ]
    for k in range(iterations + 1):
        ctes.append(
            f"""z{k} AS MATERIALIZED (SELECT g.doc_id, g.cls, g.y,
                 (coalesce(s.wx, 0::{dec}) + bb.b)::DECIMAL(38,9)
                   AS z
               FROM grid g LEFT JOIN (
                 SELECT f.doc_id, w.cls,
                        sum(w.w * f.x::DECIMAL(7,0)) AS wx
                 FROM feats f JOIN w{k} w USING (bucket)
                 GROUP BY 1, 2) s
                 ON g.doc_id = s.doc_id AND g.cls = s.cls
               JOIN b{k} bb ON bb.cls = g.cls)""")
        if k == iterations:
            break
        ctes += [
            f"""r{k} AS MATERIALIZED (SELECT doc_id, cls,
                 round((round(1.0 / (1.0 + exp(-(z::DOUBLE))),
                              9)::{dec} - y)::DOUBLE
                       * (CASE WHEN y = 1 THEN {w_pos!r}
                          ELSE 1.0 END),
                       9)::{dec} AS r
               FROM z{k})""",
            f"""g{k} AS MATERIALIZED (SELECT r.cls, f.bucket,
                 sum(r.r * f.x::DECIMAL(7,0)) AS g
               FROM r{k} r JOIN feats f USING (doc_id)
               GROUP BY 1, 2)""",
            f"""w{k + 1} AS MATERIALIZED (SELECT w.cls, w.bucket,
                 (w.w - coalesce(round(g.g::DOUBLE * {lr!r} / nn.N,
                                       9)::{dec}, 0::{dec}))::{dec}
                   AS w
               FROM w{k} w LEFT JOIN g{k} g
                 ON w.cls = g.cls AND w.bucket = g.bucket
               CROSS JOIN nn)""",
            f"""b{k + 1} AS MATERIALIZED (SELECT b.cls,
                 (b.b - coalesce(round(gb.g::DOUBLE * {lr!r} / nn.N,
                                       9)::{dec}, 0::{dec}))::{dec}
                   AS b
               FROM b{k} b LEFT JOIN (
                 SELECT cls, sum(r) AS g FROM r{k} GROUP BY 1) gb
                 ON b.cls = gb.cls
               CROSS JOIN nn)""",
        ]
    k = iterations
    ctes += [
        f"""pr AS (SELECT doc_id, cls AS pred_lang,
             round(z::DOUBLE, 6) AS score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY z DESC, cls ASC) AS rn
           FROM z{k})""",
        """fin AS (SELECT c.doc_id, c.lang, p.pred_lang, p.score
           FROM corpus c JOIN pr p ON p.doc_id = c.doc_id
           WHERE p.rn = 1)""",
        """acc AS (SELECT
             (avg(CASE WHEN pred_lang = lang THEN 1.0 ELSE 0.0 END)
              >= 0.95) AS acc_ok FROM fin)""",
    ]
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT doc_id, lang, pred_lang, score, acc_ok"
            + "\nFROM fin, acc ORDER BY doc_id")


def _kmeans_core_sql(k: int, iterations: int, dims: int,
                     source_sql: str, scale: int = 10**6,
                     offset: int = 2 * 10**6) -> str:
    """WITH-body of the k-means replay (no leading WITH, no final
    SELECT): quantize ``source_sql``'s (vec_id, embedding) rows to the
    same non-negative units, then each Lloyd iteration unrolled as
    MATERIALIZED CTEs — per-(vec, cluster) exact integer distances
    off a long (vec, dim, unit) frame, (dist, j) row_number argmin,
    per-(cluster, dim) sums, and the portable non-negative floor
    division ``(s - s % n) / n``.  Ends at ``c{iterations}`` (the
    trained centroid units) — composable by both the kmeans summary
    oracle and the semdedup_trained pipeline oracle."""
    parts = [f"""
            ue AS MATERIALIZED (
              SELECT vec_id, r.i,
                     floor(embedding[r.i]::DOUBLE * {scale}.0)::BIGINT
                       + {offset} AS v
              FROM ({source_sql}) src, range(1, {dims + 1}) r(i)),
            c0 AS MATERIALIZED (
              SELECT s.j, ue.i, ue.v AS c
              FROM (SELECT vec_id,
                           (row_number() OVER (ORDER BY vec_id) - 1)
                             ::INT AS j
                    FROM (SELECT DISTINCT vec_id FROM ue
                          ORDER BY vec_id LIMIT {k})) s
              JOIN ue USING (vec_id))"""]
    for t in range(1, iterations + 1):
        parts.append(f""",
            d{t} AS MATERIALIZED (
              SELECT ue.vec_id, c.j,
                     sum((ue.v - c.c) * (ue.v - c.c))::BIGINT AS dist
              FROM ue JOIN c{t - 1} c USING (i) GROUP BY 1, 2),
            a{t} AS MATERIALIZED (
              SELECT vec_id, j FROM (
                SELECT vec_id, j, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dist ASC, j ASC) AS rn
                FROM d{t}) WHERE rn = 1),
            s{t} AS MATERIALIZED (
              SELECT a.j, ue.i, sum(ue.v)::BIGINT AS s,
                     count(*)::BIGINT AS n
              FROM a{t} a JOIN ue USING (vec_id) GROUP BY 1, 2),
            c{t} AS MATERIALIZED (
              SELECT p.j, p.i,
                     coalesce(((s.s - (s.s % s.n)) / s.n)::BIGINT,
                              p.c) AS c
              FROM c{t - 1} p
              LEFT JOIN s{t} s ON p.j = s.j AND p.i = s.i)""")
    return "".join(parts)


def _kmeans_oracle_sql(k: int = 4, iterations: int = 3, dims: int = 64,
                       n_vecs: int = 500, scale: int = 10**6,
                       offset: int = 2 * 10**6) -> str:
    """DuckDB replay of kmeans_summary: the k-means core chain plus
    final assignment and the per-cluster integer summary.  A hash
    match certifies the full 3-iteration trajectory bit-for-bit."""
    T = iterations
    src = f"SELECT vec_id, embedding FROM embeddings WHERE vec_id < {n_vecs}"
    core = _kmeans_core_sql(k, iterations, dims, src,
                            scale=scale, offset=offset)
    return "WITH " + core + f""",
            df AS MATERIALIZED (
              SELECT ue.vec_id, c.j,
                     sum((ue.v - c.c) * (ue.v - c.c))::BIGINT AS dist
              FROM ue JOIN c{T} c USING (i) GROUP BY 1, 2),
            af AS (SELECT vec_id, j, dist FROM (
                SELECT vec_id, j, dist, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dist ASC, j ASC) AS rn
                FROM df) WHERE rn = 1),
            agg AS (SELECT j AS cluster, count(*)::BIGINT AS n_members,
                           sum(dist)::BIGINT AS inertia_units
                    FROM af GROUP BY 1)
            SELECT agg.cluster, agg.n_members, agg.inertia_units,
                   (p0.c - {offset})::BIGINT AS c_dim0,
                   (p32.c - {offset})::BIGINT AS c_dim32
            FROM agg
            JOIN c{T} p0 ON p0.j = agg.cluster AND p0.i = 1
            JOIN c{T} p32 ON p32.j = agg.cluster AND p32.i = 33
            ORDER BY agg.cluster"""


def _semdedup_trained_oracle_sql(k: int = 4, iterations: int = 2,
                                 dims: int = 64, scale: int = 10**6,
                                 offset: int = 2 * 10**6) -> str:
    """DuckDB replay of the composed pipeline: the planted-clone
    corpus (same construction as the semdedup oracle) → the k-means
    core chain re-deriving the trained centroid UNITS bit-for-bit →
    centroids back to float space (one exact division per coordinate,
    the centroids_as_vectors contract) → the full SemDeDup replay
    (cosine argmax assignment, τ-threshold within-cluster pairs,
    recursive-CTE components, least-central keep rule)."""
    core = _kmeans_core_sql(
        k, iterations, dims,
        "SELECT vec_id, v AS embedding FROM corpus",
        scale=scale, offset=offset)
    return f"""
            WITH RECURSIVE
            q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 20),
            clones AS (
              SELECT 1000000 + q.qid * 10 + r.j AS vec_id,
                     list_transform(q.qv, (x, i) ->
                       x * (1.0 + 0.02 * r.j *
                            CASE WHEN (i - 1) % 2 = 0
                                 THEN 1.0 ELSE -1.0 END)) AS v
              FROM q CROSS JOIN range(1, 5) r(j)),
            corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 200
              UNION ALL SELECT vec_id, v FROM clones),
            {core},
            cents AS (SELECT j,
                        list((c - {offset}) / {scale}.0 ORDER BY i)
                          AS c
                      FROM c{iterations} GROUP BY j),
            asg AS (SELECT e.vec_id, e.v, cents.j,
                           list_cosine_similarity(e.v, cents.c) AS cos,
                           row_number() OVER (
                             PARTITION BY e.vec_id
                             ORDER BY list_cosine_similarity(e.v,
                                                             cents.c)
                                        DESC, cents.j DESC) AS rn
                    FROM corpus e CROSS JOIN cents),
            sel AS (SELECT vec_id, v, CAST(j AS INT) AS cluster,
                           cos AS cent_sim
                    FROM asg WHERE rn = 1),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM sel a JOIN sel b
                    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(id, comp) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
            cc AS (SELECT id, min(comp) AS component FROM reach
                   GROUP BY id),
            member AS (SELECT s.vec_id, s.cluster, s.cent_sim,
                              coalesce(cc.component, s.vec_id)
                                AS component
                       FROM sel s LEFT JOIN cc ON cc.id = s.vec_id),
            rep AS (SELECT component, vec_id AS rep_id,
                           row_number() OVER (
                             PARTITION BY component
                             ORDER BY round(cent_sim, 4) ASC,
                                      vec_id ASC) AS rn
                    FROM member)
            SELECT m.vec_id, m.cluster,
                   round(m.cent_sim, 4) AS cent_sim, m.component,
                   (m.vec_id = r.rep_id) AS keep
            FROM member m
            JOIN (SELECT component, rep_id FROM rep WHERE rn = 1) r
              USING (component)
            ORDER BY m.vec_id
    """


def _image_dhash_sql() -> str:
    """DuckDB replay of q_image_dhash: pixel byte k of the synthetic
    9×8 image is hex pair k of the sha256 chain; grayscale pixels make
    luma ∝ the byte and the 9×8 grid is the identity, so dHash bit
    r·8+c is exactly byte[r·9+c] < byte[r·9+c+1].  Bits sum in HUGEINT
    (bit 63 contributes −2^63 — two's complement) then cast to BIGINT,
    matching Spark's signed long."""

    def byte(k: int) -> str:
        return (f"((strpos('0123456789abcdef', substr(hx, {2 * k + 1}, 1))"
                f" - 1) * 16 + strpos('0123456789abcdef',"
                f" substr(hx, {2 * k + 2}, 1)) - 1)")

    terms = []
    for r in range(8):
        for c in range(8):
            b = r * 8 + c
            val = "-9223372036854775808" if b == 63 else str(1 << b)
            terms.append(
                f"CASE WHEN {byte(r * 9 + c)} < {byte(r * 9 + c + 1)}"
                f" THEN CAST({val} AS HUGEINT) ELSE 0 END"
            )
    total = "\n                 + ".join(terms)
    return f"""
        WITH h AS (
          SELECT doc_id,
                 sha256(text) || sha256(text || '1')
                              || sha256(text || '2') AS hx
          FROM documents
          WHERE doc_id < 200 AND text IS NOT NULL)
        SELECT doc_id,
               CAST({total} AS BIGINT) AS dhash
        FROM h ORDER BY doc_id
    """


def _audio_fingerprint_sql() -> str:
    """DuckDB replay of q_audio_fingerprint: sample i is hex quad i of
    the sha256 chain (big-endian, offset −32768); both 65-window grids
    use the exact k·n//65 boundaries as 1-based inclusive list slices
    (n=320 envelope, n=319 first-difference); each fingerprint bit is
    the cross-multiplied mean comparison sum·count < sum·count.  Bits
    sum in HUGEINT (bit 63 contributes −2^63 — two's complement) then
    cast to BIGINT, matching Spark's signed long."""
    hexd = "strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1"
    sample = (f"({hexd.format(p='4*i + 1')}) * 4096"
              f" + ({hexd.format(p='4*i + 2')}) * 256"
              f" + ({hexd.format(p='4*i + 3')}) * 16"
              f" + ({hexd.format(p='4*i + 4')}) - 32768")
    chain = " || ".join(
        ["sha256(text)"]
        + [f"sha256(text || '{i}')" for i in range(1, 20)])
    terms = []
    for b in range(32):
        lo = b * 2
        for pre, hi_bit in (("e", b), ("h", 32 + b)):
            val = ("-9223372036854775808" if hi_bit == 63
                   else str(1 << hi_bit))
            terms.append(
                f"CASE WHEN {pre}s[{lo + 1}] * {pre}c[{lo + 2}]"
                f" < {pre}s[{lo + 2}] * {pre}c[{lo + 1}]"
                f" THEN CAST({val} AS HUGEINT) ELSE 0 END"
            )
    total = "\n                 + ".join(terms)
    return f"""
        WITH h AS (
          SELECT doc_id, {chain} AS hx
          FROM documents
          WHERE doc_id < 200 AND text IS NOT NULL),
        smp AS (
          SELECT doc_id,
                 list_transform(range(320), i -> {sample}) AS s
          FROM h),
        sig AS (
          SELECT doc_id,
                 list_transform(s, x -> abs(x)) AS env,
                 list_transform(range(319),
                                i -> abs(s[i + 2] - s[i + 1])) AS hf
          FROM smp),
        wnd AS (
          SELECT doc_id,
                 list_transform(range(65), k ->
                   list_sum(env[(k*320)//65 + 1 : ((k+1)*320)//65])) AS es,
                 list_transform(range(65), k ->
                   ((k+1)*320)//65 - (k*320)//65) AS ec,
                 list_transform(range(65), k ->
                   list_sum(hf[(k*319)//65 + 1 : ((k+1)*319)//65])) AS hs,
                 list_transform(range(65), k ->
                   ((k+1)*319)//65 - (k*319)//65) AS hc
          FROM sig)
        SELECT doc_id,
               CAST({total} AS BIGINT) AS afp
        FROM wnd ORDER BY doc_id
    """


def _video_dhash_sql() -> str:
    """DuckDB replay of q_video_dhash: frame f of each document's MCVF
    container is the 8×9 grayscale image whose pixel byte k is hex pair
    k of that frame's sha256 chain, so each (doc, frame) dHash replays
    exactly like image_dhash — bit r·8+c is byte[r·9+c] < byte[r·9+c+1],
    bits summed in HUGEINT (bit 63 two's-complement) → BIGINT."""

    def byte(k: int) -> str:
        return (f"((strpos('0123456789abcdef', substr(hx, {2 * k + 1}, 1))"
                f" - 1) * 16 + strpos('0123456789abcdef',"
                f" substr(hx, {2 * k + 2}, 1)) - 1)")

    terms = []
    for r in range(8):
        for c in range(8):
            b = r * 8 + c
            val = "-9223372036854775808" if b == 63 else str(1 << b)
            terms.append(
                f"CASE WHEN {byte(r * 9 + c)} < {byte(r * 9 + c + 1)}"
                f" THEN CAST({val} AS HUGEINT) ELSE 0 END"
            )
    total = "\n                 + ".join(terms)
    branches = []
    for f in range(3):
        chain = " || ".join(
            f"sha256(text || 'f{f}{s}')" for s in ("", "a", "b"))
        branches.append(f"""
          SELECT doc_id AS media_id, {f} AS frame_idx, {chain} AS hx
          FROM documents WHERE doc_id < 100 AND text IS NOT NULL""")
    union = "\n          UNION ALL".join(branches)
    return f"""
        WITH fr AS ({union})
        SELECT media_id, frame_idx,
               CAST({total} AS BIGINT) AS dhash
        FROM fr ORDER BY media_id, frame_idx
    """


def _global_para_dedup_sql() -> str:
    """DuckDB replay of q_global_para_dedup: the boilerplate injection,
    the \\n{2,} paragraph split, the ASCII-fold normalization
    (translate + control/punct-run collapse — pure ASCII ranges, RE2 ≡
    Java), the global keep-first winner (row_number over (doc_id, i) ≡
    Spark's min(struct)), the drop_common distinct-doc threshold, and
    both byte-exact rebuilds."""
    norm = ("trim(regexp_replace(translate(paras[i+1], "
            "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
            r"'[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]+', ' ', 'g'))")
    rebuild = (
        "list_filter(range(len(paras)), i -> {norm} = '' "
        "OR list_contains(keep, i))").format(norm=norm)
    return r"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0
                      THEN t2 || chr(10) || chr(10) ||
                           '(c) example site 2024 all rights reserved'
                      ELSE t2 END AS text
          FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN
                     (CASE WHEN doc_id % 6 = 0
                           THEN 'subscribe   to our newsletter, today!!'
                           ELSE 'Subscribe to our NEWSLETTER today.' END)
                     || chr(10) || chr(10) || text
                   ELSE text END AS t2
            FROM documents WHERE doc_id < 500 AND text IS NOT NULL)),
        p AS (
          SELECT doc_id, string_split_regex(text, '\n{2,}') AS paras
          FROM base),
        e AS (
          SELECT doc_id, unnest(list_transform(range(len(paras)),
                   i -> {'i': i, 'k': @NORM@})) AS s
          FROM p),
        k AS (SELECT doc_id, s.i AS i, sha256(s.k) AS h
              FROM e WHERE s.k <> ''),
        kf_keep AS (
          SELECT doc_id, list_sort(list(i)) AS keep
          FROM (SELECT doc_id, i,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, i) AS rn
                FROM k)
          WHERE rn = 1 GROUP BY doc_id),
        dc_keep AS (
          SELECT k.doc_id, list_sort(list(k.i)) AS keep
          FROM k JOIN (SELECT h, count(DISTINCT doc_id) AS nd
                       FROM k GROUP BY h) f USING (h)
          WHERE f.nd < 3 GROUP BY k.doc_id),
        kf_built AS (
          SELECT p.doc_id, p.paras, @REBUILD@ AS kept
          FROM (SELECT p.doc_id, p.paras,
                       coalesce(kf_keep.keep, []) AS keep
                FROM p LEFT JOIN kf_keep USING (doc_id)) p),
        dc_built AS (
          SELECT p.doc_id, p.paras, @REBUILD@ AS kept
          FROM (SELECT p.doc_id, p.paras,
                       coalesce(dc_keep.keep, []) AS keep
                FROM p LEFT JOIN dc_keep USING (doc_id)) p)
        SELECT kf.doc_id,
               sha256(array_to_string(
                 list_transform(kf.kept, i -> kf.paras[i+1]),
                 chr(10) || chr(10))) AS kf_sha,
               len(kf.paras)::BIGINT AS n_paras,
               (len(kf.paras) - len(kf.kept))::BIGINT AS kf_removed,
               sha256(array_to_string(
                 list_transform(dc.kept, i -> dc.paras[i+1]),
                 chr(10) || chr(10))) AS dc_sha,
               (len(dc.paras) - len(dc.kept))::BIGINT AS dc_removed
        FROM kf_built kf JOIN dc_built dc ON kf.doc_id = dc.doc_id
        ORDER BY kf.doc_id
    """.replace("@NORM@", norm).replace("@REBUILD@", rebuild)


def _incremental_para_dedup_sql() -> str:
    """DuckDB replay of q_incremental_para_dedup: the global_para_dedup
    injection over doc_id < 400, split by parity into two waves;
    wave 1 gets the plain keep-first winner window, wave 2's hashed
    frame is anti-joined against wave 1's distinct keys FIRST and then
    gets its own winner window; both rebuilds replayed byte-exactly."""
    norm = ("trim(regexp_replace(translate(paras[i+1], "
            "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
            r"'[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]+', ' ', 'g'))")
    rebuild = ("list_filter(range(len(paras)), i -> @NORM@ = '' "
               "OR list_contains(keep, i))")
    sql = r"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0
                      THEN t2 || chr(10) || chr(10) ||
                           '(c) example site 2024 all rights reserved'
                      ELSE t2 END AS text
          FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN
                     (CASE WHEN doc_id % 6 = 0
                           THEN 'subscribe   to our newsletter, today!!'
                           ELSE 'Subscribe to our NEWSLETTER today.' END)
                     || chr(10) || chr(10) || text
                   ELSE text END AS t2
            FROM documents WHERE doc_id < 400 AND text IS NOT NULL)),
        p AS (
          SELECT doc_id, string_split_regex(text, '\n{2,}') AS paras
          FROM base),
        e AS (
          SELECT doc_id, unnest(list_transform(range(len(paras)),
                   i -> {'i': i, 'k': @NORM@})) AS s
          FROM p),
        k AS (SELECT doc_id, s.i AS i, sha256(s.k) AS h
              FROM e WHERE s.k <> ''),
        k1 AS (SELECT * FROM k WHERE doc_id % 2 = 0),
        seen AS (SELECT DISTINCT h FROM k1),
        k2 AS (SELECT k.* FROM k WHERE doc_id % 2 = 1
               AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = k.h)),
        keep1 AS (
          SELECT doc_id, list_sort(list(i)) AS keep
          FROM (SELECT doc_id, i,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, i) AS rn
                FROM k1)
          WHERE rn = 1 GROUP BY doc_id),
        keep2 AS (
          SELECT doc_id, list_sort(list(i)) AS keep
          FROM (SELECT doc_id, i,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, i) AS rn
                FROM k2)
          WHERE rn = 1 GROUP BY doc_id),
        fin AS (
          SELECT p.doc_id,
                 CASE WHEN p.doc_id % 2 = 0 THEN 1 ELSE 2 END AS wave,
                 p.paras,
                 coalesce(CASE WHEN p.doc_id % 2 = 0
                               THEN keep1.keep ELSE keep2.keep END,
                          []) AS keep
          FROM p LEFT JOIN keep1 USING (doc_id)
                 LEFT JOIN keep2 USING (doc_id)),
        built AS (
          SELECT doc_id, wave, paras, @REBUILD@ AS kept FROM fin)
        SELECT doc_id, wave,
               sha256(array_to_string(
                 list_transform(kept, i -> paras[i+1]),
                 chr(10) || chr(10))) AS dedup_sha,
               len(paras)::BIGINT AS n_paras,
               (len(paras) - len(kept))::BIGINT AS n_removed
        FROM built ORDER BY doc_id
    """
    return sql.replace("@REBUILD@", rebuild).replace("@NORM@", norm)


def oracle_sql() -> dict[str, str]:
    from metacrafter_spark.corpus.perplexity import ALPHABET, SEED_TEXT, V

    # ---- char-trigram perplexity fragments (shared by two queries) ----
    # the oracle RE-TRAINS the trigram table from the same embedded seed
    # text (counts + add-k smoothing in SQL), rather than serializing the
    # numpy table — an independent double-precision replay.
    seed_norm = " ".join(SEED_TEXT.lower().split()).replace("'", "''")
    alph = "(' " + ALPHABET[1:-1].replace("'", "''") + "' || chr(10))"
    ppl_model = f"""
        seed AS (SELECT '{seed_norm}' AS t),
        seed_ids AS (
          SELECT list_transform(regexp_extract_all(t, '(?s).'),
                                c -> strpos({alph}, c)) AS ids FROM seed),
        seed_tri AS (
          SELECT unnest(list_transform(range(1, len(ids) - 1),
                        i -> (ids[i]*{V} + ids[i+1])*{V} + ids[i+2])) AS tri
          FROM seed_ids),
        tric AS (SELECT tri, count(*)::DOUBLE AS c FROM seed_tri GROUP BY 1),
        bic AS (SELECT tri // {V} AS bi, sum(c) AS c FROM tric GROUP BY 1),
        maxppl AS (SELECT exp(-ln(0.1 / (max(c) + 0.1*{V}))) AS m FROM bic)"""
    # scores CTE `src(doc_id, t)` where t is already ASCII text
    ppl_score = f"""
        pids AS (
          SELECT doc_id,
                 list_transform(
                   regexp_extract_all(lower(substr(coalesce(t, ''), 1, 2000)),
                                      '(?s).'),
                   c -> strpos({alph}, c)) AS ids
          FROM src),
        ptris AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ids) - 1),
                        i -> (ids[i]*{V} + ids[i+1])*{V} + ids[i+2])) AS tri
          FROM pids WHERE len(ids) >= 3),
        plp AS (
          SELECT p.doc_id,
                 ln((coalesce(tc.c, 0) + 0.1)
                    / (coalesce(bc.c, 0) + 0.1*{V})) AS lp
          FROM ptris p LEFT JOIN tric tc USING (tri)
          LEFT JOIN bic bc ON bc.bi = p.tri // {V}),
        pagg AS (SELECT doc_id, exp(-avg(lp)) AS ppl FROM plp GROUP BY 1),
        pfin AS (
          SELECT s.doc_id,
                 least(coalesce(pagg.ppl, (SELECT m FROM maxppl)),
                       (SELECT m FROM maxppl)) AS ppl
          FROM src s LEFT JOIN pagg USING (doc_id))"""
    # BYTE-level variant for full-unicode text: the scorer trigram-izes
    # the UTF-8 BYTES of the lowered 2000-char head, so each non-ASCII
    # char must expand to strlen(c) OTHER symbols (id 0), not one —
    # on pure-ASCII text this reduces to the char-level fragment above.
    ppl_score_bytes = f"""
        pids AS (
          SELECT doc_id,
                 flatten(list_transform(
                   regexp_extract_all(lower(substr(coalesce(t, ''), 1, 2000)),
                                      '(?s).'),
                   c -> CASE WHEN strpos({alph}, c) > 0
                             THEN [strpos({alph}, c)]
                             ELSE list_transform(range(strlen(c)), y -> 0)
                        END)) AS ids
          FROM src),""" + ppl_score.split("pids AS (", 1)[1].split("FROM src),", 1)[1]

    # per-doc langid over src(doc_id, t) → lpred(doc_id, lang_pred).
    # Generated from the SAME LangPack the Spark plan compiles
    # (corpus/langid.py BUILTIN_PACK, 20 languages incl. CJK/Arabic/…
    # script signals) — one source of truth, engine and oracle cannot
    # drift.  Token-set counting, not \b regexes, because RE2's \b is
    # ASCII-only while Java's is Unicode-aware.
    from metacrafter_spark.corpus.langid import oracle_sql_fragment
    from metacrafter_spark.corpus.langid_samples import flat_samples

    langid_frag = oracle_sql_fragment()
    _n_snippets = len(flat_samples())
    _langid_snippet_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for (_l, t) in flat_samples()
    )

    # Gopher/C4 quality gates over src(doc_id, t) → qp(doc_id, q_pass).
    # Script-aware since round 5: the CJK char class is imported from
    # corpus/quality.py so the Spark plan and this replay share the
    # literal ranges.
    from metacrafter_spark.corpus.quality import _CJK_CLASS

    quality_frag = r"""
        qw AS (
          SELECT doc_id, t,
                 list_filter(string_split_regex(t, '\s+'),
                             x -> length(x) > 0) AS words,
                 string_split(t, chr(10)) AS lines,
                 string_split_regex(t, '\n\n+') AS paras,
                 regexp_extract_all(t, '""" + _CJK_CLASS + r"""') AS cjkc
          FROM src),
        qg AS (
          SELECT doc_id, t, words, lines, paras, cjkc,
                 len(words) AS n_words,
                 greatest(len(words), 1)::DOUBLE AS nwf,
                 greatest(len(lines), 1)::DOUBLE AS nlf,
                 CASE WHEN len(words) >= 2 THEN
                   list_transform(range(1, len(words)),
                                  i -> words[i] || ' ' || words[i + 1])
                 ELSE [] END AS grams,
                 CASE WHEN len(cjkc) >= 2 THEN
                   list_transform(range(1, len(cjkc)),
                                  i -> cjkc[i] || cjkc[i + 1])
                 ELSE [] END AS cgrams
          FROM qw),
        qm AS (
          SELECT doc_id, n_words,
                 length(regexp_replace(t, '\s+', '', 'g'))::DOUBLE / nwf AS mean_word_len,
                 len(regexp_extract_all(t, '[#…]|\.{3}'))::DOUBLE / nwf AS symbol_word_ratio,
                 len(list_filter(lines, l -> regexp_matches(l, '^\s*(?:[-*•‣▪]|\d+[.)])\s')))::DOUBLE / nlf AS bullet_line_frac,
                 len(list_filter(lines, l -> regexp_matches(l, '(?:\.{3}|…)\s*$')))::DOUBLE / nlf AS ellipsis_line_frac,
                 len(list_filter(words, w -> regexp_matches(w, '[A-Za-zА-Яа-яЀ-ӿÀ-ÿ]')))::DOUBLE / nwf AS alpha_word_frac,
                 len(list_filter(words, w -> list_contains(
                   ['the','be','to','of','and','that','have','with',
                    'и','в','не','на','le','la','et','der','die','und',
                    'el','los','que'],
                   lower(regexp_replace(w, '^[^\pL\pN]+|[^\pL\pN]+$', '', 'g'))))) AS stopword_hits,
                 1.0 - len(list_distinct(lines))::DOUBLE / nlf AS dup_line_frac,
                 1.0 - len(list_distinct(paras))::DOUBLE
                       / greatest(len(paras), 1)::DOUBLE AS dup_para_frac,
                 CASE WHEN len(grams) > 0 THEN
                   1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE
                 ELSE 0.0 END AS dup_2gram_frac,
                 len(cjkc)::DOUBLE / greatest(length(t), 1) AS cjk_char_frac,
                 n_words + len(cjkc) AS n_units,
                 CASE WHEN len(cgrams) > 0 THEN
                   1.0 - len(list_distinct(cgrams))::DOUBLE / len(cgrams)::DOUBLE
                 ELSE 0.0 END AS dup_cjk_2gram_frac,
                 len(regexp_extract_all(t, '[\pL]'))::DOUBLE
                   / greatest(length(t), 1) AS letter_char_frac,
                 regexp_matches(t, '(?i)lorem ipsum') AS has_lorem,
                 contains(t, '{') AS has_curly
          FROM qg),
        qp AS (
          SELECT doc_id,
                 (CASE WHEN cjk_char_frac >= 0.3 THEN
                    (n_units BETWEEN 50 AND 100000)
                    AND letter_char_frac > 0.5
                    AND dup_cjk_2gram_frac < 0.8
                  ELSE
                    (n_words BETWEEN 50 AND 100000)
                    AND (mean_word_len BETWEEN 3.0 AND 10.0)
                    AND symbol_word_ratio < 0.1
                    AND alpha_word_frac > 0.8
                    AND stopword_hits >= 2
                    AND dup_2gram_frac < 0.9
                  END)
                 AND bullet_line_frac < 0.9
                 AND ellipsis_line_frac < 0.3
                 AND dup_line_frac < 0.3
                 AND dup_para_frac < 0.3
                 AND NOT has_lorem AND NOT has_curly AS q_pass
          FROM qm)"""

    stats_cols = []
    for c in ("text", "lang", "source"):
        stats_cols.append(
            f"SELECT '{c}' AS key, count({c}) AS total, "
            f"count(DISTINCT {c}) AS n_uniq, min(length({c})) AS minlen, "
            f"max(length({c})) AS maxlen, round(avg(length({c})), 4) AS avglen "
            f"FROM documents"
        )
    dict_cols = []
    for c in ("lang", "source"):
        dict_cols.append(
            f"SELECT '{c}' AS key, "
            f"round(count(DISTINCT {c}) * 100.0 / count({c}), 6) AS share_uniq, "
            f"(count(DISTINCT {c}) * 100.0 / count({c}) <= 10) AS is_dictkey "
            f"FROM documents"
        )
    return {
        "tpch_q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "tpch_q3_shipping_priority": """
            SELECT l_orderkey,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
                   o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "tpch_q5_local_supplier": """
            SELECT n_name,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue DESC, n_name
        """,
        "tpch_q4_priority_check": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= '1996-07-01'
              AND o.o_orderdate < '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_discount >= 0.08)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q14_promo_effect": """
            SELECT round(CAST(
                     100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l_discount AS DECIMAL(18,4)))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                   AS DOUBLE), 4) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'
        """,
        "tpch_q19_discounted_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (CAST(1 AS DECIMAL(18,4))
                        - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 40)
        """,
        "tpch_q2_min_cost_supplier": """
            WITH price AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2
            ), regional AS (
              SELECT price.*, s_acctbal, s_name, n_name
              FROM price, supplier, nation, region
              WHERE s_suppkey = l_suppkey AND s_nationkey = n_nationkey
                AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
            )
            SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
                   p_partkey, p_name, round(unit_cost, 4) AS unit_cost
            FROM part, regional
            WHERE p_partkey = l_partkey AND p_size = 15 AND p_type = 'SMALL'
              AND unit_cost = (SELECT min(r2.unit_cost) FROM regional r2
                               WHERE r2.l_partkey = p_partkey)
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20
        """,
        "tpch_q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
            FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                         CAST(year(l_shipdate) AS INT) AS l_year,
                         CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4))
                            - CAST(l_discount AS DECIMAL(18,4))) AS volume
                  FROM supplier, lineitem, orders, customer,
                       nation n1, nation n2
                  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                    AND c_custkey = o_custkey
                    AND s_nationkey = n1.n_nationkey
                    AND c_nationkey = n2.n_nationkey
                    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                    AND l_shipdate >= '1996-01-01'
                    AND l_shipdate < '1998-01-01')
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
        """,
        "tpch_q8_market_share": """
            SELECT o_year,
                   round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
                                       ELSE CAST(0 AS DECIMAL(18,4)) END)
                              AS DOUBLE)
                         / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
            FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                         CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4))
                            - CAST(l_discount AS DECIMAL(18,4))) AS volume,
                         n2.n_name AS nation
                  FROM part, supplier, lineitem, orders, customer,
                       nation n1, nation n2, region
                  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                    AND c_nationkey = n1.n_nationkey
                    AND n1.n_regionkey = r_regionkey
                    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
                    AND o_orderdate >= '1995-01-01'
                    AND o_orderdate < '1997-01-01'
                    AND p_type = 'ECONOMY')
            GROUP BY o_year ORDER BY o_year
        """,
        "tpch_q9_product_profit": """
            SELECT nation, o_year,
                   round(CAST(sum(amount) AS DOUBLE), 2) AS sum_profit
            FROM (SELECT n_name AS nation,
                         CAST(year(o_orderdate) AS INT) AS o_year,
                         CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4))
                            - CAST(l_discount AS DECIMAL(18,4)))
                         - CAST(p_retailprice AS DECIMAL(18,4))
                           * CAST(l_quantity / 100 AS DECIMAL(18,4))
                           AS amount
                  FROM part, supplier, lineitem, orders, nation
                  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                    AND o_orderkey = l_orderkey
                    AND s_nationkey = n_nationkey
                    AND p_name LIKE '%red%')
            GROUP BY nation, o_year ORDER BY nation, o_year DESC
        """,
        "tpch_q11_important_stock": """
            WITH val AS (
              SELECT l_partkey AS ps_partkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(l_quantity AS DECIMAL(18,4))) AS value
              FROM lineitem, supplier, nation
              WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                AND n_name = 'NATION_3'
              GROUP BY 1)
            SELECT ps_partkey, round(CAST(value AS DOUBLE), 2) AS value
            FROM val
            WHERE CAST(value AS DOUBLE)
                  > (SELECT CAST(sum(value) AS DOUBLE) * 0.002 FROM val)
            ORDER BY value DESC, ps_partkey
        """,
        "tpch_q12_late_lines": """
            SELECT l_returnflag AS ship_class,
                   CAST(sum(CASE WHEN o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN
                                      ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS low_line_count
            FROM orders, lineitem
            WHERE o_orderkey = l_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
            GROUP BY 1 ORDER BY 1
        """,
        "tpch_q13_order_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT OUTER JOIN orders
                    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
                  GROUP BY c_custkey)
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4))
                            - CAST(l_discount AS DECIMAL(18,4))))
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
              GROUP BY 1)
            SELECT s_suppkey, s_name,
                   round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
            FROM supplier, revenue
            WHERE s_suppkey = supplier_no
              AND total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """,
        "tpch_q16_supplier_part_cnt": """
            SELECT p_brand, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem, part
            WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1'
              AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_size
        """,
        "tpch_q17_small_qty_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                              AS DOUBLE) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM lineitem, part
            WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
              AND p_type = 'SMALL'
              AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = p_partkey)
        """,
        "tpch_q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(sum(l_quantity), 2) AS total_qty
            FROM customer, orders, lineitem
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY l_orderkey
                                 HAVING sum(l_quantity) > 300)
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
            GROUP BY 1, 2, 3, 4, o_totalprice
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
        """,
        "tpch_q20_part_promotion": """
            SELECT s_name, round(s_acctbal, 2) AS s_acctbal
            FROM supplier, nation
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem, part
                WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
                  AND l_shipdate >= '1996-01-01'
                  AND l_shipdate < '1997-01-01'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 20)
              AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
            ORDER BY s_name
        """,
        "tpch_q21_waiting_supplier": """
            SELECT s_name, count(*) AS numwait
            FROM supplier, lineitem l1, orders, nation
            WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate
                                    > o_orderdate + INTERVAL 60 DAY)
              AND s_nationkey = n_nationkey
            GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "tpch_q22_global_sales_opp": """
            WITH pos AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       AS s,
                     count(*) AS n
              FROM customer
              WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5))
            SELECT cntrycode, count(*) AS numcust,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                              AS DOUBLE), 2) AS totacctbal
            FROM (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
                         c_acctbal
                  FROM customer
                  WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
                    AND CAST(c_acctbal AS DOUBLE) * (SELECT n FROM pos)
                        > (SELECT s FROM pos)
                    AND NOT EXISTS (SELECT 1 FROM orders
                                    WHERE o_custkey = c_custkey
                                      AND o_orderdate >= '1999-01-01'))
            GROUP BY cntrycode ORDER BY cntrycode
        """,
        "tpch_q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
                   round(c_acctbal, 2) AS c_acctbal
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND c_nationkey = n_nationkey
              AND l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "tpch_q6_forecast_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                               * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "top_customers_by_spend": """
            WITH spend AS (
              SELECT o_custkey,
                     round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_spend,
                     count(*) AS n_orders
              FROM orders GROUP BY 1)
            SELECT c_custkey, c_name, total_spend, n_orders,
                   row_number() OVER (ORDER BY total_spend DESC, c_custkey) AS rank
            FROM spend JOIN customer ON o_custkey = c_custkey
            QUALIFY rank <= 10
        """,
        "field_stats_documents": " UNION ALL ".join(stats_cols),
        "dict_detection": " UNION ALL ".join(dict_cols),
        "rule_confidence_minipack": """
            SELECT 'lang' AS field, 'langtag_mini' AS ruleid,
                   'languagetag' AS dataclass,
                   round(100.0 * sum(CASE WHEN length(lang) BETWEEN 2 AND 2
                                          AND lower(lang) IN ('en','fr','de','es','zh')
                                     THEN 1 ELSE 0 END)
                         / sum(CASE WHEN lang IS NOT NULL AND length(lang) > 0
                                    THEN 1 ELSE 0 END), 6) AS confidence
            FROM documents
            HAVING confidence > 5.0
        """,
        "regex_match_rate": r"""
            SELECT source,
                   round(100.0 * sum(CASE WHEN regexp_matches(text, '\b(?:join|merge)\b')
                                     THEN 1 ELSE 0 END) / count(*), 4) AS match_rate,
                   count(*) AS n_docs
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "exact_dedup_events": """
            SELECT min(event_id) AS event_id, user_id, event_type
            FROM events GROUP BY user_id, event_type ORDER BY 1
        """,
        "jaccard_pairs_exact": r"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0)) AS ws
              FROM documents WHERE doc_id < 50)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.ws, b.ws)) * 1.0
                         / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.ws, b.ws)) * 1.0
                        / len(list_distinct(list_concat(a.ws, b.ws))), 4) >= 0.5
        """,
        "near_dup_clusters": """
            WITH RECURSIVE t AS (
              SELECT doc_id,
                     list_distinct(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0)) AS ws
              FROM documents WHERE doc_id < 50),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE round(len(list_intersect(a.ws, b.ws)) * 1.0
                          / len(list_distinct(list_concat(a.ws, b.ws))), 4) >= 0.5),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(id, comp) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
            )
            SELECT id, min(comp) AS component FROM reach
            GROUP BY id ORDER BY id
        """,
        "quality_dedup_clusters": """
            WITH RECURSIVE t AS (
              SELECT doc_id,
                     list_distinct(list_filter(
                       string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                       x -> length(x) > 0)) AS ws
              FROM documents WHERE doc_id < 50),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE round(len(list_intersect(a.ws, b.ws)) * 1.0
                          / len(list_distinct(list_concat(a.ws, b.ws))), 4) >= 0.5),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(id, comp) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id
            ),
            comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
            scored AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS s
                       FROM documents WHERE doc_id < 50),
            m AS (SELECT c.component, max(s.s) AS smax
                  FROM comp c JOIN scored s ON s.doc_id = c.id
                  GROUP BY c.component),
            w AS (SELECT c.component, min(c.id) AS wid
                  FROM comp c JOIN scored s ON s.doc_id = c.id
                  JOIN m ON m.component = c.component
                       AND s.s IS NOT DISTINCT FROM m.smax
                  GROUP BY c.component)
            SELECT d.doc_id,
                   (c.id IS NULL OR d.doc_id = w.wid) AS kept
            FROM scored d
            LEFT JOIN comp c ON c.id = d.doc_id
            LEFT JOIN w ON w.component = c.component
            ORDER BY d.doc_id
        """,
        "corpus_report": r"""
            WITH base AS (
              SELECT doc_id, text,
                     'site' || CAST(doc_id % 7 AS VARCHAR)
                            || '.example.com' AS domain,
                     (['en','ru','de','zh'])[CAST(doc_id % 4 AS INT) + 1]
                       AS lang,
                     CASE WHEN doc_id % 5 = 0 THEN 'quality'
                          WHEN doc_id % 5 = 1 THEN 'near_dup' END
                       AS drop_reason
              FROM documents),
            per AS (
              SELECT domain, lang,
                     coalesce(drop_reason, 'kept') AS reason,
                     CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END
                       AS keep,
                     CAST(coalesce(length(text), 0) AS BIGINT) AS chars,
                     CAST(CASE WHEN text IS NULL THEN 0 ELSE
                       len(list_filter(string_split_regex(lower(text),
                             '[^\p{L}\p{N}_]+'), x -> length(x) > 0))
                       END AS BIGINT) AS words
              FROM base),
            doms AS (
              SELECT domain, count(*) AS n_docs, sum(keep) AS n_kept,
                     sum(chars) AS chars, sum(words) AS words
              FROM per GROUP BY domain),
            win AS (SELECT domain FROM doms
                    ORDER BY n_docs DESC, domain LIMIT 3)
            SELECT 'total' AS dim, 'all' AS value,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(keep) AS BIGINT) AS n_kept,
                   CAST(sum(chars) AS BIGINT) AS chars,
                   CAST(sum(words) AS BIGINT) AS words FROM per
            UNION ALL
            SELECT 'lang', lang, CAST(count(*) AS BIGINT),
                   CAST(sum(keep) AS BIGINT), CAST(sum(chars) AS BIGINT),
                   CAST(sum(words) AS BIGINT) FROM per GROUP BY lang
            UNION ALL
            SELECT 'drop_reason', reason, CAST(count(*) AS BIGINT),
                   CAST(sum(keep) AS BIGINT), CAST(sum(chars) AS BIGINT),
                   CAST(sum(words) AS BIGINT) FROM per GROUP BY reason
            UNION ALL
            SELECT 'domain',
                   CASE WHEN domain IN (SELECT domain FROM win)
                        THEN domain ELSE '(other)' END AS value,
                   CAST(sum(n_docs) AS BIGINT),
                   CAST(sum(n_kept) AS BIGINT),
                   CAST(sum(chars) AS BIGINT),
                   CAST(sum(words) AS BIGINT)
            FROM doms GROUP BY 2
            ORDER BY dim, value
        """,
        "ann_topk_cosine": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 4) AS cosine
            FROM embeddings, q
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])) DESC, vec_id
            LIMIT 10
        """,
        # exact top-5 per query replayed in SQL; recall_ok is the
        # in-query ANN quality invariant — the oracle expects TRUE
        # (same contract as fingerprints.fp_stable): a recall regression
        # in the deterministic planes/centroids flips every row
        "lsh_recall": _ANN_RECALL_ORACLE,
        "ivf_recall": _ANN_RECALL_ORACLE,
        "dup_span_stats": r"""
            WITH w AS (
              SELECT doc_id,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM documents),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(words) >= 8
                     THEN list_transform(range(1, len(words) - 6),
                                         i -> array_to_string(words[i:i+7], ' '))
                     WHEN len(words) > 0
                     THEN [array_to_string(words, ' ')]
                     ELSE [] END)) AS gram
              FROM w),
            freq AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram)
            SELECT g.doc_id AS doc_id,
                   count(*)::BIGINT AS n_spans,
                   sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT
                     AS n_dup_spans,
                   round(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
                         / count(*), 4) AS dup_span_frac
            FROM g JOIN freq f USING (gram)
            GROUP BY g.doc_id
            ORDER BY doc_id
        """,
        "decontaminate": r"""
            WITH w AS (
              SELECT doc_id,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM documents),
            g AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(words) >= 8
                     THEN list_transform(range(1, len(words) - 6),
                                         i -> array_to_string(words[i:i+7], ' '))
                     WHEN len(words) > 0
                     THEN [array_to_string(words, ' ')]
                     ELSE [] END)) AS gram
              FROM w),
            bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
            c AS (SELECT doc_id, gram FROM g WHERE doc_id % 25 <> 0)
            SELECT c.doc_id AS doc_id,
                   count(*)::BIGINT AS n_grams,
                   sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_hit,
                   round(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                         * 1.0 / count(*), 4) AS overlap_frac,
                   (sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) >= 1)
                     AS contaminated
            FROM c LEFT JOIN bench b ON c.gram = b.gram
            GROUP BY c.doc_id
            ORDER BY doc_id
        """,
        "hash_sample": r"""
            SELECT doc_id, lang, source, n_chars
            FROM documents
            WHERE (((doc_id % 2147483648 + 7) % 2147483648) * 2654435761) % 4294967296 < 429496729
            ORDER BY doc_id
        """,
        "stratified_sample": r"""
            WITH h AS (
              SELECT doc_id, source,
                     (((doc_id % 2147483648 + 7) % 2147483648) * 2654435761) % 4294967296 AS hv
              FROM documents),
            r AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hv, doc_id) AS rk
              FROM h)
            SELECT doc_id, source FROM r WHERE rk <= 20 ORDER BY doc_id
        """,
        "budget_mix": r"""
            WITH t AS (
              SELECT source, sum(n_chars) AS tot FROM documents GROUP BY source)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN t USING (source)
            WHERE (((d.doc_id % 2147483648 + 7) % 2147483648) * 2654435761) % 4294967296 <
                  CAST(floor(
                    CASE WHEN 3000.0 >= t.tot THEN 1.0
                         ELSE 3000.0 / t.tot END * 4294967296.0) AS BIGINT)
            ORDER BY doc_id
        """,
        "normalize_text": """
            WITH messy AS (
              SELECT doc_id,
                     '  cafe' || chr(769) || chr(9) || text || ' ' ||
                     chr(7) || 'a' || chr(778) || ' ' || chr(10) AS text
              FROM documents),
            norm AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(
                       nfc_normalize(text),
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                       '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' ') AS t
              FROM messy)
            SELECT doc_id, sha256(t) AS norm_sha,
                   length(t)::BIGINT AS norm_len
            FROM norm ORDER BY doc_id
        """,
        "dedup_paragraphs": """
            WITH messy AS (
              SELECT doc_id,
                     text || chr(10) || chr(10) || text || chr(10) || chr(10)
                          || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
              FROM documents),
            p AS (
              SELECT doc_id, t, string_split_regex(t, '\\n{2,}') AS paras
              FROM messy)
            SELECT doc_id,
                   sha256(array_to_string(
                     list_filter(paras,
                                 (x, i) -> list_position(paras, x) = i),
                     chr(10) || chr(10))) AS dedup_sha,
                   len(paras)::BIGINT AS n_paras,
                   (len(paras) - len(list_distinct(paras)))::BIGINT
                     AS n_dup_paras
            FROM p ORDER BY doc_id
        """,
        "url_domain_filter": r"""
            WITH urls AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 7 = 0 THEN 'https://user@www.'
                           ELSE 'https://www.' END)
                     || source
                     || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
                              WHEN doc_id % 3 = 1 THEN '.com'
                              ELSE '.org' END)
                     || (CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END)
                     || '/a/' || CAST(doc_id AS VARCHAR) || '?ref=x' AS url
              FROM documents),
            hosts AS (
              SELECT doc_id,
                     lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                       1)) AS host
              FROM urls),
            doms AS (
              SELECT doc_id, host, string_split(host, '.') AS labels,
                     len(string_split(host, '.')) AS n
              FROM hosts),
            parts AS (
              SELECT doc_id, host,
                     CASE WHEN n <= 2 THEN host
                          WHEN regexp_matches(host,
                               '^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$')
                          THEN host
                          WHEN array_to_string(
                                 labels[greatest(n-1,1):n], '.') IN
                               ('co.uk','org.uk','ac.uk','gov.uk','me.uk',
                                'net.uk','co.jp','ne.jp','or.jp','ac.jp',
                                'go.jp','com.au','net.au','org.au','edu.au',
                                'gov.au','com.br','net.br','org.br','gov.br',
                                'co.in','net.in','org.in','gen.in','ac.in',
                                'co.za','org.za','web.za','com.cn','net.cn',
                                'org.cn','gov.cn','com.mx','org.mx','com.ar',
                                'com.tr','com.sg','com.hk','co.kr','or.kr',
                                'co.nz','net.nz','org.nz')
                          THEN array_to_string(labels[greatest(n-2,1):n], '.')
                          ELSE array_to_string(labels[greatest(n-1,1):n], '.')
                     END AS domain
              FROM doms)
            SELECT doc_id, host, domain FROM parts
            WHERE domain NOT IN ('src1.com', 'src3.co.uk')
            ORDER BY doc_id
        """,
        "toxicity_filter": r"""
            WITH messy AS (
              SELECT doc_id,
                     text || (CASE WHEN doc_id % 11 = 0
                                   THEN ' badword Badword slur1'
                                   WHEN doc_id % 7 = 0 THEN ' OBSCENITY'
                                   ELSE '' END) AS text
              FROM documents),
            w AS (
              SELECT doc_id, text,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM messy),
            m AS (
              SELECT doc_id, text,
                     len(list_filter(words,
                         x -> x IN ('badword','slur1','slur2','obscenity')))
                       AS tox_n,
                     len(words) AS n_words
              FROM w)
            SELECT doc_id,
                   tox_n::BIGINT AS tox_n,
                   CASE WHEN n_words > 0
                        THEN round(tox_n * 1.0 / n_words, 6)
                        ELSE 0.0 END AS tox_frac,
                   (tox_n > 0) AS tox_any,
                   (tox_n <= 0) AS keep_c4,
                   (CASE WHEN n_words > 0
                         THEN round(tox_n * 1.0 / n_words, 6)
                         ELSE 0.0 END <= 0.02) AS keep_density,
                   sha256(regexp_replace(text,
                     '(?i)\b(?:obscenity|badword|slur1|slur2)\b', '***', 'g'))
                     AS scrub_sha
            FROM m ORDER BY doc_id
        """,
        "diversity_sample": r"""
            WITH firsts AS (
              SELECT label, min(vec_id) AS vec_id FROM embeddings
              WHERE label < 4 GROUP BY label),
            cents AS (
              SELECT e.label AS cid, e.embedding AS cv
              FROM embeddings e JOIN firsts f
                ON e.label = f.label AND e.vec_id = f.vec_id),
            sims AS (
              SELECT v.vec_id, c.cid,
                     list_cosine_similarity(v.embedding, c.cv) AS sim
              FROM embeddings v CROSS JOIN cents c),
            best AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cid) AS rk
              FROM sims),
            assigned AS (
              SELECT vec_id, cid AS cluster,
                     (((vec_id % 2147483648 + 7) % 2147483648) * 2654435761) % 4294967296 AS hv
              FROM best WHERE rk = 1),
            ranked AS (
              SELECT vec_id, cluster,
                     row_number() OVER (PARTITION BY cluster
                                        ORDER BY hv, vec_id) AS qrk
              FROM assigned)
            SELECT vec_id, cluster::INT AS cluster
            FROM ranked WHERE qrk <= 30 ORDER BY vec_id
        """,
        "readability": r"""
            WITH w AS (
              SELECT doc_id, text,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM documents),
            m AS (
              SELECT doc_id,
                     len(words) AS read_words,
                     greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1)
                       AS read_sentences,
                     coalesce(list_sum(list_transform(words,
                       x -> greatest(len(string_split_regex(x, '[aeiouy]+'))
                                     - 1, 1))), 0) AS read_syllables
              FROM w)
            SELECT doc_id,
                   read_words::BIGINT AS read_words,
                   read_sentences::BIGINT AS read_sentences,
                   read_syllables::BIGINT AS read_syllables,
                   CASE WHEN read_words > 0
                        THEN round(206.835
                                   - 1.015 * (read_words * 1.0 / read_sentences)
                                   - 84.6 * (read_syllables * 1.0 / read_words),
                                   4)
                        ELSE 0.0 END AS read_ease,
                   CASE WHEN read_words > 0
                        THEN round(0.39 * (read_words * 1.0 / read_sentences)
                                   + 11.8 * (read_syllables * 1.0 / read_words)
                                   - 15.59, 4)
                        ELSE 0.0 END AS read_grade
            FROM m ORDER BY doc_id
        """,
        "remove_dup_spans": r"""
            WITH w AS (
              SELECT doc_id,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM documents),
            g AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, len(words) - 6),
                       i -> {'pos': i - 1,
                             'gram': array_to_string(words[i:i+7], ' ')}))
                       AS s
              FROM w WHERE len(words) >= 8),
            g2 AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g),
            freq AS (
              SELECT gram, count(DISTINCT doc_id) AS nd
              FROM g2 GROUP BY gram),
            st AS (
              SELECT g2.doc_id, list_sort(list(DISTINCT g2.pos)) AS starts
              FROM g2 JOIN freq USING (gram)
              WHERE freq.nd >= 2
              GROUP BY g2.doc_id),
            fin AS (
              SELECT w.doc_id, w.words,
                     coalesce(st.starts, []) AS starts
              FROM w LEFT JOIN st USING (doc_id)),
            built AS (
              SELECT doc_id, words,
                     list_filter(range(0, len(words)),
                       j -> len(list_filter(starts,
                              s -> j >= s AND j < s + 8)) = 0) AS kept
              FROM fin)
            SELECT doc_id,
                   sha256(coalesce(array_to_string(
                     list_transform(kept, j -> words[j + 1]), ' '), ''))
                     AS dedup_sha,
                   len(words)::BIGINT AS n_tokens,
                   (len(words) - len(kept))::BIGINT AS n_removed
            FROM built ORDER BY doc_id
        """,
        # decontaminate_spans: positional corpus grams joined against
        # the benchmark-split gram STRINGS (value-checking the
        # xxhash64 path), then the remove_dup_spans excision replay
        "decontaminate_spans": r"""
            WITH w AS (
              SELECT doc_id,
                     (list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                  x -> length(x) > 0))[1:2000] AS words
              FROM documents),
            bg AS (
              SELECT DISTINCT unnest(list_transform(
                       range(1, len(words) - 6),
                       i -> array_to_string(words[i:i+7], ' '))) AS gram
              FROM w WHERE doc_id % 25 = 0 AND len(words) >= 8),
            cw AS (SELECT doc_id, words FROM w WHERE doc_id % 25 <> 0),
            g AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, len(words) - 6),
                       i -> {'pos': i - 1,
                             'gram': array_to_string(words[i:i+7], ' ')}))
                       AS s
              FROM cw WHERE len(words) >= 8),
            g2 AS (SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g),
            st AS (
              SELECT g2.doc_id, list_sort(list(DISTINCT g2.pos)) AS starts
              FROM g2 SEMI JOIN bg ON g2.gram = bg.gram
              GROUP BY g2.doc_id),
            fin AS (
              SELECT cw.doc_id, cw.words,
                     coalesce(st.starts, []) AS starts
              FROM cw LEFT JOIN st USING (doc_id)),
            built AS (
              SELECT doc_id, words,
                     list_filter(range(0, len(words)),
                       j -> len(list_filter(starts,
                              s -> j >= s AND j < s + 8)) = 0) AS kept
              FROM fin)
            SELECT doc_id,
                   sha256(coalesce(array_to_string(
                     list_transform(kept, j -> words[j + 1]), ' '), ''))
                     AS decontam_sha,
                   len(words)::BIGINT AS n_tokens,
                   (len(words) - len(kept))::BIGINT AS n_removed
            FROM built ORDER BY doc_id
        """,
        "token_counts": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> length(x) > 0)) AS n_tokens_ws,
                   len(regexp_extract_all(text,
                       '[A-Za-zÀ-ÿА-яЀ-ӿ]{1,4}|\d{1,3}|[^\sA-Za-zÀ-ÿА-яЀ-ӿ\d]'))
                       AS n_tokens_subword
            FROM documents WHERE doc_id < 100 ORDER BY doc_id
        """,
        "events_json_agg": """
            SELECT event_type, count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_value,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "salted_agg_events": """
            SELECT event_type, count(*) AS n_rows,
                   round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "daily_event_windows": """
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "c4_line_filter": """
            WITH w AS (
              SELECT doc_id,
                     list_aggregate(list_filter(string_split(text, chr(10)),
                       l -> len(list_filter(string_split_regex(l, '\s+'),
                                            x -> length(x) > 0)) >= 3
                            AND regexp_matches(l, '[.!?\"]\s*$')
                            AND NOT regexp_matches(lower(l),
                              'javascript|cookies? polic|copyright|all rights reserved')),
                       'string_agg', chr(10)) AS clean
              FROM documents WHERE doc_id < 200)
            SELECT doc_id, sha256(coalesce(clean, '')) AS clean_sha256,
                   length(coalesce(clean, '')) AS clean_len
            FROM w ORDER BY doc_id
        """,
        "quality_flags": ("""
            WITH src AS (
              SELECT doc_id, text AS t FROM documents WHERE doc_id < 100
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     (list_value(""" + _langid_snippet_list + f"""))[
                       CAST(doc_id % {_n_snippets} AS INT) + 1] AS t
              FROM documents WHERE doc_id < {_n_snippets}),"""
            + quality_frag + r""",
            ac AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '[A-Za-zА-яЀ-ӿÀ-ÿ]')) * 1.0
                       / greatest(length(t), 1) AS alpha_char_frac
              FROM src)
            SELECT m.doc_id, m.n_words,
                   round(m.mean_word_len, 4) AS mean_word_len,
                   round(m.dup_line_frac, 4) AS dup_line_frac,
                   round(ac.alpha_char_frac, 4) AS alpha_char_frac,
                   round(m.dup_para_frac, 4) AS dup_para_frac,
                   round(m.dup_2gram_frac, 4) AS dup_2gram_frac,
                   round(m.cjk_char_frac, 4) AS cjk_char_frac,
                   m.n_units,
                   round(m.dup_cjk_2gram_frac, 4) AS dup_cjk_2gram_frac,
                   round(m.letter_char_frac, 4) AS letter_char_frac,
                   p.q_pass
            FROM qm m JOIN qp p USING (doc_id) JOIN ac USING (doc_id)
            ORDER BY m.doc_id
        """),
        "fingerprints": r"""
            WITH w AS (
              SELECT doc_id, text,
                     greatest(length(text), 1)::DOUBLE AS n_chars,
                     list_transform(
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> length(x) > 0),
                       t -> lower(regexp_replace(t, '^[^\pL\pN]+|[^\pL\pN]+$', '', 'g'))) AS toks,
                     greatest(len(list_filter(string_split_regex(text, '\s+'),
                                              x -> length(x) > 0)), 1)::DOUBLE AS nw
              FROM documents WHERE doc_id < 100),
            s AS (
              SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-zА-яЀ-ӿÀ-ÿ]')) / n_chars AS alpha_frac,
                least(len(list_filter(toks, t -> list_contains(
                  ['the','be','to','of','and','that','have','with',
                   'и','в','не','на','le','la','et','der','die','und',
                   'el','los','que'], t)))
                  / nw * 5.0, 1.0) AS stop_frac,
                least(nw / 50.0, 1.0) AS len_score,
                1.0 - least(abs(len(regexp_extract_all(text, '[.!?]')) / nw - 0.08)
                            * 5.0, 1.0) AS punct_score
              FROM w)
            SELECT doc_id,
                   round(alpha_frac * 0.35 + stop_frac * 0.25
                         + len_score * 0.25 + punct_score * 0.15, 6) AS quality_score,
                   TRUE AS fp_stable
            FROM s ORDER BY doc_id
        """,
        "pii_scrub_documents": r"""
            WITH base AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id || '@example.com'
                     || CASE WHEN doc_id % 2 = 0
                             THEN ' ip 10.0.' || (doc_id % 250) || '.7'
                             ELSE '' END
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' ssn 123-45-' || lpad(doc_id::VARCHAR, 4, '0')
                             ELSE '' END AS t
              FROM documents WHERE doc_id < 200),
            scrubbed AS (
              SELECT doc_id, t,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t,
                           '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])',
                         '<IP>', 'g'),
                       '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS s
              FROM base)
            SELECT doc_id, sha256(s) AS scrub_sha256,
                   len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t,
                     '(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])')) AS n_ipv4,
                   len(regexp_extract_all(t,
                     '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn
            FROM scrubbed ORDER BY doc_id
        """,
        "simhash_near_dups": r"""
            WITH docs AS (
              SELECT doc_id,
                     list_slice(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0), 1, 2000) AS ws
              FROM documents WHERE doc_id < 200),
            w AS (SELECT doc_id, sha256(unnest(ws)) AS h FROM docs),
            bits AS (
              SELECT doc_id, b,
                     CASE WHEN 2 * sum(CASE WHEN ascii(substr(h, b + 1, 1)) % 2 = 1
                                       THEN 1 ELSE 0 END) > count(*)
                          THEN 1 ELSE 0 END AS bit
              FROM w CROSS JOIN range(64) t(b) GROUP BY doc_id, b),
            agg AS (
              SELECT doc_id,
                     bit_or(CASE WHEN b = 63
                                 THEN CASE WHEN bit = 1
                                           THEN -9223372036854775808 ELSE 0 END
                                 ELSE bit::BIGINT << b END) AS sim
              FROM bits GROUP BY doc_id),
            sims AS (
              SELECT d.doc_id, coalesce(a.sim, 0) AS sim
              FROM docs d LEFT JOIN agg a USING (doc_id))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
            FROM sims a JOIN sims b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        """,
        "langid_documents": (
            """
            WITH src AS (
              SELECT doc_id, text AS t FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     (list_value(""" + _langid_snippet_list + f"""))[
                       CAST(doc_id % {_n_snippets} AS INT) + 1] AS t
              FROM documents WHERE doc_id < {3 * _n_snippets}),"""
            + langid_frag + """
            SELECT CASE WHEN doc_id >= 1000000 THEN 'synth' ELSE 'docs' END
                     AS corpus,
                   lang_pred, count(*) AS n FROM lpred
            GROUP BY 1, 2 ORDER BY 1, 2
        """),
        "perplexity": (
            """
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''), '[^\\x00-\\x7f]', '#', 'g') AS t
              FROM documents WHERE doc_id < 100),"""
            + ppl_model + "," + ppl_score + """
            SELECT doc_id, round(ppl, 4) AS ppl FROM pfin ORDER BY doc_id
        """),
        "corpus_pipeline_documents": (
            """
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(text, '[^\\x00-\\x7f]', '#', 'g')
                     || ' contact user' || doc_id || '@example.com'
                     || CASE WHEN doc_id % 2 = 0
                             THEN ' ip 10.0.' || (doc_id % 250) || '.7'
                             ELSE '' END
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' ssn 123-45-' || lpad(doc_id::VARCHAR, 4, '0')
                             ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' pii wall a@b.co c@d.co e@f.co g@h.co j@k.co m@n.co p@q.co r@s.co'
                             ELSE '' END AS t
              FROM documents WHERE doc_id < 300),"""
            + ppl_model + "," + ppl_score + "," + langid_frag + ","
            + quality_frag + "," + r"""
            pii AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(t, '(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])'))
                     + len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS pii_total
              FROM src),
            dec AS (
              SELECT s.doc_id, l.lang_pred, q.q_pass, p.ppl, i.pii_total,
                     i.pii_total * 1000.0 / greatest(length(s.t), 1) AS pii_per_kchar
              FROM src s JOIN lpred l USING (doc_id) JOIN qp q USING (doc_id)
                   JOIN pfin p USING (doc_id) JOIN pii i USING (doc_id)),
            fin AS (
              SELECT doc_id, lang_pred, q_pass, ppl, pii_total, pii_per_kchar,
                     CASE WHEN lang_pred = 'und' THEN 'lang_unknown'
                          WHEN NOT q_pass THEN 'quality'
                          WHEN lang_pred IN ('en', 'fr', 'de', 'es')
                               AND ppl > 29.0 THEN 'perplexity'
                          WHEN pii_per_kchar > 5.0 THEN 'pii_density'
                          ELSE 'none' END AS drop_reason
              FROM dec)
            SELECT doc_id, lang_pred, q_pass, round(ppl, 4) AS ppl, pii_total,
                   round(pii_per_kchar, 4) AS pii_per_kchar,
                   drop_reason = 'none' AS keep, drop_reason
            FROM fin ORDER BY doc_id
        """),
        # BASELINE-shape corpus path (round 4): src = the committed
        # parquet materialization of synth_webpages(2000, seed=42); the
        # Spark side regenerates the corpus live, so a hash match proves
        # generation determinism AND the full-unicode pipeline replay.
        # byte-identity: the Spark side extracts text FROM html bytes;
        # this twin hashes the fixture's text column directly — equal
        # hashes prove the extractor reproduces it byte-for-byte
        # iceberg_scan: snapshot 1 = raw documents; snapshot 2 = the
        # same with the lang='de' partition's text tagged by the
        # dynamic overwrite — replayed here as a CASE over the raw
        # parquet, so every manifest-layer defect flips a hash
        "iceberg_scan": """
            WITH u AS (
              SELECT 1 AS snapshot_id, doc_id, lang, text FROM documents
              UNION ALL
              SELECT 2, doc_id, lang,
                     CASE WHEN lang = 'de' THEN 'DE::' || text ELSE text END
              FROM documents
            )
            SELECT snapshot_id, lang,
                   count(*) AS n_docs,
                   count(DISTINCT doc_id) AS n_ids,
                   sum(length(text)) AS sum_chars,
                   min(md5(text)) AS min_md5,
                   max(md5(text)) AS max_md5
            FROM u
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        # robots_meta: identical meta-tag injection into the committed
        # fixture, the four extraction regexes replayed verbatim in RE2
        # (\x27 hex escapes keep apostrophes out of the SQL string)
        "robots_meta": (r"""
            WITH src AS (
              SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                         AS doc_id,
                     decode(html) AS h
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
            inj AS (
              SELECT doc_id,
                regexp_replace(h, '<head>', '<head>' ||
                  CASE WHEN doc_id % 4 = 0
                       THEN '<meta name="robots" content="noindex, follow">'
                       WHEN doc_id % 4 = 1
                       THEN '<meta content=''nofollow,noarchive'' name=robots>'
                       WHEN doc_id % 4 = 2
                       THEN '<meta name=robots content=none>'
                       ELSE '<meta name="description" content="noindex">'
                  END) AS html
              FROM src),
            ext AS (
              SELECT doc_id, lower(trim(coalesce(
                nullif(regexp_extract(html,
                  '(?i)<meta[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*content\s*=\s*["\x27]([^"\x27>]*)',
                  1), ''),
                nullif(regexp_extract(html,
                  '(?i)<meta[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*content\s*=\s*([^"\x27\s>]+)',
                  1), ''),
                nullif(regexp_extract(html,
                  '(?i)<meta[^>]*content\s*=\s*["\x27]([^"\x27>]*)["\x27]?[^>]*name\s*=\s*["\x27]?robots["\x27]?',
                  1), ''),
                nullif(regexp_extract(html,
                  '(?i)<meta[^>]*content\s*=\s*([^"\x27\s>]+)[^>]*name\s*=\s*["\x27]?robots["\x27]?',
                  1), ''),
                ''))) AS robots_content
              FROM inj),
            flags AS (
              SELECT doc_id, robots_content,
                len(list_intersect(list_transform(
                  string_split(robots_content, ','), t -> trim(t)),
                  ['noindex', 'none'])) > 0 AS noindex,
                len(list_intersect(list_transform(
                  string_split(robots_content, ','), t -> trim(t)),
                  ['nofollow', 'none'])) > 0 AS nofollow
              FROM ext)
            SELECT robots_content, noindex, nofollow,
                   count(*) AS n_docs,
                   min(doc_id) AS first_id, max(doc_id) AS last_id
            FROM flags GROUP BY 1, 2, 3 ORDER BY 1
        """),
        # iceberg_data_skipping: the pruned-file read's aggregates must
        # robots_policy: the whole RFC 9309 parse + longest-match
        # evaluation replayed in DuckDB from the same body literals
        "robots_policy": _robots_policy_sql(),
        # page_metadata: title + meta/OpenGraph extraction regexes
        # embedded verbatim from corpus/html.py (single pattern source)
        "page_metadata": _page_metadata_sql(),
        # sequence_packing: the two-phase distributed prefix sum
        # collapses to one SQL window over the same (hash, id) total
        # order — exact integer arithmetic, bit-equal by construction
        "sequence_packing": r"""
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(
                       string_split_regex(text, '\s+'),
                       w -> w != ''))::BIGINT AS n_tokens,
                     ((doc_id % 2147483648) * 2654435761)
                       % 4294967296 AS pack_h
              FROM documents),
            o AS (
              SELECT *,
                     coalesce(sum(n_tokens) OVER (
                       ORDER BY pack_h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS token_start
              FROM t)
            SELECT doc_id, n_tokens, pack_h, token_start,
                   token_start // 512 AS seq_id,
                   token_start % 512 AS seq_offset,
                   n_tokens > 0 AND
                   ((token_start + n_tokens - 1) // 512)
                     > (token_start // 512) AS spans_boundary
            FROM o ORDER BY doc_id
        """,
        # token_budget_select: identical quantized score, total order
        # and running token sum — one global SQL window replays the
        # distributed prefix-sum cut (same values, same order)
        "token_budget_select": r"""
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(
                       string_split_regex(text, '\s+'),
                       w -> w != ''))::BIGINT AS n_tokens,
                     floor((1.0 * length(regexp_replace(
                              text, '[^A-Za-z]', '', 'g'))
                            / greatest(length(text), 1))
                           * 1000000.0)::BIGINT AS score_unit,
                     ((doc_id % 2147483648) * 2654435761)
                       % 4294967296 AS h
              FROM documents),
            o AS (
              SELECT *,
                     coalesce(sum(n_tokens) OVER (
                       ORDER BY score_unit DESC, h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS token_start
              FROM t)
            SELECT doc_id, n_tokens, score_unit, token_start
            FROM o WHERE token_start < 12000
            ORDER BY doc_id
        """,
        # temperature_mix: pow rounded to 9 decimals on both sides,
        # then the exact Knuth-hash Bernoulli filter
        "temperature_mix": r"""
            WITH tot AS (
              SELECT source, sum(n_chars)::DOUBLE AS t
              FROM documents GROUP BY source),
            p AS (SELECT source, t,
                         round(pow(t, 1.0/3.0), 9) AS pw FROM tot),
            d AS (SELECT sum(pw) AS den FROM p),
            b AS (SELECT source, t,
                         round(60000.0 * pw / den, 9) AS budget
                  FROM p, d),
            sel AS (
              SELECT doc.doc_id, doc.source, doc.n_chars,
                     CASE WHEN b.budget >= b.t THEN 1.0
                          ELSE b.budget / b.t END AS frac
              FROM documents doc JOIN b USING (source))
            SELECT doc_id, source, n_chars FROM sel
            WHERE (((doc_id % 2147483648 + 3) % 2147483648)
                   * 2654435761) % 4294967296
                  < floor(frac * 4294967296.0)
            ORDER BY doc_id
        """,
        # packed_sequences: every sequence rebuilt in SQL — identical
        # slices and offset-ordered assembly — md5-compared
        "packed_sequences": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 w -> w != '') AS words,
                     len(list_filter(string_split_regex(text, '\s+'),
                                     w -> w != ''))::BIGINT AS n_tokens,
                     ((doc_id % 2147483648) * 2654435761)
                       % 4294967296 AS pack_h
              FROM documents),
            o AS (
              SELECT *,
                     coalesce(sum(n_tokens) OVER (
                       ORDER BY pack_h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS token_start
              FROM t),
            sp AS (
              SELECT *,
                     unnest(generate_series(token_start // 512,
                       (token_start + n_tokens - 1) // 512)) AS s
              FROM o WHERE n_tokens > 0),
            parts AS (
              SELECT s AS seq_id,
                greatest(s*512, token_start) - s*512 AS off,
                list_aggregate(words[
                  (greatest(s*512, token_start) - token_start + 1)::INT
                  : (least((s+1)*512 - 1, token_start + n_tokens - 1)
                     - token_start + 1)::INT],
                  'string_agg', ' ') AS part,
                least((s+1)*512 - 1, token_start + n_tokens - 1)
                  - greatest(s*512, token_start) + 1 AS n
              FROM sp),
            seqs AS (
              SELECT seq_id,
                     string_agg(part, ' ' ORDER BY off) AS seq_text,
                     count(*) AS n_docs,
                     sum(n)::BIGINT AS n_tokens
              FROM parts GROUP BY seq_id)
            SELECT seq_id, n_docs, n_tokens, md5(seq_text) AS seq_md5
            FROM seqs ORDER BY seq_id
        """,
        # robots_harvest: url filter, host extraction and the
        # newest-capture survivor window replayed in SQL
        "robots_harvest": r"""
            WITH src0 AS (
              SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                         AS doc_id,
                     url, text, warc_ts,
                     regexp_extract(url, '^https?://([^/]+)', 1) AS h0
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
            src AS (
              SELECT CASE WHEN doc_id % 10 = 0
                          THEN 'https://' || h0 || '/robots.txt'
                          ELSE url END AS url,
                     CASE WHEN doc_id % 10 = 0
                          THEN e'User-agent: *\nDisallow: /v'
                               || (doc_id % 3)::VARCHAR
                          ELSE text END AS text,
                     warc_ts
              FROM src0),
            rob AS (
              SELECT lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                       1)) AS host,
                     text AS robots_txt, warc_ts
              FROM src
              WHERE regexp_matches(url,
                '(?i)^https?://[^/?#]+/robots\.txt$')),
            w AS (
              SELECT host, robots_txt,
                     row_number() OVER (PARTITION BY host
                       ORDER BY warc_ts DESC, robots_txt DESC) AS rn
              FROM rob)
            SELECT host, md5(robots_txt) AS robots_md5
            FROM w WHERE rn = 1 ORDER BY host
        """,
        # outlink_graph: anchor injection + href extraction + RFC 3986
        # resolution + canonicalization all replayed in RE2/DuckDB
        "outlink_graph": _outlink_graph_sql(),
        # page_rank: the 5 fixed-point iterations unrolled — exact
        # BIGINT arithmetic end to end, bit-identical by construction
        "page_rank": _pagerank_sql(),
        # kenlm_perplexity: the full interpolated-Kneser-Ney chain
        # replayed — tokenization, top-512 vocab, <unk> mapping,
        # bigram counts, count-of-counts discount D, pair/backoff/
        # continuation tables quantized to decimal(18,9), and the
        # exact decimal per-doc sums
        "kenlm_perplexity": _KENLM_CORE + """
            SELECT doc_id, n_grams, round(s::DOUBLE, 6) AS sum_logp
            FROM agg ORDER BY doc_id
        """,
        # kenlm_persisted: identical replay — the Spark side scores
        # from a saved+reloaded model artifact; hash match proves the
        # parquet+manifest round trip is byte-exact
        "kenlm_persisted": _KENLM_CORE + """
            SELECT doc_id, n_grams, round(s::DOUBLE, 6) AS sum_logp
            FROM agg ORDER BY doc_id
        """,
        # kenlm_trigram: the full three-level KN recursion replayed —
        # double-BOS tokenization, five model tables, two
        # count-of-counts discounts, three-level backoff chain
        "kenlm_trigram": _KENLM3_SQL,
        # ppl_buckets: CCNet head/middle/tail tertiles over the
        # same KN chain — deterministic NTILE on (rounded avg_nlp,
        # doc_id)
        "ppl_buckets": _KENLM_CORE + """,
            bkt AS (SELECT doc_id,
                      round(-(s::DOUBLE) / n_grams, 6) AS avg_nlp,
                      CAST(ntile(3) OVER (
                        ORDER BY round(-(s::DOUBLE) / n_grams, 6)
                                   ASC, doc_id ASC) AS INT)
                        AS ppl_bucket
                    FROM agg)
            SELECT doc_id, avg_nlp, ppl_bucket
            FROM bkt ORDER BY doc_id
        """,
        # ppl_buckets_sampled: the 10^12-doc map-side form — same KN
        # chain, thresholds from the deterministic bottom-k-by-hash
        # sample, strictly-greater bucket rule (quantile_cont ≡ Spark
        # percentile, bit-identical interpolation)
        "ppl_buckets_sampled": _KENLM_CORE + f""",
            av AS (SELECT doc_id,
                          round(-(s::DOUBLE) / n_grams, 6) AS avg_nlp
                   FROM agg),
            samp AS (SELECT avg_nlp FROM (
                       SELECT ('0x' || substr(sha256(doc_id::VARCHAR),
                                              1, 15))::BIGINT AS h,
                              doc_id, avg_nlp
                       FROM av ORDER BY h, doc_id LIMIT 300)),
            th AS (SELECT
                     round(quantile_cont(avg_nlp, {1 / 3!r}), 6) AS t1,
                     round(quantile_cont(avg_nlp, {2 / 3!r}), 6) AS t2
                   FROM samp)
            SELECT doc_id, avg_nlp,
                   (1 + CASE WHEN avg_nlp > t1 THEN 1 ELSE 0 END
                      + CASE WHEN avg_nlp > t2 THEN 1 ELSE 0 END)
                     AS ppl_bucket
            FROM av, th ORDER BY doc_id
        """,
        # bm25: tokenization, pruned postings, tf/df/N, the identical
        # repr-emitted scoring expression, decimal sums, and the
        # ranking window all replayed
        "bm25": _bm25_oracle_sql(5),
        # langid_ft: the full one-vs-rest multiclass GD trajectory
        # unrolled — 6 iterations keyed (cls, bucket), weights/biases/
        # scores byte-equal, argmax window + accuracy bar replayed
        "langid_ft": _langid_ft_sql(2048, 6),
        # kmeans: all 3 Lloyd iterations unrolled — integer units,
        # exact distances, row_number argmin, floor-div centroid
        # update; centroids re-derived bit-for-bit
        "kmeans": _kmeans_oracle_sql(4, 3),
        # bpe_merges: all 12 merge steps unrolled — pair counts,
        # total-order argmax, greedy rewrite via delimited-string
        # list_reduce (a different mechanism than Spark's array fold)
        "bpe_merges": _bpe_oracle_sql(12, 200),
        # quality_classifier: six class-weighted GD iterations over
        # binary hashed-n-gram features unrolled as CTEs — weights,
        # scores and predictions byte-equal
        "quality_classifier": _quality_classifier_sql(),
        # semdedup: centroid argmax assignment, cluster-scoped cosine
        # pairs, recursive-CTE components, least-central keep rule
        # semdedup_trained: the composed pipeline — k-means core
        # chain re-derives the trained centroids bit-for-bit, then
        # the full SemDeDup replay runs on them
        "semdedup_trained": _semdedup_trained_oracle_sql(4, 2),
        "semdedup": """
            WITH RECURSIVE
            q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 20),
            clones AS (
              SELECT 1000000 + q.qid * 10 + r.j AS vec_id,
                     list_transform(q.qv, (x, i) ->
                       x * (1.0 + 0.02 * r.j *
                            CASE WHEN (i - 1) % 2 = 0
                                 THEN 1.0 ELSE -1.0 END)) AS v
              FROM q CROSS JOIN range(1, 5) r(j)),
            corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 200
              UNION ALL SELECT vec_id, v FROM clones),
            cents AS (SELECT vec_id AS j,
                             CAST(embedding AS DOUBLE[]) AS c
                      FROM embeddings WHERE vec_id < 4),
            asg AS (SELECT e.vec_id, e.v, c.j,
                           list_cosine_similarity(e.v, c.c) AS cos,
                           row_number() OVER (
                             PARTITION BY e.vec_id
                             ORDER BY list_cosine_similarity(e.v, c.c)
                                        DESC, c.j DESC) AS rn
                    FROM corpus e CROSS JOIN cents c),
            sel AS (SELECT vec_id, v, CAST(j AS INT) AS cluster,
                           cos AS cent_sim
                    FROM asg WHERE rn = 1),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM sel a JOIN sel b
                    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION SELECT id_b, id_a FROM p),
            reach(id, comp) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.id),
            cc AS (SELECT id, min(comp) AS component FROM reach
                   GROUP BY id),
            member AS (SELECT s.vec_id, s.cluster, s.cent_sim,
                              coalesce(cc.component, s.vec_id)
                                AS component
                       FROM sel s LEFT JOIN cc ON cc.id = s.vec_id),
            rep AS (SELECT component, vec_id AS rep_id,
                           row_number() OVER (
                             PARTITION BY component
                             ORDER BY round(cent_sim, 4) ASC,
                                      vec_id ASC) AS rn
                    FROM member)
            SELECT m.vec_id, m.cluster,
                   round(m.cent_sim, 4) AS cent_sim, m.component,
                   (m.vec_id = r.rep_id) AS keep
            FROM member m
            JOIN (SELECT component, rep_id FROM rep WHERE rn = 1) r
              USING (component)
            ORDER BY m.vec_id
        """,
        # anchor_text_agg: the two-group extraction regex + list_zip
        # replayed; resolution simplifies to its identity cases for
        # these shapes (the full chain is oracled by outlink_graph)
        "anchor_text_agg": r"""
            WITH src AS (
              SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                         AS doc_id,
                     url, decode(html) AS h
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
            inj AS (
              SELECT doc_id, url, regexp_replace(h, '</body>',
                CASE WHEN doc_id % 3 = 1 THEN
                    '<a href="/p/' || ((doc_id*7+1) % 500)
                    || '">Label ' || doc_id || '</a>'
                  WHEN doc_id % 3 = 2 THEN
                    '<a href=''https://ext.example.com/q/'
                    || ((doc_id*7+1) % 500) || '''> padded ' || doc_id
                    || ' </a><a href="/p/' || ((doc_id*7+1) % 500)
                    || '"><b>x</b></a>'
                  ELSE '' END || '</body>') AS html
              FROM src),
            z AS (
              SELECT doc_id, url,
                unnest(list_zip(
                  regexp_extract_all(html,
                    '(?i)<a\s[^>]*href\s*=\s*["\x27]?([^"\x27\s>]+)[^>]*>([^<]*)',
                    1),
                  regexp_extract_all(html,
                    '(?i)<a\s[^>]*href\s*=\s*["\x27]?([^"\x27\s>]+)[^>]*>([^<]*)',
                    2))) AS p
              FROM inj),
            pairs AS (
              SELECT doc_id, url, p[1] AS href,
                     trim(p[2]) AS text FROM z),
            res AS (
              SELECT doc_id, text,
                CASE WHEN href LIKE '/%' THEN
                  regexp_extract(url, '^(https?://[^/?#]*)', 1) || href
                ELSE href END AS link
              FROM pairs),
            kept AS (SELECT * FROM res
                     WHERE regexp_matches(link, '(?i)^https?://'))
            SELECT link, count(*) AS n_refs,
                   sum(CASE WHEN text = '' THEN 1 ELSE 0 END)::BIGINT
                       AS n_empty,
                   min(text) AS min_text, max(text) AS max_text
            FROM kept GROUP BY 1 ORDER BY 1
        """,
        # sitemap_recrawl: entry synthesis, deterministic string_agg,
        # the (?is) block/field extraction regexes and the staleness
        # comparison replayed (the loc==url join equals the canonical
        # join because canonicalize_url is a function — equal inputs,
        # equal keys; entity decoding is unit-tested, no entities here)
        # feed_extract: round-trip identity — the oracle computes every
        # expected field directly from the table; the Spark side must
        # recover them from the XML it synthesized (entities decoded,
        # rel="self" decoys skipped, RFC 822 / RFC 3339 dates reduced)
        "feed_extract": r"""
            WITH t AS (
              SELECT doc_id,
                     doc_id % 20 AS site,
                     CASE WHEN (doc_id % 20) % 2 = 0
                          THEN 'rss' ELSE 'atom' END AS feed_type,
                     doc_id % 12 + 1 AS m,
                     doc_id % 28 + 1 AS day
              FROM documents)
            SELECT site, feed_type,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE 'D ' || doc_id || ' <x>' END AS title,
                   'https://s' || site || '.example/d/' || doc_id
                     || '?a=1&b=2' AS link,
                   CASE WHEN feed_type = 'rss' THEN 'g-' || doc_id
                        ELSE 'urn:' || doc_id END AS entry_id,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        WHEN feed_type = 'rss' THEN
                          'Mon, ' || day || ' ' ||
                          CASE m WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb'
                                 WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr'
                                 WHEN 5 THEN 'May' WHEN 6 THEN 'Jun'
                                 WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug'
                                 WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct'
                                 WHEN 11 THEN 'Nov' ELSE 'Dec' END
                          || ' 2025 08:00:00 GMT'
                        ELSE '2025-' || lpad(m::VARCHAR, 2, '0') || '-'
                          || lpad(day::VARCHAR, 2, '0') || 'T00:00:00Z'
                   END AS published,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE make_date(2025, m, day)
                   END AS published_date
            FROM t ORDER BY link
        """,
        # fix_mojibake: corruption + single-pass repair replay, both
        # generated from the same pairs list as the Spark kernel
        "fix_mojibake": _mojibake_oracle_sql(),
        # repetition_stats: Gopher battery completion — generated for
        # the same (top_ns, dup_ns) the Spark query uses
        "repetition_stats": _repetition_oracle_sql(),
        # robots_header: identical in-plan header synthesis, then the
        # same lower/split-','/trim(last ':'-part) token walk in RE2
        "robots_header": r"""
            WITH h AS (
              SELECT doc_id,
                     CASE doc_id % 7
                       WHEN 1 THEN 'noindex'
                       WHEN 2 THEN 'googlebot: noindex, noarchive'
                       WHEN 3 THEN 'nofollow, nosnippet'
                       WHEN 4 THEN 'none'
                       WHEN 5 THEN
                         'unavailable_after: 25 Jun 2010 15:00 PST'
                       WHEN 6 THEN 'noindex, nofollow'
                       ELSE '' END AS x_robots
              FROM documents),
            t AS (
              SELECT doc_id, x_robots,
                     list_transform(
                       string_split(lower(x_robots), ','),
                       s -> trim(list_extract(string_split(s, ':'),
                                              -1))) AS toks
              FROM h)
            SELECT doc_id, x_robots,
                   len(list_filter(toks,
                       x -> x IN ('noindex', 'none'))) > 0 AS noindex,
                   len(list_filter(toks,
                       x -> x IN ('nofollow', 'none'))) > 0 AS nofollow
            FROM t ORDER BY doc_id
        """,
        # image_dhash: every pixel re-derived from the sha256 chain,
        # all 64 grid comparisons + two's-complement packing in SQL
        "image_dhash": _image_dhash_sql(),
        # audio_fingerprint: every sample re-derived from the sha256
        # chain, both window grids + all 64 comparisons replayed
        "audio_fingerprint": _audio_fingerprint_sql(),
        # video_dhash: every frame pixel re-derived from the per-frame
        # sha256 chains, all 64 comparisons replayed per (doc, frame)
        "video_dhash": _video_dhash_sql(),
        # global_para_dedup: injection, split, normalization, winner
        # window and both rebuilds replayed byte-exactly
        "global_para_dedup": _global_para_dedup_sql(),
        # incremental_para_dedup: wave split, key store, anti-join,
        # both winner windows and rebuilds replayed byte-exactly
        "incremental_para_dedup": _incremental_para_dedup_sql(),
        "hll_distinct": _hll_distinct_sql(),
        "cms_word_counts": _cms_word_counts_sql(),
        "kmv_overlap": _kmv_overlap_sql(),
        "bloom_membership": _bloom_membership_sql(),
        "zorder_prune": _zorder_prune_sql(),
        "quantile_sketch": _quantile_sketch_sql(),
        "media_type_route": _media_type_route_sql(),
        "containment_pairs": r"""
            WITH src AS (SELECT doc_id, text FROM documents
                         WHERE doc_id < 80),
            w0 AS (SELECT doc_id,
                     list_slice(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0), 1, 2000) AS ws
                   FROM src),
            exc AS (SELECT doc_id + 10000 AS doc_id,
                      array_to_string(list_slice(ws, 1, 30), ' ') AS text
                    FROM w0 WHERE doc_id % 4 = 0),
            allw AS (
              SELECT doc_id, ws FROM w0
              UNION ALL
              SELECT doc_id,
                     list_slice(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0), 1, 2000) AS ws
              FROM exc),
            g AS (SELECT doc_id, unnest(list_distinct(CASE
                    WHEN len(ws) >= 3 THEN
                      list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                    WHEN len(ws) > 0 THEN [array_to_string(ws, ' ')]
                    ELSE [] END)) AS gram
                  FROM allw),
            h AS (SELECT doc_id, sha256(gram) AS hk FROM g),
            cnt AS (SELECT hk, count(*) AS docs FROM h GROUP BY 1),
            guarded AS (SELECT doc_id, h.hk, docs
                        FROM h JOIN cnt USING (hk) WHERE docs <= 60),
            sizes AS (SELECT doc_id, count(*)::BIGINT AS ng
                      FROM guarded GROUP BY 1),
            joinable AS (SELECT doc_id, hk FROM guarded WHERE docs >= 2),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             count(*)::BIGINT AS inter
                      FROM joinable a JOIN joinable b
                        ON a.hk = b.hk AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            wsz AS (SELECT id_a, id_b, inter, sa.ng AS na, sb.ng AS nb
                    FROM inter
                    JOIN sizes sa ON sa.doc_id = id_a
                    JOIN sizes sb ON sb.doc_id = id_b),
            fin AS (SELECT
                      CASE WHEN na < nb OR (na = nb AND id_a < id_b)
                           THEN id_a ELSE id_b END AS id_small,
                      CASE WHEN na < nb OR (na = nb AND id_a < id_b)
                           THEN id_b ELSE id_a END AS id_big,
                      least(na, nb) AS n_small,
                      greatest(na, nb) AS n_big, inter,
                      round(inter::DOUBLE / least(na, nb), 6)
                        ::DECIMAL(18,6) AS containment
                    FROM wsz)
            SELECT id_small, id_big, n_small, n_big, inter, containment,
                   (id_small - 10000 = id_big OR id_big - 10000 = id_small)
                     AS planted
            FROM fin WHERE containment >= 0.9
            ORDER BY id_small, id_big
        """,
        "sitemap_recrawl": r"""
            WITH src AS (
              SELECT regexp_extract(url, '/article/(\d+)$', 1)::BIGINT
                         AS doc_id,
                     url, warc_ts,
                     regexp_extract(url, '^https?://([^/]+)', 1) AS host
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + r"""')),
            ent AS (
              SELECT host, doc_id,
                '<url><loc>' || url || '</loc>'
                || CASE WHEN doc_id % 3 = 2
                        THEN '<lastmod>2025-01-02</lastmod>'
                        WHEN doc_id % 3 = 1
                        THEN '<lastmod>2024-12-31</lastmod>'
                        ELSE '' END
                || '</url>' AS e
              FROM src WHERE doc_id % 2 = 0),
            xml AS (
              SELECT host, string_agg(e, '' ORDER BY doc_id) AS x
              FROM ent GROUP BY host),
            blocks AS (
              SELECT host,
                unnest(regexp_extract_all(x,
                  '(?is)<url\s*>(.*?)</url\s*>', 1)) AS b
              FROM xml),
            fields AS (
              SELECT
                nullif(regexp_extract(b,
                  '(?is)<loc\s*>\s*(.*?)\s*</loc\s*>', 1), '') AS loc,
                nullif(regexp_extract(b,
                  '(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>', 1),
                  '') AS lastmod
              FROM blocks),
            sm AS (
              SELECT loc,
                     max(CAST(substr(lastmod, 1, 10) AS DATE)) AS lm
              FROM fields WHERE loc IS NOT NULL GROUP BY loc)
            SELECT s.doc_id,
                   coalesce(sm.lm > CAST(s.warc_ts AS DATE), FALSE)
                       AS sitemap_stale,
                   sm.lm AS sitemap_lastmod
            FROM src s LEFT JOIN sm ON sm.loc = s.url
            ORDER BY s.doc_id
        """,
        # url_revisit_dedup: canonicalization replayed (url_canonical
        # stages) + the identical survivor window (ts DESC, url DESC)
        "url_revisit_dedup": r"""
            WITH u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                      ELSE 'https://' END)
                || (CASE WHEN doc_id % 3 = 0 THEN upper(source)
                         ELSE source END)
                || '.com'
                || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                         WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END)
                || '/page/' || (doc_id % 40)::VARCHAR
                || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
                         WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
                         ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
                  AS url,
                TIMESTAMP '2025-01-01 00:00:00'
                  + INTERVAL (doc_id * 37) SECOND AS warc_ts
              FROM documents WHERE doc_id < 3000),
            p AS (SELECT doc_id,
                         regexp_replace(url, '#.*$', '') AS base FROM u),
            x AS (SELECT doc_id,
              lower(regexp_extract(base,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
              regexp_extract(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
              regexp_extract(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                    1) AS path,
              regexp_extract(base, '\?([^#]*)', 1) AS query
              FROM p),
            y AS (SELECT doc_id, scheme,
              regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
              lower(regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                    '^([^:]*)', 1)) AS host,
              regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                    ':(\d+)$', 1) AS port,
              CASE WHEN path = '' THEN '/' ELSE path END AS path,
              list_aggregate(list_sort(list_filter(
                string_split(query, '&'),
                q -> q != '' AND NOT regexp_matches(q,
                  '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)='))),
                'string_agg', '&') AS qstr
              FROM x),
            c AS (SELECT doc_id,
              scheme || '://' || userinfo || host
              || (CASE WHEN port != ''
                        AND NOT (scheme = 'http' AND port = '80')
                        AND NOT (scheme = 'https' AND port = '443')
                  THEN ':' || port ELSE '' END)
              || path
              || (CASE WHEN coalesce(qstr, '') != ''
                  THEN '?' || qstr ELSE '' END) AS canon
              FROM y),
            j AS (SELECT u.doc_id, u.url, u.warc_ts, c.canon
                  FROM u JOIN c USING (doc_id)),
            w AS (SELECT *, row_number() OVER (PARTITION BY canon
                    ORDER BY warc_ts DESC, url DESC) AS rn FROM j)
            SELECT canon AS url_canonical, doc_id, warc_ts
            FROM w WHERE rn = 1 ORDER BY url_canonical
        """,
        # equal a flat SQL filter over both waves; files_pruned is the
        # in-plan proof that the bounds actually narrowed the file set
        "iceberg_data_skipping": """
            WITH u AS (
              SELECT doc_id, lang, text FROM documents
              WHERE doc_id % 2 = 0
              UNION ALL
              SELECT doc_id + 1000000, lang, text FROM documents
              WHERE doc_id % 2 = 1
            )
            SELECT lang,
                   count(*) AS n_docs,
                   sum(doc_id)::BIGINT AS sum_ids,
                   min(md5(text)) AS min_md5,
                   TRUE AS files_pruned
            FROM u WHERE doc_id >= 1000000
            GROUP BY lang ORDER BY lang
        """,
        # url_canonical: every normalization step replayed — scheme/host
        # lowering, default-port strip, fragment drop, tracking-param
        # removal, query sort, empty-path normalization
        "url_canonical": r"""
            WITH u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                      ELSE 'https://' END)
                || (CASE WHEN doc_id % 3 = 0 THEN upper(source)
                         ELSE source END)
                || '.com'
                || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                         WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END)
                || '/page/' || (doc_id % 40)::VARCHAR
                || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&b=2&a=1'
                         WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
                         ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)
                  AS url
              FROM documents WHERE doc_id < 3000),
            p AS (SELECT doc_id,
                         regexp_replace(url, '#.*$', '') AS base FROM u),
            x AS (SELECT doc_id,
              lower(regexp_extract(base,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
              regexp_extract(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
              regexp_extract(base,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)',
                    1) AS path,
              regexp_extract(base, '\?([^#]*)', 1) AS query
              FROM p),
            y AS (SELECT doc_id, scheme,
              regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
              lower(regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                    '^([^:]*)', 1)) AS host,
              regexp_extract(regexp_replace(auth, '^[^@]*@', ''),
                    ':(\d+)$', 1) AS port,
              CASE WHEN path = '' THEN '/' ELSE path END AS path,
              list_aggregate(list_sort(list_filter(
                string_split(query, '&'),
                q -> q != '' AND NOT regexp_matches(q,
                  '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)='))),
                'string_agg', '&') AS qstr
              FROM x),
            c AS (SELECT doc_id,
              scheme || '://' || userinfo || host
              || (CASE WHEN port != ''
                        AND NOT (scheme = 'http' AND port = '80')
                        AND NOT (scheme = 'https' AND port = '443')
                  THEN ':' || port ELSE '' END)
              || path
              || (CASE WHEN coalesce(qstr, '') != ''
                  THEN '?' || qstr ELSE '' END) AS canon
              FROM y)
            SELECT canon, count(*) AS n_variants, min(doc_id) AS first_id
            FROM c GROUP BY 1 ORDER BY 1
        """,
        # dsir_select: the full importance-resampling chain replayed in
        # SQL — hashed uni/bigram features, both smoothed bucket LMs,
        # decimal-exact per-doc weight sums, Gumbel-top-k selection
        "dsir_select": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 2000),
            tgt AS (
              SELECT text FROM documents
              WHERE doc_id < 2000 AND lang = 'en'),
            cw AS (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:500] AS ws FROM corpus),
            tw AS (SELECT
                   list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               w -> len(w) > 0)[1:500] AS ws FROM tgt),
            cb AS (SELECT doc_id,
                   ('0x' || substr(sha256(g), 1, 8))::BIGINT % 4096
                       AS bucket
                   FROM (SELECT doc_id, unnest(ws || list_transform(
                           range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1])) AS g FROM cw)),
            tb AS (SELECT
                   ('0x' || substr(sha256(g), 1, 8))::BIGINT % 4096
                       AS bucket
                   FROM (SELECT unnest(ws || list_transform(
                           range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1])) AS g FROM tw)),
            tcnt AS (SELECT bucket, count(*) AS tc FROM tb GROUP BY 1),
            rcnt AS (SELECT bucket, count(*) AS rc FROM cb GROUP BY 1),
            tot AS (SELECT
                    (SELECT coalesce(sum(tc), 0) FROM tcnt) AS T,
                    (SELECT coalesce(sum(rc), 0) FROM rcnt) AS R),
            ratio AS (SELECT coalesce(tcnt.bucket, rcnt.bucket) AS bucket,
                      round(ln((coalesce(tc, 0) + 1)::DOUBLE / (T + 4096))
                          - ln((coalesce(rc, 0) + 1)::DOUBLE / (R + 4096)),
                            9)::DECIMAL(18,9) AS log_ratio
                      FROM tcnt FULL OUTER JOIN rcnt
                        ON tcnt.bucket = rcnt.bucket, tot),
            w AS (SELECT cb.doc_id, count(*) AS n_feats,
                         sum(log_ratio) AS lw
                  FROM cb JOIN ratio USING (bucket) GROUP BY 1),
            fw AS (SELECT c.doc_id, coalesce(n_feats, 0) AS n_feats,
                          coalesce(lw, 0) AS lw
                   FROM corpus c LEFT JOIN w ON c.doc_id = w.doc_id),
            scored AS (SELECT doc_id, n_feats,
                       round(lw::DOUBLE, 6) AS log_weight,
                       round(lw::DOUBLE - ln(-ln(
                         (((doc_id % 2147483648 + 11) % 2147483648)
                          * 2654435761 % 4294967296 + 0.5)
                         / 4294967296.0)), 4) AS score
                       FROM fw),
            sel AS (SELECT * FROM scored
                    ORDER BY score DESC, doc_id LIMIT 300)
            SELECT doc_id, n_feats, log_weight, score
            FROM sel ORDER BY doc_id
        """,
        # iceberg_evolution: three waves replayed flat — wave 1/2 files
        # were written under the pre-rename column name and the narrow
        # int type, wave 3 under the current schema; the Spark side
        # reads them all through the alias trail + Parquet widening
        # AFTER manifest compaction and snapshot expiry deleted the
        # historical layout
        "iceberg_evolution": """
            WITH u AS (
              SELECT doc_id, lang, text AS body,
                     (doc_id % 1000) AS hits, 'w1' AS wave
              FROM documents
              UNION ALL
              SELECT doc_id + 10000000, lang, text,
                     (doc_id % 1000), 'w2'
              FROM documents
              UNION ALL
              SELECT doc_id + 20000000, lang, text,
                     (doc_id % 1000 + 3000000000), 'w3'
              FROM documents
            )
            SELECT lang, wave,
                   count(*) AS n_docs,
                   count(DISTINCT doc_id) AS n_ids,
                   sum(hits)::BIGINT AS sum_hits,
                   sum(length(body))::BIGINT AS sum_chars,
                   min(md5(body)) AS min_md5
            FROM u
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        # the 8 pruned bucket reads must tile documents exactly, and
        # every row's in-plan recomputed bucket must equal the bucket
        # that served it
        "iceberg_bucket_prune": """
            SELECT doc_id,
                   sha256(text) AS text_sha,
                   lang,
                   TRUE AS bucket_ok
            FROM documents
            ORDER BY doc_id
        """,
        "html_extract_text": ("""
            SELECT regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT AS doc_id,
                   sha256(text) AS extract_sha,
                   length(text)::BIGINT AS n_chars
            FROM read_parquet('""" + WEBCORPUS_FIXTURE + """')
            ORDER BY doc_id
        """),
        # pdf_extract_text: the oracle hashes the projection computed
        # directly from the text column; the Spark side must recover it
        # from the PDF bytes it rendered in-plan
        "pdf_extract_text": r"""
            SELECT doc_id,
                   sha256(regexp_replace(text, '[^\x20-\x7e\n]', '?',
                                         'g')) AS pdf_sha,
                   length(regexp_replace(text, '[^\x20-\x7e\n]', '?',
                                         'g'))::BIGINT AS n_chars
            FROM documents
            ORDER BY doc_id
        """,
        # office_extract_text: the oracle hashes the XML-legal
        # projection computed directly from the text column and pins
        # the per-doc_id container route; the Spark side must recover
        # it from the docx/odt/rtf/doc/epub bytes it rendered in-plan
        "office_extract_text": r"""
            SELECT doc_id,
                   (['docx','odt','rtf','doc','epub'])[(doc_id % 5) + 1]
                       AS fmt,
                   TRUE AS routed_ok,
                   sha256(regexp_replace(text,
                       '[\x00-\x08\x0B-\x1F\x7F]', '', 'g')) AS text_sha,
                   length(regexp_replace(text,
                       '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'))::BIGINT
                       AS n_chars
            FROM documents
            ORDER BY doc_id
        """,
        # web_table_columns: rebuild the planted table cells straight
        # from the documents table and replay the per-column counts,
        # confidence formula and strict-> threshold; the Spark side
        # must recover identical numbers from the html it built,
        # parsed and classified distributively
        "web_table_columns": r"""
            WITH base AS (
              SELECT 'https://tables.example/' || source AS url, doc_id,
                     CASE WHEN doc_id % 13 = 0 THEN ''
                          ELSE lang END AS v_lang,
                     CAST(n_chars AS VARCHAR) AS v_n,
                     CASE WHEN doc_id % 29 = 0 THEN 'zz'
                          ELSE printf('%08x', doc_id) END AS v_ref
              FROM documents),
            cols AS (
              SELECT url, 0 AS col_idx, 'lang' AS header,
                     v_lang AS value FROM base
              UNION ALL
              SELECT url, 1, 'n_chars', v_n FROM base
              UNION ALL
              SELECT url, 2, 'doc_ref', v_ref FROM base),
            agg AS (
              SELECT url, col_idx, any_value(header) AS header,
                     COUNT(*)::BIGINT AS n_rows,
                     SUM(CASE WHEN length(value) = 0
                              THEN 1 ELSE 0 END)::BIGINT AS n_empty,
                     SUM(CASE WHEN length(value) = 2 AND lower(value)
                              IN ('en','fr','de','es','zh')
                              THEN 1 ELSE 0 END) AS s_lang,
                     SUM(CASE WHEN length(value) = 8 AND
                              regexp_matches(value, '^[0-9a-f]{8}')
                              THEN 1 ELSE 0 END) AS s_hex
              FROM cols GROUP BY url, col_idx),
            hits AS (
              SELECT url, col_idx, header, n_rows, n_empty,
                     'field' AS ruletype, 'hdr_lang' AS ruleid,
                     'language' AS dataclass, 100.0 AS confidence,
                     FALSE AS is_pii
              FROM agg WHERE lower(header) = 'lang'
              UNION ALL
              SELECT url, col_idx, header, n_rows, n_empty,
                     'data', 'langtag', 'languagetag',
                     round(s_lang * 100.0 / (n_rows - n_empty), 6),
                     FALSE
              FROM agg WHERE n_rows > n_empty
                AND s_lang * 100.0 / (n_rows - n_empty) > 50.0
              UNION ALL
              SELECT url, col_idx, header, n_rows, n_empty,
                     'data', 'hex8', 'hexref',
                     round(s_hex * 100.0 / (n_rows - n_empty), 6),
                     FALSE
              FROM agg WHERE n_rows > n_empty
                AND s_hex * 100.0 / (n_rows - n_empty) > 50.0)
            SELECT * FROM hits ORDER BY url, col_idx, ruleid
        """,
        "warc_roundtrip": ("""
            SELECT regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT AS doc_id,
                   sha256(url) AS url_sha,
                   sha256(text) AS extract_sha,
                   length(text)::BIGINT AS n_chars,
                   200::INT AS http_status,
                   strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_dt
            FROM read_parquet('""" + WEBCORPUS_FIXTURE + """')
            ORDER BY doc_id
        """),
        "wet_roundtrip": ("""
            SELECT regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT AS doc_id,
                   sha256(url) AS url_sha,
                   sha256(text) AS text_sha,
                   length(text)::BIGINT AS n_chars,
                   strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_dt
            FROM read_parquet('""" + WEBCORPUS_FIXTURE + """')
            ORDER BY doc_id
        """),
        "corpus_pipeline": (
            """
            WITH src AS (
              SELECT regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT AS doc_id,
                     text AS t
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + """')),"""
            + ppl_model + "," + ppl_score_bytes + "," + langid_frag + ","
            + quality_frag + """,
            pii AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '""" + _EMAIL_RE2 + """'))
                     + len(regexp_extract_all(t, '""" + _UUID_RE2 + """'))
                     + len(regexp_extract_all(t, '""" + _PHONE_RE2 + """')) AS pii_total
              FROM src),
            dec AS (
              SELECT s.doc_id, l.lang_pred, q.q_pass, p.ppl, i.pii_total,
                     i.pii_total * 1000.0 / greatest(length(s.t), 1) AS pii_per_kchar
              FROM src s JOIN lpred l USING (doc_id) JOIN qp q USING (doc_id)
                   JOIN pfin p USING (doc_id) JOIN pii i USING (doc_id)),
            fin AS (
              SELECT doc_id, lang_pred, q_pass, ppl, pii_total, pii_per_kchar,
                     CASE WHEN lang_pred = 'und' THEN 'lang_unknown'
                          WHEN NOT q_pass THEN 'quality'
                          WHEN lang_pred IN ('en', 'fr', 'de', 'es')
                               AND ppl > 33.2 THEN 'perplexity'
                          WHEN pii_per_kchar > 2.9 THEN 'pii_density'
                          ELSE 'none' END AS drop_reason
              FROM dec)
            SELECT doc_id, lang_pred, q_pass, round(ppl, 4) AS ppl, pii_total,
                   round(pii_per_kchar, 4) AS pii_per_kchar,
                   drop_reason = 'none' AS keep, drop_reason
            FROM fin ORDER BY doc_id
        """),
        "pii_scrub_hashes": (
            """
            WITH src AS (
              SELECT url, text AS t
              FROM read_parquet('""" + WEBCORPUS_FIXTURE + """')
              WHERE regexp_extract(url, '/article/(\\d+)$', 1)::BIGINT < 300),
            scrub AS (
              SELECT url,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t,
                           '""" + _EMAIL_RE2 + """', '<EMAIL>', 'g'),
                         '""" + _UUID_RE2 + """', '<UUID>', 'g'),
                       '""" + _PHONE_RE2 + """', '<PHONE>', 'g') AS s,
                     len(regexp_extract_all(t, '""" + _EMAIL_RE2 + """')) AS n_email,
                     len(regexp_extract_all(t, '""" + _UUID_RE2 + """')) AS n_uuid,
                     len(regexp_extract_all(t, '""" + _PHONE_RE2 + """')) AS n_phone
              FROM src)
            SELECT url, sha256(s) AS scrub_sha256, n_email, n_uuid, n_phone
            FROM scrub ORDER BY url
        """),
        "cosine_pairs_exact": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 300)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.4
            ORDER BY 1, 2
        """,
        "minhash_near_dups_sha": r"""
            WITH w AS (
              SELECT doc_id,
                     list_slice(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0), 1, 2000) AS ws
              FROM documents WHERE doc_id < 150),
            g AS (
              SELECT doc_id,
                     list_distinct(CASE
                       WHEN len(ws) >= 2 THEN
                         list_transform(range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1])
                       WHEN len(ws) > 0 THEN [array_to_string(ws, ' ')]
                       ELSE [] END) AS sh
              FROM w),
            s AS (
              SELECT doc_id, sh,
                     list_transform(range(0, 12),
                       k -> list_aggregate(
                              list_transform(sh, x -> sha256(k || ':' || x)),
                              'min')) AS sig
              FROM g WHERE len(sh) > 0),
            b AS (
              SELECT doc_id, band,
                     sig[band*2+1] || ',' || sig[band*2+2] AS key
              FROM s, range(0, 6) r(band)),
            cnt AS (SELECT band, key, count(*) AS n FROM b GROUP BY 1, 2),
            ok AS (SELECT b.doc_id, b.band, b.key
                   FROM b JOIN cnt USING (band, key)
                   WHERE cnt.n BETWEEN 2 AND 1000),
            p AS (
              SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              FROM ok a JOIN ok b2
                ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id),
            j AS (
              SELECT p.id_a, p.id_b,
                     len(list_intersect(ga.sh, gb.sh)) * 1.0
                       / len(list_distinct(list_concat(ga.sh, gb.sh))) AS jac
              FROM p JOIN g ga ON ga.doc_id = p.id_a
                     JOIN g gb ON gb.doc_id = p.id_b)
            SELECT id_a, id_b, round(jac, 4) AS jaccard
            FROM j WHERE jac >= 0.0 ORDER BY id_a, id_b
        """,
        # full replay of the incremental cross-snapshot dedup chain:
        # both sides' sha256-min signatures, band keys, bucket-count
        # guard, the integer agreement bar (ceil(0.8*12) = 10), and the
        # keep-first-by-id policy with prior/new provenance counts
        "incremental_dedup": r"""
            WITH prior_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 100),
            new_docs AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id >= 100 AND doc_id < 200
              UNION ALL
              SELECT doc_id + 10000, text FROM documents WHERE doc_id < 15
              UNION ALL
              SELECT doc_id + 20000, text FROM documents
              WHERE doc_id >= 100 AND doc_id < 110),
            allside AS (
              SELECT 'p' AS src, doc_id, text FROM prior_docs
              UNION ALL SELECT 'n', doc_id, text FROM new_docs),
            w AS (
              SELECT src, doc_id,
                     list_slice(list_filter(
                       string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> length(x) > 0), 1, 2000) AS ws
              FROM allside),
            g AS (
              SELECT src, doc_id,
                     list_distinct(CASE
                       WHEN len(ws) >= 2 THEN
                         list_transform(range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1])
                       WHEN len(ws) > 0 THEN [array_to_string(ws, ' ')]
                       ELSE [] END) AS sh
              FROM w),
            s AS (
              SELECT src, doc_id,
                     list_transform(range(0, 12),
                       k -> list_aggregate(
                              list_transform(sh, x -> sha256(k || ':' || x)),
                              'min')) AS sig
              FROM g WHERE len(sh) > 0),
            b AS (
              SELECT src, doc_id, band,
                     sig[band*2+1] || ',' || sig[band*2+2] AS key
              FROM s, range(0, 6) r(band)),
            cnt AS (SELECT band, key, count(*) AS n FROM b GROUP BY 1, 2),
            ok AS (SELECT b.src, b.doc_id, b.band, b.key
                   FROM b JOIN cnt USING (band, key)
                   WHERE cnt.n BETWEEN 2 AND 1000),
            p AS (
              SELECT DISTINCT a.doc_id AS id_a, o.doc_id AS id_b,
                              o.src AS src_b
              FROM ok a JOIN ok o
                ON a.band = o.band AND a.key = o.key
              WHERE a.src = 'n'
                AND (o.src = 'p'
                     OR (o.src = 'n' AND o.doc_id < a.doc_id))),
            v AS (
              SELECT p.id_a, p.id_b, p.src_b,
                     list_sum(list_transform(range(1, 13),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i]
                            THEN 1 ELSE 0 END)) AS eq
              FROM p
              JOIN s sa ON sa.doc_id = p.id_a AND sa.src = 'n'
              JOIN s sb ON sb.doc_id = p.id_b AND sb.src = p.src_b),
            d AS (
              SELECT id_a,
                     sum(CASE WHEN src_b = 'p' THEN 1 ELSE 0 END) AS np,
                     sum(CASE WHEN src_b = 'n' THEN 1 ELSE 0 END) AS nn
              FROM v WHERE eq >= 10 GROUP BY 1)
            SELECT n.doc_id,
                   coalesce(np, 0) + coalesce(nn, 0) = 0 AS keep,
                   CAST(coalesce(np, 0) AS BIGINT) AS n_prior_dups,
                   CAST(coalesce(nn, 0) AS BIGINT) AS n_new_dups
            FROM new_docs n LEFT JOIN d ON d.id_a = n.doc_id
            ORDER BY doc_id
        """,
    }
