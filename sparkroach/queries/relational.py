"""SURVEY.md §2B query operators, instantiated over the driver testdata.

The reference's read surface (plugin/exporter/idb/idb.go:171-387) is a
matrix of filter/join/page operators over its nine tables.  FIXTURES.md §C
maps that surface onto the driver's TPC-H-ish tables: ``lineitem`` plays
``txn`` (composite PK (l_orderkey, l_linenumber) ≈ (round, intra)),
``orders`` plays ``block_header``, ``customer`` plays ``account``, ``part``
plays ``asset``, ``supplier`` plays ``app``, ``documents`` plays ``app_box``
and ``events`` plays the metastate/jsonb plane.

Numeric discipline (see registry docstring): aggregate in DECIMAL, cast to
DOUBLE last, identically on both sides.  Every LIMIT query orders by a
unique key so the row-set is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkroach.queries.registry import register
from sparkroach.tables import load

# ---------------------------------------------------------------------------
# Transactions surface (TransactionFilter, idb.go:180-233)
# ---------------------------------------------------------------------------


@register(
    "txn_point_lookup",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
        FROM orders WHERE o_orderkey = 421
    """,
    survey_ref="§2B Txid point lookup (idb.go:197; index txn_by_tixid sql:30)",
    description="point lookup by unique key — txid analog",
)
def txn_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") == 421)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderdate",
        )
    )


@register(
    "txn_round_range",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_partkey,
               CAST(l_quantity AS DOUBLE) AS l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    survey_ref="§2B MinRound/MaxRound range filter (idb.go:192-193)",
    description="range predicate on the natural partition key — partition pruning at scale",
)
def txn_round_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        "l_shipdate",
    )


@register(
    "txn_keyset_pagination",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_partkey,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
        FROM lineitem
        WHERE (l_orderkey > 500) OR (l_orderkey = 500 AND l_linenumber > 2)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice
        LIMIT 100
    """,
    survey_ref="§2B NextToken keyset pagination (idb.go:56-100, 218; A24)",
    description="composite-key keyset page: WHERE (round,intra) > (r,i) ORDER BY LIMIT",
)
def txn_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    after = (F.col("l_orderkey") > 500) | (
        (F.col("l_orderkey") == 500) & (F.col("l_linenumber") > 2)
    )
    return (
        li.where(after)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        )
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        # extend the sort until the page cutoff is deterministic
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
        .limit(100)
    )


@register(
    "txn_keyset_page_desc",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_partkey,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
        FROM lineitem
        WHERE (l_orderkey < 500) OR (l_orderkey = 500 AND l_linenumber < 2)
        ORDER BY l_orderkey DESC, l_linenumber DESC, l_partkey DESC,
                 l_extendedprice DESC
        LIMIT 100
    """,
    survey_ref="§2B descending keyset page (TxnRow.Next(ascending=false) "
    "idb.go:56-84; DESC participation index sql:33-40)",
    description="composite-key keyset page in DESCENDING order: WHERE "
    "(round,intra) < (r,i) ORDER BY round DESC, intra DESC LIMIT — the "
    "newest-first paging path every indexer client uses",
)
def txn_keyset_page_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    before = (F.col("l_orderkey") < 500) | (
        (F.col("l_orderkey") == 500) & (F.col("l_linenumber") < 2)
    )
    return (
        li.where(before)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        )
        .orderBy(
            F.col("l_orderkey").desc(),
            F.col("l_linenumber").desc(),
            F.col("l_partkey").desc(),
            F.col("l_extendedprice").desc(),
        )
        .limit(100)
    )


@register(
    "txn_type_filter",
    oracle="""
        SELECT event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    """,
    survey_ref="§2B TypeEnum filter (idb.go:196; txn_type_enum.go:16-33)",
    description="enum-valued filter + grouped agg — typeenum analog",
)
def txn_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "txn_note_prefix",
    oracle="""
        SELECT p_partkey, p_name, p_brand
        FROM part
        WHERE p_name LIKE 'red %'
        ORDER BY p_partkey
    """,
    survey_ref="§2B NotePrefix binary prefix match (idb.go:203)",
    description="prefix predicate — startswith pushes to parquet scan",
)
def txn_note_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.where(F.col("p_name").startswith("red "))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


@register(
    "txn_amount_range",
    oracle="""
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders
        WHERE o_totalprice > 400000.0 AND o_totalprice < 450000.0
        ORDER BY o_orderkey
    """,
    survey_ref="§2B AlgosGT/LT amount bounds (idb.go:204-205)",
    description="numeric range filter — amount-bounds analog",
)
def txn_amount_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.where((F.col("o_totalprice") > 400000.0) & (F.col("o_totalprice") < 450000.0))
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


@register(
    "txn_effective_amount",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                   AS effective_price
        FROM lineitem
        WHERE CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))) > 90000
        ORDER BY l_orderkey, l_linenumber
    """,
    survey_ref="§2B EffectiveAmountGT/LT computed-column filter (idb.go:214-215)",
    description="filter on a derived arithmetic column (amount + close-amount analog)",
)
def txn_effective_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    eff = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            eff.cast("double").alias("effective_price"),
            eff.alias("_eff"),
        )
        .where(F.col("_eff") > 90000)
        .drop("_eff")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "txn_time_window_join",
    oracle="""
        SELECT l.l_returnflag,
               count(*) AS n,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-07-01'
        GROUP BY l.l_returnflag
    """,
    survey_ref="§2B AfterTime/BeforeTime via block_header join (idb.go:194-195; sql:15)",
    description="fact-to-header time-window join — txn ⋈ block_header.realtime analog",
)
def txn_time_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "participation_semijoin",
    bench=True,  # r02: the chain-read path (address+range semi-join page) in the headline set
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderdate
        FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_partkey = 7)
        ORDER BY o_orderkey
    """,
    survey_ref="§2B Address participation semi-join (idb.go:188-190; sql:33-40)",
    description="left-semi join through the inverted index — participation analog",
)
def participation_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") == 7)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .orderBy("o_orderkey")
    )


@register(
    "txn_json_field_filter",
    oracle="""
        SELECT event_id, user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 95
        ORDER BY event_id
    """,
    survey_ref="§1.1 jsonb nested-document predicate (txn.txn jsonb, sql:24)",
    description="predicate on a field inside a JSON document column",
)
def txn_json_field_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_id", "user_id", k.alias("k"))
        .where(F.col("k") >= 95)
        .orderBy("event_id")
    )


@register(
    "block_with_payset",
    oracle="""
        SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_partkey,
               CAST(l.l_quantity AS DOUBLE) AS l_quantity
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey = 100
        ORDER BY l.l_linenumber
    """,
    survey_ref="§2B GetBlockOptions header+payset fetch (idb.go:171-177)",
    description="header point-lookup with payset join — block fetch analog",
)
def block_with_payset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") == 100)
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            "l_linenumber",
            "l_partkey",
            F.col("l_quantity").cast("double").alias("l_quantity"),
        )
        .orderBy("l_linenumber")
    )


# ---------------------------------------------------------------------------
# Accounts surface (AccountQueryOptions, idb.go:236-269)
# ---------------------------------------------------------------------------


@register(
    "account_keyset_page",
    oracle="""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_name > 'Customer#000000049'
        ORDER BY c_name
        LIMIT 50
    """,
    survey_ref="§2B GreaterThanAddress keyset paging (idb.go:237-238)",
    description="ordered keyset page over the account-keyed dimension",
)
def account_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_name") > "Customer#000000049")
        .select("c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal"))
        .orderBy("c_name")
        .limit(50)
    )


@register(
    "account_balance_filter",
    oracle="""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_acctbal > 9000.0
        ORDER BY c_custkey
    """,
    survey_ref="§2B AlgosGreaterThan/LessThan (idb.go:244-246)",
    description="balance-bound filter — microalgos analog",
)
def account_balance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_acctbal") > 9000.0)
        .select("c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal"))
        .orderBy("c_custkey")
    )


@register(
    "account_has_asset_semijoin",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0
        )
        ORDER BY c.c_custkey
    """,
    survey_ref="§2B HasAssetID/AssetGT/AssetLT resource semi-join (idb.go:248-253)",
    description="account rows owning a qualifying resource — pushed-down semi-join "
    "(improves on the reference's post-SQL residual filter)",
)
def account_has_asset_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "account_resources_agg",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               count(o.o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
                   AS total_spent
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY c.c_custkey
    """,
    survey_ref="§2B IncludeAssetHoldings/... resource aggregation (idb.go:257-260)",
    description="account left-joined to its resources with per-account rollup",
)
def account_resources_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "account_max_resources_guard",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) > 14
        ORDER BY o_custkey
    """,
    survey_ref="§2B MaxResources guard (idb.go:263, 278-286)",
    description="resource-count guard — accounts exceeding the per-account cap",
)
def account_max_resources_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") > 14)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Assets / balances surface (AssetsQuery idb.go:289-307, AssetBalanceQuery :321-337)
# ---------------------------------------------------------------------------


@register(
    "asset_ilike_search",
    oracle="""
        SELECT p_partkey, p_name, p_type
        FROM part
        WHERE lower(p_name) LIKE '%gear%' OR lower(p_type) LIKE '%promo%'
        ORDER BY p_partkey
    """,
    survey_ref="§2B case-insensitive substring name/unit search (idb.go:296-301)",
    description="ILIKE fuzzy search over asset name OR unit",
)
def asset_ilike_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.where(
            F.lower(F.col("p_name")).contains("gear")
            | F.lower(F.col("p_type")).contains("promo")
        )
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    )


@register(
    "asset_keyset_page",
    oracle="""
        SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
        FROM part
        WHERE p_partkey > 120
        ORDER BY p_partkey
        LIMIT 40
    """,
    survey_ref="§2B asset id > x paging (idb.go:290-291)",
    description="id-keyed keyset page over the asset dimension",
)
def asset_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.where(F.col("p_partkey") > 120)
        .select(
            "p_partkey", "p_name", F.col("p_retailprice").cast("double").alias("p_retailprice")
        )
        .orderBy("p_partkey")
        .limit(40)
    )


@register(
    "asset_balance_query",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_suppkey,
               CAST(CAST(l_quantity AS DECIMAL(20,0)) AS DOUBLE) AS amount
        FROM lineitem
        WHERE l_partkey = 42
          AND CAST(l_quantity AS DECIMAL(20,0)) > 10
        ORDER BY l_orderkey, l_linenumber
    """,
    survey_ref="§2B AssetBalanceQuery amount GT/LT decimal compare (idb.go:321-337; sql:59)",
    description="holders of one asset with decimal(20,0) amount bounds — uint64-safe path",
)
def asset_balance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    amt = F.col("l_quantity").cast("decimal(20,0)")
    return (
        li.where((F.col("l_partkey") == 42) & (amt > 10))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            amt.cast("double").alias("amount"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "app_creator_filter",
    oracle="""
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier
        WHERE s_nationkey = 3
        ORDER BY s_suppkey
    """,
    survey_ref="§2B ApplicationQuery creator-address filter (idb.go:358-364; sql:100)",
    description="creator-keyed dimension lookup — app-by-creator analog",
)
def app_creator_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    return (
        s.where(F.col("s_nationkey") == 3)
        .select("s_suppkey", "s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


@register(
    "box_keyset_page",
    oracle="""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE source = 'src3' AND doc_id > 100
        ORDER BY doc_id
        LIMIT 20
    """,
    survey_ref="§2B ApplicationBoxQuery name paging + OmitValues projection (idb.go:373-380)",
    description="box page: app-scoped, name-keyset, ASC, value column projected away",
)
def box_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.where((F.col("source") == "src3") & (F.col("doc_id") > 100))
        .select("doc_id", "source", "n_chars")  # OmitValues: drop `text`
        .orderBy("doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Health / pruning / metastate (A23, A25)
# ---------------------------------------------------------------------------


@register(
    "health_probe",
    oracle="""
        SELECT max(o_orderkey) AS max_round, count(*) AS n_rounds,
               max(o_orderdate) AS latest_time
        FROM orders
    """,
    survey_ref="§2A A23 health probe (cockroach.go:416-459)",
    description="max accounted round + table count — health analog",
)
def health_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.max("o_orderkey").alias("max_round"),
        F.count("*").alias("n_rounds"),
        F.max("o_orderdate").alias("latest_time"),
    )


@register(
    "prune_candidates",
    oracle="""
        SELECT count(*) AS n_prunable, min(l_shipdate) AS oldest
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1995-06-01'
    """,
    survey_ref="§2A A25 pruning (dummy.go:107-109; metastate key `pruned`)",
    description="rows older than the keep-round — prune planning query",
)
def prune_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.where(F.col("l_shipdate") < "1995-06-01").agg(
        F.count("*").alias("n_prunable"), F.min("l_shipdate").alias("oldest")
    )
