package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.sql.ClickHouseSql

/** End-to-end ClickHouse-dialect queries: CH SQL text → rewriter + alias
  * registry → Catalyst. Oracles are the ANSI equivalents. */
object DialectQueries extends QueryPack {

  private def ch(name: String, chSql: String, oracle: String): Q =
    Q(name, (s, dir) => { Tables.register(s, dir); ClickHouseSql.sql(s, chSql) },
      Some(oracle))

  override def queries: Seq[Q] = Seq(

    // optimize_trivial_count_query (round 7): a bare count() answers from
    // parquet FOOTERS (plans/TrivialCount) — zero executor tasks, no
    // scan; the no-FileScan plan is pinned in PlanAuditSpec. The oracle
    // is the plain count, which the footer sums must equal exactly.
    ch("q_ch_trivial_count",
      "SELECT count() AS n FROM lineitem",
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem"),


    // PREWHERE + FORMAT strip + CH function names, all at once.
    ch("q_ch_prewhere", """
      SELECT l_returnflag, count() AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      PREWHERE l_shipdate >= toDateTime('1997-01-01 00:00:00')
      WHERE l_quantity < 30.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag
      FORMAT JSONEachRow""",
      """
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 30.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // LIMIT n BY key.
    ch("q_ch_limit_by", """
      SELECT user_id, event_id FROM events
      ORDER BY event_id LIMIT 2 BY user_id""",
      """
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events) t
      WHERE rn <= 2
      ORDER BY user_id, event_id"""),

    // CH scalar function names through the alias registry.
    ch("q_ch_functions", """
      SELECT o_orderkey,
        toYear(o_orderdate) AS y,
        toStartOfMonth(o_orderdate) AS ms,
        toYYYYMM(o_orderdate) AS yyyymm,
        plus(toInt64(o_orderkey), 1) AS next_key,
        multiIf(o_orderstatus = 'F', 'done', o_orderstatus = 'O', 'open', 'other') AS st,
        ifNull(nullIf(o_orderpriority, '5-LOW'), 'LOW') AS pr,
        positionUTF8(o_orderpriority, '-') AS dash_at,
        toInt32OrZero(o_orderstatus) AS not_a_number
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000""",
      """
      SELECT o_orderkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        DATE_TRUNC('month', o_orderdate) AS ms,
        CAST(STRFTIME(o_orderdate, '%Y%m') AS INT) AS yyyymm,
        CAST(o_orderkey AS BIGINT) + 1 AS next_key,
        CASE WHEN o_orderstatus = 'F' THEN 'done'
             WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS st,
        COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'LOW') AS pr,
        CAST(POSITION('-' IN o_orderpriority) AS INT) AS dash_at,
        COALESCE(TRY_CAST(o_orderstatus AS INT), 0) AS not_a_number
      FROM orders
      ORDER BY o_orderkey
      LIMIT 1000"""),

    // CH aggregate names (uniqExact, argMax, median, quantileExact) —
    // compare key o_orderkey is unique, so argMax is deterministic.
    ch("q_ch_aggregates", """
      SELECT o_orderpriority,
        uniqExact(o_custkey) AS customers,
        argMax(o_totalprice, o_orderkey) AS price_of_max_key,
        ROUND(median(o_totalprice), 4) AS med_price,
        ROUND(quantileExact(o_totalprice, 0.9), 4) AS p90_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",
      """
      SELECT o_orderpriority,
        COUNT(DISTINCT o_custkey) AS customers,
        MAX_BY(o_totalprice, o_orderkey) AS price_of_max_key,
        ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS med_price,
        ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),

    // CREATE FUNCTION (SQL-lambda UDF) end-to-end: two user lambdas —
    // one nested inside an aggregate — defined via the dialect layer and
    // inlined at rewrite time (UserDefinedSQLFunctionFactory.h:18).
    Q("q_ch_udf", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.createFunction(
        "CREATE FUNCTION price_band AS (p) -> multiIf(p < 50000, 'low', p < 150000, 'mid', 'high')")
      ClickHouseSql.createFunction(
        "CREATE FUNCTION discounted AS (x, d) -> x * (1 - d)")
      ClickHouseSql.sql(s, """
        SELECT price_band(o_totalprice) AS band, count() AS n,
          CAST(SUM(CAST(ROUND(discounted(o_totalprice, 0.1) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS disc_total
        FROM orders
        GROUP BY 1
        ORDER BY band""")
    }, Some("""
      SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid'
                  ELSE 'high' END AS band,
        COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * (1 - 0.1) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS disc_total
      FROM orders
      GROUP BY 1
      ORDER BY band""")),

    // CH `any`/`anyLast` aggregates through the dialect path: `any(` is a
    // REWRITE to any_value (Spark's built-in `any` is bool_or and must not
    // be shadowed); deterministic here because each group has one value.
    ch("q_ch_any", """
      SELECT o_custkey, any(o_orderstatus) AS some_status
      FROM (SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderstatus = 'F') t
      GROUP BY o_custkey
      ORDER BY o_custkey""",
      """
      SELECT o_custkey, MIN(o_orderstatus) AS some_status
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_custkey
      ORDER BY o_custkey"""),

    // multiSearchAny / multiMatchAny through the registry (OR-of-contains
    // / OR-of-rlike rewrite, src/Functions/multiSearchAny.cpp).
    ch("q_ch_multisearch", """
      SELECT p_partkey,
        multiSearchAny(p_name, array('red', 'blue')) AS has_color,
        multiMatchAny(p_type, array('^ECONOMY', 'BRASS$')) AS type_match
      FROM part ORDER BY p_partkey LIMIT 500""",
      """
      SELECT p_partkey,
        (p_name LIKE '%red%' OR p_name LIKE '%blue%') AS has_color,
        (REGEXP_MATCHES(p_type, '^ECONOMY') OR REGEXP_MATCHES(p_type, 'BRASS$')) AS type_match
      FROM part ORDER BY p_partkey LIMIT 500"""),

    // multiSearchAny with a 16-needle literal set — this size compiles to
    // the single-pass Aho-Corasick automaton (MultiSearchExpressions.scala;
    // reference: the Hyperscan dispatch in src/Functions/MultiMatchAnyImpl.h)
    // instead of 16 rescans. The oracle states the OR-of-contains semantics
    // the automaton must reproduce byte-for-byte; q_ch_multisearch above
    // keeps pinning the small-set OR-chain path.
    ch("q_ch_multisearch_many", """
      SELECT doc_id, multiSearchAny(text, array(
          'quantum', 'recipe', 'galaxy', 'parliament', 'volcano',
          'syntax', 'harvest', 'molecule', 'renaissance', 'glacier',
          'protocol', 'symphony', 'bacteria', 'treaty', 'algorithm',
          'monsoon')) AS hit
      FROM documents ORDER BY doc_id""",
      """
      SELECT doc_id,
        (CONTAINS(text, 'quantum') OR CONTAINS(text, 'recipe')
          OR CONTAINS(text, 'galaxy') OR CONTAINS(text, 'parliament')
          OR CONTAINS(text, 'volcano') OR CONTAINS(text, 'syntax')
          OR CONTAINS(text, 'harvest') OR CONTAINS(text, 'molecule')
          OR CONTAINS(text, 'renaissance') OR CONTAINS(text, 'glacier')
          OR CONTAINS(text, 'protocol') OR CONTAINS(text, 'symphony')
          OR CONTAINS(text, 'bacteria') OR CONTAINS(text, 'treaty')
          OR CONTAINS(text, 'algorithm') OR CONTAINS(text, 'monsoon')) AS hit
      FROM documents ORDER BY doc_id"""),

    // ORDER BY ... WITH FILL in SQL form (ASTSelectQuery.h:38 fill
    // clause): dense month axis, gaps filled with the type default (0).
    ch("q_ch_with_fill", """
      SELECT m, n FROM (
        SELECT toMonth(o_orderdate) AS m, count() AS n
        FROM orders
        WHERE o_orderdate < toDateTime('1992-07-01 00:00:00')
        GROUP BY toMonth(o_orderdate))
      ORDER BY m WITH FILL FROM 1 TO 13""",
      """
      SELECT m, COALESCE(n, 0) AS n
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS m) a
      LEFT JOIN (SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m, COUNT(*) AS n
                 FROM orders
                 WHERE o_orderdate < TIMESTAMP '1992-07-01 00:00:00'
                 GROUP BY 1) b USING (m)
      ORDER BY m"""),

    // WITH FILL ... INTERPOLATE (carry-forward over filled rows).
    ch("q_ch_with_fill_interpolate", """
      SELECT m, n FROM (
        SELECT toMonth(o_orderdate) AS m, count() AS n
        FROM orders
        WHERE o_orderdate < toDateTime('1992-07-01 00:00:00')
        GROUP BY toMonth(o_orderdate))
      ORDER BY m WITH FILL FROM 1 TO 13 INTERPOLATE (n)""",
      """
      WITH j AS (
        SELECT m, n
        FROM (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS m) a
        LEFT JOIN (SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m, COUNT(*) AS n
                   FROM orders
                   WHERE o_orderdate < TIMESTAMP '1992-07-01 00:00:00'
                   GROUP BY 1) b USING (m))
      SELECT m, LAST_VALUE(n IGNORE NULLS) OVER (ORDER BY m
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM j
      ORDER BY m"""),

    // WITH FILL ... STALENESS (FillingTransform.h:87): filling stops once
    // the generated value drifts `n` or more past the previous ORIGINAL
    // row. Real rows at m = 0,4,8,12,16 (5 nations per region), staleness
    // 2 → only each real row's immediate successor survives the fill,
    // with the type default (0) for n.
    ch("q_with_fill_staleness", """
      SELECT m, n FROM (
        SELECT n_regionkey * 4 AS m, count() AS n
        FROM nation GROUP BY n_regionkey * 4)
      ORDER BY m WITH FILL FROM 0 TO 20 STALENESS 2""",
      """
      SELECT CAST(m AS INT) AS m, CAST(n AS BIGINT) AS n FROM (VALUES
        (0, 5), (1, 0), (4, 5), (5, 0), (8, 5), (9, 0),
        (12, 5), (13, 0), (16, 5), (17, 0)) t(m, n) ORDER BY m"""),

    // GROUP BY ALL / ORDER BY ALL (the reference's enable_order_by_all /
    // GROUP BY ALL sugar, src/Parsers/ParserSelectQuery.cpp): every
    // non-aggregate select item groups; ORDER BY ALL sorts by the whole
    // select list. Spark 4 speaks both natively — the dialect passes
    // them through; this row pins that they keep working.
    ch("q_ch_group_by_all", """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ALL ORDER BY ALL""",
      """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ALL ORDER BY ALL"""),

    // WITH FILL over a DATE axis (round 8 — the FillingTransform date
    // grid): per-day event counts densified over [Jan 1, Jan 15) with an
    // INTERVAL 1 DAY step; days without data get n = 0 (the type
    // default), the source rows join back exactly.
    ch("q_ch_with_fill_date", """
      SELECT d, n FROM (
        SELECT toDate(ts) AS d, count() AS n FROM events
        WHERE ts >= toDateTime('2024-01-05 00:00:00')
          AND ts < toDateTime('2024-01-12 00:00:00')
        GROUP BY toDate(ts))
      ORDER BY d WITH FILL FROM toDate('2024-01-01') TO toDate('2024-01-15')
        STEP INTERVAL 1 DAY""",
      """
      SELECT d, COALESCE(n, 0) AS n FROM
        (SELECT CAST(UNNEST(GENERATE_SERIES(DATE '2024-01-01',
           DATE '2024-01-14', INTERVAL 1 DAY)) AS DATE) AS d) a
      LEFT JOIN (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events
                 WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
                   AND ts < TIMESTAMP '2024-01-12 00:00:00'
                 GROUP BY 1) b USING (d)
      ORDER BY d"""),

    // Query parameters {name:Type} + SET param_<name>
    // (src/Parsers/ASTQueryParameter.h:10): typed-literal substitution —
    // a String, an integer, and a DateTime parameter in one predicate.
    Q("q_ch_query_params", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s, "SET param_status = 'F'")
      ClickHouseSql.sql(s, "SET param_minprice = 150000")
      ClickHouseSql.sql(s, "SET param_cut = '1995-06-17 00:00:00'")
      ClickHouseSql.sql(s, """
        SELECT count() AS n, CAST(min(o_orderkey) AS BIGINT) AS mn
        FROM orders
        WHERE o_orderstatus = {status:String}
          AND o_totalprice > {minprice:UInt32}
          AND o_orderdate < {cut:DateTime}""")
    }, Some("""
      SELECT COUNT(*) AS n, CAST(MIN(o_orderkey) AS BIGINT) AS mn
      FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 150000
        AND o_orderdate < TIMESTAMP '1995-06-17 00:00:00'""")),

    // Parameterized views (round 8 — StorageView.cpp parameterized
    // views): CREATE VIEW keeps its {p:Type} holes; every call
    // `v(p = x)` substitutes typed literals and inlines the body.
    Q("q_ch_param_view", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.sql(s, "DROP VIEW IF EXISTS pv_nation")
      ClickHouseSql.sql(s, """
        CREATE VIEW pv_nation AS
        SELECT n_nationkey, n_name FROM nation
        WHERE n_regionkey = {r:UInt32} AND n_nationkey >= {lo:UInt32}""")
      ClickHouseSql.sql(s, """
        SELECT CAST(n_nationkey AS BIGINT) AS k, n_name
        FROM pv_nation(r = 2, lo = 5) ORDER BY k""")
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
      WHERE n_regionkey = 2 AND n_nationkey >= 5 ORDER BY k""")),

    // FINAL on a registered Replacing table.
    Q("q_ch_final", (s, dir) => {
      Tables.register(s, dir)
      ClickHouseSql.registerReplacingTable("orders",
        keys = Seq("o_custkey"), version = Seq("o_orderdate", "o_orderkey"))
      ClickHouseSql.sql(s, """
        SELECT o_custkey, o_orderkey, o_orderdate
        FROM orders FINAL
        ORDER BY o_custkey""")
    }, Some("""
      SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1
      ORDER BY o_custkey"""))
  )
}
