package graft

import graft.sql.{ChFunctionRegistry, ClickHouseSql}

class DialectSpec extends SparkFunSuite {

  test("rewriter: PREWHERE merges into WHERE, FORMAT stripped") {
    val r = ClickHouseSql.rewrite(
      "SELECT a FROM t PREWHERE x > 1 WHERE y < 2 GROUP BY a FORMAT JSON")
    assert(r.contains("WHERE (x > 1) AND  y < 2"))
    assert(!r.toUpperCase.contains("PREWHERE"))
    assert(!r.toUpperCase.contains("FORMAT"))
  }

  test("rewriter: plain SQL passes through untouched") {
    val q = "SELECT a, count(*) FROM t WHERE x = 1 GROUP BY a ORDER BY a"
    assert(ClickHouseSql.rewrite(q) == q)
  }

  test("registry does not corrupt ANSI built-ins (EXTRACT/POSITION/COUNT DISTINCT)") {
    ChFunctionRegistry.install(spark)
    Tables.register(spark, sf)
    val r = spark.sql("""
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
             CAST(POSITION('-' IN o_orderpriority) AS INT) AS p,
             COUNT(DISTINCT o_orderstatus) AS d,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 1""").collect().head
    assert(r.getInt(0) >= 1995 && r.getInt(1) == 2)
    assert(r.getLong(2) >= 1 && r.getLong(3) >= 1)
  }

  test("zero-arg COUNT() is a dialect rewrite, not a plain-SQL built-in") {
    ChFunctionRegistry.install(spark)
    Tables.register(spark, sf)
    // ClickHouse accepts COUNT(); ANSI Spark does not. The dialect entry
    // point rewrites it to COUNT(*) — plain spark.sql is expected to reject.
    val r = ClickHouseSql.sql(spark,
      "SELECT COUNT() AS n0, COUNT(*) AS n FROM orders").collect().head
    assert(r.getLong(0) == r.getLong(1))
    intercept[Exception] {
      spark.sql("SELECT COUNT() FROM orders").collect()
    }
  }

  test("WITH FILL keeps out-of-range rows and rejects STEP <= 0") {
    ChFunctionRegistry.install(spark)
    spark.sql("SELECT * FROM VALUES (1, 'a'), (9, 'z') t(k, v)")
      .createOrReplaceTempView("fill_src")
    // 9 is outside [1, 4) but must survive; 2 and 3 are filled in
    val rows = ClickHouseSql.sql(spark,
      "SELECT k, v FROM fill_src ORDER BY k WITH FILL FROM 1 TO 4")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, ""), (3, ""), (9, "z")))
    intercept[IllegalArgumentException] {
      ClickHouseSql.rewrite("SELECT k FROM fill_src ORDER BY k WITH FILL FROM 1 TO 4 STEP -1")
    }
  }

  test("CH names resolve through the registry") {
    ChFunctionRegistry.install(spark)
    Tables.register(spark, sf)
    val r = spark.sql("""
      SELECT toInt64('42') AS a, plus(1, 2) AS b,
             multiIf(1 = 2, 'x', 1 = 1, 'y', 'z') AS c,
             toYYYYMM(toDateTime('1997-03-05 00:00:00')) AS d,
             uniqExact(n_nationkey) AS u
      FROM nation""").collect().head
    assert(r.getLong(0) == 42L && r.getInt(1) == 3)
    assert(r.getString(2) == "y" && r.getInt(3) == 199703)
    assert(r.getLong(4) == 25L)
  }

  test("CREATE DICTIONARY lifecycle: probe, defaults, typed lanes, drop") {
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, "DROP DICTIONARY IF EXISTS spec_dict")
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY spec_dict (
        r_regionkey UInt64, r_name String DEFAULT 'n/a'
      ) PRIMARY KEY r_regionkey
      SOURCE(CLICKHOUSE(TABLE 'region')) LAYOUT(FLAT())""")
    val r = ClickHouseSql.sql(spark, """
      SELECT dictGet('spec_dict', 'r_name', 0) AS hit,
             dictGet('spec_dict', 'r_name', 99) AS miss_default,
             dictGetOrNull('spec_dict', 'r_name', 99) AS miss_null,
             dictHas('spec_dict', 0) AS has0,
             dictGetString('spec_dict', 'r_name', 1) AS typed""").head()
    assert(r.getString(0).nonEmpty)
    assert(r.getString(1) == "n/a") // declared DEFAULT on miss, not null
    assert(r.isNullAt(2))
    assert(r.getBoolean(3))
    assert(r.getString(4).nonEmpty)
    // IF NOT EXISTS is idempotent; unknown attr/dict are loud
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY IF NOT EXISTS spec_dict (
        r_regionkey UInt64, r_name String
      ) PRIMARY KEY r_regionkey SOURCE(CLICKHOUSE(TABLE 'region'))""")
    intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT dictGet('spec_dict', 'nope', 1)").collect()
    }
    ClickHouseSql.sql(spark, "DROP DICTIONARY spec_dict")
    intercept[Exception] {
      ClickHouseSql.sql(spark,
        "SELECT dictGet('spec_dict', 'r_name', 1)").collect()
    }
  }

  test("SYSTEM RELOAD DICTIONARY re-collects from the changed source") {
    Tables.register(spark, sf)
    spark.sql("SELECT 1L AS k, 'before' AS v")
      .createOrReplaceTempView("reload_src")
    ClickHouseSql.sql(spark, "DROP DICTIONARY IF EXISTS reload_dict")
    ClickHouseSql.sql(spark, """
      CREATE DICTIONARY reload_dict (k UInt64, v String)
      PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'reload_src')) LAYOUT(FLAT())""")
    def probe(): String = ClickHouseSql.sql(spark,
      "SELECT dictGet('reload_dict', 'v', 1) AS v").head().getString(0)
    assert(probe() == "before")
    // source changes; the dictionary is plan-constant until reloaded
    spark.sql("SELECT 1L AS k, 'after' AS v")
      .createOrReplaceTempView("reload_src")
    assert(probe() == "before")
    ClickHouseSql.sql(spark, "SYSTEM RELOAD DICTIONARY reload_dict")
    assert(probe() == "after")
    // the plural form reloads everything registered
    spark.sql("SELECT 1L AS k, 'again' AS v")
      .createOrReplaceTempView("reload_src")
    ClickHouseSql.sql(spark, "SYSTEM RELOAD DICTIONARIES")
    assert(probe() == "again")
    ClickHouseSql.sql(spark, "DROP DICTIONARY reload_dict")
  }

  test("SELECT ... FROM system.<t> resolves the introspection tables") {
    val m = ClickHouseSql.sql(spark,
      "SELECT metric, value FROM system.metrics ORDER BY metric")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.contains("Executors") && m("DefaultParallelism") >= 1)
    val am = ClickHouseSql.sql(spark,
      "SELECT COUNT(*) AS n FROM system.asynchronous_metrics WHERE value >= 0")
      .head().getLong(0)
    assert(am == 13) // round-11: + OS/filesystem gauge class
    // events counters move when a query runs through the dialect
    graft.sources.SystemTables.ensureEventCounters(spark)
    ClickHouseSql.sql(spark, "SELECT 42 AS ev_probe").collect()
    val q = ClickHouseSql.sql(spark,
      "SELECT value FROM system.events WHERE event = 'Query'")
      .head().getLong(0)
    assert(q >= 1)
    // SYSTEM FLUSH LOGS drains the bus; SHOW PROCESSLIST = system.processes
    assert(ClickHouseSql.sql(spark, "SYSTEM FLUSH LOGS")
      .head().getString(0) == "OK")
    assert(ClickHouseSql.sql(spark, "SHOW PROCESSLIST").columns.toSeq ==
      Seq("job_id", "n_stages", "status"))
    // SYSTEM cache/merge statements all answer OK (cache drop clears the
    // session cache; merges have no daemon to stop)
    for (st <- Seq("SYSTEM DROP MARK CACHE", "SYSTEM DROP UNCOMPRESSED CACHE",
        "SYSTEM STOP MERGES", "SYSTEM START MERGES nation",
        "SYSTEM RELOAD FUNCTIONS", "SYSTEM DROP DNS CACHE",
        "SYSTEM DROP FILESYSTEM CACHE", "SYSTEM SYNC REPLICA nation"))
      assert(ClickHouseSql.sql(spark, st).head().getString(0) == "OK", st)
    // the rewrite never touches STRING LITERALS mentioning system.<t>
    val lit = ClickHouseSql.sql(spark,
      "SELECT 'system.tables' AS s, length('x system.metrics y') AS n")
      .head()
    assert(lit.getString(0) == "system.tables" && lit.getInt(1) == 18)
    // a WHERE over system.tables narrows like any relation
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("syssel_probe_t")
    val t = ClickHouseSql.sql(spark,
      "SELECT name FROM system.tables WHERE name = 'syssel_probe_t'")
      .collect().map(_.getString(0)).toSeq
    assert(t == Seq("syssel_probe_t"))
  }

  test("KILL QUERY cancels the tagged job group; KILL MUTATION is clean") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    ClickHouseSql.sql(spark, "SET query_id = 'kill_spec_q1'")
    val slow = Future {
      // a deliberately expensive job under the tagged group; the kill
      // must abort it long before it completes
      ClickHouseSql.sql(spark,
        """SELECT count() AS n FROM (
             SELECT a.id FROM (SELECT explode(sequence(1, 300000)) AS id) a
             CROSS JOIN (SELECT explode(sequence(1, 300000)) AS id) b
             WHERE (a.id * b.id) % 97 = 3)""").collect()
    }
    Thread.sleep(1500)
    assert(ClickHouseSql.sql(spark,
      "KILL QUERY WHERE query_id = 'kill_spec_q1'").head().getString(0) == "OK")
    val outcome = scala.util.Try(Await.result(slow, 60.seconds))
    assert(outcome.isFailure, "killed query completed instead of aborting")
    spark.conf.unset("graft.ch.query_id")
    // mutations are synchronous — KILL MUTATION always finds an empty queue
    assert(ClickHouseSql.sql(spark, "KILL MUTATION WHERE mutation_id = 'x'")
      .head().getString(0) == "OK")
  }

  test("QUALIFY: alias form, raw-OVER form, tail clauses stay outside") {
    import SparkTestBase.spark.implicits._
    Seq((1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40))
      .toDF("id", "g", "v").createOrReplaceTempView("qual_t")
    // raw OVER expression directly in QUALIFY (no alias in the core)
    val top = ClickHouseSql.sql(spark, """
      SELECT id, g, v FROM qual_t
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY v DESC) = 1
      ORDER BY g""").collect()
    assert(top.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "a"), (4, "b")))
    // alias form + LIMIT tail
    val lim = ClickHouseSql.sql(spark, """
      SELECT id, row_number() OVER (ORDER BY v DESC) AS rn FROM qual_t
      QUALIFY rn <= 3
      ORDER BY rn LIMIT 2""").collect()
    assert(lim.map(_.getInt(0)).toSeq == Seq(4, 3))
    // a QUALIFY word inside a string literal is untouched
    val lit = ClickHouseSql.sql(spark,
      "SELECT 'no QUALIFY here' AS s").collect().head.getString(0)
    assert(lit == "no QUALIFY here")
    // INSERT INTO … SELECT … QUALIFY rewrites the SELECT part only
    spark.sql("DROP TABLE IF EXISTS qual_ins_t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "qual_ins_t")
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    ClickHouseSql.sql(spark,
      "CREATE TABLE qual_ins_t (id Int32, g String) ENGINE = Memory")
    // raw-OVER predicates see the SELECT's projected columns (the
    // documented scope) — rank by the projected id here
    ClickHouseSql.sql(spark, """
      INSERT INTO qual_ins_t
      SELECT id, g FROM qual_t
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY id DESC) = 1""")
    assert(spark.table("qual_ins_t").count() == 2)
    spark.sql("DROP TABLE qual_ins_t")
  }

  test("LIMIT BY sorts on a column the select list leaves out") {
    Tables.register(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the naive form; o_orderkey breaks o_totalprice ties so both forms
    // pick the same rows
    def naive(rnPred: String) = pairs(spark.sql(s"""
      SELECT o_custkey, o_orderkey FROM (SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders WHERE o_custkey < 40) WHERE $rnPred"""))
    // o_totalprice is not selected
    val got = pairs(ClickHouseSql.sql(spark, """
      SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey < 40
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT 2 BY o_custkey"""))
    val top2 = naive("rn <= 2")
    assert(top2.nonEmpty && got.sorted == top2.sorted)
    // rows come out in ORDER BY order: by key, then by the hidden sort
    assert(got.map(_._1) == got.map(_._1).sorted)
    // an aliased key beside the hidden column, with a per-key offset; the
    // hidden columns do not leak into the output
    val off = ClickHouseSql.sql(spark, """
      SELECT o_custkey AS c, o_orderkey FROM orders WHERE o_custkey < 40
      ORDER BY c, o_totalprice DESC, o_orderkey LIMIT 1 OFFSET 1 BY c""")
    assert(off.columns.toSeq == Seq("c", "o_orderkey"))
    assert(pairs(off).sorted == naive("rn = 2").sorted)
  }

  test("WITH FILL gives generated rows type defaults; source NULLs stay") {
    ChFunctionRegistry.install(spark)
    spark.sql("""SELECT * FROM VALUES
        (1, 'a', 2.5D, CAST(NULL AS INT), DATE '2024-01-02'),
        (4, CAST(NULL AS STRING), CAST(NULL AS DOUBLE), 7, CAST(NULL AS DATE))
        t(k, v, d, i, dt)""")
      .createOrReplaceTempView("fill_defaults_src")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(x => if (x == null) null else x.toString)).toSeq
    val q = "SELECT k, v, d, i, dt FROM fill_defaults_src ORDER BY k WITH FILL FROM 0 TO 6"
    val filled = ClickHouseSql.sql(spark, q)
    assert(filled.columns.toSeq == Seq("k", "v", "d", "i", "dt"))
    val gen = Seq("", "0.0", "0", "1970-01-01")
    assert(cells(filled) == Seq(
      "0" +: gen,
      Seq("1", "a", "2.5", null, "2024-01-02"),
      "2" +: gen, "3" +: gen,
      Seq("4", null, null, "7", null),
      "5" +: gen))
    // the NULL-filling join it replaces runs the same jobs: the defaults
    // cost no Spark job
    val nullFilled = spark.sql("""
      SELECT * FROM (SELECT explode(sequence(0, 5)) AS k) __fill_axis
      FULL OUTER JOIN (SELECT k, v, d, i, dt FROM fill_defaults_src) __fill_src
      USING (k) ORDER BY k""")
    assert(jobsDuring(spark)(ClickHouseSql.sql(spark, q).collect()) ==
      jobsDuring(spark)(nullFilled.collect()))
    // STALENESS and the date axis fill defaults the same way
    val stale = ClickHouseSql.sql(spark,
      "SELECT k, v FROM fill_defaults_src ORDER BY k WITH FILL FROM 0 TO 6 STALENESS 2")
    assert(cells(stale) == Seq(Seq("1", "a"), Seq("2", ""), Seq("4", null), Seq("5", "")))
    val byDay = ClickHouseSql.sql(spark, """
      SELECT dt, k FROM fill_defaults_src WHERE dt IS NOT NULL
      ORDER BY dt WITH FILL FROM toDate('2024-01-01') TO toDate('2024-01-04')
        STEP INTERVAL 1 DAY""")
    assert(cells(byDay) == Seq(Seq("2024-01-01", "0"), Seq("2024-01-02", "1"),
      Seq("2024-01-03", "0")))
    // an axis-only select list still fills
    assert(cells(ClickHouseSql.sql(spark,
      "SELECT k FROM fill_defaults_src ORDER BY k WITH FILL FROM 0 TO 3")) ==
      Seq(Seq("0"), Seq("1"), Seq("2"), Seq("4")))
  }
}
