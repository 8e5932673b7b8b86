package graft

import graft.operators.ResultCache

/** Pins the query-result-cache reuse semantics
  * (ref src/Interpreters/Cache/QueryResultCache.cpp): canonical-plan
  * keying, hit/miss accounting, hits served from driver-resident rows
  * with no job, the entry-size cap, LRU eviction. */
class ResultCacheSpec extends SparkFunSuite {

  private def lineitem = Tables.load(spark, sf, "lineitem")

  test("identical queries share one entry; Catalyst-equivalent plans hit") {
    val cache = new ResultCache(maxEntries = 8)
    val q = lineitem.groupBy("l_returnflag").count().orderBy("l_returnflag")
    val first = cache.cached(q).collect()
    assert(first.nonEmpty)
    // a hit is answered from the stored rows: no job, same rows, same order
    var second: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring(spark) {
      second = cache.cached(lineitem.groupBy("l_returnflag").count()
        .orderBy("l_returnflag")).collect()
    } == 0)
    assert(cache.hits == 1 && cache.misses == 1 && cache.size == 1)
    assert(second.toSeq == first.toSeq)
  }

  test("different queries miss; results stay correct") {
    val cache = new ResultCache(maxEntries = 8)
    val a = cache.cached(lineitem.selectExpr("sum(l_quantity) AS s"))
    val b = cache.cached(lineitem.selectExpr("sum(l_extendedprice) AS s"))
    assert(cache.misses == 2 && cache.hits == 0 && cache.size == 2)
    assert(a.head.get(0) != b.head.get(0))
  }

  test("LRU eviction is bounded and unpersists the coldest entry") {
    val cache = new ResultCache(maxEntries = 2)
    val a = cache.cached(lineitem.selectExpr("count(*) AS c"))
    a.count()
    cache.cached(lineitem.selectExpr("max(l_tax) AS m"))
    cache.cached(lineitem.selectExpr("min(l_tax) AS m")) // evicts `a`
    assert(cache.size == 2)
    // re-requesting the evicted query is a miss again (fresh admission)
    cache.cached(lineitem.selectExpr("count(*) AS c"))
    assert(cache.misses == 4 && cache.size == 2)
  }

  test("a result over the entry cap comes back correct but is not stored") {
    val cache = new ResultCache(maxEntries = 8)
    // rows x schema.defaultSize must exceed the 1 MiB cap
    val n = 50000L
    val big = spark.range(0, n).selectExpr("id", "CAST(id * 7 AS STRING) AS s")
    assert(n * big.schema.defaultSize > ResultCache.MaxEntryBytes,
      s"fixture too small for the cap: $n rows x ${big.schema.defaultSize} bytes")
    val got = cache.cached(big).collect()
    assert(got.length == n)
    assert(got.forall(r => r.getString(1) == (r.getLong(0) * 7).toString))
    assert(got.map(_.getLong(0)).toSet == (0L until n).toSet)
    assert(cache.size == 0 && cache.misses == 1)
    cache.cached(big)
    assert(cache.hits == 0 && cache.misses == 2, "an oversized result must not hit")
    // a small result is stored under the same cache
    cache.cached(lineitem.selectExpr("count(*) AS c"))
    assert(cache.size == 1)
  }

  test("clear drops all entries") {
    val cache = new ResultCache(maxEntries = 4)
    cache.cached(lineitem.selectExpr("count(*) AS c"))
    cache.clear()
    assert(cache.size == 0)
  }

  test("SET use_query_cache = 1 routes dialect SELECTs through the cache") {
    import graft.sql.ClickHouseSql
    Tables.register(spark, sf)
    ClickHouseSql.sql(spark, "SYSTEM DROP QUERY CACHE")
    val h0 = ClickHouseSql.queryCache.hits
    ClickHouseSql.sql(spark, "SET use_query_cache = 1")
    try {
      val q = "SELECT r_regionkey, count() AS n FROM region GROUP BY r_regionkey ORDER BY r_regionkey"
      val a = ClickHouseSql.sql(spark, q).collect()
      var b: Array[org.apache.spark.sql.Row] = null
      assert(jobsDuring(spark) { b = ClickHouseSql.sql(spark, q).collect() } == 0,
        "a query-cache hit launched a job")
      assert(ClickHouseSql.queryCache.hits == h0 + 1,
        "second identical SELECT did not hit the query cache")
      assert(a.toSeq == b.toSeq)
      // SYSTEM DROP QUERY CACHE empties it
      ClickHouseSql.sql(spark, "SYSTEM DROP QUERY CACHE")
      assert(ClickHouseSql.queryCache.size == 0)
    } finally {
      spark.conf.unset("graft.ch.use_query_cache")
      ClickHouseSql.sql(spark, "SYSTEM DROP QUERY CACHE")
    }
  }
}