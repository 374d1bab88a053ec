package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: the declared oracle statements are written in the SQL
  * subset common to Spark SQL and DuckDB wherever possible (SURVEY §2.12),
  * so most of them must ALSO run verbatim on `spark.sql` over the registered
  * views — and agree with the DataFrame plans. DuckDB-only constructs
  * (list lambdas, epoch_ms, ASOF JOIN, json_extract_string, hex casts) are
  * skipped by the parse/run probe; everything that runs must match.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** SQL tokens with no Spark equivalent — only statements containing one of
    * these may fail to run; any OTHER failure is a broken oracle and fails
    * the test (a catch-all skip would silently drop a regressed statement
    * from both this check and the DuckDB gate). */
  private val duckdbOnlyTokens = Seq(
    "string_split", "list_transform", "list_sum", "unnest(", "epoch_ms",
    "ASOF", "json_extract_string", "'0x'", "date_diff('",
    "AS VARCHAR)", // Spark spells the unbounded string type STRING
    "GROUPING(", // multi-arg GROUPING is DuckDB; Spark's form is grouping_id
    "len(", // DuckDB list length; Spark spells it size/cardinality
    "- DATE '", // DATE − DATE is integer days in DuckDB, an interval in Spark
    "strftime", // DuckDB's formatter; Spark spells it date_format
    "strlen", // DuckDB byte length; Spark spells it octet_length
    " // ", // DuckDB integer floor division; Spark spells it div
    "STRING_AGG(DISTINCT", // DuckDB inline ORDER BY in aggregate args; Spark is WITHIN GROUP
    "', 'g')", // DuckDB 4-arg regexp_replace global flag; Spark is global by default
    "AS MATERIALIZED") // DuckDB CTE materialization hint (the q254/q267 spill guard)

  test("winnow_select refuses arrays that may hold nulls at analysis") {
    val ok = spark.sql("SELECT winnow_select(array(5L, 3L, 9L)) AS s")
    assert(ok.collect().head.getSeq[org.apache.spark.sql.Row](0).nonEmpty)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT winnow_select(array(5L, CAST(NULL AS BIGINT), 9L))").collect())
    assert(e.getMessage.contains("winnow_select") &&
      e.getMessage.contains("no null elements"), e.getMessage)
  }

  test("intersect_count_i64 table capacity: exact below the cap, an error past it") {
    import graft.plans.IntersectCountLong.{MaxCapacity, capacity}
    assert(Seq(0, 1, 2, 3, 4, 5, 1000).map(capacity) ==
      Seq(4, 4, 4, 8, 8, 16, 2048))
    assert(capacity(1 << 29) == MaxCapacity)
    // sizes whose Int doubling overflowed (and whose loop never ended)
    Seq((1 << 29) + 1, 1 << 30, Int.MaxValue).foreach { n =>
      val e = intercept[IllegalArgumentException](capacity(n))
      assert(e.getMessage.contains("intersect_count_i64"), e.getMessage)
    }
  }

  test("oracle SQL in the common subset matches the DataFrame plans on spark.sql") {
    Tables.registerViews(spark, sf)
    var ran = 0
    val mismatches = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val duckdbOnly = duckdbOnlyTokens.exists(sql.contains)
      val viaSql =
        try spark.sql(sql).collect()
        catch {
          case e: Exception if duckdbOnly => null // expected: skip
          case e: Exception =>
            fail(s"$name: common-subset oracle failed on spark.sql: ${e.getMessage}")
        }
      if (viaSql != null) {
        ran += 1
        val df = SparkEntry.queries(name)(spark, sf)
        val cols = df.columns.sorted
        def canon(rows: Array[org.apache.spark.sql.Row],
            names: Array[String]): Seq[String] = {
          val idx = names.zipWithIndex.toMap
          rows.map(r => cols.map(c => String.valueOf(r.get(idx(c)))).mkString("|"))
            .sorted.toSeq
        }
        val a = canon(viaSql, spark.sql(sql).columns)
        val b = canon(df.collect(), df.columns)
        if (a != b) mismatches += s"$name: sql=${a.take(2)} df=${b.take(2)}"
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    assert(ran >= 20, s"only $ran oracle statements ran on spark.sql")
    info(s"$ran oracle statements ran on spark.sql and matched")
  }
}
