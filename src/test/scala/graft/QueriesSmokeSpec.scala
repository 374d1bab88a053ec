package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: every declared query runs on sf0.001 and returns
  * rows; every oracle key refers to a declared query. (Value-level parity is
  * the driver's DuckDB gate, mirrored by tools/oracle_check.py.) */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      assert(fn(spark, sf).count() > 0)
    }
  }

  // the between-query reset Bench, Verify and the benchmark run: a builder
  // re-invoked after it must still work, so no registry-shared frame may be
  // rooted in a scratch checkpoint the sweep frees
  test("q136_triangles returns the same row after a block-store sweep") {
    val q136 = SparkEntry.queries("q136_triangles")
    def row(): Seq[Long] = {
      val r = q136(spark, sf).collect()
      assert(r.length == 1, s"q136 rows: ${r.toSeq}")
      r.head.toSeq.map(_.asInstanceOf[Long])
    }
    val first = row()
    operators.Checkpoints.sweepScratch(spark.sparkContext, blocking = true)
    val afterSweep = row()
    spark.catalog.clearCache()
    operators.Checkpoints.sweepScratch(spark.sparkContext, blocking = true)
    val afterReset = row()
    val want = Seq(200L, 8899L, 801656L, 125968L, 471404L)
    assert(first == want)
    assert(afterSweep == want)
    assert(afterReset == want)
  }
}
