package graft

import graft.pipelines.MartPipelines
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end mart build on sf0.001 with the reference's own acceptance
  * criteria automated (SURVEY §5): V1 count match, V2 zero null surrogate
  * keys, V3 top-k audit; plus overwrite idempotence (run twice ⇒ same). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("dim → fact build passes the V1-V3 audits, twice (idempotent)") {
    val out = java.nio.file.Files.createTempDirectory("graft-mart").toString
    val p = new MartPipelines(spark, sf, out)

    assert(p.runAll())
    val lineitemCount = Tables.load(spark, sf, "lineitem").count()
    val first = p.auditFact()
    assert(first.rows == lineitemCount) // V1: inner join preserves all lineitem rows
    assert(first.nullKeys == 0)         // V2: every lookup resolved
    val top1 = p.auditTop10.select("extended_price_cents").head().getLong(0)

    assert(p.runAll()) // S4 truncate-and-reload: second run identical
    val second = p.auditFact()
    assert(second.rows == first.rows && second.nullKeys == 0)
    assert(p.auditTop10.select("extended_price_cents").head().getLong(0) == top1)
  }

  test("observed fact load: audit metrics collected during the write match the post-hoc audit") {
    val out = java.nio.file.Files.createTempDirectory("graft-mart-obs").toString
    val p = new MartPipelines(spark, sf, out)
    assert(p.runProduct()) // fact needs the written dimension
    val observed = p.runFactObserved() // V1+V2 ride the overwrite job itself
    val postHoc = p.auditFact()        // separate re-read of the written fact
    assert(observed.rows == postHoc.rows && observed.rows > 0)
    assert(observed.nullKeys == postHoc.nullKeys && observed.nullKeys == 0)
  }

  test("each load is one query execution, its write: no isEmpty probe, no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = java.nio.file.Files.createTempDirectory("graft-mart-jobs").toString
    val p = new MartPipelines(spark, sf, out)
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val outsideSql = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = "graft.pipeline-spec.sentinel"
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = queries.add(s"$f!")
    }
    val jl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty(sentinel) != null)) outsideSql.add(sentinel)
        else if (!props.exists(_.getProperty("spark.sql.execution.id") != null))
          outsideSql.add(s"job ${j.jobId}")
      }
    }
    // listener events arrive asynchronously but in order: a sentinel query
    // run after the load marks where the load's own events end
    def eventsOf(load: => Boolean): (Seq[String], Seq[String]) = {
      queries.clear(); outsideSql.clear()
      assert(load)
      spark.sparkContext.setLocalProperty(sentinel, "1")
      try spark.range(1).collect() finally spark.sparkContext.setLocalProperty(sentinel, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((!queries.contains("collect") || !outsideSql.contains(sentinel)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val qs = queries.toArray(Array.empty[String]).toSeq
      val js = outsideSql.toArray(Array.empty[String]).toSeq
      assert(qs.lastOption.contains("collect") && js.lastOption.contains(sentinel),
        s"sentinel events not seen: $qs / $js")
      (qs.dropRight(1), js.dropRight(1))
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jl)
    try {
      Seq[(String, () => Boolean)](
        "runCategory" -> (() => p.runCategory()),
        "runProduct" -> (() => p.runProduct()),
        "runFactObserved" -> (() => p.runFactObserved().rows > 0)
      ).foreach { case (load, run) =>
        val (qs, js) = eventsOf(run())
        assert(qs == Seq("command"), s"$load ran query executions $qs")
        assert(js.isEmpty, s"$load ran Spark jobs outside a query execution: $js")
      }
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("written mart tables conform to the declared target schemas") {
    val out = java.nio.file.Files.createTempDirectory("graft-mart3").toString
    val p = new MartPipelines(spark, sf, out)
    assert(p.runAll())
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    // read by inference on purpose: this check is what lets MartPipelines
    // read its own tables back by the declared schemas
    assert(shape(spark.read.parquet(p.dimCategoryPath)) ==
      Schemas.dimCategory.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(shape(spark.read.parquet(p.dimProductPath)) ==
      Schemas.dimProduct.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(shape(spark.read.parquet(p.factPath)) ==
      Schemas.factOrderMetrics.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("corpus pipeline: quality-gated, dedup'd, deterministically split") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("corpus").toString
    val pipe = new graft.pipelines.CorpusPipeline(spark, sf, out)
    val counts = pipe.run()
    assert(counts.keySet == Set("train", "val"))
    val total = counts.values.sum
    assert(total > 0)
    // ~10% val split (hash-based, so approximate)
    assert(counts("val") > 0 && counts("val") < total / 5)

    val corpus = spark.read.parquet(pipe.corpusPath)
    // no duplicate text survived
    assert(corpus.select("text").distinct().count() == total)
    // quality gate held
    assert(corpus.filter(!col("n_tokens").between(5, 1000)).count() == 0)
    // split is deterministic: a second run assigns identically
    val pipe2 = new graft.pipelines.CorpusPipeline(spark, sf,
      java.nio.file.Files.createTempDirectory("corpus2").toString)
    assert(pipe2.run() == counts)
    // readers prune on the split partition column
    val p = spark.read.parquet(pipe.corpusPath)
      .filter(col("split") === "val").queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(split"), p)
  }

  test("dimension tables carry dense 1..n surrogate keys") {
    val out = java.nio.file.Files.createTempDirectory("graft-mart2").toString
    val p = new MartPipelines(spark, sf, out)
    assert(p.runCategory() && p.runProduct())
    val dim = spark.read.parquet(p.dimProductPath)
    val n = dim.count()
    val keys = dim.select("product_key").orderBy("product_key")
      .collect().map(_.getLong(0))
    assert(keys.toSeq == (1L to n).toSeq)
  }
}
