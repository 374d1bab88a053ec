package graft.pipelines

import graft.{Schemas, Tables}
import graft.operators._
import graft.queries.Mart
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three reference ETL entry points (SURVEY §3 E1–E3) as lazy
  * read → transform → overwrite pipelines, plus the V1–V3 audits the
  * reference runs after load (`Project Plan6.md:154-163`).
  *
  * Execution shape vs the reference: the reference materializes every
  * intermediate in driver RAM and row-inserts over ODBC; here each pipeline
  * is one Catalyst-compiled DAG executed only at the overwrite, with the
  * dimension→fact dependency expressed by reading the dimension's committed
  * parquet (the same "read own prior output" barrier as `etl_orders.py:48`).
  * Each load is ONE Spark query execution: the empty-input guard and, for
  * the fact, the V1/V2 audit ride the write as observed metrics
  * ([[graft.operators.Load.observedWrite]]), and the mart's own tables are
  * read back by their declared [[graft.Schemas]] — no LIMIT-1 probe and no
  * parquet schema-inference job. The declared-schema reads are safe because
  * PipelineSpec reads the written tables by inference and checks them
  * against those same schemas.
  */
final case class AuditReport(table: String, rows: Long, nullKeys: Long) {
  def ok(expectedRows: Long): Boolean = rows == expectedRows && nullKeys == 0
}

class MartPipelines(spark: SparkSession, sfDir: String, outDir: String) {

  def dimCategoryPath: String = s"$outDir/dim_category"
  def dimProductPath: String = s"$outDir/dim_product"
  def factPath: String = s"$outDir/fact_orders"

  /** E1 analog: extract nation → rename/project/key → overwrite. */
  def runCategory(): Boolean =
    Load.overwrite(Mart.q23(spark, sfDir), dimCategoryPath)

  /** E2 analog: extract part → coerce/conform/key → overwrite. */
  def runProduct(): Boolean =
    Load.overwrite(Mart.q24(spark, sfDir), dimProductPath)

  /** E3 analog: fact assembly join + derive + surrogate lookup against the
    * *written* product dimension (the cross-pipeline barrier), conform,
    * overwrite. */
  def runFact(): Boolean =
    Load.overwrite(factFrame(), factPath)

  /** E3 + V1/V2 fused: the null-surrogate count rides the guarded write's
    * own observation, beside the row count that is its empty-input guard —
    * both are accumulated executor-side during the overwrite, so the audit
    * costs zero additional scans. `auditFact()` (kept as the post-hoc
    * variant) re-reads the written table; at 100 TB that re-read is the
    * price of the whole load again. */
  def runFactObserved(): AuditReport = {
    val m = Load.observedWrite(factFrame(), factPath,
      count(when(col("product_key").isNull, lit(1))).as("null_keys"))(
      _.write.mode("overwrite").parquet(_))
    AuditReport("fact_orders",
      m("rows").asInstanceOf[Long], m("null_keys").asInstanceOf[Long])
  }

  private def factFrame(): DataFrame = {
    val l = Tables.load(spark, sfDir, "lineitem")
    val o = Tables.load(spark, sfDir, "orders")
    val dim = spark.read.schema(Schemas.dimProduct).parquet(dimProductPath)
      .select("product_key", "source_product_id")

    val fact = l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .withColumn("extended_price_cents",
        floor(Derive.extendedPrice(col("l_quantity"), col("l_extendedprice"),
          col("l_discount")) * lit(100.0)))
    val looked = Lookup.surrogate(fact, dim,
      factKey = "l_partkey", dimKey = "source_product_id")
    Conform.project(
      looked.withColumnRenamed("l_orderkey", "source_order_id")
        .withColumnRenamed("l_linenumber", "line_number")
        .withColumnRenamed("l_partkey", "source_product_id")
        .withColumnRenamed("l_quantity", "quantity")
        .withColumnRenamed("l_discount", "discount")
        .withColumn("order_date", col("o_orderdate").cast("string")),
      Schemas.factOrderMetrics.fieldNames.toSeq)
  }

  /** Dimension-before-fact order (FK dependency `Project Plan2.md:68`). */
  def runAll(): Boolean = {
    val c = runCategory()
    val p = runProduct()
    val f = p && runFact()
    c && p && f
  }

  /** V1 + V2 on the written fact table. */
  def auditFact(): AuditReport = {
    val fact = factTable
    AuditReport("fact_orders", Audit.rowCount(fact),
      Audit.nullKeyCount(fact, "product_key"))
  }

  /** V3: top-10 fact rows by the money metric. */
  def auditTop10: DataFrame =
    Audit.topK(factTable, "extended_price_cents", 10)

  private def factTable: DataFrame =
    spark.read.schema(Schemas.factOrderMetrics).parquet(factPath)
}
