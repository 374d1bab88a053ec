package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output check riding the timed action: one `observe()` on the same
  * `noop` write collects the row count and an order-insensitive checksum
  * over every column, so checking costs no extra job. */
object Check {

  final case class Result(rows: Long, checksum: String)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Sum over rows of xxhash64(every column and its null flag). Columns are
    * renamed by position first, so duplicate or odd names cannot make the
    * check ambiguous; maps, which Spark refuses to hash, go through JSON. */
  def materialize(df: DataFrame): Result = {
    val n = df.schema.size
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val parts = named.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(if (hasMap(f.dataType)) to_json(c) else c, c.isNull)
    }
    val obs = Observation()
    named.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(parts: _*).cast(DecimalType(20, 0))).as("checksum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Result(m("rows").asInstanceOf[Long], String.valueOf(m("checksum")))
  }

  /** Expected results: `query <name> <rows> <checksum>` lines, where a
    * checksum of `-` means the query has no oracle and only rows > 0 and a
    * repeating checksum are checked, plus `mart fact_rows <n>` and
    * `mart top10 <rows> <checksum>` for the pipeline's V1 and V3. */
  final case class Expected(queries: Map[String, Result], factRows: Long,
      top10: Result)

  def readExpected(path: String): Expected = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t").toSeq).toList finally src.close()
    val qs = lines.collect { case Seq("query", n, r, c) => n -> Result(r.toLong, c) }
    val fact = lines.collectFirst { case Seq("mart", "fact_rows", r) => r.toLong }
    val top = lines.collectFirst { case Seq("mart", "top10", r, c) => Result(r.toLong, c) }
    Expected(qs.toMap, fact.getOrElse(sys.error(s"$path: no fact_rows line")),
      top.getOrElse(sys.error(s"$path: no top10 line")))
  }
}
