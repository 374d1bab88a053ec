package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The reference's transform vocabulary (SURVEY §2.2–§2.3) as small,
  * individually-tested functions over DataFrame. Each cites the pandas
  * operation it re-expresses.
  */

/** P1–P3: rename / project-reorder / drop — `df.rename(columns=...)`,
  * `df[[cols]]`, `df.drop(...)` (`etl_category.py:26-31`,
  * `etl_product.py:38-58`, `etl_orders.py:42,69-83`). */
object Conform {
  def renameAll(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** Project to exactly `cols` in order — the schema-conformance step the
    * reference debugs at length (`Project Plan5.md:171`). */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  def drop(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)
}

/** P4–P5: derived columns and null-on-error coercion. */
object Derive {
  /** The ExtendedPrice formula verbatim (`etl_orders.py:39`). */
  def extendedPrice(qty: Column, unitPrice: Column, discount: Column): Column =
    qty * unitPrice * (lit(1.0) - discount)

  /** `pd.to_numeric(errors='coerce')` (`etl_product.py:45-46`): invalid →
    * NULL, never throw — try_cast, because plain cast is ANSI-strict in
    * Spark 4. */
  def tryCastCol(df: DataFrame, from: String, to: String, dt: DataType): DataFrame =
    df.withColumn(to, col(from).try_cast(dt))
}

/** J2: the surrogate-key lookup — `pd.merge(left_on=..., right_on=...,
  * how='left')` + drop of the duplicated key column (`etl_orders.py:57-75`).
  * The dimension side is broadcast: the fact never shuffles for a lookup.
  * The hint encodes a CONTRACT, not a guess: this operator is for
  * catalog-bounded mart dimensions (categories, products — the reference's
  * 8/77-row dims), whose size is set by the business domain, not by data
  * volume. For corpus-scaling lookup sides, join unhinted and let size
  * stats / AQE decide (the q05/q90/q123 policy). */
object Lookup {
  def surrogate(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left")
      .drop(dim(dimKey))
}

/** IDENTITY surrogate keys (SURVEY §1): dense, deterministic row_number over
  * a natural key. A global window is intentional and correct for dimension
  * tables (small by definition); fact-scale keys should use
  * `monotonically_increasing_id` (non-dense, shuffle-free) instead. */
object SurrogateKey {
  def dense(df: DataFrame, orderCol: String, keyName: String): DataFrame =
    df.withColumn(keyName,
      row_number().over(Window.orderBy(col(orderCol))).cast("long"))

  def sparse(df: DataFrame, keyName: String): DataFrame =
    df.withColumn(keyName, monotonically_increasing_id())
}

/** S4 + S6: truncate-and-reload sink and the empty-input guard
  * (`etl_category.py:37-71`, `etl_orders.py:92-137`). Every path sink runs
  * ONE query execution, its write: the write itself carries the guard (and
  * any audit aggregates) as an `observe()`, lands in a sibling staging
  * directory, and only a non-empty result replaces the target. The target is missing only
  * between the delete and the rename of that swap — not for the whole
  * write, as with an in-place `mode("overwrite")`, which deletes the target
  * before its job starts. */
object Load {
  /** Suffix of the sibling directory a guarded write lands in first. */
  val StagingSuffix = "__loading"

  /** The guarded write behind every path sink: `write(observed, staging)`
    * runs once on `df.observe(count(*) AS rows, extra…)` into
    * `<path>__loading`, so the row count (the guard) and the caller's audit
    * aggregates come from the write job itself, not from a LIMIT-1 probe
    * that plans and runs the input a second time. 0 rows: the staging
    * directory is deleted and the target left untouched. Otherwise the
    * staging directory replaces the target (the [[compact]] swap). Returns
    * the observed metrics by name: `rows` and each of `extra`.
    *
    * A zero-column frame cannot be written by any file source, so it gets
    * its metrics from a plain aggregate: empty → nothing written, non-empty
    * → the write runs and raises the source's own error. */
  def observedWrite(df: DataFrame, path: String, extra: Column*)(
      write: (DataFrame, String) => Unit): Map[String, Any] = {
    val metrics = count(lit(1)).as("rows") +: extra
    def aggregated: Map[String, Any] = {
      val r = df.agg(metrics.head, metrics.tail: _*).head()
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    if (df.schema.isEmpty) {
      val m = aggregated
      if (m("rows") == 0L) return m
    }
    val target = new Path(path)
    val staging = new Path(path + StagingSuffix)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val obs = Observation()
    try write(df.observe(obs, metrics.head, metrics.tail: _*), staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    // Spark completes an observation whose metrics the executed plan lost
    // (its CollectMetrics optimized away) with an empty row: recount then
    val observed = obs.get
    val m = if (observed.isEmpty) aggregated else observed
    if (m("rows") == 0L) fs.delete(staging, true)
    else swap(fs, staging, target)
    m
  }

  /** [[observedWrite]] for a sink that needs only the guard: true iff rows
    * were written. */
  def guarded(df: DataFrame, path: String)(
      write: (DataFrame, String) => Unit): Boolean =
    observedWrite(df, path)(write)("rows") != 0L

  /** Replace `target` by `staging`: the window without `target` is this
    * delete plus rename, not the write that produced `staging`. */
  private def swap(fs: FileSystem, staging: Path, target: Path): Unit = {
    fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"could not rename $staging to $target")
  }

  /** Returns false (and writes nothing) on empty input — the reference's
    * "skip load when extract failed" guard (`etl_category.py:38-40`). */
  def overwrite(df: DataFrame, path: String): Boolean =
    guarded(df, path)(_.write.mode("overwrite").parquet(_))

  /** Overwrite as a bucketed table: rows are hash-distributed into `buckets`
    * files per partition on `bucketCols` and each bucket sorted on them.
    * Two tables co-bucketed on their join key join WITHOUT any exchange —
    * the shuffle was paid once at write time instead of once per query,
    * which is the right trade for a fact table joined daily at 100 TB.
    * (Bucket metadata lives in the session catalog; `path` keeps the data
    * external.) Asserted shuffle-free in OperatorSemanticsSpec.
    *
    * The one sink that keeps a separate `isEmpty` probe ahead of its write:
    * `saveAsTable` registers `path` in the session catalog as the table's
    * location, so the data cannot be written to a staging directory and
    * swapped in under it the way [[observedWrite]] does. */
  def overwriteBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, bucketCols: Seq[String]): Boolean = {
    if (df.isEmpty) false
    else {
      df.write.mode("overwrite")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", path)
        .saveAsTable(table)
      true
    }
  }

  /** Overwrite partitioned by `partitionCols` — the warehouse-scale variant:
    * readers filtering on a partition column scan only matching directories
    * (partition pruning, asserted in OperatorSemanticsSpec). At 100 TB this
    * (e.g. fact tables partitioned by month) is the difference between a
    * pruned scan and a full-table read. */
  def overwritePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Boolean =
    guarded(df, path)(_.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(_))

  /** Overwrite with a range-clustered layout (ZORDER-lite): rows are range-
    * partitioned on `sortCols` and sorted inside each file, so every file
    * owns a DISJOINT key range and its parquet row-group min/max statistics
    * actually prune — a point or range predicate on the sort key touches
    * one file (plus row-group skipping inside it) instead of all of them.
    * Hash layouts spread every key range over every file, which is why a
    * sorted rewrite is the standard layout step before publishing a
    * scan-heavy 100 TB table. Disjointness is asserted per-file in
    * OperatorSemanticsSpec. `files` controls layout granularity (at scale:
    * total bytes / target file size). */
  def overwriteSorted(df: DataFrame, path: String,
      sortCols: Seq[String], files: Int): Boolean = {
    val cols = sortCols.map(col)
    guarded(df, path)((d, p) => d.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(p))
  }

  /** Compact a directory of small files to ~`targetBytes` files — the
    * maintenance pass that keeps streaming/incremental sinks readable: a
    * micro-batch writer leaves one file per trigger per partition, and a
    * 100 TB table of kilobyte files dies on open() overhead, not I/O.
    * File count derives from the ACTUAL on-disk bytes (never a row-count
    * heuristic); coalesce() avoids re-shuffling data that is merely being
    * re-grouped. Returns the new file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long): Int = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new Path(path + "__compacting")
    spark.read.parquet(path).coalesce(files)
      .write.mode("overwrite").parquet(tmp.toString)
    swap(fs, tmp, hPath)
    files
  }
}

/** V1–V3: the reference's post-load audit queries (`Project Plan6.md:154-163`)
  * as reusable checks. */
object Audit {
  /** V1: row count equals expectation. */
  def rowCount(df: DataFrame): Long = df.count()

  /** V2: failed surrogate-key lookups — "should return 0 rows". */
  def nullKeyCount(df: DataFrame, keyCol: String): Long =
    df.filter(col(keyCol).isNull).count()

  /** V3: top-k by a metric for eyeball verification. */
  def topK(df: DataFrame, metric: String, k: Int): DataFrame =
    df.orderBy(desc(metric)).limit(k)
}
