package graft.sources

import graft.operators.Load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Text-format sources beside the parquet scans in [[graft.Tables]] — the
  * ingest edge of the engine. The reference's only source is a SQL Server
  * extract (`config.py:4`, `pd.read_sql` in `etl_category.py:13`); a
  * warehouse engine additionally lands CSV/JSONL drops, so these readers
  * make that edge first-class:
  *
  *   - schema is ALWAYS explicit. `inferSchema` would scan 100 TB twice and
  *     silently re-type columns between drops; a declared `StructType` is
  *     both faster and a contract.
  *   - malformed rows must neither kill the job (FAILFAST) nor vanish
  *     (DROPMALFORMED): they land in a `_corrupt` capture column and are
  *     routed to quarantine by [[splitCorrupt]] — the same observe-don't-
  *     abort posture as the audit pipeline (V2).
  *   - the readers scan with the `text` source and parse via the
  *     `from_csv`/`from_json` EXPRESSIONS rather than the raw CSV/JSON file
  *     formats. Same line-split parallelism (one large file still fans out
  *     across executors), but the corrupt column is an ordinary computed
  *     column — the raw-file formats refuse any plan that references only
  *     the corrupt column (SPARK-21610: `bad.count()` is exactly such a
  *     plan) and the documented workaround is caching the whole input,
  *     a non-starter at 100 TB.
  *   - JSONL is the only JSON shape offered: multiLine JSON documents
  *     cannot be split, serializing the read through one task.
  */
object Sources {

  val CorruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))

  private def parseOpts = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol)

  /** Expand the parsed struct, with a backstop for the parser's blind spot:
    * `from_json` returns a NULL struct (corrupt column unset) for blank or
    * literal-`null` lines rather than capturing them, which would otherwise
    * surface as all-null CLEAN rows — exactly the "malformed rows vanish"
    * failure this module exists to prevent. A null struct (or a blank line)
    * quarantines the raw line like any other malformed row. */
  private def expandParsed(parsed: DataFrame, schema: StructType): DataFrame = {
    val fields = schema.fields.map(f => col("r").getField(f.name).as(f.name))
    val corrupt = coalesce(
      col("r").getField(CorruptCol),
      when(col("r").isNull || trim(col("value")) === "", col("value")))
      .as(CorruptCol)
    parsed.select((fields :+ corrupt).toSeq: _*)
  }

  /** CSV with a `fieldNames.mkString(",")` header convention, explicit
    * schema, malformed rows captured. Header lines are removed by value —
    * per-file first-line bookkeeping doesn't exist once a file is split
    * across tasks, and the header text is fully determined by the declared
    * schema. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val header = schema.fieldNames.mkString(",")
    expandParsed(
      spark.read.text(path)
        .filter(col("value") =!= lit(header))
        .select(col("value"),
          from_csv(col("value"), withCorrupt(schema), parseOpts).as("r")),
      schema)
  }

  /** JSON Lines (one object per line), explicit schema, malformed rows
    * captured. */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    expandParsed(
      spark.read.text(path)
        .select(col("value"),
          from_json(col("value"), withCorrupt(schema), parseOpts).as("r")),
      schema)

  /** Streaming twin of [[jsonl]]: the same explicit-schema parse with
    * corrupt capture over a file-source text stream, so a landing directory
    * of JSONL drops ingests incrementally (new files per micro-batch) with
    * the identical quarantine contract — route each micro-batch through
    * [[splitCorrupt]] in `foreachBatch`. Tested end-to-end in
    * StreamingSpec. */
  def jsonlStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    expandParsed(
      spark.readStream.text(path)
        .select(col("value"),
          from_json(col("value"), withCorrupt(schema), parseOpts).as("r")),
      schema)

  /** Streaming twin of [[csv]] — the landing-directory CSV ingest with the
    * identical header-by-value removal (each dropped file may carry its own
    * header line; per-file first-line bookkeeping doesn't exist once files
    * split across tasks) and the same quarantine contract as
    * [[jsonlStream]]. */
  def csvStream(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val header = schema.fieldNames.mkString(",")
    expandParsed(
      spark.readStream.text(path)
        .filter(col("value") =!= lit(header))
        .select(col("value"),
          from_csv(col("value"), withCorrupt(schema), parseOpts).as("r")),
      schema)
  }

  /** (clean rows with the declared schema, quarantined raw lines). The clean
    * side drops the capture column; the corrupt side keeps only the raw
    * line for replay/inspection. Both are projections of the same scan. */
  def splitCorrupt(df: DataFrame): (DataFrame, DataFrame) = {
    val clean = df.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = df.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw"))
    (clean, bad)
  }

  /** Mirror sinks for round-tripping the text formats (header'd CSV /
    * JSONL), through the same guarded write as [[graft.operators.Load]]:
    * false and nothing written on empty input. */
  def writeCsv(df: DataFrame, path: String): Boolean =
    Load.guarded(df, path)(_.write.mode("overwrite").option("header", "true").csv(_))

  def writeJsonl(df: DataFrame, path: String): Boolean =
    Load.guarded(df, path)(_.write.mode("overwrite").json(_))

  /** ORC, the second columnar format next to parquet (stripe-level min/max
    * statistics, same pushdown story). Explicit schema on read, as always. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Boolean =
    Load.guarded(df, path)(_.write.mode("overwrite").orc(_))

  /** XML drops via Spark 4's built-in `xml` source (`rowTag` names the
    * repeated record element), same explicit-schema + quarantine contract
    * as [[csv]]/[[jsonl]]. XML records are inherently MULTI-LINE, so the
    * text-scan + parse-expression trick those readers use (to dodge
    * SPARK-21610) is unavailable — this reads the file format directly,
    * which carries that caveat: a plan whose only referenced column is the
    * corrupt capture is refused by the source; cache the frame (or keep a
    * data column in the projection) before counting quarantine-only. */
  def xml(spark: SparkSession, path: String, schema: StructType,
      rowTag: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", rowTag)
      .options(parseOpts)
      .schema(withCorrupt(schema))
      .load(path)

  def writeXml(df: DataFrame, path: String, rowTag: String): Boolean =
    Load.guarded(df, path)(
      _.write.format("xml").option("rowTag", rowTag).mode("overwrite").save(_))

  /** Evolved-schema read over a parquet directory written in generations
    * (old files missing newer columns): per-file footers merge into the
    * union schema and missing columns surface as NULL — the contract a
    * long-lived 100 TB table relies on when a column is added without
    * rewriting history. */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Union two generations of a frame by NAME, tolerating added columns
    * (missing side filled with NULL) — the in-flight analog of
    * [[parquetMerged]]; positional union would silently mis-align. */
  def unionEvolved(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** Binary-file ingestion for multimodal payloads — the path an
    * image/audio corpus actually arrives by at 100 TB: loose object-store
    * files, not parquet cells. Spark's built-in `binaryFile` source lists
    * and reads each matching file as one row; this adapter shapes it into
    * the multimodal (media_id, kind, payload) contract so it feeds
    * [[graft.multimodal.Multimodal.decodePpm]]/`resizePpm`/`frameEnergy`
    * directly. media_id is the portable md5-60 of the file path RELATIVE
    * to the load root (stable across hosts and re-lists — an absolute
    * path would bake the mount point into identity; a bare basename would
    * collide two same-named files in different subdirectories into one
    * identity), kind the lowercase extension.
    *
    * Scale notes: `pathGlobFilter` prunes at LISTING time (no read of
    * non-matching files), and the source parallelizes over files — one
    * giant file is the anti-pattern here, many medium files the contract.
    * `maxBytesPerFile` guards against a stray multi-GB object OOMing an
    * executor: larger files are SKIPPED (listed but not read) and
    * surfaced with a NULL payload so the caller can quarantine, not die. */
  def binaryMedia(spark: SparkSession, path: String, glob: String = "*",
      maxBytesPerFile: Long = 64L * 1024 * 1024): DataFrame = {
    def base = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
    // `path` arrives as a URI (file:/..., s3a://...); identity is the part
    // AFTER the load root, so nested same-named files stay distinct and the
    // mount point stays out of the hash. RELUCTANT `.*?` anchors on the
    // FIRST occurrence of the root segment — the listing root itself; a
    // greedy match would anchor on a repeated segment inside a
    // subdirectory (e.g. root/backup/<root>/x) and collide its files with
    // root-level ones, the exact identity-collision class relName exists
    // to eliminate.
    val rootSeg = java.util.regex.Pattern.quote(
      path.stripSuffix("/").replaceAll("^[a-zA-Z0-9+.-]+:/+", "/")) + "/"
    val relName = regexp_replace(col("path"), "^.*?" + rootSeg, "")
    def shaped(payload: org.apache.spark.sql.Column,
        df: DataFrame): DataFrame =
      df.select(
        graft.functions.TextFunctions.portableHash60(relName).as("media_id"),
        lower(regexp_extract(col("path"), "\\.([^./]+)$", 1)).as("kind"),
        payload.as("payload"),
        col("length").as("n_bytes"),
        relName.as("file_name"))
    // the length predicate PUSHES DOWN to the binaryFile source, and the
    // oversized leg never references `content` — column pruning means the
    // stray multi-GB object is listed but its bytes are never read
    shaped(col("content"), base.filter(col("length") <= maxBytesPerFile))
      .unionByName(shaped(lit(null).cast("binary"),
        base.filter(col("length") > maxBytesPerFile)))
  }

  // ------------------------------------------------------------------ JDBC

  /** Range partitioning for a parallel JDBC read: Spark issues `num`
    * queries, each bounded on `column` — without it the whole extract
    * serializes through ONE connection/task, the classic JDBC-source
    * bottleneck. Pick a clustered integer key (the reference's OrderID). */
  final case class JdbcPartitioning(column: String, lower: Long, upper: Long,
      num: Int)

  /** JDBC source — the literal parity path for the reference's pyodbc
    * extract (`config.py:1-24` connection, `etl_orders.py:12-25`
    * `pd.read_sql`), kept THIN by design: Spark's jdbc relation already
    * does connection pooling, predicate/column pushdown, and partitioned
    * reads; what the engine adds is the same explicit-schema discipline as
    * the text sources above — the DECLARED schema is validated against
    * what the database serves (names + types, case-insensitive), so
    * upstream DDL drift fails the job loudly at plan time instead of
    * silently re-typing a 100 TB load.
    *
    * Scale notes: always pass `partitioning` for anything bigger than a
    * dimension table (one task per bound range, the only way a JDBC read
    * parallelizes); `fetchsize` keeps the per-roundtrip row batch large
    * enough to amortize latency. Pushdown still applies — a `.filter` /
    * `.select` on the result narrows the generated SQL, not the Spark
    * side (SourcesSpec pins `PushedFilters` on the Derby scan). The
    * partition column must be INDEXED server-side: each of the `num`
    * bound-range queries carries a `WHERE col >= lo AND col < hi`
    * predicate, and without an index every one of them is a full table
    * scan — the "parallel" read then costs `num` sequential scans of the
    * source table, strictly worse than the single-connection read it
    * replaced. The guard checks index/PK metadata where the driver serves
    * it (plain table names; best-effort — a subquery `dbtable` or a
    * driver without metadata skips the check rather than blocking). */
  def jdbc(spark: SparkSession, url: String, table: String,
      expected: StructType, partitioning: Option[JdbcPartitioning] = None,
      fetchSize: Int = 10000,
      options: Map[String, String] = Map.empty): DataFrame = {
    partitioning.foreach(p => requireIndexedPartitionColumn(
      url, table, p.column, options))
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("fetchsize", fetchSize.toString)
      .options(options)
    val reader = partitioning.fold(base) { p =>
      base.option("partitionColumn", p.column)
        .option("lowerBound", p.lower.toString)
        .option("upperBound", p.upper.toString)
        .option("numPartitions", p.num.toString)
    }
    val df = reader.load()
    val got = df.schema.fields.toSeq.map(f => (f.name.toLowerCase, f.dataType))
    val want = expected.fields.toSeq.map(f => (f.name.toLowerCase, f.dataType))
    require(got == want,
      s"JDBC schema drift on $table: database serves ${got.mkString(", ")} " +
        s"but the declared contract is ${want.mkString(", ")}")
    df
  }

  /** Best-effort index check behind the partitioned-read guard above: a
    * plain-identifier table whose metadata the driver serves must show the
    * partition column in an index or primary key; anything unknowable
    * (subquery dbtable, metadata failure) passes — the guard exists to
    * catch the common misconfiguration loudly, not to gatekeep exotic
    * setups. */
  private def requireIndexedPartitionColumn(url: String, table: String,
      column: String, options: Map[String, String]): Unit = {
    // subquery dbtable ("(select ...) t") — indexability is unknowable
    if (!table.matches("[A-Za-z0-9_.]+")) return
    options.get("driver").foreach(d =>
      try Class.forName(d) catch { case _: ClassNotFoundException => () })
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val indexed: Option[Set[String]] =
      try {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val md = conn.getMetaData
          // unquoted identifiers are case-normalized per engine (Derby
          // uppercases); probe the name as given, upper, and lower
          val names = Seq(table, table.toUpperCase, table.toLowerCase).distinct
          val cols = scala.collection.mutable.Set[String]()
          // existence is probed via getTables, NOT inferred from nonempty
          // index/PK metadata: a table with no PK and no indexes — the
          // single most common misconfiguration this guard targets — has
          // ZERO metadata rows and would otherwise be conflated with
          // "table not found" and silently waved through to a per-range
          // server-side full scan
          var sawTable = false
          names.foreach { t =>
            // getTables treats the name as a SEARCH PATTERN ('_'/'%' are
            // wildcards — second review pass), so a probed name containing
            // '_' could "see" a different table; require an exact
            // (case-insensitive) TABLE_NAME match on the returned rows
            val tb = md.getTables(null, null, t, null)
            while (tb.next()) {
              if (Option(tb.getString("TABLE_NAME"))
                  .exists(_.equalsIgnoreCase(t))) sawTable = true
            }
            tb.close()
            val ix = md.getIndexInfo(null, null, t, false, true)
            while (ix.next())
              Option(ix.getString("COLUMN_NAME"))
                .foreach(c => cols += c.toLowerCase)
            ix.close()
            val pk = md.getPrimaryKeys(null, null, t)
            while (pk.next())
              Option(pk.getString("COLUMN_NAME"))
                .foreach(c => cols += c.toLowerCase)
            pk.close()
          }
          if (sawTable) Some(cols.toSet) else None
        } finally conn.close()
      } catch { case _: java.sql.SQLException => None }
    indexed.foreach(cols => require(cols.contains(column.toLowerCase),
      s"partition column '$column' of $table is not indexed: each of the " +
        "bound-range partition queries would full-scan the source table " +
        s"server-side (indexed/PK columns: ${cols.toSeq.sorted.mkString(", ")})" +
        " — partition on an indexed key, or add an index upstream"))
  }

  /** JDBC truncate-and-reload sink — the reference's S4 load shape
    * (`etl_orders.py:105-128`: delete-then-insert into the warehouse
    * table) as one atomic-per-partition batched write: `truncate=true`
    * keeps the table's DDL/grants/indexes (overwrite would otherwise
    * DROP+CREATE with Spark-derived DDL), `batchsize` amortizes insert
    * round-trips. Writes parallelize per partition of `df` — repartition
    * upstream to match what the target database can absorb. */
  def jdbcTruncateReload(df: DataFrame, url: String, table: String,
      batchSize: Int = 10000,
      options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("truncate", "true")
      .option("batchsize", batchSize.toString)
      .options(options)
      .mode("overwrite")
      .save()
}
