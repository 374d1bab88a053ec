package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The text-format ingest edge: CSV/JSONL round-trips preserve values and
  * schema, malformed rows land in quarantine (not in the clean frame, not in
  * a job abort), and the empty-input write guard holds for both formats.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val tmp = "target/tmp/sources-spec"

  private val schema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  private def nation = Tables.load(spark, sf, "nation")
    .select("n_nationkey", "n_name", "n_regionkey")

  test("CSV round-trip preserves rows and declared schema") {
    assert(Sources.writeCsv(nation, s"$tmp/nation_csv"))
    val back = Sources.csv(spark, s"$tmp/nation_csv", schema)
    val (clean, bad) = Sources.splitCorrupt(back)
    assert(bad.count() == 0)
    assert(clean.schema == schema)
    assert(clean.collect().toSet == nation.collect().toSet)
  }

  test("JSONL round-trip preserves rows and declared schema") {
    assert(Sources.writeJsonl(nation, s"$tmp/nation_jsonl"))
    val back = Sources.jsonl(spark, s"$tmp/nation_jsonl", schema)
    val (clean, bad) = Sources.splitCorrupt(back)
    assert(bad.count() == 0)
    assert(clean.schema == schema)
    assert(clean.collect().toSet == nation.collect().toSet)
  }

  test("malformed CSV rows are quarantined, not dropped and not fatal") {
    val dir = s"$tmp/bad_csv"
    import spark.implicits._
    Seq("n_nationkey,n_name,n_regionkey",
      "1,ALGERIA,0",
      "oops,BROKEN,xyz",   // unparsable ints
      "2,BRAZIL,1")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val (clean, bad) = Sources.splitCorrupt(Sources.csv(spark, dir, schema))
    assert(clean.count() == 2)
    assert(clean.select("n_name").collect().map(_.getString(0)).toSet ==
      Set("ALGERIA", "BRAZIL"))
    val quarantined = bad.collect()
    assert(quarantined.length == 1)
    assert(quarantined.head.getString(0).contains("oops"))
  }

  test("malformed JSONL rows are quarantined with the raw line intact") {
    val dir = s"$tmp/bad_jsonl"
    import spark.implicits._
    Seq("""{"n_nationkey":1,"n_name":"ALGERIA","n_regionkey":0}""",
      """{"n_nationkey": not json at all""",
      """{"n_nationkey":2,"n_name":"BRAZIL","n_regionkey":1}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val (clean, bad) = Sources.splitCorrupt(Sources.jsonl(spark, dir, schema))
    assert(clean.count() == 2)
    val quarantined = bad.collect()
    assert(quarantined.length == 1)
    assert(quarantined.head.getString(0).contains("not json"))
  }

  test("streaming JSONL ingest quarantines malformed lines per micro-batch") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("jsonl_stream").toString
    def land(name: String, lines: Seq[String]): Unit =
      lines.toDF("value").coalesce(1).write.mode("append").text(s"$base/in")
    land("drop1", Seq(
      """{"n_nationkey":1,"n_name":"ALGERIA","n_regionkey":0}""",
      """not json""",
      """{"n_nationkey":2,"n_name":"BRAZIL","n_regionkey":1}"""))
    val stream = Sources.jsonlStream(spark, s"$base/in", schema)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (clean, bad) = Sources.splitCorrupt(batch)
        clean.write.mode("append").parquet(s"$base/clean")
        bad.write.mode("append").parquet(s"$base/quarantine")
      }
      .start()
    try {
      q.processAllAvailable()
      land("drop2", Seq(
        """{"n_nationkey":3,"n_name":"CANADA","n_regionkey":1}""",
        """{"broken": [unterminated"""))
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$base/clean")
    assert(clean.count() == 3)
    assert(clean.schema == schema)
    assert(clean.select("n_name").collect().map(_.getString(0)).toSet ==
      Set("ALGERIA", "BRAZIL", "CANADA"))
    val bad = spark.read.parquet(s"$base/quarantine").collect()
    assert(bad.length == 2)
    assert(bad.map(_.getString(0)).exists(_.contains("not json")))
    assert(bad.map(_.getString(0)).exists(_.contains("unterminated")))
  }

  test("streaming CSV ingest strips per-file headers and quarantines malformed lines") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("csv_stream").toString
    def land(lines: Seq[String]): Unit =
      lines.toDF("value").coalesce(1).write.mode("append").text(s"$base/in")
    land(Seq(
      "n_nationkey,n_name,n_regionkey", // each drop carries its own header
      "1,ALGERIA,0",
      "not,enough"))
    val stream = Sources.csvStream(spark, s"$base/in", schema)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (clean, bad) = Sources.splitCorrupt(batch)
        clean.write.mode("append").parquet(s"$base/clean")
        bad.write.mode("append").parquet(s"$base/quarantine")
      }
      .start()
    try {
      q.processAllAvailable()
      land(Seq(
        "n_nationkey,n_name,n_regionkey",
        "2,BRAZIL,1"))
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$base/clean")
    assert(clean.count() == 2, "headers must be stripped, data rows kept")
    assert(clean.schema == schema)
    assert(clean.select("n_name").collect().map(_.getString(0)).toSet ==
      Set("ALGERIA", "BRAZIL"))
    val bad = spark.read.parquet(s"$base/quarantine").collect()
    assert(bad.length == 1 && bad.head.getString(0) == "not,enough")
  }

  test("blank and literal-null JSONL lines are quarantined, never all-null clean rows") {
    val dir = s"$tmp/blank_jsonl"
    import spark.implicits._
    Seq("""{"n_nationkey":1,"n_name":"ALGERIA","n_regionkey":0}""",
      "",              // blank line: from_json returns a NULL struct, corrupt unset
      "null",          // literal JSON null: same parser blind spot
      "   ",           // whitespace-only
      """{"n_nationkey":2,"n_name":"BRAZIL","n_regionkey":1}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val (clean, bad) = Sources.splitCorrupt(Sources.jsonl(spark, dir, schema))
    assert(clean.count() == 2)
    assert(!clean.collect().exists(r => (0 until r.length).forall(r.isNullAt)),
      "an all-null row leaked into the clean frame")
    assert(bad.count() == 3)
  }

  test("ORC round-trip preserves rows and declared schema") {
    assert(Sources.writeOrc(nation, s"$tmp/nation_orc"))
    val back = Sources.orc(spark, s"$tmp/nation_orc", schema)
    assert(back.schema == schema)
    assert(back.collect().toSet == nation.collect().toSet)
  }

  test("schema evolution: merged parquet read and unionByName fill missing columns with NULL") {
    import spark.implicits._
    val dir = s"$tmp/evolve"
    val v1 = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val v2 = Seq((3L, "gamma", 9.5)).toDF("id", "name", "score")
    v1.write.mode("overwrite").parquet(dir)
    v2.write.mode("append").parquet(dir)
    val merged = Sources.parquetMerged(spark, dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(merged.count() == 3)
    // generation-1 rows surface the new column as NULL, not as an error
    assert(merged.filter(col("id") === 1L).select("score").collect().head.isNullAt(0))
    assert(merged.filter(col("id") === 3L).select("score").collect().head.getDouble(0) == 9.5)
    // the in-flight analog
    val u = Sources.unionEvolved(v1, v2)
    assert(u.columns.sorted.toSeq == Seq("id", "name", "score") && u.count() == 3)
    assert(u.filter(col("id") === 2L).select("score").collect().head.isNullAt(0))
  }

  test("empty input writes nothing for both text sinks") {
    val empty = nation.filter(lit(false))
    assert(!Sources.writeCsv(empty, s"$tmp/never_csv"))
    assert(!Sources.writeJsonl(empty, s"$tmp/never_jsonl"))
    assert(!Sources.writeOrc(empty, s"$tmp/never_orc"))
  }

  // The driver regenerates /root/testdata between rounds and has already
  // changed a physical type under the engine once (events.ts, ns → µs).
  // This diagnostic pins every table's footer schema against the declared
  // read schema so the NEXT drift fails one test that names the column,
  // instead of a hundred cryptic query mismatches. Events is checked
  // through Tables.load (its reader is unit-adaptive by design).
  test("fixture footer schemas match the declared read schemas") {
    for (t <- Tables.names) {
      val got =
        if (t == "events") Tables.load(spark, sf, t).schema
        else spark.read.parquet(Tables.path(sf, t)).schema
      val want = if (t == "events") Schemas.events else Schemas.all(t)
      // NTZ-vs-LTZ is NOT drift: the fixtures store naive timestamps
      // (isAdjustedToUTC=false → NTZ in the footer), the declared schemas
      // read them as instants, and under the engine's fixed UTC session
      // the values are identical — the oracle hash gate proves it.
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType match {
          case TimestampNTZType => TimestampType
          case dt => dt
        })).toSeq
      assert(shape(got) == shape(want),
        s"fixture drift in table '$t': footer ${shape(got)} vs declared ${shape(want)}")
    }
  }

  // The events fixture has shipped ts as TIMESTAMP(NANOS) in one generation
  // and TIMESTAMP(MICROS) in another, and the unit can change back: the
  // reader must produce IDENTICAL values for both physical encodings of the
  // same instant (the nanos path truncates sub-µs, so a ns value of µs·1000
  // + ε is the same instant). A ns fixture can't be written through Spark
  // (its writer has no nanos output), so the test writes it with the
  // parquet-mr Group API directly.
  test("events reader yields identical values for nanos- and micros-typed fixtures") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    // (event_id, epoch-µs, user_id, type, value, props) — sub-ms precision
    // on purpose so a silent ÷1000 or ×1000 cannot cancel out.
    val rows = Seq(
      (1L, 1704067200123456L, 10L, "view", 1.5, "{}"),
      (2L, 1704067200123457L, 10L, "click", 2.5, "{\"a\":1}"),
      (3L, 1706745599999999L, 11L, "buy", 0.25, "{}"))

    val nsDir = s"$tmp/events-ns"
    val usDir = s"$tmp/events-us"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq(nsDir, usDir).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))

    val nsSchema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nsDir/events.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(nsSchema)
      .build()
    val gf = new SimpleGroupFactory(nsSchema)
    try rows.foreach { case (id, us, uid, et, v, p) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L + 789L) // sub-µs ε the reader must truncate
      g.add("user_id", uid)
      g.add("event_type", et)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    } finally writer.close()

    val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      import spark.implicits._
      rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$usDir/events.parquet")
    } finally prevOut match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

    val fromNs = Tables.load(spark, nsDir, "events")
    val fromUs = Tables.load(spark, usDir, "events")
    assert(fromNs.schema == Schemas.events && fromUs.schema == Schemas.events,
      "both unit paths must surface the one logical events schema")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5))).toSet
    val gotNs = canon(fromNs)
    assert(gotNs == canon(fromUs), "ns and µs fixtures must read identically")
    assert(gotNs == rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSet,
      "values must be the written instants, µs-exact")
  }

  // The unit probe flips a session-GLOBAL mode (nanosAsLong) to read the
  // footer; it must restore it — left set, a future nanos-typed column in
  // any other table would silently read as raw longs. Only the branch that
  // actually consumes a nanos file may arm the shim (execution is lazy, so
  // that one cannot be scoped). A µs-only session must see no mode change.
  test("loading a micros events fixture leaves the session nanosAsLong conf untouched") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val usDir = s"$tmp/events-us-conf"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(usDir), true)
    val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      import spark.implicits._
      Seq((1L, 1704067200123456L, 10L, "view", 1.5, "{}"))
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$usDir/events.parquet")
    } finally prevOut match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    spark.conf.set(key, "false")
    assert(Tables.load(spark, usDir, "events").count() == 1L)
    assert(spark.conf.get(key) == "false",
      "the footer probe must restore the session nanosAsLong conf")
    spark.conf.unset(key)
  }

  test("binaryMedia: P6 files round-trip the multimodal decode; oversize quarantined") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("binmedia")
    // two real P6 files written from the shared encoder's payloads
    val docs = Seq((1L, "ABCDEFGHIJKLMNOPQRSTUVWX", "en", "s1", 24L),
        (2L, "zzzz", "en", "s1", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val payloads = Multimodal.ppmFromDocuments(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    java.nio.file.Files.write(dir.resolve("a.ppm"), payloads(1L))
    java.nio.file.Files.write(dir.resolve("b.ppm"), payloads(2L))
    java.nio.file.Files.write(dir.resolve("ignore.txt"),
      "not an image".getBytes("US-ASCII"))
    val media = graft.sources.Sources.binaryMedia(spark, dir.toString, "*.ppm")
    val rows = media.collect()
    assert(rows.length == 2, "the glob must prune at listing time")
    assert(rows.forall(_.getAs[String]("kind") == "ppm"))
    // identity is the md5-60 of the file NAME, payloads byte-identical
    val byName = rows.map(r =>
      r.getAs[String]("file_name") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(byName("a.ppm").toSeq == payloads(1L).toSeq)
    assert(byName("b.ppm").toSeq == payloads(2L).toSeq)
    // the file-sourced payloads decode through the SAME parser as the
    // column-sourced path — sums match the direct encode->decode
    val viaFiles = Multimodal.decodePpm(media).collect()
      .map(r => r.getLong(3)).sorted.toSeq
    val direct = Multimodal.decodePpm(Multimodal.ppmFromDocuments(docs))
      .collect().map(r => r.getLong(3)).sorted.toSeq
    assert(viaFiles == direct, "file and column ingestion must decode equal")
    // an oversized object is listed but its payload is NULL-quarantined
    val small = graft.sources.Sources
      .binaryMedia(spark, dir.toString, "*.ppm", maxBytesPerFile = 30L)
      .collect()
    assert(small.length == 2)
    val (kept, dropped) = small.partition(r => !r.isNullAt(2))
    assert(kept.nonEmpty && kept.forall(_.getAs[Long]("n_bytes") <= 30L))
    assert(dropped.nonEmpty && dropped.forall(_.getAs[Long]("n_bytes") > 30L))
  }

  test("XML drop: round-trip preserves rows; malformed record quarantined") {
    // mirror-sink round-trip through Spark 4's built-in xml source
    assert(Sources.writeXml(nation, s"$tmp/nation_xml", rowTag = "nation"))
    val back = Sources.xml(spark, s"$tmp/nation_xml", schema,
      rowTag = "nation").cache() // SPARK-21610: corrupt-only counts need it
    val (clean, bad) = Sources.splitCorrupt(back)
    assert(bad.count() == 0)
    assert(clean.count() == 25)
    assert(clean.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ==
      nation.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
    back.unpersist()
    // a wrong-typed record must land in quarantine, not kill the read
    val dir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/nation_xml_bad"))
    java.nio.file.Files.writeString(dir.resolve("drop.xml"),
      """<rows>
        |<nation><n_nationkey>7</n_nationkey><n_name>OK</n_name><n_regionkey>1</n_regionkey></nation>
        |<nation><n_nationkey>oops</n_nationkey><n_name>BAD</n_name><n_regionkey>2</n_regionkey></nation>
        |</rows>""".stripMargin)
    val mixed = Sources.xml(spark, dir.toString, schema,
      rowTag = "nation").cache()
    val (ok, quarantined) = Sources.splitCorrupt(mixed)
    assert(ok.count() == 1 && ok.head().getInt(0) == 7)
    assert(quarantined.count() == 1)
    assert(quarantined.head().getString(0).contains("oops"))
    mixed.unpersist()
  }

  test("JDBC: partitioned read, schema-drift guard, truncate-and-reload round-trip (embedded Derby)") {
    // in-process Derby stands in for the reference's SQL Server (the
    // sandbox has no network database); the adapter surface and the
    // explicit-schema discipline are exactly what a real DSN would get
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val jdbcOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE orders_x (o_id BIGINT NOT NULL PRIMARY KEY, " +
          "amount INT, note VARCHAR(32))")
      (1 to 100).foreach(i =>
        st.executeUpdate(s"INSERT INTO orders_x VALUES ($i, ${i * 10}, 'n$i')"))
      st.close()
    } finally conn.close()

    val declared = StructType(Seq(
      StructField("o_id", LongType),
      StructField("amount", IntegerType),
      StructField("note", StringType)))
    // partitioned read: 4 bound-range queries, one task each
    val df = Sources.jdbc(spark, url, "orders_x", declared,
      partitioning = Some(Sources.JdbcPartitioning("o_id", 1, 101, 4)),
      options = jdbcOpts)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
    assert(df.agg(sum("amount")).head().getLong(0) == 50500L)

    // upstream DDL drift (here: a re-typed column) must fail LOUDLY at
    // plan time, never silently re-type the load
    val drifted = StructType(declared.fields.map(f =>
      if (f.name == "amount") f.copy(dataType = LongType) else f))
    val e = intercept[IllegalArgumentException] {
      Sources.jdbc(spark, url, "orders_x", drifted, options = jdbcOpts)
    }
    assert(e.getMessage.contains("schema drift"))

    // truncate-and-reload into a second table: first load creates it,
    // the reload TRUNCATEs (keeping DDL) and the result is the new frame,
    // not an append
    val top10 = df.filter(col("o_id") <= 10)
    Sources.jdbcTruncateReload(top10, url, "orders_copy", options = jdbcOpts)
    Sources.jdbcTruncateReload(top10, url, "orders_copy", options = jdbcOpts)
    val back = Sources.jdbc(spark, url, "orders_copy", declared,
      options = jdbcOpts)
    assert(back.count() == 10)
    assert(back.agg(sum("amount")).head().getLong(0) == 550L)
  }

  test("JDBC: filters push into the generated SQL (PushedFilters on the scan)") {
    // r12 VERDICT #8: the thin wrapper's scale behavior rests on Spark's
    // jdbc pushdown actually firing — pin it on the physical plan, so a
    // future option/format change that silently disables pushDownPredicate
    // (and ships the whole table to filter Spark-side) fails CI
    val url = "jdbc:derby:memory:graftjdbc2;create=true"
    val jdbcOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE m_x (m_id BIGINT NOT NULL PRIMARY KEY, v INT)")
      (1 to 50).foreach(i => st.executeUpdate(s"INSERT INTO m_x VALUES ($i, $i)"))
      st.close()
    } finally conn.close()
    val declared = StructType(Seq(
      StructField("m_id", LongType), StructField("v", IntegerType)))
    val df = Sources.jdbc(spark, url, "m_x", declared, options = jdbcOpts)
      .filter(col("v") > 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("pushedfilters") &&
      plan.toLowerCase.replace(" ", "").contains("greaterthan(v,40)"),
      s"filter must reach the JDBC scan as a pushed predicate:\n$plan")
    assert(df.count() == 10)
  }

  test("JDBC: partitioning on an unindexed column is refused") {
    // r12 VERDICT #8: each bound-range partition query carries a WHERE on
    // the partition column — unindexed, that is `num` sequential full
    // scans server-side, strictly worse than the single-connection read.
    // The guard must refuse loudly; the indexed PK must still pass (the
    // sibling test above reads orders_x partitioned on its PK).
    val url = "jdbc:derby:memory:graftjdbc3;create=true"
    val jdbcOpts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE u_x (u_id BIGINT NOT NULL PRIMARY KEY, amount INT)")
      (1 to 20).foreach(i => st.executeUpdate(s"INSERT INTO u_x VALUES ($i, $i)"))
      st.close()
    } finally conn.close()
    val declared = StructType(Seq(
      StructField("u_id", LongType), StructField("amount", IntegerType)))
    val e = intercept[IllegalArgumentException] {
      Sources.jdbc(spark, url, "u_x", declared,
        partitioning = Some(Sources.JdbcPartitioning("amount", 1, 21, 4)),
        options = jdbcOpts)
    }
    assert(e.getMessage.contains("not indexed"))
    // the PK column passes the same guard
    val ok = Sources.jdbc(spark, url, "u_x", declared,
      partitioning = Some(Sources.JdbcPartitioning("u_id", 1, 21, 4)),
      options = jdbcOpts)
    assert(ok.rdd.getNumPartitions == 4 && ok.count() == 20)

    // a table with NO primary key and NO indexes at all — zero index/PK
    // metadata rows — must still be refused: existence comes from
    // getTables, never inferred from nonempty index metadata (a bare heap
    // table is the most common misconfiguration this guard exists for)
    val conn2 = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn2.createStatement()
      st.executeUpdate("CREATE TABLE bare_x (b_id BIGINT, amount INT)")
      (1 to 20).foreach(i =>
        st.executeUpdate(s"INSERT INTO bare_x VALUES ($i, $i)"))
      st.close()
    } finally conn2.close()
    val declaredBare = StructType(Seq(
      StructField("b_id", LongType), StructField("amount", IntegerType)))
    val e2 = intercept[IllegalArgumentException] {
      Sources.jdbc(spark, url, "bare_x", declaredBare,
        partitioning = Some(Sources.JdbcPartitioning("b_id", 1, 21, 4)),
        options = jdbcOpts)
    }
    assert(e2.getMessage.contains("not indexed"))
  }
}
