package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for the §2 operator inventory on tiny literal frames, plus
  * seeded property-style checks mirroring the reference's invariants
  * (SURVEY §5): ExtendedPrice formula, left-join cardinality preservation,
  * null-on-error coercion, overwrite idempotence. */
class OperatorSemanticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("q293 delete cascade: legs reconcile through an independent replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Relational.q293(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    def arm(ck: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"del:$ck".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(x => f"$x%02x").mkString, 16) % 20 == 0
    }
    val custs = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").cast("long")).collect().map(_.getLong(0))
    val victims = custs.filter(arm).toSet
    assert(rows("customer")._2 == victims.size.toLong)
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val delOrders = orders.filter(o => victims(o._2)).map(_._1).toSet
    assert(rows("orders")._2 == delOrders.size.toLong)
    val delLi = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").cast("long")).collect()
      .count(r => delOrders(r.getLong(0)))
    assert(rows("lineitem")._2 == delLi.toLong)
    // the closure probe must be zero on FK-clean fixtures
    assert(rows("zz_cascade_disagreement")._2 == 0L)
    // ppm algebra
    rows.foreach { case (t, (n, d, ppm)) =>
      assert(ppm == d * 1000000L / math.max(1L, n), s"$t ppm")
    }
  }

  test("mortonKey16 equals the per-bit mortonKey on the 16-bit domain") {
    import graft.operators.ZOrder
    val pts = (0 until 500).map(_ =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L))
    val df = pts.toDF("a", "b")
      .select(ZOrder.mortonKey(col("a"), col("b")).as("slow"),
        ZOrder.mortonKey16(col("a"), col("b")).as("fast"))
    assert(df.filter(col("slow") =!= col("fast")).count() == 0)
  }

  test("q288 layout pruning: z-order prunes both keys, sorted only its own") {
    val rows = graft.queries.Corpus.q288(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(6)).toMap
    // natural layout prunes nothing, either predicate
    assert(rows(("natural", "pk_band")) == 1000000L)
    assert(rows(("natural", "sk_band")) == 1000000L)
    // sorting on pk prunes the pk band hard but scans everything for sk
    assert(rows(("sorted_pk", "pk_band")) < 150000L,
      s"sorted pk_band ${rows(("sorted_pk", "pk_band"))}")
    assert(rows(("sorted_pk", "sk_band")) == 1000000L)
    // the normalized Morton layout prunes BOTH bands well below half —
    // the one-copy-serves-two-access-paths property ZOrder exists for
    assert(rows(("zorder", "pk_band")) < 500000L,
      s"zorder pk_band ${rows(("zorder", "pk_band"))}")
    assert(rows(("zorder", "sk_band")) < 500000L,
      s"zorder sk_band ${rows(("zorder", "sk_band"))}")
  }

  test("connected components: chain, clique, isolated vertex, convergence") {
    // vertices 0..9; edges: chain 1-2-3-4 (diameter 3 — needs >1 round),
    // clique {5,6,7}, pair {8,9}; 0 isolated
    val verts = (0L to 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (8L, 9L)).toDF("src", "dst")
    val got = ConnectedComponents.run(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 8L))
    // reversed orientation must give the identical labeling
    val rev = ConnectedComponents.run(verts,
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == got)
  }

  test("connected components: a 300-vertex path converges within default rounds (pointer jumping)") {
    // Adjacent-pair dedup discovery (q58's edge producer) emits PATHS: a run
    // of k consecutive near-dup docs is a chain of diameter k−1. Neighbor-min
    // alone would need ~300 rounds here and abort at maxIters; the jump step
    // makes it O(log k).
    val verts = (0L to 300L).toDF("id")
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.run(verts, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 301 && got.values.forall(_ == 0L))
  }

  test("connected components: non-convergence within maxIters is an error, not a wrong answer") {
    val verts = (0L to 5L).toDF("id")
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(verts, chain, maxIters = 2)
    }
  }

  test("P1/P2 conform: rename + project + reorder") {
    val df = Seq((1, "a", true)).toDF("id", "name", "flag")
    val out = Conform.project(
      Conform.renameAll(df, Map("id" -> "key", "name" -> "label")),
      Seq("label", "key"))
    assert(out.columns.toSeq == Seq("label", "key"))
    assert(out.head().getString(0) == "a")
  }

  test("P4 ExtendedPrice formula matches direct computation (100 samples)") {
    val cases = Seq.fill(100)(
      (rnd.nextInt(100) + 1.0, rnd.nextDouble() * 10000, rnd.nextDouble() * 0.99))
    val got = cases.toDF("q", "p", "d")
      .select(col("q"), col("p"), col("d"),
        Derive.extendedPrice(col("q"), col("p"), col("d")).as("x"))
      .as[(Double, Double, Double, Double)].collect()
    got.foreach { case (q, p, d, x) => assert(x == q * p * (1.0 - d)) }
  }

  test("P5 try_cast coerces invalid to null, never throws") {
    val inputs = Seq("42", "-7", "", "12x", "abc", "9999999999999999999", " 3", "3.5")
    val out = inputs.toDF("s")
      .select(col("s"), col("s").try_cast(IntegerType).as("i"))
      .collect()
    val byIn = out.map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(byIn("42").contains(42))
    assert(byIn("-7").contains(-7))
    assert(byIn("").isEmpty)
    assert(byIn("12x").isEmpty)
    assert(byIn("abc").isEmpty)
    assert(byIn("9999999999999999999").isEmpty) // overflow → null, not error
  }

  test("J2 lookup preserves left cardinality and drops the dim key (20 trials)") {
    (1 to 20).foreach { _ =>
      val keys = Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(10) + 1L)
      val fact = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("row_id", "fk")
      val dim = (1L to 5L).map(k => (k, s"dim$k")).toDF("sk", "name")
      val out = Lookup.surrogate(fact, dim, "fk", "sk")
      assert(out.count() == keys.length) // left multiplicity invariant
      assert(!out.columns.contains("sk"))
      assert(out.filter(col("name").isNull).count() == keys.count(_ > 5))
    }
  }

  test("IDENTITY analog: dense surrogate keys are 1..n in natural-key order") {
    val df = Seq(30, 10, 20).map(k => (k, s"v$k")).toDF("nk", "v")
    val out = SurrogateKey.dense(df, "nk", "sk").orderBy("sk")
      .select("sk", "nk").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 10), (2L, 20), (3L, 30)))
  }

  test("S4/S6 overwrite load: empty guard + idempotent reload") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toString
    val path = s"$dir/t"
    val empty = spark.range(0).toDF()
    assert(!Load.overwrite(empty, path)) // S6: refuses empty input
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Load.overwrite(df, path))
    assert(Load.overwrite(df, path)) // run twice — truncate-and-reload
    assert(spark.read.parquet(path).count() == 2)
  }

  test("guarded sinks: every empty shape returns false promptly and leaves the table as it was") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val base = java.nio.file.Files.createTempDirectory("guarded").toString
    val df = Seq((1L, "2024-01", 10.0), (2L, "2024-01", 20.0),
      (3L, "2024-02", 30.0)).toDF("id", "month", "v")
    val empties = Seq(
      "range(0)" -> spark.range(0).select(col("id"),
        lit("2024-01").as("month"), lit(1.0).as("v")),
      "limit(0)" -> df.limit(0),
      "filter(false)" -> df.filter(lit(false)),
      // empty only at run time: the aggregate runs over no rows
      "empty groupBy" -> df.filter(col("v") < 0.0).groupBy("id", "month")
        .agg(sum("v").as("v")),
      "zero-column" -> spark.emptyDataFrame)
    type Sink = (org.apache.spark.sql.DataFrame, String) => Boolean
    type Reader = String => org.apache.spark.sql.DataFrame
    val sinks: Seq[(String, Sink, Reader)] = Seq(
      ("Load.overwrite", (d, p) => Load.overwrite(d, p), p => spark.read.parquet(p)),
      ("Load.overwritePartitioned", (d, p) => Load.overwritePartitioned(d, p, Seq("month")),
        p => spark.read.parquet(p)),
      ("Sources.writeCsv", (d, p) => graft.sources.Sources.writeCsv(d, p),
        p => spark.read.option("header", "true").schema(df.schema).csv(p)))
    def rows(r: Reader, p: String) =
      r(p).select("id", "month", "v").as[(Long, String, Double)].collect().sorted.toSeq
    val expected = df.as[(Long, String, Double)].collect().sorted.toSeq
    sinks.foreach { case (sink, write, read) =>
      val path = s"$base/${sink.replace('.', '_')}"
      assert(write(df, path), sink)
      empties.foreach { case (shape, empty) =>
        val wrote = TimeLimits.failAfter(120.seconds)(write(empty, path))
        assert(!wrote, s"$sink wrote $shape")
        assert(rows(read, path) == expected, s"$sink: $shape changed the table")
        assert(!new java.io.File(path + Load.StagingSuffix).exists,
          s"$sink: $shape left its staging directory")
      }
    }
    // a non-empty zero-column frame still reaches the source and fails
    // there, leaving neither a staging directory nor a changed table
    val path = s"$base/Load_overwrite"
    intercept[Exception](Load.overwrite(spark.range(3).select(), path))
    assert(!new java.io.File(path + Load.StagingSuffix).exists)
    assert(rows(p => spark.read.parquet(p), path) == expected)
  }

  test("observedWrite: the guard and extra aggregates come from the write job") {
    val path = java.nio.file.Files.createTempDirectory("observed").toString + "/t"
    val df = Seq((1L, Some(5L)), (2L, None), (3L, None)).toDF("id", "key")
    val m = Load.observedWrite(df, path,
      count(when(col("key").isNull, lit(1))).as("null_keys"))(
      _.write.mode("overwrite").parquet(_))
    assert(m == Map("rows" -> 3L, "null_keys" -> 2L))
    assert(spark.read.parquet(path).count() == 3)
    val none = Load.observedWrite(df.filter(lit(false)), path,
      count(when(col("key").isNull, lit(1))).as("null_keys"))(
      _.write.mode("overwrite").parquet(_))
    assert(none == Map("rows" -> 0L, "null_keys" -> 0L))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("salted join equals the unsalted join on skewed data") {
    import graft.operators.SkewSalt
    // hot key 1L holds 5000 of 5050 left rows
    val left = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (1 to 50).map(i => (i.toLong + 1, i.toLong))).toDF("k", "payload")
    val right = (1 to 60).map(i => (i.toLong, s"dim$i")).toDF("rk", "name")
    val salted = SkewSalt.saltedEquiJoin(left, right, "k", "rk", salts = 8)
      .select("k", "payload", "name")
    val plain = left.join(right, left("k") === right("rk"))
      .select("k", "payload", "name")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the join key really is (key, salt): both appear in one hashpartitioning
    val p = salted.queryExecution.executedPlan.toString
    assert("hashpartitioning\\([^)]*k[^)]*__salt".r.findFirstIn(p).isDefined ||
      p.contains("BroadcastHashJoin"), p) // tiny right side may still broadcast
  }

  test("partitioned overwrite: readers prune to the filtered partition") {
    import graft.operators.Load
    val dir = java.nio.file.Files.createTempDirectory("part_load").toString
    val df = Seq((1L, "2024-01", 10.0), (2L, "2024-01", 20.0),
      (3L, "2024-02", 30.0)).toDF("id", "month", "v")
    assert(Load.overwritePartitioned(df, dir, Seq("month")))
    val back = spark.read.parquet(dir).filter(col("month") === "2024-01")
    assert(back.count() == 2)
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(month"), p)
    assert(!Load.overwritePartitioned(df.limit(0), dir, Seq("month")))
  }

  test("co-bucketed tables join with zero exchanges") {
    import graft.operators.Load
    val base = java.nio.file.Files.createTempDirectory("bucketed").toString
    val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    val dims = (0L to 99L).map(i => (i, s"d$i")).toDF("k", "name")
    assert(Load.overwriteBucketed(facts, "bk_facts", s"$base/facts", 8, Seq("k")))
    assert(Load.overwriteBucketed(dims, "bk_dims", s"$base/dims", 8, Seq("k")))
    try {
      // disable size-based broadcast so the join strategy is the bucketed
      // sort-merge path (what a 100 TB fact-fact join would take)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_facts").join(spark.table("bk_dims"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"expected exchange-free co-located join:\n$p")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("sorted overwrite: files own disjoint key ranges and round-trip losslessly") {
    import graft.operators.Load
    val dir = java.nio.file.Files.createTempDirectory("sorted_load").toString
    val rnd = new scala.util.Random(7)
    val df = (1 to 2000).map(_ => (rnd.nextLong().abs % 100000, rnd.nextInt()))
      .toDF("k", "v")
    assert(Load.overwriteSorted(df, dir, Seq("k"), files = 4))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2000)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // per-file (min, max) intervals must not overlap — the property that
    // makes parquet min/max stats prune range predicates to one file
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .orderBy("lo").as[(String, Long, Long)].collect()
    assert(ranges.length == 4)
    ranges.sliding(2).foreach { case Array((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 <= lo2, s"overlapping file ranges: $hi1 > $lo2")
    }
  }

  test("z-ordered overwrite: files are compact rectangles in BOTH dimensions") {
    import graft.operators.{Load, ZOrder}
    val rnd = new scala.util.Random(11)
    val df = (1 to 4096).map(_ => (rnd.nextInt(1024), rnd.nextInt(1024)))
      .toDF("a", "b")
    val zdir = java.nio.file.Files.createTempDirectory("zorder").toString
    assert(ZOrder.overwriteZordered(df, zdir, "a", "b", files = 16))
    val back = spark.read.parquet(zdir)
    assert(back.count() == 4096)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // per-file coverage of each dimension's domain: a Z-ordered file owns a
    // compact rectangle, so BOTH dims stay well under full span
    def coverage(data: org.apache.spark.sql.DataFrame, c: String): Double = {
      val spans = data.groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).as("span"))
        .collect().map(_.getAs[Int]("span").toDouble / 1024)
      spans.sum / spans.length
    }
    val (za, zb) = (coverage(back, "a"), coverage(back, "b"))
    assert(za < 0.7 && zb < 0.7, s"z-order coverage not compact: a=$za b=$zb")
    // contrast: a plain range sort on a leaves b spanning ~its full domain
    val sdir = java.nio.file.Files.createTempDirectory("sorted1d").toString
    assert(Load.overwriteSorted(df, sdir, Seq("a"), files = 16))
    val sortedBack = spark.read.parquet(sdir)
    assert(coverage(sortedBack, "b") > 0.85)
    assert(zb < coverage(sortedBack, "b") / 2,
      "z-order should at least halve the secondary dimension's file span")
  }

  test("mortonKey raises on negative inputs instead of producing a broken layout") {
    import graft.operators.ZOrder
    val df = Seq((-1, 5), (3, 4)).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(ZOrder.mortonKey(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("compact: small-file sink rewritten to byte-targeted file count, data intact") {
    import graft.operators.Load
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val df = (1 to 500).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    df.repartition(32).write.mode("overwrite").parquet(dir) // 32 tiny files
    def dataFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles() == 32)
    val n = Load.compact(spark, dir, targetBytes = 1L << 20)
    assert(n < 32 && dataFiles() == n)
    val back = spark.read.parquet(dir)
    assert(back.count() == 500)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("csv and json sources round-trip with explicit schemas") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("fmt").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "with,comma", 0.0))
      .toDF("id", "name", "v")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))

    df.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    df.write.mode("overwrite").json(s"$dir/json")
    // schema-enforced reads, never inference on correctness paths
    val csvBack = spark.read.schema(schema).option("header", "true")
      .csv(s"$dir/csv").orderBy("id").collect().map(_.toSeq)
    val jsonBack = spark.read.schema(schema).json(s"$dir/json")
      .orderBy("id").collect().map(_.toSeq)
    val want = df.orderBy("id").collect().map(_.toSeq)
    assert(csvBack.toSeq == want.toSeq)
    assert(jsonBack.toSeq == want.toSeq)
  }

  test("orc source round-trips with predicate pushdown in the plan") {
    val dir = java.nio.file.Files.createTempDirectory("orc").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "v")
    df.write.mode("overwrite").orc(s"$dir/orc")
    val back = spark.read.schema(df.schema).orc(s"$dir/orc")
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // the columnar contract holds for ORC like parquet: filters reach the scan
    val p = back.filter(col("id") > 1L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), p)
  }

  test("q81 packing invariants hold across shard counts (1/3/8): exact-once, budget, greedy boundaries") {
    // 400 docs, token counts 1..80 — some exceed the budget of 50, so the
    // oversized-singleton branch is exercised; two sources so chains split.
    val budget = 50L
    val docRows = (1 to 400).map { i =>
      val n = 1 + rnd.nextInt(80)
      (i.toLong, if (i % 3 == 0) "books" else "web", Seq.fill(n)("tok").mkString(" "))
    }
    val docs = docRows.toDF("doc_id", "source", "text")
    for (shards <- Seq(1, 3, 8)) {
      val out = graft.queries.Corpus.packSequences(docs, budget, shards)
        .select("doc_id", "source", "shard", "n_tokens", "pack_idx", "pack_pos")
        .as[(Long, String, Long, Long, Long, Long)].collect()
      // every doc packed exactly once
      assert(out.length == 400 && out.map(_._1).distinct.length == 400, s"shards=$shards")
      // per-pack token sum within budget, or a single oversized doc alone
      out.groupBy(r => (r._2, r._3, r._5)).foreach { case (key, pack) =>
        val total = pack.map(_._4).sum
        assert(total <= budget || pack.length == 1, s"shards=$shards pack=$key total=$total n=${pack.length}")
        // pack_pos is contiguous 1..n in doc_id order
        assert(pack.sortBy(_._1).map(_._6).toSeq == (1L to pack.length).toSeq, s"shards=$shards pack=$key")
      }
      // exact next-fit replay: the distributed state machine must agree with
      // a sequential fold over each (source, shard) chain in doc_id order
      out.groupBy(r => (r._2, r._3)).foreach { case (key, chain) =>
        var idx = 0L; var pos = 0L; var used = budget + 1
        chain.sortBy(_._1).foreach { case (docId, _, _, n, gotIdx, gotPos) =>
          if (used + n <= budget) { pos += 1; used += n }
          else { idx += 1; pos = 1L; used = n }
          assert((gotIdx, gotPos) == ((idx, pos)), s"shards=$shards chain=$key doc=$docId")
        }
      }
    }
  }

  test("A1/P6 audits: count and null-key check") {
    val df = Seq((1, Some(10L)), (2, None), (3, Some(30L))).toDF("id", "key")
    assert(Audit.rowCount(df) == 3)
    assert(Audit.nullKeyCount(df, "key") == 1)
  }

  test("q253 snapshot diff: statuses partition the id universe along the declared buckets") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.hashBucket(col("doc_id"), 11).as("bk"))
    val byBk = docs.groupBy("bk").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val total = byBk.values.sum
    val got = graft.queries.Corpus.q253(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .withDefaultValue(0L)
    // the derived v2 mutates exactly the declared buckets: 0 deleted,
    // 1 changed, 2 cloned as added, the rest byte-identical
    assert(got("deleted") == byBk(0L), s"deleted: $got vs $byBk")
    assert(got("changed") == byBk(1L))
    assert(got("added") == byBk(2L))
    assert(got("unchanged") == total - byBk(0L) - byBk(1L))
    // every status row accounted for — the diff is a partition, not a sample
    assert(got.values.sum == total + byBk(2L))
  }

  test("q177 padding audit: bucket caps are structural and the token identity holds") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q177(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted.distinct),
      "buckets ascending and unique")
    rows.foreach { case (bits, cap, n, tok, pad, ppm) =>
      assert(cap == (1L << bits) - 1, s"bucket $bits cap $cap not structural")
      // every member's length is in (cap/2, cap]: pad < cap/2 per doc on avg
      assert(tok + pad == cap * n, s"bucket $bits: token identity broken")
      assert(tok > cap / 2 * n && tok <= cap * n,
        s"bucket $bits holds a doc outside its half-open length range")
      assert(ppm >= 0 && ppm < 500000,
        s"bucket $bits waste $ppm outside [0, 50%) — power-of-2 bound")
    }
    // mass conservation against an independent scan
    val total = graft.Tables.load(spark, sf, "documents")
      .selectExpr("cast(size(split(text, ' ')) as bigint) as n")
      .filter("n > 0").agg(org.apache.spark.sql.functions.sum("n"))
      .collect()(0).getLong(0)
    assert(rows.map(_._4).sum == total, "bucketed token mass must conserve")
  }

  test("q181 documents audit: healthy fixture reports zero alarms and conserves counts") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q181(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._2).sum == nDocs, "per-source counts must conserve")
    rows.foreach { case (src, n, ids, mism, empty, mn, mx, langs) =>
      assert(ids == n, s"$src: duplicate doc_ids in a healthy fixture")
      assert(mism == 0, s"$src: n_chars out of sync with text")
      assert(empty == 0, s"$src: empty documents in a healthy fixture")
      assert(mn >= 1 && mn <= mx, s"$src: token range [$mn, $mx] broken")
      assert(langs >= 1, src)
    }
  }

  test("q195 pack-fill histogram conserves q81's packs, docs, and tokens") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q195(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, np, nd, _) =>
      assert(b >= 0 && b <= 10 && np > 0 && nd >= np)
    }
    // conservation against the packing output itself
    val packs = graft.queries.Corpus.q81(spark, sf).collect()
      .map(r => ((r.getString(1), r.getLong(2), r.getLong(4)), r.getLong(3)))
    val perPack = packs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(rows.map(_._2).sum == perPack.size.toLong, "pack count conserved")
    assert(rows.map(_._3).sum == packs.length.toLong, "doc count conserved")
    assert(rows.map(_._4).sum == packs.map(_._2).sum, "token mass conserved")
    // the histogram assigns each pack to its fill decile
    val expected = perPack.values
      .map(t => math.min(t * 1000000L / 128L / 100000L, 10L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == expected)
  }

  test("q198 shard balance agrees with q84's assignment and its own algebra") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q198(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 7))
    val q84Counts = graft.queries.Corpus.q84(spark, sf).collect()
      .map(_.getLong(1)).groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    assert(rows.map(r => r._1 -> r._2).toMap == q84Counts,
      "q198 must audit the exact q84 shard assignment")
    val tot = rows.map(_._3).sum
    val nSh = rows.length.toLong
    rows.foreach { case (s, _, t, share, skew) =>
      assert(share == t * 1000000L / tot, s"shard $s share")
      assert(skew == t * nSh * 1000L / tot, s"shard $s skew")
    }
  }

  test("q210 shuffle quality audits the exact q84 layout and hovers near zero excess") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q210(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 7))
    // same shard population as q84 (the layout under audit)
    val q84Counts = graft.queries.Corpus.q84(spark, sf).collect()
      .map(_.getLong(1)).groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    assert(rows.map(r => r._1 -> r._2).toMap == q84Counts)
    rows.foreach { case (s, n, same, samePpm, expPpm, excess) =>
      assert(same >= 0L && same <= n - 1, s"shard $s adjacency count")
      assert(samePpm == same * 1000000L / (n - 1), s"shard $s observed ppm")
      assert(expPpm > 0L && expPpm < 1000000L, s"shard $s expectation")
      assert(excess == samePpm - expPpm, s"shard $s excess identity")
      // the md5 ord key IS the shuffle under test: a healthy shuffle sits
      // within sampling noise of the random-permutation expectation
      assert(math.abs(excess) < 200000L, s"shard $s excess $excess")
    }
  }

  test("q227 Gini: bounds, invariance checks, driver-side rank-formula replay") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q227(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(3),
        r.getString(1).split(" ").length.toLong))
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._1)).map(_._3)
      val n = sorted.length.toLong
      val tot = sorted.sum
      val rankMass = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      src -> ((n, tot,
        (2 * rankMass - (n + 1) * tot) * 1000000L / (n * tot)))
    }
    rows.foreach { case (src, n, tot, gini) =>
      assert((n, tot, gini) == expected(src), s"$src mismatch")
      // Gini of a finite positive sample: 0 <= G < 1 (strictly, <= (n-1)/n)
      assert(gini >= 0L && gini < 1000000L * (n - 1) / n + 1, src)
    }
    // a uniform synthetic sample really scores ~0 through the same formula
    val uni = Seq.fill(10)(7L)
    val un = uni.length.toLong
    val uMass = uni.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    assert((2 * uMass - (un + 1) * uni.sum) * 1000000L / (un * uni.sum) == 0L)
  }

  test("q228 pack contamination reconciles with the q81 packs and q171 sides") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Corpus.q228(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    // replay from the q81 pack frame joined to the splitSides assignment
    val packs = graft.queries.Corpus.q81(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(4))))
      .toMap
    val sides = graft.dedup.Dedup.splitSides(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val cells = packs.toSeq.groupBy(_._2).map { case (k, xs) =>
      val ss = xs.map(x => sides(x._1)).distinct
      (k._1, xs.size.toLong, ss.size > 1)
    }
    val expected = cells.groupBy(_._1).map { case (src, xs) =>
      val mixed = xs.filter(_._3)
      src -> ((xs.size.toLong, mixed.size.toLong, mixed.map(_._2).sum))
    }
    rows.foreach { case (src, np, nm, ppm, exposed) =>
      val (en, em, eexp) = expected(src)
      assert((np, nm, exposed) == ((en, em, eexp)), s"$src mismatch")
      assert(ppm == nm * 1000000L / np, src)
      // a mixed pack needs at least two documents per mixed pack
      assert(exposed >= 2 * nm, src)
    }
    // the fixture packs ACROSS the split, so contamination is visibly
    // non-zero — the condition this audit exists to expose
    assert(rows.map(_._3).sum > 0L, "no mixed packs — audit has no signal")
  }

  test("q200 datasheet reconciles with the per-source audits it summarizes") {
    val sf = "/root/testdata/sf0.001"
    val r = graft.queries.Corpus.q200(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val docs = graft.Tables.load(spark, sf, "documents").collect()
      .map(x => (x.getString(3), x.getString(2), x.getString(1)))
    assert(row.getLong(0) == docs.length.toLong)
    assert(row.getLong(1) == docs.map(_._1).distinct.length.toLong)
    assert(row.getLong(2) == docs.map(_._2).distinct.length.toLong)
    val totalTok = docs.map(_._3.split(" ").length.toLong).sum
    assert(row.getLong(3) == totalTok)
    assert(row.getLong(4) == docs.map(_._3).distinct.length.toLong)
    // global distinct can only be <= the sum of per-source distincts (q188)
    val q188Uniq = graft.queries.Extensions.q188(spark, sf).collect()
      .map(_.getLong(3)).sum
    assert(row.getLong(4) <= q188Uniq)
    assert(row.getLong(5) >= 1000000L, "inflation below 1 is impossible")
  }

  test("FuzzyJoin.passJoinCandidates is complete, blockless, with carry columns") {
    // candidates must be a SUPERSET of all pairs at edit distance <= k;
    // a 2-letter alphabet makes near-pairs dense, lengths 1..9 cross the
    // segment boundary (k+1 = 3) and the short-string residual
    val rnd = new scala.util.Random(7)
    val words = (Seq("a", "ab", "ba", "aab") ++ (0 until 40).map(_ =>
      (0 until (1 + rnd.nextInt(9)))
        .map(_ => ('a' + rnd.nextInt(2)).toChar).mkString)).distinct
    val v = words.zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("name", "wid")
    val k = 2
    val got = FuzzyJoin.passJoinCandidates(v, Nil, "name", k,
        carry = Seq("wid")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = words.combinations(2).map(_.sorted).collect {
      case Seq(u, w) if lev(u, w) <= k => (u, w)
    }.toSet
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    assert(expected.subsetOf(gotPairs),
      s"missed true pairs: ${expected -- gotPairs}")
    // orientation + carry integrity: a_name < b_name and wid_a/wid_b are
    // the right rows' ids
    val byWord = words.zipWithIndex.map { case (w, i) => w -> i.toLong }.toMap
    got.foreach { case (a, b, wa, wb) =>
      assert(a < b && byWord(a) == wa && byWord(b) == wb, s"($a,$b,$wa,$wb)")
    }
    // no duplicate candidate pairs
    assert(gotPairs.size == got.length, "candidate pairs must be distinct")
  }
}
