package graft

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q285 readability: driver-side replay of the pooled FRE algebra") {
    val sf = "/root/testdata/sf0.001"
    def groups(s: String, vowels: Boolean): Long = {
      val pat = if (vowels) "[aeiouy]+" else "[.!?]+"
      pat.r.findAllIn(s).length.toLong
    }
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[String]("source"),
        Option(r.getAs[String]("text")).getOrElse("")))
    val replay = docs.groupBy(_._1).map { case (src, ds) =>
      val w = ds.map(_._2.split(" ", -1).length.toLong).sum
      val s = ds.map(d => math.max(1L, groups(d._2.toLowerCase, false))).sum
      val y = ds.map(d => groups(d._2.toLowerCase, true)).sum
      val wps = w * 1000L / s; val spw = y * 1000L / w
      src -> (ds.length.toLong, w, s, y,
        206835L - (1015L * wps) / 1000L - (84600L * spw) / 1000L)
    }
    val got = graft.queries.Extensions.q285(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(7))).toMap
    assert(got.keySet == replay.keySet)
    replay.foreach { case (src, exp) =>
      assert(got(src) == exp, s"$src: ${got(src)} vs $exp")
    }
    // sanity on the scale: pooled FRE stays in the plausible band for
    // space-tokenized synthetic prose (the fixture has no '!?.' storms)
    got.values.foreach { case (_, _, _, _, fre) =>
      assert(fre > -400000L && fre < 207000L, s"fre_milli $fre out of band")
    }
  }

  test("q286 repeat-value planner: dedup + declared decay table replay") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[String]("source"),
        Option(r.getAs[String]("text")).getOrElse("")))
    val replay = docs.groupBy(_._1).map { case (src, ds) =>
      val total = ds.map(_._2.split(" ", -1).length.toLong).sum
      val unique = ds.map(_._2).distinct
        .map(_.split(" ", -1).length.toLong).sum
      src -> (total, unique)
    }
    val got = graft.queries.Training.q286(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == replay.keySet)
    replay.foreach { case (src, (total, unique)) =>
      val g = got(src)
      assert((g._1, g._2) == ((total, unique)),
        s"$src: (${g._1},${g._2}) vs ($total,$unique)")
      // the declared ⌊0.87^i·1e6⌋ table: cum(2)=1870000, cum(4)=3285403,
      // cum(8)=5167600 — and repeat value stays strictly sublinear
      assert(g._3 == unique * 1870000L / 1000000L)
      assert(g._4 == unique * 3285403L / 1000000L)
      assert(g._5 == unique * 5167600L / 1000000L)
      assert(g._5 < 8L * unique || unique == 0L)
      assert(g._3 <= g._4 && g._4 <= g._5)
    }
  }

  test("tokenCount / occurrences / shingles on a constructed string") {
    val df = Seq("the cat and the dog of the house").toDF("text")
    val row = df.select(
      T.tokenCount(col("text")).as("n"),
      T.occurrences(col("text"), "the").as("the_n"),
      T.occurrences(col("text"), "missing").as("m_n"),
      size(T.wordShingles(col("text"), 3)).as("sh3"),
      size(T.wordShingles(col("text"), 99)).as("sh99")).head()
    assert(row.getAs[Int]("n") == 8)
    assert(row.getAs[Long]("the_n") == 3L)
    assert(row.getAs[Long]("m_n") == 0L)
    assert(row.getAs[Int]("sh3") == 6) // 8 tokens → 6 trigrams
    assert(row.getAs[Int]("sh99") == 0) // too short → empty, not error
  }

  test("langId picks the max-scoring language, 'und' when no markers") {
    val df = Seq(
      (1, "the cat and the dog"),      // en
      (2, "der hund und die katze nicht"), // de
      (3, "le chat et les chiens"),    // fr
      (4, "xyzzy plugh")               // none
    ).toDF("id", "text")
    val out = df.select(col("id"), T.langId(col("text")).as("l"))
      .orderBy("id").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "en"), (2, "de"), (3, "fr"), (4, "und")))
  }

  test("cosine: hand-computed values and null on zero norm") {
    val a = Seq(1f, 0f, 0f)
    val b = Seq(0f, 1f, 0f)
    val c = Seq(1f, 1f, 0f)
    val z = Seq(0f, 0f, 0f)
    val df = Seq((a, b), (a, a), (a, c), (a, z)).toDF("x", "y")
    val out = df.select(V.cosine(col("x"), col("y")).as("c")).collect()
    assert(out(0).getDouble(0) == 0.0)
    assert(math.abs(out(1).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(out(2).getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(out(3).isNullAt(0))
  }

  test("native cosine_sim is bit-identical to the HOF reference path") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextFloat() * 2f - 1f),
      Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("x", "y")
    val out = df.select(
      V.cosine(col("x"), col("y")).as("native"),
      V.cosineHof(col("x"), col("y")).as("hof")).collect()
    out.foreach { r =>
      // identical doubles, not approximate: both paths accumulate double
      // precision strictly left-to-right
      assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("native portable_hyperplane_sig matches the HOF algebra and a driver replay") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(100)(Seq.fill(rnd.nextInt(64) + 1)(
      rnd.nextInt(201).toLong - 100L))
    val df = rows.toDF("qv")
    val hof =
      """aggregate(sequence(0, 62), CAST(0 AS BIGINT), (acc, t) ->
        |  acc + shiftleft(CASE WHEN aggregate(
        |    transform(qv, (x, j) ->
        |      x * ((CAST(1299709 AS BIGINT) * (t * size(qv) + j)
        |            + 15485863) % 1000003 - 500001)),
        |    CAST(0 AS BIGINT), (a, v) -> a + v) >= 0
        |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, t))""".stripMargin
    val out = df.select(
      call_function("portable_hyperplane_sig", col("qv")).as("native"),
      expr(hof).as("hofv")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // driver-side replay of the algebra, independent of both Spark paths
    def psig(q: Seq[Long]): Long = {
      val d = q.length
      (0 until 63).foldLeft(0L) { (sig, t) =>
        val s = q.indices.map(j =>
          q(j) * ((1299709L * (t.toLong * d + j) + 15485863L) % 1000003L - 500001L)).sum
        if (s >= 0L) sig | (1L << t) else sig
      }
    }
    val natives = df.select(call_function("portable_hyperplane_sig", col("qv")))
      .collect().map(_.getLong(0))
    rows.zip(natives).foreach { case (q, n) => assert(psig(q) == n) }
    // degenerate inputs follow the native convention: 0L
    val degen = Seq((Seq.empty[Long], 1), (Seq(1L, 2L), 2)).toDF("qv", "tag")
      .select(when(col("tag") === 2, lit(null).cast("array<bigint>"))
        .otherwise(col("qv")).as("qv"))
    val dout = degen.select(
      call_function("portable_hyperplane_sig", col("qv"))).collect()
    assert(dout(0).getLong(0) == 0L) // empty array
    assert(dout(1).isNullAt(0))      // null array stays null (nullSafeEval)
  }

  test("cosine_sim degenerate inputs: length mismatch and zero norm → null") {
    val df = Seq(
      (Seq(1f, 2f), Seq(1f, 2f, 3f)), // length mismatch
      (Seq(0f, 0f), Seq(1f, 2f))      // zero norm
    ).toDF("x", "y")
    val out = df.select(V.cosine(col("x"), col("y"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("cosine_sim mixed float/double sides (query-literal pattern)") {
    val df = Seq(Seq(1f, 2f, 3f)).toDF("x")
    val qLit = typedlit(Seq(1.0, 2.0, 3.0))
    val out = df.select(V.cosine(col("x"), qLit)).head().getDouble(0)
    assert(math.abs(out - 1.0) < 1e-12)
  }

  test("cosine_sim is registered on the SQL surface") {
    val n = spark.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head().getDouble(0)
    assert(n == 1.0)
  }

  test("the session registers exactly the eleven graft SQL functions") {
    val registry = spark.sessionState.functionRegistry
    val graftFns = registry.listFunction().map(_.funcName).filter { f =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(f))
        .exists(_.getClassName.startsWith("graft.plans."))
    }.toSet
    assert(graftFns == Set("cosine_sim", "dot_i64", "winnow_select",
      "intersect_count_i64", "portable_hyperplane_sig", "word_shingles",
      "portable_shingle_hashes", "semdedup_closure", "portable_simhash60",
      "pq_encode", "adc_dist"), graftFns.toSeq.sorted.mkString(", "))
  }

  test("q205 quality rules replay from a driver-side per-doc fold") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Extensions.q205(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getString(3), r.getString(1).split(" ")))
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      val flags = xs.map { case (_, w) =>
        val rShort = w.length < 30
        val rNostop = !(w.contains("the") || w.contains("a"))
        val rLowTtr = w.distinct.length.toLong * 1000000L / w.length < 400000L
        (rShort, rNostop, rLowTtr)
      }
      val any = flags.count(f => f._1 || f._2 || f._3).toLong
      src -> ((xs.length.toLong, flags.count(_._1).toLong,
        flags.count(_._2).toLong, flags.count(_._3).toLong, any,
        (xs.length - any) * 1000000L / xs.length))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, nd, ns, nn, nl, na, pp) =>
      assert((nd, ns, nn, nl, na, pp) == expected(src), s"$src mismatch")
    }
    // each rule fires somewhere, and no source is wiped out entirely
    assert(rows.map(_._3).sum > 0L && rows.map(_._4).sum > 0L)
    assert(rows.forall(_._7 > 0L), "a rule set must not zero a source")
  }
}
