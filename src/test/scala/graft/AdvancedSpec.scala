package graft

import graft.operators.AsOfJoin
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the Advanced query set's operators on literal inputs —
  * boundary cases the sf-fixture oracle runs can't isolate. */
class AdvancedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("AsOfJoin.backward: latest-at-or-before, inclusive, null when none") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // after two rights → latest wins
      (2L, 10L, ts("2024-01-01 08:00:00")), // exactly at a right ts → inclusive
      (3L, 10L, ts("2024-01-01 05:00:00")), // before all rights → null
      (4L, 99L, ts("2024-01-01 10:00:00"))  // key with no rights → null
    ).toDF("event_id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 08:00:00")),
      (10L, ts("2024-01-01 09:30:00"))
    ).toDF("k", "rt")

    val out = AsOfJoin.backward(left, right, key = "k", leftTs = "t",
        rightTs = "rt", outCol = "asof")
      .select("event_id", "asof").collect().map(r => r.getLong(0) -> r.get(1)).toMap

    assert(out(1L) == ts("2024-01-01 09:30:00"))
    assert(out(2L) == ts("2024-01-01 08:00:00"))
    assert(out(3L) == null)
    assert(out(4L) == null)
    assert(out.size == 4) // left-outer: every left row survives exactly once
  }

  test("AsOfJoin.backward: duplicate right timestamps stay deterministic") {
    val left = Seq((1L, 5L, ts("2024-01-01 12:00:00"))).toDF("id", "k", "t")
    val right = Seq((5L, ts("2024-01-01 11:00:00")), (5L, ts("2024-01-01 11:00:00")))
      .toDF("k", "rt")
    val out = AsOfJoin.backward(left, right, "k", "t", "rt", "asof")
    assert(out.count() == 1)
    assert(out.head().getAs[java.sql.Timestamp]("asof") == ts("2024-01-01 11:00:00"))
  }

  test("AsOfJoin.backward equals the naive join+max reference on random data") {
    val rnd = new scala.util.Random(99)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, ts("2024-01-01 00:00:00").getTime +
        rnd.nextInt(86400) * 1000L))
      .map { case (id, k, ms) => (id, k, new java.sql.Timestamp(ms)) }
      .toDF("event_id", "k", "t")
    val right = (1 to 150).map(_ =>
      (rnd.nextInt(25).toLong, ts("2024-01-01 00:00:00").getTime +
        rnd.nextInt(86400) * 1000L))
      .map { case (k, ms) => (k, new java.sql.Timestamp(ms)) }
      .toDF("k", "rt")

    val asof = AsOfJoin.backward(left, right, "k", "t", "rt", "asof")
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap

    // naive reference: left-join all candidates, take max(rt <= t)
    import org.apache.spark.sql.functions._
    val naive = left.join(right, left("k") === right("k") &&
        right("rt") <= left("t"), "left")
      .groupBy(left("event_id")).agg(max("rt").as("asof"))
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap

    assert(asof.keySet == naive.keySet && asof.size == 300)
    asof.foreach { case (id, v) => assert(v == naive(id), s"event $id") }
  }

  test("median_x2: odd and even group sizes (q48 formula)") {
    // odd group: {10,20,30} → median 20 → x2 = 40
    // even group: {10,20,30,40} → middle two 20+30 → x2 = 50
    val df = Seq(
      ("odd", 1L, 10L), ("odd", 2L, 20L), ("odd", 3L, 30L),
      ("even", 4L, 10L), ("even", 5L, 20L), ("even", 6L, 30L), ("even", 7L, 40L)
    ).toDF("g", "id", "cents").createOrReplaceTempView("med_in")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = spark.table("med_in")
    val w = Window.partitionBy("g").orderBy(col("cents"), col("id"))
    val wAll = Window.partitionBy("g")
    val rn2 = col("rn") * 2
    val out = base.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("g")
      .agg((sum(when(rn2 === col("n") || rn2 === col("n") + 1 || rn2 === col("n") + 2,
          col("cents")).otherwise(0L))
        * when(max(col("n")) % 2 === 0, 1L).otherwise(2L)).as("median_x2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("odd") == 40L)
    assert(out("even") == 50L)
  }

  test("band join boundaries are half-open [lo, hi)") {
    val rows = Seq((1L, 900.0), (2L, 919.99), (3L, 920.0), (4L, 999.99))
      .toDF("p_partkey", "p_retailprice")
    val bands = spark.createDataFrame(Seq(
      ("b0", 900.0, 920.0), ("b1", 920.0, 1000.0))).toDF("band", "lo", "hi")
    import org.apache.spark.sql.functions._
    val out = rows.join(broadcast(bands),
        rows("p_retailprice") >= bands("lo") && rows("p_retailprice") < bands("hi"))
      .select("p_partkey", "band").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b0", 2L -> "b0", 3L -> "b1", 4L -> "b1"))
  }

  test("q53 sketches track the exact operators within 10%") {
    val sf = "/root/testdata/sf0.001"
    val sk = graft.queries.Advanced.q53(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exactDistinct = graft.queries.Advanced.q52(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactMedian = graft.queries.Advanced.q48(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2) / 2).toMap // median_x2 → median
    sk.foreach { case (k, (cust, med)) =>
      assert(math.abs(cust - exactDistinct(k)).toDouble / exactDistinct(k) < 0.1,
        s"$k approx distinct $cust vs ${exactDistinct(k)}")
      assert(math.abs(med - exactMedian(k)).toDouble / exactMedian(k) < 0.1,
        s"$k approx median $med vs ${exactMedian(k)}")
    }
  }

  test("hash sample is stable across evaluations") {
    val a = graft.queries.Advanced.q44(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSeq
    val b = graft.queries.Advanced.q44(spark, "/root/testdata/sf0.001")
      .collect().map(_.getLong(0)).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("q273 quantile sketch: every reported bracket contains the exact percentile; shards merge by count-sum") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // exact percentiles driver-side, the q108 ceil-rank rule
    val toks = Tables.load(spark, sf, "documents")
      .select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, g) =>
        val v = g.map(_._2).sorted
        def pct(q: Int) = v(((v.length.toLong * q + 999) / 1000 - 1).toInt)
        s -> (pct(500), pct(900), pct(990))
      }
    val rows = graft.queries.Advanced.q273(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99) = toks(r.getString(0))
      assert(r.getLong(2) <= p50 && p50 <= r.getLong(3),
        s"${r.getString(0)}: p50=$p50 outside [${r.getLong(2)}, ${r.getLong(3)}]")
      assert(r.getLong(4) <= p90 && p90 <= r.getLong(5),
        s"${r.getString(0)}: p90=$p90 outside bracket")
      assert(r.getLong(6) <= p99 && p99 <= r.getLong(7),
        s"${r.getString(0)}: p99=$p99 outside bracket")
      // the declared error bound: hi/lo ratio is exactly 2 (minus one)
      assert(r.getLong(3) == 2 * r.getLong(2) - 1 || r.getLong(2) == 0L)
    }
    // mergeability: the sketch built per shard (odd/even doc_ids) and
    // count-summed equals the whole-corpus sketch — the property that
    // makes this the 100 TB quantile path
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tok"))
      .withColumn("bucket",
        when(col("n_tok") <= 0L, lit(0L))
          .otherwise(length(bin(col("n_tok"))).cast("long")))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("source", "bucket").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val whole = sketch(docs)
    val odd = sketch(docs.filter(col("doc_id") % 2 === 1))
    val even = sketch(docs.filter(col("doc_id") % 2 === 0))
    val merged = (odd.keySet ++ even.keySet).map(k =>
      k -> (odd.getOrElse(k, 0L) + even.getOrElse(k, 0L))).toMap
    assert(merged == whole, "shard sketches must count-sum to the corpus sketch")
  }

  test("q216 Bloom filter: no false negatives, OR-merge, calibrated FPR") {
    val sf = "/root/testdata/sf0.001"
    val words = graft.queries.Advanced.q216(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(words.forall(w => java.lang.Long.bitCount(w._2) == w._3))
    val bits = words.map(r => r._1 -> r._2).toMap
    def md5bucket(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 2048
    }
    def contains(key: String): Boolean = (0 until 4).forall { j =>
      val b = md5bucket(s"$key#bf$j")
      val w = bits.getOrElse(b / 64, 0L)
      (w & (1L << (b % 64).toInt)) != 0L
    }
    val texts = graft.Tables.load(spark, sf, "documents").collect()
      .map(_.getString(1))
    // the defining guarantee: every inserted key passes the probe
    assert(texts.forall(contains), "Bloom filters never false-negative")
    // driver replay: rebuilding the words from the texts matches exactly
    val replay = scala.collection.mutable.Map.empty[Long, Long]
    texts.foreach { t =>
      (0 until 4).foreach { j =>
        val b = md5bucket(s"$t#bf$j")
        replay(b / 64) = replay.getOrElse(b / 64, 0L) | (1L << (b % 64).toInt)
      }
    }
    assert(replay.toMap == bits, "word replay mismatch")
    // shard filters OR-merge into the full filter
    val (l, r) = texts.splitAt(texts.length / 2)
    def build(ts: Seq[String]): Map[Long, Long] = {
      val m = scala.collection.mutable.Map.empty[Long, Long]
      ts.foreach { t => (0 until 4).foreach { j =>
        val b = md5bucket(s"$t#bf$j")
        m(b / 64) = m.getOrElse(b / 64, 0L) | (1L << (b % 64).toInt)
      } }
      m.toMap
    }
    val merged = (build(l.toSeq).toSeq ++ build(r.toSeq).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ | _)).toMap
    assert(merged == bits, "shard filters must OR-merge into the full filter")
    // FPR on definitely-absent probes tracks the (1-e^(-kn/m))^k curve
    val fp = (0 until 1000).count(i => contains(s"absent-probe-$i"))
    assert(fp > 10 && fp < 400, s"FPR $fp/1000 outside the calibrated band")
  }

  test("q233 HLL hour merge: merged registers equal the direct build") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Advanced.q233(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 64, "structurally bounded by m=64")
    rows.foreach { case (b, nHours, rho) =>
      assert(b >= 0 && b < 64, s"bucket $b outside m=64")
      assert(nHours >= 1, s"bucket $b: a present register needs >=1 hour")
      assert(rho >= 1 && rho <= 55, s"bucket $b: rho $rho outside [1,55]")
    }
    // independent in-engine direct build (q215 shape, no hourly stage):
    // register-for-register equality is the MAX-merge rollup proof
    import org.apache.spark.sql.functions._
    val p54 = 1L << 54
    val direct = graft.Tables.load(spark, sf, "events")
      .select(graft.functions.TextFunctions.portableHash60(col("user_id")).as("h"))
      .select(expr(s"h div ${p54}L").as("bucket"), expr(s"h % ${p54}L").as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("rest"))).cast("long")).as("rho"))
      .groupBy("bucket").agg(max("rho").as("mr"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._3).toMap == direct,
      "hour-merged registers diverge from the direct build")
  }

  test("q215 HLL registers: replay, mergeability, and a bounded finished estimate") {
    val sf = "/root/testdata/sf0.001"
    val regs = graft.queries.Advanced.q215(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(regs.nonEmpty && regs.keys.forall(b => b >= 0 && b < 64))
    assert(regs.values.forall(r => r >= 1 && r <= 55))
    // driver-side replay over the raw texts + the MAX-merge property:
    // registers from any two halves merge by max into the full table
    val texts = graft.Tables.load(spark, sf, "documents").collect()
      .map(_.getString(1))
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def registers(ts: Seq[String]): Map[Long, Long] =
      ts.map { t =>
        val h = h60(t); val bucket = h >> 54; val rest = h & ((1L << 54) - 1)
        bucket -> (if (rest == 0L) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(rest)))
      }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(registers(texts.toSeq) == regs, "register replay mismatch")
    val (l, r) = texts.splitAt(texts.length / 2)
    val merged = (registers(l.toSeq).toSeq ++ registers(r.toSeq).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(merged == regs, "shard registers must MAX-merge into the full table")
    // finish the estimate (consumer-side float math, the q88 discipline)
    val m = 64
    val s = (0 until m).map(b => math.pow(2.0, -regs.getOrElse(b.toLong, 0L).toDouble)).sum
    val alpha = 0.7213 / (1 + 1.079 / m)
    val rawEst = alpha * m * m / s
    val v = (0 until m).count(b => !regs.contains(b.toLong))
    val est = if (rawEst < 2.5 * m && v > 0) m * math.log(m.toDouble / v) else rawEst
    val exact = texts.distinct.length.toDouble
    assert(math.abs(est - exact) / exact < 0.25,
      s"HLL estimate $est vs exact $exact outside 25%")
  }
}
