package graft

import graft.queries.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the q87–q95 statistical-analytics family beyond the smoke /
  * oracle gates: the exact-rational variance agrees with the native double
  * stddev, funnel stages are monotone, coverage curves are monotone and
  * bounded, association ratios sit in their algebraic ranges, and the
  * grouping-set totals reconcile with plain aggregates.
  */
class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q294 FD audit: PK dependency holds exactly; g3 replays for one pair") {
    val rows = Stats.q294(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    // the PK-derived candidate is a REAL functional dependency
    val pk = rows(("orders", "o_orderkey", "o_custkey"))
    assert(pk._2 == 0L && pk._3 == 1000000L && pk._5 == 0L)
    // driver-side g3 replay for the nationkey -> mktsegment pair
    val pairs = Tables.load(spark, sf, "customer")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byA = pairs.groupBy(_._1)
    val nViol = byA.count(_._2.map(_._2).distinct.length > 1).toLong
    val toFix = byA.values.map { g =>
      g.length - g.groupBy(_._2).values.map(_.length).max
    }.sum.toLong
    val c = rows(("customer", "c_nationkey", "c_mktsegment"))
    assert(c._1 == byA.size.toLong && c._2 == nViol && c._5 == toFix,
      s"g3 replay mismatch: $c vs (${byA.size}, $nViol, $toFix)")
  }

  test("q295 NDV estimate: sample reconciles, Chao1 beats naive scale-up") {
    val r = Stats.q295(spark, sf).collect()(0)
    val (ndv, nRows, sRows, d, f1, f2, chao, scale, errC, errS) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
    assert(ndv == Tables.load(spark, sf, "lineitem")
      .select("l_partkey").distinct().count())
    assert(d <= math.min(ndv, sRows) && f1 + f2 <= d && sRows < nRows)
    assert(chao == d + (if (f2 > 0) f1 * f1 / (2 * f2) else f1 * (f1 - 1) / 2))
    assert(scale == d * 10)
    assert(chao >= d, "Chao1 is a lower-bound correction, never below d")
    // on a 30x-replicated key domain the unseen-mass correction must beat
    // blind scale-up by a wide margin (deterministic fixture)
    assert(errC < errS / 10, s"chao $errC vs scaleup $errS")
  }

  test("q292 watermark sizing: planted disorder lands in exact log buckets") {
    import spark.implicits._
    // user 1 arrival order: t=1000, 5000, 4000 (1s late -> bucket 10),
    // 5000, 2500 (2.5s late -> bucket 12), 10000; user 2 fully in order
    val e = Seq(
      (1L, 1L, 1000L), (1L, 2L, 5000L), (1L, 3L, 4000L),
      (1L, 4L, 5000L), (1L, 5L, 2500L), (1L, 6L, 10000L),
      (2L, 7L, 100L), (2L, 8L, 200L)
    ).toDF("user_id", "event_id", "tms")
    val out = queries.Stats.q292From(e)
      .as[(Long, Long, Long)].collect().toSeq
    // lateness: {0,0,1000,0,2500,0,0,0}: bucket(1000)=10, bucket(2500)=12
    assert(out == Seq(
      (0L, 6L, 250000L),   // watermark 0: drops the 2 late events = 25%
      (10L, 1L, 125000L),  // watermark 2^10 ms keeps the 1.0s event
      (12L, 1L, 0L)),      // watermark 2^12 ms loses nothing
      s"got $out")
  }

  test("q290 join cardinality: exact leg equals the materialized join") {
    val r = Stats.q290(spark, sf).collect()(0)
    val (nA, nB, exact, estInd, estHh, errInd, errHh) =
      (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))
    // ground truth: actually materialize the join once
    val a = Tables.load(spark, sf, "events")
      .select(col("user_id").cast("long").as("k"))
    val b = Tables.load(spark, sf, "orders")
      .select(col("o_custkey").cast("long").as("k"))
    assert(nA == a.count() && nB == b.count())
    assert(exact == a.join(b, Seq("k")).count(),
      s"sketch-free exact leg $exact != materialized join")
    assert(errInd == math.abs(estInd - exact) * 1000000L / exact)
    assert(errHh == math.abs(estHh - exact) * 1000000L / exact)
    // on the fixture the heavy-hitter histogram beats plain independence —
    // the measured argument for keeping per-key stats (deterministic data)
    assert(errHh <= errInd, s"hh $errHh vs independence $errInd")
  }

  test("q282 concurrency sweep: planted overlaps, midnight span, touch rule") {
    import spark.implicits._
    val M = 60000L
    val day0 = 0L
    // user 1: session [0m, 10m]; user 2: [5m, 20m] -> peak 2 at 5m
    // user 3: one event at 20m exactly = user 2's session end (touching
    //   counts concurrent -> momentary 3 at 20m? no: user1 ended at 10m,
    //   so 20m holds users 2 and 3 -> still 2; peak stays 2 AT 5m)
    // user 4: session spanning midnight [23h50m day0, 0h10m day1] -> both
    //   days count it; day1 carries it in at day start
    val events = Seq(
      (1L, 1L, day0 + 0L), (2L, 1L, day0 + 10L * M),
      (3L, 2L, day0 + 5L * M), (4L, 2L, day0 + 20L * M),
      (5L, 3L, day0 + 20L * M),
      (6L, 4L, day0 + (23L * 60L + 50L) * M),
      (7L, 4L, day0 + 86400000L + 10L * M)
    ).toDF("event_id", "user_id", "tms")
      .select(col("user_id"), col("event_id"), col("tms"))
    val out = queries.Stats.q282From(events)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // day 0: sessions = u1, u2, u3, u4 -> 4; peak 2 first at 5m
    // day 1: u4 only, carried in at the day-0/1 boundary -> peak 1 at day start
    assert(out == Seq(
      (0L, 4L, 2L, 5L * M),
      (1L, 1L, 1L, 86400000L)), s"got $out")
  }

  test("q282 flash-crowd hour: a 1M-delta hour sweeps minute-keyed, never one hour-wide sorted partition") {
    // r14 VERDICT #4 (the declared q282 residual): the raw +1/-1 prefix
    // sum must run inside MINUTE partitions, so a flash-crowd hour never
    // lands in a single sorted window partition. Planted: 500k one-event
    // sessions (1M deltas) all inside hour 3 of day 0, pairwise-staggered
    // so the true peak is known in closed form, plus one all-day session
    // riding over it.
    import spark.implicits._
    val M = 60000L
    // 500k single-event sessions (1M sweep deltas), all inside hour 3 of
    // day 0, spread over its 60 minutes. Sessions are instants ([t, t]
    // intervals), so concurrency = sessions sharing a millisecond; the
    // construction puts ids {2q, 2q+1} at the same tms and NOTHING else
    // collides (tms determines q = id div 2 uniquely: q % 60 and
    // (q div 60) % 60000 with q div 60 < 4167), so the true peak is
    // exactly 2, first achieved at the hour's first millisecond (q = 0).
    val events = spark.range(500000).select(
      (col("id") + 100L).as("user_id"),
      (col("id") + 10L).as("event_id"),
      expr(s"${3L * 3600000L} + ((id div 2) % 60) * $M + ((id div 120) % $M)")
        .as("tms"))
      .select(col("user_id"), col("event_id"), col("tms"))
    val df = queries.Stats.q282From(events)
    // plan shape: the raw-delta window is (d, minute)-keyed — an hour-wide
    // (d, h) or day-wide partition over the raw frame would be the exact
    // single-partition sort the tier exists to prevent
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(d#") ||
      plan.contains("windowspecdefinition(d"), plan.take(2000))
    val rawWindows = plan.split("windowspecdefinition\\(")
      .drop(1).map(_.takeWhile(_ != ')')).toSeq
    assert(rawWindows.exists(w => w.contains("mnt")),
      s"raw prefix sum must be minute-keyed, windows: $rawWindows")
    val out = df.as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 1 && out.head._1 == 0L, s"got $out")
    val (_, nSess, peak, peakMs) = out.head
    assert(nSess == 500000L, s"got $nSess sessions")
    assert(peak == 2L, s"peak must be the planted colliding pair: $peak")
    assert(peakMs == 3L * 3600000L,
      s"first-achieving ms must be the hour's first colliding pair: $peakMs")
  }

  test("q283 CUSUM: planted level shift alarms; linearization == recurrence") {
    import spark.implicits._
    // type A: 200 quiet hours at 10, then 100 hours at 30 (a +200% shift);
    // type B: stationary at 10 throughout
    val rows =
      (0 until 300).flatMap { h =>
        val nA = if (h < 200) 10 else 30
        Seq.fill(nA)(("A", h.toLong)) ++ Seq.fill(10)(("B", h.toLong))
      }
    val ser = queries.Stats.hourlySeriesFrom(
      rows.toDF("event_type", "hour").select(col("hour"), col("event_type")))
    val out = queries.Stats.q283From(ser).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toMap
    val a = out("A"); val b = out("B")
    assert(a._1 == 300L && b._1 == 300L)
    // A alarms shortly after hour 200; B never; no downward alarms anywhere
    assert(a._3 >= 200L && a._3 <= 215L, s"A first alarm ${a._3}")
    assert(a._4 >= 1L)
    assert(b._3 == -1L && b._4 == 0L, s"B alarmed: $b")
    assert(a._6 == -1L && b._6 == -1L)
    // the window linearization must equal the literal max(0, S+dev) loop
    val meanMicro = a._2
    val c = meanMicro + meanMicro / 2
    var s = 0L; var smax = 0L; var first = -1L; var cnt = 0L
    (0 until 300).foreach { h =>
      val x = if (h < 200) 10L else 30L
      s = math.max(0L, s + (x * 1000000L - c))
      smax = math.max(smax, s)
      if (s >= 4L * meanMicro) { cnt += 1; if (first < 0) first = h.toLong }
    }
    assert(a._3 == first && a._4 == cnt && a._5 == smax,
      s"engine (${a._3},${a._4},${a._5}) vs recurrence ($first,$cnt,$smax)")
  }

  test("q284 ACF: planted period-2 series alternates sign; replay agrees") {
    import spark.implicits._
    // period-2: counts alternate 5 / 25 -> acf(odd lags) ~ -1e6, even ~ +1e6
    val rows = (0 until 240).flatMap { h =>
      Seq.fill(if (h % 2 == 0) 5 else 25)(("P", h.toLong))
    }
    val ser = queries.Stats.hourlySeriesFrom(
      rows.toDF("event_type", "hour").select(col("hour"), col("event_type")))
    val out = queries.Stats.q284From(ser).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 6)
    out.foreach { case (lag, nPairs, acf) =>
      assert(nPairs == 240L - lag)
      if (lag % 2 == 1) assert(acf < -900000L, s"lag $lag acf $acf")
      else assert(acf > 900000L, s"lag $lag acf $acf")
    }
    // exact driver replay of the integer ACF definition
    val xs = (0 until 240).map(h => if (h % 2 == 0) 5L else 25L)
    val m = xs.sum / xs.length
    val dev = xs.map(_ - m)
    val den = dev.map(d => d * d).sum
    (1 to 6).foreach { k =>
      val num = (0 until 240 - k).map(t => dev(t) * dev(t + k)).sum
      val exp = if (num >= 0) num * 1000000L / den
        else -((-num) * 1000000L / den)
      assert(out(k - 1)._3 == exp, s"lag $k: ${out(k - 1)._3} vs $exp")
    }
  }

  test("q88 power sums reproduce native stddev_samp within 1e-9") {
    // the finishing rational n·Σx²−(Σx)² / n·(n−1) is computed HERE, in the
    // consumer — q88 ships only the overflow-safe mergeable moments
    val moments = Stats.q88(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val native = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(stddev_samp(col("l_quantity").cast("long")).as("sd"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(moments.keySet == native.keySet)
    moments.foreach { case (flag, (n, sx, sxx)) =>
      val rational =
        math.sqrt((BigInt(n) * sxx - BigInt(sx) * sx).toDouble / (n.toDouble * (n - 1)))
      assert(math.abs(rational - native(flag)) < 1e-9,
        s"$flag: rational $rational vs native ${native(flag)}")
    }
  }

  test("q87 grouping sets: each set's counts sum to the table total") {
    val rows = Stats.q87(spark, sf).collect()
    val total = Tables.load(spark, sf, "orders").count()
    val byPriority = rows.filter(_.getInt(0) == 1).map(_.getLong(3)).sum
    val byStatus = rows.filter(_.getInt(0) == 2).map(_.getLong(3)).sum
    val grand = rows.filter(_.getInt(0) == 3).map(_.getLong(3)).sum
    assert(byPriority == total && byStatus == total && grand == total)
  }

  test("q93 coverage curve is monotone, bounded, and cum_freq is the running sum") {
    val rows = Stats.q93(spark, sf).collect()
    val cov = rows.map(_.getLong(4))
    assert(cov.nonEmpty && cov.sameElements(cov.sorted))
    assert(cov.last <= 1000000L)
    val freqs = rows.map(_.getLong(2))
    val cums = rows.map(_.getLong(3))
    assert(cums.sameElements(freqs.scanLeft(0L)(_ + _).tail))
    assert(rows.map(_.getLong(0)).sameElements(1L to rows.length))
  }

  test("q94 funnel stages are monotone non-increasing") {
    val r = Stats.q94(spark, sf).collect().head
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: $v >= $c >= $p")
    assert(v > 0)
  }

  test("q94 funnel ordering is strict: click counted only at/after first view") {
    import spark.implicits._
    // user 1: click BEFORE the view — must not advance past stage 1.
    // user 2: full ordered funnel. user 3: view only.
    val events = Seq(
      (1L, "click", 1000L), (1L, "view", 2000L),
      (2L, "view", 1000L), (2L, "click", 2000L), (2L, "purchase", 3000L),
      (3L, "view", 5000L)
    ).toDF("user_id", "event_type", "tms")
    // q94's stage logic replayed on a literal frame (Tables.load expects the
    // nanos fixture layout, so the stage algebra is asserted directly).
    val e = events
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tms").as("mv"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tms") >= col("mv"))
      .groupBy("user_id").agg(min("tms").as("mc"))
    assert(v.count() == 3)
    assert(c.collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("q90 association ratios are within algebraic bounds") {
    val rows = Stats.q90(spark, sf).collect()
    rows.foreach { r =>
      val (pNext, dice) = (r.getLong(3), r.getLong(4))
      assert(pNext >= 0 && pNext <= 1000000L)
      assert(dice >= 0 && dice <= 1000000L)
    }
    assert(rows.length == 20)
  }

  test("q91 heavy hitters all clear the 2% threshold and ranks are dense") {
    val rows = Stats.q91(spark, sf).collect()
    val ranks = rows.map(_.getLong(3))
    assert(ranks.sameElements(1L to rows.length))
    // the query keeps freq·50 > total, whose floored ppm can land exactly
    // on 20000 — the bound here must be inclusive
    rows.foreach(r => assert(r.getLong(2) >= 20000L,
      s"${r.getString(0)} below 2%: ${r.getLong(2)} ppm"))
  }

  test("q92 bitwise aggregates: AND ⊆ every key, OR ⊇ every key") {
    val rows = Stats.q92(spark, sf).collect()
    rows.foreach { r =>
      val (andK, orK) = (r.getLong(1), r.getLong(2))
      assert((andK & orK) == andK) // and-mask is a subset of or-mask
    }
    assert(rows.nonEmpty)
  }

  test("q112 centroid sums replay against a driver-side computation") {
    val got = Stats.q112(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getInt(2) -> r.getSeq[Float](1))
    val expected = vecs.flatMap { case (label, v) =>
      v.zipWithIndex.map { case (x, d) =>
        (label, d.toLong) -> math.floor(x.toDouble * 1000).toLong }
    }.groupBy(_._1).map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._2).sum) }
    assert(got == expected)
  }

  test("q113 MAD statistics are internally consistent per group") {
    val rows = Stats.q113(spark, sf).collect()
    val byGroup = Tables.load(spark, sf, "orders")
      .select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    assert(rows.map(_.getString(0)).toSet == byGroup.keySet)
    rows.foreach { r =>
      val (p, n) = (r.getString(0), r.getLong(1))
      val (med, mad, out) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val vals = byGroup(p)
      assert(n == vals.length)
      // med is the explicit lower median of the group
      assert(med == vals(((n + 1) / 2 - 1).toInt))
      // mad is the lower median of deviations; replay it
      val devs = vals.map(v => math.abs(v - med)).sorted
      assert(mad == devs(((n + 1) / 2 - 1).toInt))
      assert(out == vals.count(v => math.abs(v - med) > 3 * mad))
      // at most half the points can exceed any multiple >=1 of the MAD
      assert(out <= n / 2)
    }
  }

  test("q180 OOV rate replays from a driver-side top-20 vocabulary") {
    val rows = Stats.q180(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // independent replay: count tokens, build the (freq desc, term) top-20,
    // recount OOV occurrences per source
    val toks = Tables.load(spark, sf, "documents").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(3), t)))
    val vocab = toks.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(20).map(_._1).toSet
    val expected = toks.groupBy(_._1).map { case (src, xs) =>
      val oov = xs.count(x => !vocab(x._2))
      src -> ((xs.length.toLong, oov.toLong,
        oov.toLong * 1000000L / xs.length))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, n, oov, ppm) =>
      assert((n, oov, ppm) == expected(src), s"$src mismatch")
    }
    assert(rows.map(_._3).sum > 0, "no OOV mass — the cutoff knob is vacuous")
  }

  test("q190 source divergence replays from a driver-side TV computation") {
    val rows = Stats.q190(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val toks = Tables.load(spark, sf, "documents").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(3), t)))
    val n = toks.length.toLong
    val shareT = toks.groupBy(_._2).view
      .mapValues(_.length.toLong * 1000000L / n).toMap
    val expected = toks.groupBy(_._1).map { case (src, xs) =>
      val ns = xs.length.toLong
      val cnt = xs.groupBy(_._2).view.mapValues(_.length.toLong)
      val l1 = shareT.map { case (t, s) =>
        math.abs(cnt.getOrElse(t, 0L) * 1000000L / ns - s)
      }.sum
      src -> ((ns, l1 / 2))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, nt, tv) =>
      assert((nt, tv) == expected(src), s"$src mismatch")
      assert(tv >= 0 && tv <= 1000000L, src)
    }
  }

  test("q191 source-centroid matrix is symmetric-complete with sane distances") {
    val rows = Stats.q191(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val srcs = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    assert(rows.length == srcs.length * (srcs.length - 1) / 2,
      "every unordered source pair must appear exactly once")
    rows.foreach { case (x, y, nx, ny, d) =>
      assert(x < y && nx > 0 && ny > 0 && d >= 0, s"($x,$y)")
    }
    // distances obey the metric's symmetry by construction; spot-check one
    // pair against a driver-side centroid computation
    val (px, py, _, _, pd) = rows.head
    val emb = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val srcOf = Tables.load(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    def centroid(s: String): Array[Long] = {
      val vs = emb.filter { case (id, _) => srcOf(id) == s }.values.toSeq
      val dim = vs.head.length
      Array.tabulate(dim) { i =>
        val q = vs.map(v => math.floor(v(i).toDouble * 1000).toLong)
        q.sum / q.length
      }
    }
    val (ca, cb) = (centroid(px), centroid(py))
    val d2 = ca.zip(cb).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(d2 == pd, s"($px,$py): driver $d2 != query $pd")
  }

  test("q192 skew profile replays from a driver-side key histogram") {
    val rows = Stats.q192(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty && rows.length <= 10)
    val keys = Tables.load(spark, sf, "lineitem").collect()
      .map(_.getLong(1)) // l_partkey
    val hist = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val top = hist.toSeq.sortBy { case (k, n) => (-n, k) }.take(10)
    assert(rows.map(r => (r._1, r._2)).toSeq == top, "top-10 keys mismatch")
    val (nk, tot) = (hist.size.toLong, keys.length.toLong)
    rows.foreach { case (k, n, nks, t, share, uni, skew) =>
      assert(nks == nk && t == tot, s"key $k population")
      assert(share == n * 1000000L / tot && uni == 1000000L / nk)
      assert(skew == n * nk * 1000L / tot, s"key $k skew")
      assert(skew >= 1000L, "a top-10 key cannot be below uniform at this SF")
    }
  }

  test("q193 Benford audit: digits partition the orders; the literal table is the law") {
    val rows = Stats.q193(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, _, share, bf, delta) =>
      assert(d >= 1 && d <= 9)
      assert(delta == share - bf)
      // the literal table IS floor(1e6*log10(1+1/d)) — verified, not trusted
      assert(bf == math.floor(1000000.0 * math.log10(1.0 + 1.0 / d)).toLong, d)
    }
    val cents = Tables.load(spark, sf, "orders").collect()
      .map(r => math.floor(r.getDouble(3) * 100).toLong).filter(_ > 0)
    assert(rows.map(_._2).sum == cents.length.toLong,
      "digit cells must partition the positive orders")
    val hist = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (d, n, _, _, _) => assert(n == hist(d), s"digit $d") }
  }

  test("q194 lexical HHI replays and sits between uniform and monopoly") {
    val rows = Stats.q194(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val toks = Tables.load(spark, sf, "documents").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(3), t)))
    val expected = toks.groupBy(_._1).map { case (src, xs) =>
      val n = xs.length.toLong
      val shares = xs.groupBy(_._2).values
        .map(g => g.size.toLong * 1000000L / n)
      src -> ((n, shares.size.toLong,
        shares.map(s => s * s).sum / 1000000L))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, nt, nd, hhi) =>
      assert((nt, nd, hhi) == expected(src), s"$src mismatch")
      // quantized HHI is bounded by the monopoly value and cannot dip
      // meaningfully below the uniform floor (floor-rounding only shrinks)
      assert(hhi <= 1000000L && hhi >= 0L, src)
      assert(hhi >= (1000000L / nd) * (1000000L / nd) * nd / 1000000L - nd,
        s"$src: HHI below the uniform floor")
    }
  }

  test("q196 conversion curve partitions the at-risk users, censored included") {
    val rows = graft.queries.Extensions.q196(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val events = Tables.load(spark, sf, "events").collect()
      .map(r => (r.getLong(2), r.getString(3),
        r.getTimestamp(1).getTime))
    val expected = events.groupBy(_._1).flatMap { case (_, evs) =>
      val views = evs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val buys = evs.filter(e => e._2 == "purchase" && e._3 >= tv).map(_._3)
        Some(if (buys.isEmpty) -1L else (buys.min - tv) / 86400000L)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.toMap == expected, "histogram must replay exactly")
    assert(rows.map(_._2).sum == expected.values.sum)
    rows.foreach { case (d, n) => assert(d >= -1 && n > 0) }
  }

  test("q199 MAD anomaly gate replays from a driver-side order statistic") {
    val rows = graft.queries.Stats.q199(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val hours = Tables.load(spark, sf, "events").collect()
      .map(_.getTimestamp(1).getTime / 3600000L)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy(_._1).toMap
    def lowerMed(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length + 1) / 2 - 1)
    }
    val med = lowerMed(hours.values.toSeq)
    val mad = lowerMed(hours.values.map(v => math.abs(v - med)).toSeq)
    assert(rows.map(r => r._1 -> r._2).toMap == hours)
    rows.foreach { case (h, n, m, md, fl) =>
      assert(m == med && md == mad, s"hour $h stats")
      assert(fl == (if (math.abs(n - med) > 3 * mad) 1L else 0L), s"hour $h")
    }
  }

  test("q203 repetition gate replays from a driver-side top-bigram fold") {
    val rows = Stats.q203(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getString(3), r.getString(1).split(" ")))
      .filter(_._2.length >= 2)
    val perDoc = docs.map { case (src, w) =>
      // sliding yields Arrays (reference equality) — materialize to Lists
      val topc =
        w.sliding(2).map(_.toList).toSeq.groupBy(identity).values.map(_.size).max
      (src, topc.toLong * 1000000L / (w.length - 1))
    }
    val expected = perDoc.groupBy(_._1).map { case (src, xs) =>
      val flagged = xs.count(_._2 > 60000L).toLong
      src -> ((xs.length.toLong, flagged,
        flagged * 1000000L / xs.length, xs.map(_._2).max))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, nd, nf, fppm, mx) =>
      assert((nd, nf, fppm, mx) == expected(src), s"$src mismatch")
    }
    // the literal knob separates: at least one doc on each side corpus-wide
    assert(rows.map(_._3).sum > 0L, "no doc flagged — threshold too high")
    assert(rows.exists { case (_, nd, nf, _, _) => nf < nd },
      "every doc flagged — threshold too low")
  }

  test("q209 Heaps curve: conservation, bounds, and fixture monotone decay") {
    val rows = Stats.q209(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(rows.nonEmpty)
    // cumulative columns are exact prefix sums of the per-octave columns
    var (ct, cs) = (0L, 0L)
    rows.foreach { case (o, nt, sl, cumT, cumS, rate) =>
      ct += nt; cs += sl
      assert(cumT == ct && cumS == cs, s"octave $o cumulative mismatch")
      assert(nt <= sl, s"octave $o: more new types than slots")
      assert(rate == cumT * 1000000L / cumS && rate <= 1000000L, s"octave $o")
    }
    // conservation against independent totals
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(_.getString(1).split(" ")).filter(_.length >= 3)
    assert(rows.last._5 == docs.map(w => w.length - 2L).sum,
      "cum slots must equal the shingle count")
    val types = docs.flatMap(w => w.sliding(3).map(_.mkString(" "))).distinct
    assert(rows.last._4 == types.length.toLong,
      "cum types must equal the distinct shingle count (hash-collision-free fixture)")
    // the health signal: sublinear growth — the cumulative type rate decays
    // from saturation toward zero across the curve (small octaves are
    // sample-noisy, so assert the trend, not per-step monotonicity)
    assert(rows.head._6 == 1000000L, "octave 1 of one doc is all-new types")
    assert(rows.last._6 < 700000L,
      s"type rate ${rows.last._6} did not decay — no Heaps sublinearity")
    val back = rows.takeRight(4).map(_._6)
    back.sliding(2).foreach { w =>
      assert(w(1) < w(0), "the settled tail of the curve must strictly decay")
    }
  }

  test("q211 count-min sketch: estimates dominate truth and replay exactly") {
    val rows = Stats.q211(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (t, est, exact, over) =>
      assert(over == est - exact, t)
      assert(over >= 0L, s"$t: CMS can never underestimate")
    }
    // driver-side replay of the whole sketch (d=4, w=256, md5 row hashes)
    val occs = Tables.load(spark, sf, "documents").collect()
      .flatMap(_.getString(1).split(" "))
    def bucket(token: String, r: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$token#$r".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 256
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    occs.foreach { t =>
      (0 until 4).foreach { r =>
        val k = (r, bucket(t, r)); cells(k) = cells.getOrElse(k, 0L) + 1L
      }
    }
    assert(cells.size <= 1024, "the sketch is structurally 4x256")
    val exactCnt = occs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val est = exactCnt.keys.map { t =>
      t -> (0 until 4).map(r => cells((r, bucket(t, r)))).min
    }.toMap
    val expected = est.toSeq.map { case (t, e) => (t, e, exactCnt(t)) }
      .sortBy { case (t, e, _) => (-e, t) }.take(20)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq == expected,
      "sketch replay mismatch")
    // the sketch's ranking still surfaces the true heaviest token
    val trueTop = exactCnt.maxBy { case (t, c) => (c, t) }._1
    assert(rows.map(_._1).contains(trueTop))
  }

  test("q232 CMS shard merge: merged cells equal an independent direct build") {
    val rows = Stats.q232(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    assert(rows.nonEmpty && rows.length <= 1024, "structurally bounded by d*w")
    val merged = rows.toMap
    assert(merged.values.forall { case (nShards, _) => nShards >= 1 && nShards <= 8 },
      "contributing-shard counts must sit in the 8-shard universe")
    // driver-side direct single-pass replay (no shard stage) — the
    // independent twin of the oracle's path: equality of both counter
    // values AND contributing-shard counts is the merge-associativity proof
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    def cmsBucket(token: String, r: Int): Long =
      java.lang.Long.parseLong(md5hex(s"$token#$r").take(8), 16) % 256
    def docShard(id: Long): Long =
      java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 8
    val cells = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val shardSets =
      scala.collection.mutable.Map.empty[(Long, Long), scala.collection.mutable.Set[Long]]
    Tables.load(spark, sf, "documents").collect().foreach { row =>
      val s = docShard(row.getLong(0))
      row.getString(1).split(" ").foreach { t =>
        (0 until 4).foreach { r =>
          val k = (r.toLong, cmsBucket(t, r))
          cells(k) = cells.getOrElse(k, 0L) + 1L
          shardSets.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += s
        }
      }
    }
    val direct = cells.keys
      .map(k => k -> (shardSets(k).size.toLong, cells(k))).toMap
    assert(merged == direct, "shard-merged cells diverge from the direct build")
  }

  test("q219 burstiness histogram replays from a driver-side lag fold") {
    val rows = Stats.q219(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_millis(col("ts")).as("ms")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = events.groupBy(e => (e._1, e._2)).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(e => (e._4, e._3)).sliding(2).collect {
        case Array(a, b) => (a._2, b._4 - a._4)
      }
    }
    val expected = gaps.map { case (t, g) =>
      (t, if (g == 0L) 0L else 64L - java.lang.Long.numberOfLeadingZeros(g))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byType = expected.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    rows.foreach { case (t, o, n, share) =>
      assert(expected((t, o)) == n, s"($t,$o) count")
      assert(share == n * 1000000L / byType(t), s"($t,$o) share")
    }
    assert(rows.map(r => (r._1, r._2)).toSet == expected.keySet)
    // shares per type sum to ~1e6 (floor slack < cells)
    rows.groupBy(_._1).foreach { case (t, xs) =>
      val s = xs.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - xs.length, t)
    }
  }

  test("q220 boundaries: monotone, rank-correct, near-even ranges") {
    val rows = Stats.q220(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 31 && rows.map(_._1).toSeq == (1L to 31L))
    assert(rows.forall(r => r._4 == r._3 * 10000L))
    rows.sliding(2).foreach { w =>
      assert(w(1)._3 >= w(0)._3, "boundaries must be non-decreasing")
    }
    // rank-correctness against the driver-side ECDF
    val bins = Tables.load(spark, sf, "orders").collect()
      .map(r => math.floor(r.getDouble(3) * 100).toLong / 10000L)
    val n = bins.length.toLong
    val ecdf = bins.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, c), (b, cnt)) => (b, c + cnt) }
      .drop(1)
    rows.foreach { case (k, target, bin, _) =>
      assert(target == (k * n + 31) / 32, s"k=$k target")
      val expectedBin = ecdf.find(_._2 >= target).get._1
      assert(bin == expectedBin, s"k=$k boundary")
    }
    // the 32 ranges are near-even: no range holds more than 2x its share
    // plus one bin's worth of ties (grid granularity is the declared trade)
    val cuts = rows.map(_._3)
    val counts = (Seq(Long.MinValue) ++ cuts).zip(cuts ++ Seq(Long.MaxValue))
      .map { case (lo, hi) => bins.count(b => b > lo && b <= hi).toLong }
    assert(counts.sum == n, "the 32 ranges must partition every order")
    assert(counts.max <= 2 * (n / 32) + bins.groupBy(identity)
      .values.map(_.length).max, "a range is badly oversized for the grid")
  }

  test("q201 fertility replays from the declared ceil(len/6) unit estimate") {
    val rows = Stats.q201(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val words = Tables.load(spark, sf, "documents").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(2), w)))
    val expected = words.groupBy(_._1).map { case (lang, xs) =>
      val units = xs.map(x => (x._2.length.toLong + 5) / 6).sum
      lang -> ((xs.length.toLong, units, units * 1000L / xs.length))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (lang, nw, nu, f) =>
      assert((nw, nu, f) == expected(lang), s"$lang mismatch")
      assert(f >= 1000L, s"$lang: a word is at least one unit")
    }
  }

  test("q276 bottom-k sets are mergeable: bottom-k of shard bottom-k's == corpus") {
    // the property that makes the sketch a 100 TB citizen: each shard keeps
    // its own bottom-k; the union of shard samples re-bottom-k'd is the
    // corpus bottom-k, so merge order and shard count are invisible
    val f = Tables.load(spark, sf, "documents")
      .select(col("source"),
        graft.functions.TextFunctions.portableHash60(col("text")).as("fp"),
        col("doc_id"))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      queries.Stats.kmvSketch(df).orderBy("source")
        .collect().map(_.toSeq).toSeq
    val whole = sketch(f)
    // shard by doc_id, bottom-k each shard's DISTINCT (source, fp) set,
    // union the samples (plus every row's copy/doc mass so n_docs and
    // n_distinct stay exact-corpus — the merged SAMPLE is what's under test)
    val shardTop = (0 until 4).map { sh =>
      val part = f.filter(
        graft.functions.TextFunctions.hashBucket(col("doc_id"), 4) === sh)
      part.groupBy("source", "fp")
        .agg(min(col("doc_id")).as("doc_id"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy("fp")))
        .filter(col("rk") <= queries.Stats.KmvK)
        .select("source", "fp", "doc_id")
    }.reduce(_ unionAll _)
    // sample-only columns of the merged sketch must equal the corpus sketch
    def sampleCols(rows: Seq[Seq[Any]]) =
      // source, kmv_k, kth_min_fp, fp_xor, sample_id_sum — the id checksum
      // merges exactly too (min over shard mins = corpus min per fp)
      rows.map(r => (r(0), r(3), r(4), r(6), r(7)))
    val merged = sketch(shardTop)
    assert(sampleCols(merged) == sampleCols(whole),
      "shard-merged bottom-k sample diverges from the corpus bottom-k")
  }

  test("q276 KMV estimate tracks a planted distinct count within 30%") {
    import spark.implicits._
    val n = 5000
    val docs = (0 until n).map(i => ("planted", s"unique text $i", i.toLong))
      .toDF("source", "text", "doc_id")
      .select(col("source"),
        graft.functions.TextFunctions.portableHash60(col("text")).as("fp"),
        col("doc_id"))
    val row = queries.Stats.kmvSketch(docs).collect().head
    val est = row.getAs[Long]("kmv_estimate")
    assert(row.getAs[Long]("n_distinct") == n.toLong)
    assert(est > n * 7 / 10 && est < n * 13 / 10,
      s"KMV estimate $est too far from planted $n")
  }
}
