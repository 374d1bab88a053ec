package graft

import graft.functions.{TextFunctions => T}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Generator-driven invariants for the text/hash kernels. Each property
  * batches all generated cases into ONE DataFrame pass (a per-case Spark
  * job would dominate the suite), with the expected values computed
  * independently in plain Scala.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val doc: Gen[String] =
    Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  test("q287 Bradley-Terry: planted dominance chain orders; fixture replay") {
    import graft.queries.Training
    // planted chain: each rung beats the next 3-1; BT must recover the order
    val chain = Seq((10L, 20L), (20L, 30L), (30L, 40L)).flatMap { case (a, b) =>
      Seq.fill(3)((a, b)) ++ Seq((b, a))
    }.toDF("chosen", "rejected")
    val got = Training.bradleyTerry(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(10L) > got(20L) && got(20L) > got(30L) && got(30L) > got(40L),
      s"chain order not recovered: $got")

    // driver-side replay of the exact integer MM on the planted frame
    val wMap = chain.groupBy("chosen", "rejected").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val np = (wMap.toSeq.map { case ((i, j), w) => ((i, j), w) } ++
      wMap.toSeq.map { case ((i, j), w) => ((j, i), w) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val items = np.keys.map(_._1).toSeq.distinct.sorted
    val wins = items.map(i =>
      i -> wMap.collect { case ((a, _), w) if a == i => w }.sum).toMap
    var gamma = items.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val den = items.map { i =>
        i -> np.collect { case ((a, b), n) if a == i =>
          n * 10000000000L / math.max(1L, gamma(i) + gamma(b))
        }.sum
      }.toMap
      val graw = items.map(i => i -> math.min(1000000000000L,
        wins(i) * 10000000000L / math.max(1L, den(i)))).toMap
      val meang = math.max(1L, graw.values.sum / items.length)
      gamma = items.map(i => i ->
        math.min(1000000000000L, graw(i) * 1000000L / meang)).toMap
    }
    items.foreach(i => assert(got(i) == gamma(i),
      s"item $i: engine ${got(i)} vs replay ${gamma(i)}"))
  }

  test("q296 convergence audit: intransitive cycle agrees exactly; round-3 snapshot == standalone 3-round fit") {
    import graft.queries.Training
    // planted INTRANSITIVE cycle (r14 VERDICT #6's adversarial case):
    // A>B, B>C, C>A each 5-2 — no consistent total order exists. By
    // symmetry of the integer MM (every item sees the same multiset of
    // wins, losses, and opponent strengths), γ stays exactly 10⁶ for all
    // three at EVERY round, so the 3-vs-5-round audit must report zero
    // delta and agreement 10⁶ — intransitivity converges to a tie
    // instead of oscillating.
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).flatMap { case (a, b) =>
      Seq.fill(5)((a, b)) ++ Seq.fill(2)((b, a))
    }.toDF("chosen", "rejected")
    val audit = Training.btConvergence(cyc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(audit.length == 3, s"got ${audit.toSeq}")
    audit.foreach { case (item, g3, g5, delta, agree) =>
      assert(g3 == 1000000L && g5 == 1000000L && delta == 0L &&
        agree == 1000000L,
        s"cycle item $item must tie at 10^6 with zero delta: ${audit.toSeq}")
    }

    // on the DOMINANCE chain, the audit's round-3 snapshot must equal the
    // standalone 3-round fit item for item (the shared-prefix contract),
    // and agreement is a single corpus-wide constant on every row
    val chain = Seq((10L, 20L), (20L, 30L), (30L, 40L)).flatMap { case (a, b) =>
      Seq.fill(3)((a, b)) ++ Seq((b, a))
    }.toDF("chosen", "rejected")
    val fit3 = Training.bradleyTerry(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val aud = Training.btConvergence(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    aud.foreach { case (item, g3, _, _) =>
      assert(fit3(item) == g3,
        s"item $item: audit snapshot $g3 != standalone fit ${fit3(item)}")
    }
    assert(aud.map(_._4).distinct.length == 1,
      "agreement rate must be one corpus-wide constant")
  }

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  private def sample[A](g: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default.withSize(50)
    (0 until n).flatMap(i => g.apply(params, org.scalacheck.rng.Seed(i.toLong)))
  }

  test("tokenCount == number of space-separated tokens, for arbitrary docs") {
    val docs = sample(doc, 200)
    val got = docs.toDF("text")
      .select(T.tokenCount(col("text")).cast("long")).as[Long].collect()
    val want = docs.map(_.split(" ", -1).length.toLong)
    assert(got.toSeq == want)
  }

  test("wordShingles: count = max(0, tokens−n+1) and every shingle has n tokens") {
    val docs = sample(doc, 200)
    for (n <- Seq(2, 3, 4)) {
      val rows = docs.toDF("text")
        .select(T.wordShingles(col("text"), n).as("sh")).as[Seq[String]].collect()
      docs.zip(rows).foreach { case (d, sh) =>
        val t = d.split(" ", -1).length
        assert(sh.length == math.max(0, t - n + 1), s"n=$n doc='$d'")
        assert(sh.forall(_.split(" ", -1).length == n), s"n=$n doc='$d'")
      }
    }
  }

  test("portableHash60 is non-negative, < 2^60, and equals its recomputation") {
    val docs = sample(doc, 300)
    val got = docs.toDF("text")
      .select(T.portableHash60(col("text")).as("h1"),
        T.portableHash60(col("text")).as("h2")).as[(Long, Long)].collect()
    got.foreach { case (h1, h2) =>
      assert(h1 >= 0L && h1 < (1L << 60) && h1 == h2)
    }
    // determinism ACROSS plans (not just within one row)
    val again = docs.toDF("text")
      .select(T.portableHash60(col("text"))).as[Long].collect()
    assert(again.toSeq == got.map(_._1).toSeq)
  }

  test("exact dedup: dup_counts partition the corpus; keep_id is the group min") {
    val gen = Gen.listOfN(60, Gen.chooseNum(0, 14)) // forced collisions
    check(Prop.forAll(gen) { keys =>
      val rows = keys.zipWithIndex.map { case (k, i) => (i.toLong, s"text$k") }
      val out = graft.dedup.Dedup.exact(rows.toDF("doc_id", "text"))
        .as[(String, Long, Long)].collect()
      val byText = rows.groupBy(_._2)
      out.map(_._3).sum == rows.size &&
        out.forall { case (t, keep, n) =>
          byText(t).map(_._1).min == keep && byText(t).size == n
        }
    })
  }

  test("dot_i64 equals the BigInt reference on arbitrary long arrays") {
    val vec = Gen.chooseNum(1, 64).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-1000000L, 1000000L)))
    val pairs = sample(Gen.zip(vec, vec), 150)
    val got = pairs.toDF("a", "b")
      .select(call_function("dot_i64", col("a"), col("b"))).as[Long].collect()
    pairs.zip(got).foreach { case ((a, b), d) =>
      val want = a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
      assert(BigInt(d) == want, s"a=$a b=$b")
    }
  }

  test("portable_shingle_hashes equals an independent MessageDigest replay") {
    val docs = sample(doc, 150)
    val got = docs.toDF("text")
      .select(T.portableShingleHashes(col("text"), 3)).as[Seq[Long]].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    docs.zip(got).foreach { case (d, hs) =>
      val w = d.split(" ", -1)
      val want = (0 to w.length - 3).map(i => h60(w.slice(i, i + 3).mkString(" ")))
      assert(hs == want, s"doc='$d'")
    }
  }

  test("morton key de-interleaves back to its inputs (exact inverse)") {
    val coord = Gen.chooseNum(0, Int.MaxValue)
    val pairs = sample(Gen.zip(coord, coord), 200)
    val keys = pairs.toDF("a", "b")
      .select(graft.operators.ZOrder.mortonKey(col("a"), col("b"))).as[Long].collect()
    pairs.zip(keys).foreach { case ((a, b), k) =>
      var (ra, rb) = (0L, 0L)
      (0 until 32).foreach { i =>
        ra |= ((k >>> (2 * i + 1)) & 1L) << i
        rb |= ((k >>> (2 * i)) & 1L) << i
      }
      assert(ra == a.toLong && rb == b.toLong, s"a=$a b=$b key=$k")
    }
  }

  test("connected components converge in O(log diameter): long paths under a log2 budget") {
    // The pointer-jump step claims a length-k label chain halves per round
    // (ConnectedComponents.scala) — so a PATH of diameter d, the worst case
    // adjacent-pair dedup emits, must converge within ~log2(d) + c rounds,
    // NOT O(d). run() proves the bound for us: it THROWS if convergence
    // takes more than maxIters, so passing with maxIters = log2(d) + 4 on
    // diameters far above that budget is a direct witness. d = 3000 would
    // need 3000 rounds neighbor-min-only; log2(3000) ≈ 11.6.
    import graft.operators.ConnectedComponents
    for (d <- Seq(500, 3000)) {
      val budget = (math.log(d.toDouble) / math.log(2.0)).ceil.toInt + 4
      assert(budget < 25, s"test must be stricter than the default: $budget")
      val verts = (0L to d.toLong).toDF("id")
      val chain = (0L until d.toLong).map(i => (i, i + 1)).toDF("src", "dst")
      val got = ConnectedComponents.run(verts, chain, maxIters = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length == d + 1 && got.forall(_._2 == 0L), s"d=$d")
    }
  }

  test("connected components agree with a union-find oracle on random graphs") {
    // arbitrary sparse graphs: n in [1,60], up to 2n random edges (self-loops
    // and duplicates allowed — the operator must tolerate both)
    val graphGen = for {
      n <- Gen.chooseNum(1, 60)
      m <- Gen.chooseNum(0, 2 * n)
      edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
    } yield (n, edges)
    check(Prop.forAll(graphGen) { case (n, edges) =>
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min member id, matching the operator's contract
      val members = (0 until n).groupBy(find)
      val want = members.flatMap { case (_, ms) =>
        val lbl = ms.min.toLong; ms.map(m => m.toLong -> lbl) }
      val verts = (0L until n.toLong).toDF("id")
      val edf = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val got = graft.operators.ConnectedComponents.run(verts, edf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    })
  }

  test("pageRank agrees with a driver-side exact reference on random weighted graphs") {
    // arbitrary digraphs: n ≤ 40 vertices, weighted multi-edges collapse
    // upstream in q124, so here every (src, dst) is distinct with wt ≥ 1
    val graphGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 2 * n)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0, n - 1); d <- Gen.chooseNum(0, n - 1)
        w <- Gen.chooseNum(1L, 9L)
      } yield (s.toLong, d.toLong, w))
    } yield es.filter { case (s, d, _) => s != d }
      .groupBy(e => (e._1, e._2)).map { case ((s, d), g) => (s, d, g.map(_._3).sum) }
      .toSeq
    def ref(edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
      val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to rounds) {
        val contrib = edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _, w) =>
            850000L * r(s) * w / (1000000L * wout(s)) }.sum
        }
        r = nodes.map(v => v -> (150000L + contrib.getOrElse(v, 0L))).toMap
      }
      r
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        val got = graft.queries.Graph.pageRank(
            edges.toDF("src", "dst", "wt"), rounds = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == ref(edges, 3)
      }
    })
    assert(res.passed, res.status.toString)
  }

  test("seeded pageRank agrees with a driver-side exact reference; empty seed set yields all zeros") {
    // same digraph generator class as the uniform test, plus a random
    // seed subset; the reference replays the PPR recurrence exactly
    val graphGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 2 * n)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0, n - 1); d <- Gen.chooseNum(0, n - 1)
        w <- Gen.chooseNum(1L, 9L)
      } yield (s.toLong, d.toLong, w))
      mod <- Gen.chooseNum(2, 5)
    } yield (es.filter { case (s, d, _) => s != d }
      .groupBy(e => (e._1, e._2)).map { case ((s, d), g) => (s, d, g.map(_._3).sum) }
      .toSeq, mod)
    def ref(edges: Seq[(Long, Long, Long)], rounds: Int,
        isSeed: Long => Boolean): Map[Long, Long] = {
      val wout = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var r = nodes.map(v => v -> (if (isSeed(v)) 1000000L else 0L)).toMap
      for (_ <- 1 to rounds) {
        val contrib = edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _, w) =>
            850000L * r(s) * w / (1000000L * wout(s)) }.sum
        }
        r = nodes.map(v => v ->
          ((if (isSeed(v)) 150000L else 0L) + contrib.getOrElse(v, 0L))).toMap
      }
      r
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(graphGen) { case (edges, mod) =>
      edges.isEmpty || {
        val isSeed: Long => Boolean = v => v % mod == 0
        val got = graft.queries.Graph.pageRankSeeded(
            edges.toDF("src", "dst", "wt"), rounds = 3,
            seed = Some(n => n % mod === 0))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == ref(edges, 3, isSeed)
      }
    })
    assert(res.passed, res.status.toString)
    // degenerate pin: a seed predicate matching nothing ranks everything 0
    val es = Seq((1L, 2L, 1L), (2L, 3L, 2L))
    val zero = graft.queries.Graph.pageRankSeeded(
        es.toDF("src", "dst", "wt"), rounds = 3,
        seed = Some(_ => org.apache.spark.sql.functions.lit(false)))
      .collect().map(_.getLong(1))
    assert(zero.length == 3 && zero.forall(_ == 0L))
  }

  test("bpeMergeStep agrees with a driver-side reference on random word tables") {
    val wordsGen = Gen.chooseNum(3, 25).flatMap(k => Gen.listOfN(k,
      for { w <- word; f <- Gen.chooseNum(1L, 20L) } yield (w, f)))
    def ref(words0: Seq[(String, Long)]): Seq[(String, String, Long)] = {
      val words = words0.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      def pairs(ws: Seq[(String, Long)]): Map[(String, String), Long] =
        ws.flatMap { case (w, f) =>
          w.sliding(2).filter(_.length == 2).map(p =>
            (p.substring(0, 1), p.substring(1, 2)) -> f)
        }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
      val p1 = pairs(words)
      if (p1.isEmpty) return Seq.empty
      val best = p1.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      val bp = best._1 + best._2
      val merged = words.map { case (w, f) => (w.replace(bp, "\u0001"), f) }
      pairs(merged).toSeq
        .map { case ((a, b), c) =>
          (a.replace("\u0001", bp), b.replace("\u0001", bp), c) }
        .sortBy { case (a, b, c) => (-c, a, b) }
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(wordsGen) { rows =>
      val wf = rows.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      val got = graft.queries.Training.bpeMergeStep(wf.toDF("word", "f"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      got == ref(rows)
    })
    assert(res.passed, res.status.toString)
    // pinned regression: an all-single-symbol vocabulary has NO pair to
    // merge — the step must return the empty pair table, not crash on the
    // missing argmax (the generator reaches this only on rare seeds)
    val degenerate = Seq(("a", 3L), ("b", 1L), ("c", 2L)).toDF("word", "f")
    assert(graft.queries.Training.bpeMergeStep(degenerate).collect().isEmpty)
  }

  // arbitrary sparse undirected graphs, normalized to a<b distinct edges —
  // the input contract of Graph.triangleStats / Graph.bfsHops
  private val undirGraphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(3, 40)
    m <- Gen.chooseNum(1, 3 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
  } yield es.collect { case (a, b) if a != b =>
    (math.min(a, b).toLong, math.max(a, b).toLong)
  }.distinct

  test("triangleStats agrees with a brute-force triple count on random graphs") {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(undirGraphGen) { edges =>
      edges.isEmpty || {
        // adjacency keyed lower→higher, matching the a<b normalization
        val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        val nT = edges.map { case (a, b) =>
          adj.getOrElse(a, Set.empty[Long])
            .count(c => c > b && adj.getOrElse(b, Set.empty[Long]).contains(c)).toLong
        }.sum
        val deg = (edges.map(_._1) ++ edges.map(_._2))
          .groupBy(identity).map { case (v, g) => v -> g.size.toLong }
        val nW = deg.values.map(d => d * (d - 1) / 2).sum
        val row = graft.queries.Graph.triangleStats(edges.toDF("a", "b"))
          .collect().head
        row.getLong(row.fieldIndex("n_vertices")) == deg.size.toLong &&
          row.getLong(row.fieldIndex("n_edges")) == edges.size.toLong &&
          row.getLong(row.fieldIndex("n_wedges")) == nW &&
          row.getLong(row.fieldIndex("n_triangles")) == nT &&
          (if (nW == 0) row.isNullAt(row.fieldIndex("closure_ppm"))
           else row.getLong(row.fieldIndex("closure_ppm")) == 3 * nT * 1000000L / nW)
      }
    })
    assert(res.passed, res.status.toString)
  }

  test("SharedFrames refuses a frame rooted in a scratch checkpoint") {
    val sf = "/root/testdata/sf0.001"
    val kind = "scratch-rooted-probe"
    val scratch = graft.operators.Checkpoints.scratch(spark.range(10).toDF("v"))
    val err = intercept[IllegalStateException] {
      graft.queries.SharedFrames.sharedFrame(spark, sf, "lineitem", kind) {
        scratch.select((col("v") * 2).as("v"))
      }
    }
    assert(err.getMessage.contains(kind), err.getMessage)
    // the refused build leaves no entry behind: a recomputable frame under
    // the same kind registers normally
    val ok = graft.queries.SharedFrames.sharedFrame(spark, sf, "lineitem", kind) {
      spark.range(10).toDF("v")
    }
    assert(ok.count() == 10L)
    ok.unpersist()
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
  }

  test("scratch of a live scratch checkpoint mints no second checkpoint") {
    import graft.operators.Checkpoints
    val sc = spark.sparkContext
    val once = Checkpoints.scratch(spark.range(10).toDF("v"))
    val before = sc.getPersistentRDDs.keySet
    val twice = Checkpoints.scratch(once)
    assert(sc.getPersistentRDDs.keySet == before, "a second checkpoint RDD")
    assert(Checkpoints.rddOf(twice).map(_.id) == Checkpoints.rddOf(once).map(_.id))
    assert(twice.count() == 10L)
    // a plan ON a checkpoint is still materialized
    val derived = Checkpoints.scratch(once.select((col("v") * 2).as("v")))
    assert(sc.getPersistentRDDs.size == before.size + 1)
    assert(derived.collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L by 2L))
    Checkpoints.sweepScratch(sc, blocking = true)
  }

  /** Checkpointed block-store entries left behind by `kernel`, counted from
    * a swept store. `SparkContext.unpersistRDD` drops an entry
    * synchronously, so a round freed with `blocking = false` is already
    * gone from the count. Every persisted RDD seen while the kernel runs
    * is held strongly: otherwise a garbage collection lets the
    * ContextCleaner free a round the kernel never released, and the leak
    * would not show. */
  private def checkpointsLeft(kernel: => DataFrame): Int = {
    val sc = spark.sparkContext
    def live = sc.getPersistentRDDs.values.count(_.isCheckpointed)
    graft.operators.Checkpoints.sweepScratch(sc, blocking = true)
    val before = live
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val pin = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(pin)
    try assert(kernel.collect().nonEmpty)
    finally sc.removeSparkListener(pin)
    live - before
  }

  /** A random weighted digraph on 12 vertices: no self-loops, one row per
    * (src, dst). */
  private def randomWeighted(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until 30).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong,
      (1 + rnd.nextInt(5)).toLong))
      .filter(e => e._1 != e._2).groupBy(e => (e._1, e._2))
      .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      .toDF("src", "dst", "wt")
  }

  /** Same live-checkpoint count after 2 rounds and after 6: every round
    * but the last was freed. */
  private def assertRoundsRetired(kernel: Int => DataFrame): Unit = {
    val at2 = checkpointsLeft(kernel(2))
    val at6 = checkpointsLeft(kernel(6))
    assert(at2 == at6, s"live checkpoints: $at2 after 2 rounds, $at6 after 6")
  }

  test("pageRank frees the blocks of earlier rounds") {
    val edges = randomWeighted(21)
    assertRoundsRetired(r => graft.queries.Graph.pageRank(edges, r))
  }

  test("hits frees the blocks of earlier rounds") {
    val edges = randomWeighted(22)
    assertRoundsRetired(r => graft.queries.Graph.hits(edges, r))
  }

  test("labelPropagation frees the blocks of earlier rounds") {
    val edges = randomWeighted(23)
    assertRoundsRetired(r => graft.queries.Graph.labelPropagation(edges, r))
  }

  test("bfsHops frees the blocks of earlier rounds") {
    // a path 0-1-…-8 keeps nodes 1..6 at distances 1..6, so all 6 rounds
    // settle someone; random chords hang off its far end
    val rnd = new scala.util.Random(24)
    val chords = (0 until 10).map(_ => (6 + rnd.nextInt(8), 6 + rnd.nextInt(8)))
    val edges = ((0 until 8).map(i => (i, i + 1)) ++ chords)
      .collect { case (a, b) if a != b =>
        (math.min(a, b).toLong, math.max(a, b).toLong) }
      .distinct.toDF("a", "b")
    assertRoundsRetired(r => graft.queries.Graph.bfsHops(edges, r))
  }

  test("ConnectedComponents.run frees the blocks of earlier rounds") {
    import graft.operators.ConnectedComponents
    // a random graph on a star converges in exactly 2 rounds; a 32-edge
    // path needs exactly 6, so each run uses its whole budget
    val rnd = new scala.util.Random(25)
    val star = ((1 until 12).map(i => (0L, i.toLong)) ++
      (0 until 8).map(_ => (1L + rnd.nextInt(11), 1L + rnd.nextInt(11))))
      .toDF("src", "dst")
    val path = (0L until 32L).map(i => (i, i + 1)).toDF("src", "dst")
    val at2 = checkpointsLeft(ConnectedComponents.run(
      spark.range(12).toDF("id"), star, maxIters = 2))
    val at6 = checkpointsLeft(ConnectedComponents.run(
      spark.range(33).toDF("id"), path, maxIters = 6))
    assert(at2 == at6, s"live checkpoints: $at2 after 2 rounds, $at6 after 6")
  }

  test("bradleyTerryFit keeps its round-3 snapshot readable past round 5") {
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (40L, 10L))
      .flatMap { case (a, b) => Seq.fill(3)((a, b)) :+ ((b, a)) }
      .toDF("chosen", "rejected")
    val (_, snaps) = graft.queries.Training.bradleyTerryFit(pairs, Seq(3, 5))
    assert(snaps.keySet == Set(3, 5))
    assert(snaps(3).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L))
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
  }

  test("assortativityMoments agrees with driver-side degree sums on random graphs") {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(undirGraphGen) { edges =>
      edges.isEmpty || {
        val deg = (edges.map(_._1) ++ edges.map(_._2))
          .groupBy(identity).map { case (v, g) => v -> g.size.toLong }
        val sym = edges ++ edges.map { case (a, b) => (b, a) }
        val sx = sym.map { case (u, _) => deg(u) }.sum
        val sxx = sym.map { case (u, _) => deg(u) * deg(u) }.sum
        val sxy = sym.map { case (u, v) => deg(u) * deg(v) }.sum
        val row = graft.queries.Graph.assortativityMoments(edges.toDF("a", "b"))
          .collect().head
        row.getLong(0) == 2L * edges.size && row.getLong(1) == sx &&
          row.getLong(2) == sxx && row.getLong(3) == sxy
      }
    })
    assert(res.passed, res.status.toString)
  }

  test("bfsHops matches driver-side BFS layers, -1 beyond the round budget") {
    val rounds = 4 // below many generated diameters, so the -1 path is exercised
    val params = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val res = SCTest.check(params, Prop.forAll(undirGraphGen) { edges =>
      edges.isEmpty || {
        val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
        val adj = (edges ++ edges.map(_.swap))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val distRef = scala.collection.mutable.Map(nodes.min -> 0L)
        var frontier = Seq(nodes.min)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).distinct.filterNot(distRef.contains)
          val d = distRef.values.max + 1
          frontier.foreach(distRef(_) = d)
        }
        val want = nodes.map(v =>
          v -> distRef.get(v).filter(_ <= rounds).getOrElse(-1L)).toMap
        val got = graft.queries.Graph.bfsHops(edges.toDF("a", "b"), rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == want
      }
    })
    assert(res.passed, res.status.toString)
  }

  test("self-similarity: identical adjacent docs score jaccard 1e6; disjoint score 0") {
    val docs = sample(doc, 50).filter(_.split(" ", -1).length >= 2)
    // pairs (2i, 2i+1) identical — every adjacent (even, odd) pair scores 1e6
    val rows = docs.zipWithIndex.flatMap { case (d, i) =>
      Seq((2L * i, d), (2L * i + 1, d)) }
    val out = graft.dedup.Dedup.adjacentNgramJaccard(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
      .filter { case (a, _, _) => a % 2 == 0 }
    assert(out.length == docs.length)
    assert(out.forall(_._3 == 1000000L))
  }

  test("ewmaAnomaly equals a driver-side fold on random event streams") {
    val evGen = for {
      n <- Gen.chooseNum(1, 40)
      users <- Gen.listOfN(n, Gen.chooseNum(1L, 5L))
      vals <- Gen.listOfN(n, Gen.chooseNum(1, 50000))
    } yield users.zip(vals).zipWithIndex.map { case ((u, v), i) =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        u, "view", v / 100.0)
    }
    check(Prop.forAll(evGen) { rows =>
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.streaming.EventStream.ewmaAnomaly(df).collect()
        .map(s => (s.user_id, s.event_id)).toSet
      // .toSeq before flatMap: flatMapping a Map with tuple results would
      // rebuild a Map and silently collapse a user's spikes to the last one
      val expected = rows.groupBy(_._3).toSeq.flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._2.getTime, e._1))
        var ewma = -1L
        sorted.flatMap { e =>
          val cents = math.floor(e._5 * 100).toLong
          val spike = if (ewma >= 0 && cents > 4 * ewma) Some((u, e._1)) else None
          ewma = if (ewma < 0) cents else (3 * ewma + cents) / 4
          spike
        }
      }.toSet
      got == expected
    })
  }
  test("q71 Pass-Join blocking is lossless vs a driver-side brute force") {
    // Adversarial catalog: a 3-letter alphabet makes near-matches dense, and
    // lengths 1..12 cross both the k+1-segment boundary and the short-name
    // residual path. Deterministic seed so the fixture (and any failure) is
    // reproducible.
    val rnd = new scala.util.Random(42)
    val names = Seq("a", "ab", "abc", "abcd", "aaa", "bbb", "aabb") ++
      (0 until 90).map(_ =>
        (0 until (1 + rnd.nextInt(12)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val rows = names.zipWithIndex.map { case (n, i) =>
      (i.toLong, n, s"B${i % 3}", "t", i, 1.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("q71prop").toString
    rows.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = rows.combinations(2).toSeq.collect {
      case Seq(a, b) if a._3 == b._3 && a._1 < b._1 && lev(a._2, b._2) <= 3 =>
        (a._3, lev(a._2, b._2).toLong)
    }.groupBy(_._1).map { case (br, ps) =>
      br -> (ps.size.toLong, ps.map(_._2).sum)
    }
    val got = graft.queries.Analytics.q71(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected, s"blocked pairs $got != brute-force $expected")
  }

  /** HITS replayed on the driver: dense maps, same init / renorm / integer
    * floor as the kernel. node -> (a, h) for every edge endpoint. */
  private def hitsReplay(es: Seq[(Long, Long, Long)],
      rounds: Int): Map[Long, (Long, Long)] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      val aRaw = nodes.map(v => v ->
        es.filter(_._2 == v).map(e => e._3 * hub(e._1)).sum).toMap
      val am = aRaw.values.foldLeft(1L)(math.max)
      auth = aRaw.map { case (k, v) => k -> v * 1000000L / am }
      val hRaw = nodes.map(v => v ->
        es.filter(_._1 == v).map(e => e._3 * auth(e._2)).sum).toMap
      val hm = hRaw.values.foldLeft(1L)(math.max)
      hub = hRaw.map { case (k, v) => k -> v * 1000000L / hm }
    }
    nodes.map(v => v -> (auth(v), hub(v))).toMap
  }

  /** The smoke fixture the q267 and registry specs read. */
  private val smokeSf = "/root/testdata/sf0.001"

  /** `es` as an edge frame spread over `parts` partitions. */
  private def edgeFrame(es: Seq[(Long, Long, Long)], parts: Int): DataFrame =
    spark.sparkContext.parallelize(es, parts).toDF("src", "dst", "wt")

  test("HITS == driver replay for rounds 1-6, merged partitions, empty input, one-sided nodes") {
    def hitsOf(es: Seq[(Long, Long, Long)], rounds: Int): Map[Long, (Long, Long)] = {
      val edges = edgeFrame(es, parts = 4)
      assert(edges.rdd.getNumPartitions == 4)
      try queries.Graph.hits(edges, rounds).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      finally graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
    }
    val rnd = new scala.util.Random(17)
    val random = (0 until 40).map(_ => (rnd.nextInt(14).toLong,
        rnd.nextInt(14).toLong, (1 + rnd.nextInt(5)).toLong))
      .filter(e => e._1 != e._2).groupBy(e => (e._1, e._2))
      .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq.sorted
    for (rounds <- 1 to 6)
      assert(hitsOf(random, rounds) == hitsReplay(random, rounds),
        s"random graph, $rounds rounds")
    // edges only from a lower to a higher id: node 0 has no in-edges and
    // node 9 no out-edges
    val dag = ((0L until 9L).map(i => (i, i + 1, 1L + i % 3)) ++
      Seq((0L, 5L, 4L), (2L, 9L, 2L), (3L, 7L, 1L), (1L, 8L, 3L))).sorted
    val got = hitsOf(dag, rounds = 3)
    assert(got == hitsReplay(dag, rounds = 3))
    assert(got(0L)._1 == 0L && got(0L)._2 > 0L, s"source node: ${got(0L)}")
    assert(got(9L)._2 == 0L && got(9L)._1 > 0L, s"sink node: ${got(9L)}")
    assert(hitsOf(Seq.empty, rounds = 3).isEmpty)
  }

  test("hits fails on an int64 overflow instead of wrapping") {
    // wt·1e6 overflows in the first half-round's product
    val product = Seq((1L, 2L, Long.MaxValue / 1000L))
    // each product fits, their sum at node 3 does not: in one partition,
    // and split so that only the merge of the partials overflows
    val sum = Seq((1L, 3L, 5000000000000L), (2L, 3L, 5000000000000L))
    for ((es, parts) <- Seq(product -> 1, sum -> 1, sum -> 2)) {
      val err = intercept[Exception](
        queries.Graph.hits(edgeFrame(es, parts), rounds = 1).collect())
      val chain = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[ArithmeticException] ||
        String.valueOf(e.getMessage).contains("overflow")),
        s"$es in $parts partitions: $err")
      graft.operators.Checkpoints.sweepScratch(spark.sparkContext, blocking = true)
    }
  }

  test("hits leaves no broadcast and no scratch checkpoint behind") {
    // a task binary (the closure each stage ships) is freed only by the
    // ContextCleaner at garbage collection; any other new broadcast is
    // the kernel's own
    val before = org.apache.spark.BroadcastBlocks.live().keySet
    assert(checkpointsLeft(queries.Graph.hits(randomWeighted(26), 3)) == 0)
    // Broadcast.destroy() frees the blocks asynchronously
    def left = org.apache.spark.BroadcastBlocks.live()
      .collect { case (id, false) if !before(id) => id }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(left.isEmpty, s"broadcasts left: $left")
  }

  test("q267 runs at most 12 Spark jobs on a warm execution") {
    val q267 = SparkEntry.queries("q267_hits")
    q267(spark, smokeSf).collect()
    Engine.resetBetweenQueries(spark)
    val jobs = jobsDuring(assert(q267(spark, smokeSf).collect().nonEmpty))
    assert(jobs <= 12, s"$jobs jobs, builder plus action")
  }

  test("a sharedFrame built inside another's build fails naming both keys") {
    import graft.queries.SharedFrames.sharedFrame
    val err = intercept[IllegalStateException] {
      sharedFrame(spark, smokeSf, "lineitem", "reentry-outer") {
        sharedFrame(spark, smokeSf, "lineitem", "reentry-inner")(spark.range(3).toDF("v"))
      }
    }
    assert(err.getMessage.contains("reentry-outer") &&
      err.getMessage.contains("reentry-inner"), err.getMessage)
    // the refused build leaves no entry and no guard behind: resolved
    // first, the inner frame feeds the outer build
    val inner = sharedFrame(spark, smokeSf, "lineitem", "reentry-inner")(
      spark.range(3).toDF("v"))
    val outer = sharedFrame(spark, smokeSf, "lineitem", "reentry-outer")(
      inner.select((col("v") + 1).as("v")))
    assert(outer.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    outer.unpersist(); inner.unpersist()
  }

  test("HITS == driver-side replay of the renormalized recurrence, for random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val nV = 6 + rnd.nextInt(8)
      val es = (0 until 2 * nV).map { _ =>
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong,
          (1 + rnd.nextInt(5)).toLong)
      }.filter(e => e._1 != e._2).distinct
        .groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      if (es.nonEmpty) {
        val got = queries.Graph.hits(
            es.toDF("src", "dst", "wt"), rounds = 3)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        val want = hitsReplay(es, rounds = 3)
        assert(got == want, s"trial $trial: $got != $want")
        graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
      }
    }
  }

  test("label propagation == driver-side synchronous replay on random weighted graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 8) {
      val nV = 5 + rnd.nextInt(9)
      val es = (0 until 2 * nV).map { _ =>
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong,
          (1 + rnd.nextInt(5)).toLong)
      }.filter(e => e._1 != e._2).distinct
        .groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      if (es.nonEmpty) {
        // driver replay: undirected incidence, synchronous argmax update,
        // ties -> smaller label, 3 rounds
        val und = es.flatMap(e =>
          Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
        val nodes = und.map(_._1).distinct.sorted
        var lbl = nodes.map(v => v -> v).toMap
        for (_ <- 1 to 3) {
          lbl = nodes.map { v =>
            val votes = und.filter(_._1 == v)
              .groupBy(u => lbl(u._2))
              .map { case (l, g) => (l, g.map(_._3).sum) }
            v -> votes.toSeq.map { case (l, w) => (-w, l) }.min._2
          }.toMap
        }
        val got = queries.Graph.labelPropagation(
            es.toDF("src", "dst", "wt"), rounds = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == lbl, s"trial $trial: $got != $lbl")
        graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
      }
    }
  }

  test("kCoreCensus == driver-side peeling on random graphs; early exit is identity") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 6) {
      val nV = 6 + rnd.nextInt(10)
      val es = (0 until 3 * nV).map { _ =>
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong)
      }.filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        val k = 2 + rnd.nextInt(3)
        val rounds = 6
        // driver replay: undirected distinct neighbor sets, synchronous
        // removal of every alive node with < k alive neighbors
        var alive = es.flatMap(e => Seq(e._1, e._2)).distinct.toSet
        val nbrs = es.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .distinct.groupBy(_._1).map { case (v, g) => v -> g.map(_._2).toSet }
        val want = (1 to rounds).map { r =>
          val removed = alive.filter(v =>
            nbrs.getOrElse(v, Set.empty).count(alive) < k)
          alive = alive -- removed
          (r.toLong, k.toLong, removed.size.toLong, removed.sum,
            alive.size.toLong)
        }
        val got = queries.Graph.kCoreCensus(
            spark, es.toDF("src", "dst"), Some(k), rounds)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
          .toSeq.sortBy(_._1)
        assert(got == want, s"trial $trial (k=$k): $got != $want")
        graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
      }
    }
  }

  test("kCoreCensus: a planted clique survives adaptive-mean-degree peeling") {
    // clique K6 (degree 5 inside) + a pendant 9-node chain (degree <= 2):
    // mean degree = (6*5 + 7*2 + 2*1) div 15 = 46 div 15 = 3, so the
    // chain peels away and the clique is the surviving 3-core
    val clique = for (a <- 0 until 6; b <- 0 until 6 if a < b)
      yield (a.toLong, b.toLong)
    val chain = (0 until 8).map(i => (100L + i, 101L + i))
    val es = clique ++ chain
    val rows = queries.Graph.kCoreCensus(
        spark, es.toDF("src", "dst"), None, 8)
      .orderBy("round").collect()
    assert(rows.head.getLong(1) == 3L, s"adaptive k: ${rows.head.getLong(1)}")
    assert(rows.last.getLong(4) == 6L,
      s"surviving core should be the K6 clique, got ${rows.last.getLong(4)}")
    assert(rows.map(_.getLong(2)).sum == 9L, "the 9 chain nodes peel")
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext)
  }

  test("SemDeDup rollup == brute-force transitive closure, for random member frames") {
    // randomized replay of the cluster-local union-find: random small
    // integer vectors in a handful of clusters, all-pairs cosine closure
    // computed independently in plain Scala (BFS over the thresholded
    // pair graph), keep-rule = argmin (cscore, id) per multi-component
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 12 + rnd.nextInt(20)
      val rows = (0 until n).map { i =>
        val cid = rnd.nextInt(3).toLong
        // small dims make threshold crossings common
        val qv = Seq.fill(4)((rnd.nextInt(7) - 3).toLong)
        (i.toLong, cid, qv, rnd.nextInt(1000000).toLong)
      }.filter(_._3.exists(_ != 0L))
      val m = rows.toDF("vec_id", "cid", "qv", "cscore")
        .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))
      val thr = 400000L
      def cos(a: Seq[Long], b: Seq[Long]): Long = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val (na, nb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
        val s = dot * dot * 1000000L / (na * nb)
        if (dot >= 0) s else -s
      }
      // brute-force closure per cluster
      val expected = rows.groupBy(_._2).map { case (cid, ms) =>
        val ids = ms.map(_._1)
        val adj = ids.map { a =>
          a -> ids.filter { b =>
            b != a && {
              val (va, vb) = (ms.find(_._1 == a).get._3, ms.find(_._1 == b).get._3)
              cos(va, vb) >= thr
            }
          }
        }.toMap
        var seen = Set.empty[Long]
        var groups = Seq.empty[Seq[Long]]
        ids.sorted.foreach { s =>
          if (!seen(s)) {
            var comp = Set(s); var frontier = Seq(s)
            while (frontier.nonEmpty) {
              val next = frontier.flatMap(adj).filterNot(comp)
              comp ++= next; frontier = next.distinct
            }
            seen ++= comp; groups :+= comp.toSeq.sorted
          }
        }
        val pairs = ids.combinations(2).count { case Seq(a, b) =>
          adj(a).contains(b)
        }
        val multi = groups.filter(_.size >= 2)
        val cs = ms.map(r => r._1 -> r._4).toMap
        val kept = multi.map(g => g.map(i => (cs(i), i)).min._2).sum +
          groups.filter(_.size == 1).flatten.sum
        cid -> (ids.size.toLong, pairs.toLong, multi.size.toLong,
          multi.map(_.size - 1).sum.toLong, kept)
      }
      val got = graft.queries.Semantic.semdedupRollup(m, thr).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got == expected, s"trial $trial: $got != $expected")
    }
  }

  /** Spark jobs started while `run` runs, counted by a listener; a
    * sentinel job run after it marks where its jobs end, since listener
    * events arrive asynchronously but in order. */
  private def jobsDuring(run: => Unit): Int = {
    import org.apache.spark.scheduler.SparkListenerJobStart
    val sc = spark.sparkContext
    val sentinel = "graft.property-spec.sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(sentinel) != null))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      run
      sc.setLocalProperty(sentinel, "1")
      try spark.range(1).collect() finally sc.setLocalProperty(sentinel, null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("q58 runs the same number of Spark jobs on every warm execution") {
    val q58 = SparkEntry.queries("q58_dedup_clusters")
    q58(spark, smokeSf).collect()
    val counts = (1 to 5).map { _ =>
      Engine.resetBetweenQueries(spark)
      jobsDuring(assert(q58(spark, smokeSf).collect().nonEmpty))
    }
    Engine.resetBetweenQueries(spark)
    assert(counts.distinct.size == 1, s"builder plus action jobs per rep: $counts")
  }

  test("a shared frame keeps its cached blocks across a scratch sweep") {
    import graft.queries.SharedFrames.basketItems
    val sc = spark.sparkContext
    Engine.resetBetweenQueries(spark)
    val n = basketItems(spark, smokeSf).count()
    graft.operators.Checkpoints.sweepScratch(sc, blocking = true)
    val cached = spark.sharedState.cacheManager
      .lookupCachedData(basketItems(spark, smokeSf)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
    assert(cached.nonEmpty, "the basket frame has no cache entry")
    def blocks = sc.getRDDStorageInfo.filter(i => cached.contains(i.id))
      .map(_.numCachedPartitions).sum
    assert(basketItems(spark, smokeSf).count() == n)
    assert(blocks > 0, "the sweep dropped the entry's blocks")
    // a stage that is actually submitted and reads a file scan
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scans.incrementAndGet()
    }
    sc.addSparkListener(l)
    try assert(jobsDuring(assert(basketItems(spark, smokeSf).count() == n)) > 0)
    finally sc.removeSparkListener(l)
    assert(scans.get == 0, s"${scans.get} stages re-scanned lineitem")
    assert(blocks > 0)
    Engine.resetBetweenQueries(spark)
  }

  test("bpeMergeStep leaves no cache entry behind") {
    spark.catalog.clearCache()
    val words = Seq(("abab", 3L), ("abc", 2L), ("bca", 1L)).toDF("word", "f")
    assert(graft.queries.Training.bpeMergeStep(words).collect().nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    graft.operators.Checkpoints.sweepScratch(spark.sparkContext, blocking = true)
  }

  test("bpeMergeStep keeps a caller's scratch frame readable on the degenerate path") {
    val words = graft.operators.Checkpoints.scratch(
      Seq(("a", 3L), ("b", 1L), ("c", 2L)).toDF("word", "f"))
    assert(graft.queries.Training.bpeMergeStep(words).collect().isEmpty)
    assert(words.count() == 3)
    assert(graft.operators.Checkpoints.scratchRooted(words))
    graft.operators.Checkpoints.release(words)
  }

  test("the ANN trainers leave no persisted RDD and no scratch checkpoint behind") {
    import graft.ann.{Knn, PortableAnn, Pq}
    val embs = Tables.load(spark, smokeSf, "embeddings")
    val qz = PortableAnn.quantized(embs)
    val trainers: Seq[(String, () => Any)] = Seq(
      "Knn.ivfTrain" -> (() => Knn.ivfTrain(embs, nClusters = 8)),
      "Pq.pqTrain" -> (() => Pq.pqTrain(embs, dim = 64, m = 8, k = 16)),
      "PortableAnn.ivfTrainInt" -> (() => PortableAnn.ivfTrainInt(qz, nClusters = 8)),
      "PortableAnn.pqTrainInt" ->
        (() => PortableAnn.pqTrainInt(qz, dim = 64, m = 8, k = 16)),
      "Semantic.ivfTrainIntJoin" ->
        (() => graft.queries.Semantic.ivfTrainIntJoin(spark, qz, nClusters = 8)))
    val sc = spark.sparkContext
    for ((name, train) <- trainers) {
      val (rdds, ids) = (sc.getPersistentRDDs.keySet,
        graft.operators.Checkpoints.liveIds)
      train()
      assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, s"$name left a persisted RDD")
      assert((graft.operators.Checkpoints.liveIds -- ids).isEmpty,
        s"$name left a scratch checkpoint")
    }
  }
}
