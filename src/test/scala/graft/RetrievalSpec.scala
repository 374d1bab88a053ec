package graft

import graft.queries.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the q106–q109 retrieval/hygiene family beyond the smoke /
  * oracle gates: passage windows have exactly the declared width, interval
  * union never exceeds the naive sum and the merge agrees with an
  * independent sweep, percentiles are order statistics of their own group,
  * and BM25 scores respect the saturation bound and term monotonicity.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q254 MMR: first pick is the relevance argmax, picks are distinct, objective non-increasing") {
    val rows = Retrieval.q254(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10 && rows.map(_._1).sameElements(1L to 10L))
    assert(rows.map(_._2).distinct.length == 10, "selected ids must be distinct")
    // step 1 has no diversity penalty: it is the pure relevance argmax,
    // and its mmr is exactly 700000·rel
    assert(rows.head._4 == 700000L * rows.head._3)
    assert(rows.head._3 == rows.map(_._3).max,
      "first pick must be the top-relevance candidate")
    // greedy MMR objective is non-increasing: each step's penalty only
    // grows and the candidate pool only shrinks
    val objs = rows.map(_._4)
    assert(objs.zip(objs.tail).forall { case (a, b) => a >= b },
      s"objective must be non-increasing: ${objs.toSeq}")
    // the penalty term is real on this fixture: later steps carry a
    // strictly smaller objective than 700000·rel (maxsim > 0 somewhere)
    assert(rows.tail.exists(r => r._4 < 700000L * r._3),
      "diversity penalty never engaged — reranker would be a no-op")
  }

  test("q106 passages are 8 tokens wide and all counts are >= 2") {
    val rows = Retrieval.q106(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getString(0).split(" ").length == 8)
      assert(r.getLong(1) >= 2)
    }
    // ranking is by n_docs desc
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("q107 covered time is bounded by [one interval, naive sum] per user") {
    val naive = Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Retrieval.q107(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == naive.keySet)
    rows.foreach { r =>
      val (user, nIv, covered) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nIv >= 1 && nIv <= naive(user))
      assert(covered >= 300000L, s"user $user covered $covered < one interval")
      assert(covered <= naive(user) * 300000L,
        s"user $user covered $covered exceeds naive sum")
    }
  }

  test("q107 merge agrees with an independent per-user sweep") {
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).sorted }
    val expected = events.map { case (u, starts) =>
      var nIv = 0L; var covered = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      starts.foreach { s =>
        if (s > curE) {
          if (nIv > 0) covered += curE - curS
          nIv += 1; curS = s; curE = s + 300000L
        } else curE = math.max(curE, s + 300000L)
      }
      covered += curE - curS
      u -> (nIv, covered)
    }
    val got = Retrieval.q107(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("q108 percentiles are ordered and drawn from their own group") {
    val rows = Retrieval.q108(spark, sf).collect()
    val byGroup = Tables.load(spark, sf, "orders")
      .select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    rows.foreach { r =>
      val (p, n) = (r.getString(0), r.getLong(1))
      val (p50, p90, p99) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val vals = byGroup(p)
      assert(n == vals.length)
      assert(p50 <= p90 && p90 <= p99)
      // each percentile IS the ceil(p*n)-th smallest value of the group
      assert(p50 == vals(((n * 50 + 99) / 100 - 1).toInt))
      assert(p90 == vals(((n * 90 + 99) / 100 - 1).toInt))
      assert(p99 == vals(((n * 99 + 99) / 100 - 1).toInt))
    }
  }

  test("q110 pair scores agree with double-precision cosine ranking") {
    val rows = Retrieval.q110(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sortBy(-_)))
    // the quantized rational must reproduce cos² within quantization error
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    rows.foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos2 = dot * dot /
        (a.map(x => x * x).sum * b.map(x => x * x).sum)
      // score_x1e6 is already signed; compare directly with signum(dot)·cos²
      val got = r.getLong(2) / 1e6
      assert(math.abs(got - math.signum(dot) * cos2) < 0.05,
        s"pair ${r.getLong(0)},${r.getLong(1)}: quantized $got vs exact $cos2")
    }
  }

  test("q111 keep counts are bounded and the logit replays per doc") {
    val rows = Retrieval.q111(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
    }
    val total = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total)
    // the gate must be non-trivial on the fixture: both classes present
    val kept = rows.map(_.getLong(2)).sum
    assert(kept > 0 && kept < total, s"degenerate gate: $kept/$total")
  }

  test("q114 chunks tile every document with the declared stride and tail") {
    val lens = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = Retrieval.q114(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) =>
        d -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    assert(byDoc.keySet == lens.keySet)
    byDoc.foreach { case (d, chunks) =>
      val len = lens(d)
      // chunk count is the stride tiling of the token run
      assert(chunks.length == (len - 1) / 24 + 1, s"doc $d: ${chunks.length} chunks for $len tokens")
      // every chunk holds exactly the window that remains at its offset
      chunks.zipWithIndex.foreach { case (n, i) =>
        assert(n == math.min(32L, len - 24L * i),
          s"doc $d chunk $i: $n tokens, len $len")
      }
    }
  }

  test("q109 scores respect the saturation bound and rank monotonically") {
    val rows = Retrieval.q109(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sortBy(-_)))
    // tfsat < (k1+1) = 2.2 in x1e6 fixed point, idf <= (2N+1)x1e6 / 3,
    // 3 terms: a loose but absolute algebraic ceiling on any score
    val nDocs = Tables.load(spark, sf, "documents").count()
    val ceiling = 3L * ((2 * nDocs + 1) * 1000000L / 3) / 1000000L * 2200000L
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(2) <= ceiling)
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 3)
    }
  }

  test("q162 interval-overlap join replays from a driver-side sweep") {
    val evs = Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // per-user merged sessions ([ms, ms+5min), islands by running-max end)
    def merge(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      xs.sorted.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc, (s, e)) if acc.nonEmpty && s <= acc.last._2 =>
          acc.init :+ ((acc.last._1, math.max(acc.last._2, e)))
        case (acc, iv) => acc :+ iv
      }
    val sess = evs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      merge(xs.toSeq.map(x => (x._2, x._2 + 300000L))).map { case (s, e) => (u, s, e) }
    }
    // per-type high-activity windows: hours at >= 1.5x the type's mean
    // events-per-active-hour, adjacent merged
    val buckets = evs.groupBy(x => (x._3, x._2 / 3600000L))
      .map { case (k, xs) => (k._1, k._2, xs.size.toLong) }.toSeq
    val tyStats = buckets.groupBy(_._1)
      .map { case (t, bs) => t -> ((bs.map(_._3).sum, bs.size.toLong)) }
    val act = buckets.collect {
      case (t, h, c) if c * tyStats(t)._2 * 2 >= tyStats(t)._1 * 3 => (t, h)
    }.groupBy(_._1).toSeq.flatMap { case (t, hs) =>
      val sortedH = hs.map(_._2).sorted
      sortedH.foldLeft(Vector.empty[Vector[Long]]) {
        case (acc, h) if acc.nonEmpty && h == acc.last.last + 1 =>
          acc.init :+ (acc.last :+ h)
        case (acc, h) => acc :+ Vector(h)
      }.map(run => (t, run.head * 3600000L, (run.last + 1) * 3600000L))
    }
    val expAgg = (for {
      (u, as_, ae) <- sess
      (t, bs, be)  <- act
      if as_ < be && bs < ae
    } yield (t, u, math.min(ae, be) - math.max(as_, bs)))
      .groupBy(_._1).map { case (t, xs) =>
        t -> ((xs.size.toLong, xs.map(_._2).distinct.size.toLong,
          xs.map(_._3).sum))
      }
    val got = Retrieval.q162(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expAgg.keySet)
    got.foreach { case (t, v) =>
      assert(v == expAgg(t), s"$t: got $v want ${expAgg(t)}")
    }
    assert(expAgg.nonEmpty, "no overlapping pairs — vacuous")
  }

  test("q163 triplet mining replays from a driver-side exhaustive scan") {
    def quant(e: Seq[Float]): Array[Long] =
      e.map(x => math.floor(x.toDouble * 100).toLong).toArray
    def qscore(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val m = dot * dot * 1000000L /
        (a.map(x => x * x).sum * b.map(x => x * x).sum)
      if (dot >= 0) m else -m
    }
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), quant(r.getSeq[Float](2))))
      .filter { case (_, _, q) => q.map(x => x * x).sum > 0 }
    val expected = vecs.filter(_._1 < 20).sortBy(_._1).flatMap {
      case (qid, qlbl, bq) =>
        val scored = vecs.filter(_._1 != qid)
          .map { case (id, lbl, qv) => (id, lbl, qscore(qv, bq)) }
        val neg = scored.filter(_._2 != qlbl).sortBy(t => (-t._3, t._1))
          .headOption.map(t => (qid, "neg", t._1, t._3))
        val pos = scored.filter(_._2 == qlbl).sortBy(t => (t._3, t._1))
          .headOption.map(t => (qid, "pos", t._1, t._3))
        neg.toSeq ++ pos.toSeq // "neg" sorts before "pos" in the query's order
    }
    val got = Retrieval.q163(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("q175 RRF: fused scores replay from the ranks with the k=60 weights") {
    val rows = Retrieval.q175(spark, sf).collect()
    assert(rows.length == 10)
    def contrib(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) 0L else {
        val rk = r.getLong(i)
        assert(rk >= 1 && rk <= 50, s"rank $rk outside the top-50 leg")
        1000000L / (60L + rk)
      }
    rows.foreach { r =>
      assert(!r.isNullAt(1) || !r.isNullAt(2),
        "a fused row must come from at least one leg")
      assert(r.getLong(3) == contrib(r, 1) + contrib(r, 2),
        s"rrf mismatch for doc ${r.getLong(0)}")
    }
    val scores = rows.map(_.getLong(3))
    assert(scores.sameElements(scores.sortBy(-_)), "must be rrf-descending")
    // both legs contribute to the fused top-10 at this SF
    assert(rows.exists(!_.isNullAt(1)) && rows.exists(!_.isNullAt(2)))
  }

  test("q182 percentile table: bins partition each source's mass, CDF closes at 1e6") {
    val rows = Retrieval.q182(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._3).sum == nDocs, "bin masses must conserve the corpus")
    rows.groupBy(_._1).foreach { case (src, bins0) =>
      val bins = bins0.sortBy(_._2)
      assert(bins.map(_._2).distinct.length == bins.length, src)
      // cum_docs is the running sum of n_docs and the CDF ends at 1e6
      var running = 0L
      bins.foreach { case (_, bin, n, lo, hi, cum, ppm) =>
        running += n
        assert(cum == running, s"$src bin $bin: cum $cum != $running")
        assert(lo <= hi && lo / 100000 == bin && hi / 100000 == bin,
          s"$src bin $bin: range [$lo, $hi] escapes the bin")
        assert(ppm == cum * 1000000L / bins.map(_._3).sum,
          s"$src bin $bin: ppm")
      }
      assert(bins.last._7 == 1000000L, s"$src: CDF must close at 1e6")
    }
  }

  test("q186 boilerplate replays from a driver-side per-source passage count") {
    val rows = Retrieval.q186(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getString(3), r.getString(1).split(" ")))
    val counts = docs.flatMap { case (src, w) =>
      w.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSeq.distinct
        .map(p => (src, p))
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    val totals = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = counts.toSeq.map { case ((src, p), n) => (src, p, n) }
      .groupBy(_._1).flatMap { case (src, xs) =>
        xs.sortBy { case (_, p, n) => (-n, p) }.take(3).zipWithIndex
          .map { case ((_, p, n), i) =>
            (src, i + 1L, p, n, n * 1000000L / totals(src))
          }
      }.toSeq.sortBy(r => (r._1, r._2))
    assert(rows.toSeq == expected, "per-source top-3 must replay exactly")
  }

  test("q202 gate sweep is monotone and its zero row matches q111's keep total") {
    val rows = Retrieval.q202(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 5)
    assert(rows.map(_._1).sameElements(
      Seq(-2000000L, -1000000L, 0L, 1000000L, 2000000L)))
    // raising the threshold can only shrink what survives
    rows.sliding(2).foreach { pair =>
      val (lo, hi) = (pair(0), pair(1))
      assert(hi._2 <= lo._2 && hi._3 <= lo._3,
        s"keep counts must be non-increasing: $lo -> $hi")
    }
    rows.foreach { case (_, _, _, kp, tp) =>
      assert(kp >= 0 && kp <= 1000000L && tp >= 0 && tp <= 1000000L)
    }
    // the threshold-0 operating point IS q111's gate
    val q111Kept = Retrieval.q111(spark, sf).collect().map(_.getLong(2)).sum
    assert(rows.find(_._1 == 0L).get._2 == q111Kept,
      "threshold 0 must reproduce the q111 keep total")
  }

  test("q225 quantile gate: per-source keep rates normalize, thresholds spread") {
    val rows = Retrieval.q225(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // replay the bin-granular upper-half rule from the q182 table
    val bins = Retrieval.q182(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = bins.groupBy(_._1).map { case (src, xs) =>
      val ordered = xs.sortBy(_._2)
      val total = ordered.map(_._3).sum
      var cum = 0L
      val kept = ordered.flatMap { case (_, bin, n, lo) =>
        val keep = 2 * cum >= total; cum += n
        if (keep) Some((bin, n, lo)) else None
      }
      src -> ((total, kept.map(_._2).sum,
        kept.headOption.map(_._1), kept.headOption.map(_._3)))
    }
    rows.foreach { case (src, n, k, kppm, tb, tlo) =>
      val (en, ek, etb, etlo) = expected(src)
      assert(n == en && k == ek, s"$src counts")
      assert(Some(tb) == etb && Some(tlo) == etlo, s"$src threshold")
      assert(kppm == k * 1000000L / n, src)
      // the hard half of the normalization property: the rule can NEVER
      // keep more than half a source; the lower bound is soft because a
      // single wide bin straddling the median keeps whole-bin (at 25
      // docs/source the fixture's granularity costs up to ~2 bins)
      assert(kppm <= 500000L, s"$src kept $kppm over half")
      assert(kppm >= 150000L, s"$src kept $kppm — a degenerate bin profile")
    }
    // the whole point: effective thresholds DIFFER across sources — the
    // bias a single global cut would have baked in
    val thresholds = rows.map(_._6)
    assert(thresholds.max - thresholds.min > 100000L,
      "thresholds collapsed — quantile normalization shows no cross-source spread")
  }

  test("q226 passage coverage replays from a driver-side window fold") {
    val rows = Retrieval.q226(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(1).split(" ")))
    val wins = docs.flatMap { case (id, src, w) =>
      w.sliding(8).filter(_.length == 8).zipWithIndex
        .map { case (p, i) => (p.mkString(" "), id, src, i) }
    }
    val dup = wins.groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val covered = wins.filter(w => dup(w._1))
      .flatMap { case (_, id, src, pos) => (pos until pos + 8).map(p => (id, src, p)) }
      .distinct
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val toks = xs.map(_._3.length.toLong).sum
      val cov = covered.count(_._2 == src).toLong
      src -> ((xs.length.toLong, toks, cov, cov * 1000000L / toks))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, nd, nt, cov, ppm) =>
      assert((nd, nt, cov, ppm) == expected(src), s"$src mismatch")
      assert(cov <= nt, s"$src: coverage cannot exceed the token mass")
    }
    assert(rows.map(_._4).sum > 0L,
      "no duplicated-passage mass — the q106 detector should disagree")
  }

  test("q229 retrieval diversity replays from the scored top-50") {
    val r = Retrieval.q229(spark, sf).head()
    val (k, ns, top, hhi) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(k == 50L, "the audit list is the lexical top-50")
    // replay: top-50 of the shared BM25 scoring, sources counted driver-side
    val scored = Retrieval.bm25Scored(spark, sf).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("score_x1e6")))
      .sortBy { case (id, s) => (-s, id) }.take(50).map(_._1).toSet
    val srcOf = graft.Tables.load(spark, sf, "documents").collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    val counts = scored.toSeq.map(srcOf).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(ns == counts.size.toLong, "distinct-source count")
    val shares = counts.values.map(_ * 1000000L / 50L)
    assert(top == shares.max, "top share")
    assert(hhi == shares.map(s => s * s / 1000000L).sum, "hhi")
    assert(hhi >= 1000000L / ns && hhi <= 1000000L, "hhi algebraic bounds")
  }

  test("q234 passage dedup: drops only non-owner duplicates, loses no content") {
    val rows = Retrieval.q234(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nDocs, nChunks, nDup, nDropped, retained, ppm) =>
      assert(nDropped <= nDup, s"$src: can only drop duplicated chunks")
      assert(nDup <= nChunks && nDocs >= 1, src)
      assert(ppm == nDropped * 1000000L / nChunks, s"$src: drop_ppm identity")
      assert(retained >= 0L, src)
    }
    // the policy must fire on the fixture (cross-doc duplication exists)
    assert(rows.exists(_._5 > 0L), "no chunk dropped — fixture has known dups")
    // NO CONTENT LOST: every distinct chunk fingerprint survives in its
    // owner doc, so kept-chunk distinct fps == all distinct fps
    val chunks = Retrieval.q114(spark, sf)
      .select(col("doc_id"), col("chunk_fp")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val owner = chunks.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val keptFps = chunks.collect {
      case (doc, fp) if owner(fp) == doc => fp
    }.toSet
    assert(keptFps == chunks.map(_._2).toSet,
      "removal must keep every distinct passage exactly once per owner")
    // dropped total reconciles with the driver-side replay of the policy
    // (owner != doc already implies the fp spans >= 2 distinct docs)
    val droppedReplay = chunks.count { case (doc, fp) => owner(fp) != doc }
    assert(rows.map(_._5).sum == droppedReplay.toLong,
      "per-source dropped counts must sum to the global policy replay")
  }

  test("q237 filtered kNN: pre-filter semantics — every hit passes the gate, k is full") {
    val rows = Retrieval.q237(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 10, "the filtered set must still fill k")
    // every returned neighbor satisfies the metadata predicate
    val en = graft.Tables.load(spark, sf, "documents")
      .filter(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => en(r._1)), "a hit escaped the lang gate")
    assert(!rows.exists(_._1 == 0L), "the query vector must exclude itself")
    // scores are the exact kernel's and non-increasing in output order
    rows.map(_._3).sliding(2).foreach { w =>
      assert(w(1) <= w(0), "ranking must be score-descending")
    }
    // driver-side replay of the same integer kernel over the gated set —
    // and the pre-vs-post-filter trap: post-filtering the UNFILTERED
    // global top-10 must lose qualifying neighbors the filtered query keeps
    val vecs = graft.Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 100).toLong).toArray)
      .toMap
    def score(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val (na, nb) = (a.map(x => x * x).sum, b.map(x => x * x).sum)
      val m = dot * dot * 1000000L / (na * nb)
      if (dot >= 0) m else -m
    }
    val qv = vecs(0L)
    def topK(ids: Iterable[Long], k: Int): Seq[(Long, Long)] =
      ids.filter(id => id != 0L && vecs(id).exists(_ != 0L))
        .map(id => (id, score(vecs(id), qv))).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(k)
    val filteredReplay = topK(vecs.keys.filter(en), 10)
    assert(rows.map(r => (r._1, r._3)).toSeq == filteredReplay,
      "filtered top-10 must equal the driver replay over the gated set")
    val postFiltered = topK(vecs.keys, 10).map(_._1).filter(en)
    assert(postFiltered.length < 10 ||
        postFiltered.toSet == rows.map(_._1).toSet,
      "if post-filtering still fills k it must agree; otherwise it LOSES hits")
  }

  test("q218 rerank agreement: triangular pairs, tau identity and bounds") {
    val r = Retrieval.q218(spark, sf).head()
    val (n, c, d, tau) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(c + d == n, "every pair is concordant xor discordant")
    // n is triangular: k(k-1)/2 for the candidate count k, and most of the
    // lexical top-50 must have survived the embedding join
    val k = ((1 + math.sqrt(1.0 + 8.0 * n)) / 2).round
    assert(k * (k - 1) / 2 == n, s"n_pairs $n not triangular")
    assert(k >= 45, s"only $k candidates re-ranked — stage-2 join losing docs")
    assert(tau >= -1000000L && tau <= 1000000L)
    val expectedTau =
      if (c >= d) (c - d) * 1000000L / n else -((d - c) * 1000000L / n)
    assert(tau == expectedTau, "tau must be the sign-decomposed exact ratio")
  }

  test("q241 CDC chunks tile every document exactly, contiguously, in order") {
    val lens = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = Retrieval.q241(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(byDoc.keySet == lens.keySet, "every document must be chunked")
    byDoc.foreach { case (d, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(sorted.indices.map(_.toLong)),
        s"doc $d: chunk_idx not contiguous from 0")
      assert(sorted.forall(_._3 >= 1L), s"doc $d: empty chunk")
      assert(sorted.map(_._3).sum == lens(d),
        s"doc $d: chunks cover ${sorted.map(_._3).sum} of ${lens(d)} tokens")
    }
  }

  test("q241 CDC boundaries are shift-robust where fixed-stride windows are not") {
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(80).cache()
    val shifted = docs.select(col("doc_id"),
      concat(lit("zzz "), col("text")).as("text"))
    def fps(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Long)]] =
      Retrieval.cdcChunksFrom(d).select("doc_id", "chunk_idx", "chunk_fp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) =>
          k -> v.sortBy(_._2).map(x => (x._2, x._3)).toSeq
        }
    val (orig, moved) = (fps(docs), fps(shifted))
    // CDC guarantee: prepending one token can invalidate AT MOST the first
    // chunk of each document — every later boundary is a function of local
    // bigram content, which did not change.
    orig.foreach { case (d, chunks) =>
      val missing = chunks.filterNot(c => moved(d).exists(_._2 == c._2))
      assert(missing.length <= 1, s"doc $d: ${missing.length} chunks lost")
      missing.foreach { m =>
        assert(m._1 == 0L, s"doc $d: non-head chunk ${m._1} lost to a shift")
      }
    }
    // the fixed-stride comparison: the same one-token shift moves EVERY
    // window, so fingerprint survival collapses — the reason CDC exists
    def strideFps(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val w = split(col("text"), " ")
      d.select(col("doc_id"), posexplode(sequence(lit(1), size(w), lit(24)))
          .as(Seq("i", "start")), w.as("w"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.portableHash60(
            concat_ws(" ", slice(col("w"), col("start"), lit(32)))).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val (so, sm) = (strideFps(docs), strideFps(shifted))
    val strideSurvival = so.count(sm.contains).toDouble / so.size
    val cdcTotal = orig.values.map(_.length).sum
    val cdcSurvived = orig.map { case (d, chunks) =>
      chunks.count(c => moved(d).exists(_._2 == c._2))
    }.sum
    val cdcSurvival = cdcSurvived.toDouble / cdcTotal
    assert(cdcSurvival >= 0.6, s"CDC survival $cdcSurvival unexpectedly low")
    assert(strideSurvival <= 0.2,
      s"stride survival $strideSurvival — fixture texts look periodic")
    assert(cdcSurvival > strideSurvival + 0.3,
      s"CDC ($cdcSurvival) must dominate fixed-stride ($strideSurvival)")
    docs.unpersist(blocking = false)
  }

  test("q242 stored mass is conserved against the q241 chunk frame") {
    val chunks = Retrieval.q241(spark, sf)
      .select("chunk_fp", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = Retrieval.q242(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._2).sum == chunks.length,
      "per-source chunk counts must sum to the corpus chunk count")
    assert(rows.map(_._3).sum == chunks.map(_._1).distinct.length,
      "exactly one stored copy per distinct fingerprint, across all sources")
    assert(rows.map(_._4).sum == chunks.map(_._2).sum,
      "token mass must be conserved")
    rows.foreach { case (src, nc, sc, tt, st, ppm) =>
      assert(sc >= 1L && sc <= nc, s"$src: stored $sc outside [1, $nc]")
      assert(st <= tt, s"$src: stored tokens exceed total")
      assert(ppm == (tt - st) * 1000000L / tt, s"$src: savings_ppm mismatch")
    }
  }

  test("q243 truncation recall is bounded, exact in ppm, and non-degenerate") {
    val rows = Retrieval.q243(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until 20L),
      "one row per batch query, ordered")
    rows.foreach { case (qid, n, ppm) =>
      assert(n >= 0L && n <= 10L, s"qid $qid: n_common $n outside [0,10]")
      assert(ppm == n * 100000L, s"qid $qid: recall_ppm not n_common/10")
    }
    // half the dimensions must retain SOME neighborhood structure — a zero
    // overlap across all 20 queries would mean the audit is reading noise
    assert(rows.map(_._2).sum > 0L, "no query retained any top-10 overlap")
  }

  test("q244 every reported span is literally shared text of that length") {
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val rows = Retrieval.q244(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 20)
    val spans = rows.map(_._5)
    assert(spans.sameElements(spans.sortBy(-_)), "not ranked by span desc")
    assert(spans.forall(_ >= 8L), "a span can never be under the anchor width")
    rows.foreach { case (da, db, pa, pb, len) =>
      val sa = texts(da).slice(pa.toInt - 1, pa.toInt - 1 + len.toInt)
      val sb = texts(db).slice(pb.toInt - 1, pb.toInt - 1 + len.toInt)
      assert(sa.length == len && sa.sameElements(sb),
        s"($da,$db) at ($pa,$pb): reported span of $len is not shared text")
    }
  }

  test("q245 pricing equals a full driver replay of span union per document") {
    val docRows = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").length.toLong))
    val spans = Retrieval.dupSpans(
      Tables.load(spark, sf, "documents").select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // claim intervals in both endpoint docs, union per doc, sum covered
    val claims = (spans.map(s => (s._1, s._3, s._3 + s._5)) ++
      spans.map(s => (s._2, s._4, s._4 + s._5))).groupBy(_._1)
    val dupByDoc = claims.map { case (d, iv) =>
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.map(x => (x._2, x._3)).sortBy(identity).foreach { case (s, e) =>
        if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE >= 0) covered += curE - curS
      d -> covered
    }
    val expected = docRows.groupBy(_._2).map { case (src, ds) =>
      val dup = ds.map(d => dupByDoc.getOrElse(d._1, 0L))
      val tot = ds.map(_._3).sum
      (src, ds.length.toLong, dup.count(_ > 0L).toLong, tot, dup.sum,
        dup.sum * 1000000L / tot)
    }.toSet
    val rows = Retrieval.q245(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(rows == expected, "q245 must equal the driver interval-union replay")
  }

  test("q246 rewrites every document exactly as the owner-rule replay says") {
    def fp60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val spans = Retrieval.dupSpans(
      Tables.load(spark, sf, "documents").select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // non-owner (doc_b) interval claims, merged per doc
    val claims = spans.map(s => (s._2, s._4, s._4 + s._5)).groupBy(_._1)
      .map { case (d, iv) =>
        var merged = List.empty[(Long, Long)]
        iv.map(x => (x._2, x._3)).sortBy(identity).foreach { case (s, e) =>
          merged match {
            case (ms, me) :: tail if s <= me =>
              merged = (ms, math.max(me, e)) :: tail
            case _ => merged = (s, e) :: merged
          }
        }
        d -> merged
      }
    val rows = Retrieval.q246(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSet == texts.keySet, "one row per document")
    rows.foreach { case (d, nTok, nRem, fp) =>
      val w = texts(d)
      assert(nTok == w.length, s"doc $d token count")
      val iv = claims.getOrElse(d, Nil)
      val kept = w.zipWithIndex.collect {
        case (t, i0) if !iv.exists(v => i0 + 1 >= v._1 && i0 + 1 < v._2) => t
      }
      assert(nRem == w.length - kept.length, s"doc $d removed-count mismatch")
      assert(fp == fp60(kept.mkString(" ")),
        s"doc $d cleaned fingerprint does not match the replayed rewrite")
    }
    // the fixture has known duplicate structure: something must be excised,
    // and an untouched doc's fp must be the fp of its original text
    assert(rows.exists(_._3 > 0L), "no excision on a fixture with known dups")
    rows.filter(_._3 == 0L).take(5).foreach { case (d, _, _, fp) =>
      assert(fp == fp60(texts(d).mkString(" ")), s"doc $d: untouched fp drifted")
    }
  }

  test("q244 recovers a planted maximal run exactly once, at its position") {
    import spark.implicits._
    val filler = (1 to 40).map(i => s"fa$i").mkString(" ")
    val filler2 = (1 to 40).map(i => s"fb$i").mkString(" ")
    val shared = (1 to 20).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler $shared ${(1 to 15).map(i => s"ta$i").mkString(" ")}"),
      (2L, s"${(1 to 10).map(i => s"tb$i").mkString(" ")} $shared $filler2"),
      (3L, (1 to 60).map(i => s"tc$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Retrieval.q244From(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 1, s"expected exactly the planted span, got $rows")
    assert(rows.head == ((1L, 2L, 41L, 11L, 20L)),
      s"planted 20-token run at (41, 11) misreported: ${rows.head}")
  }
}
