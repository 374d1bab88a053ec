package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("intersect_count_i64 == size(array_intersect) on every input shape " +
      "(duplicates, nulls, zeros, empties) — the r16 hot-path swap is exact") {
    val rnd = new scala.util.Random(20260819L)
    def arr(): Seq[java.lang.Long] = Seq.fill(rnd.nextInt(12))(
      rnd.nextInt(10) match {
        case 0 => null
        case 1 => java.lang.Long.valueOf(0L)
        case _ => java.lang.Long.valueOf(rnd.nextInt(8).toLong)
      })
    val rows = Seq.fill(500)((arr(), arr())) ++ Seq(
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (Seq[java.lang.Long](null, null, 0L, 0L, 5L, 5L),
        Seq[java.lang.Long](null, 0L, 5L, 5L, 7L)))
    val df = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        call_function("intersect_count_i64", col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    val bad = df.filter(col("fast") =!= col("ref")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("winnow_select == the lag/lead window formulation (sf0.001 corpus)") {
    // the r16 native selection must reproduce the original window
    // formulation row-for-row — the oracle still replays the window SQL
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val grams = d.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions
          .portableShingleHashes(col("text"), 4)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    def lg(i: Int) = coalesce(lag("h", i).over(w), lit(Long.MaxValue))
    def ld(i: Int) = coalesce(lead("h", i).over(w), lit(Long.MaxValue))
    val h = col("h")
    val ref = grams.withColumn("sel",
        (lg(1) >= h && lg(2) >= h && lg(3) >= h) ||
          (lg(1) >= h && lg(2) >= h && ld(1) > h) ||
          (lg(1) >= h && ld(1) > h && ld(2) > h) ||
          (ld(1) > h && ld(2) > h && ld(3) > h))
      .filter(col("sel")).select(col("doc_id"), col("pos"), col("h").as("fp"))
    val got = graft.queries.Corpus.winnowSelected(d)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "native winnow selection diverges from the window formulation")
  }

  test("q278 winnowing guarantee: a 7-token shared passage is detected") {
    // t = w + k − 1 = 7: ANY verbatim overlap of ≥ 7 tokens must yield at
    // least one shared selected fingerprint (Schleimer 2003, Theorem 1)
    val passage = "the quick brown fox jumps over fences"
    val d = docs(
      (1L, s"alpha beta gamma $passage delta epsilon zeta"),
      (2L, s"one two three four $passage five six seven"),
      (3L, "completely unrelated words with no overlap at all here"))
    val pairs = graft.queries.Corpus.q278From(d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      s"planted 7-token overlap not detected: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("q278 winnowing coverage: every full window holds a selection") {
    // the dual of the guarantee: in every w = 4 consecutive gram positions
    // of every document, at least one position is selected
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val sel = graft.queries.Corpus.winnowSelected(d)
      .groupBy("doc_id").agg(collect_list("pos").as("ps"))
      .as[(Long, Seq[Long])].collect().toMap
    val nGrams = d.select(col("doc_id"),
        (size(split(col("text"), " ")) - 3).cast("long").as("ng"))
      .filter(col("ng") >= 1).as[(Long, Long)].collect().toMap
    nGrams.foreach { case (id, ng) =>
      val ps = sel.getOrElse(id, Seq.empty).sorted
      assert(ps.nonEmpty, s"doc $id: no selections over $ng grams")
      assert(ps.head <= 4 && ps.last >= ng - 3,
        s"doc $id: edge windows uncovered (${ps.head}, ${ps.last}, $ng)")
      ps.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b - a <= 4, s"doc $id: window gap $a -> $b exceeds w")
        case _ =>
      }
    }
  }

  test("exact dedup: deterministic survivor + multiplicity") {
    val d = docs((1L, "a b c"), (5L, "a b c"), (3L, "x y z"), (2L, "a b c"))
    val out = Dedup.exact(d).orderBy("keep_id")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("a b c", 1L, 3L), ("x y z", 3L, 1L)))
  }

  test("portable minhash LSH finds exact and near duplicates, drops unrelated") {
    val words = (1 to 60).map(i => s"tok$i")
    val a = words.mkString(" ")
    val b = words.updated(30, "CHANGED").mkString(" ")
    val d = docs((1L, a), (2L, a), (3L, b),
      (4L, (200 to 260).map(i => s"z$i").mkString(" ")))
    val pairs = Dedup.minHashPairsPortableFrom(d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // identical docs always share every band; the one-token edit keeps
    // J = 55/61 ≈ 0.90 ≥ 0.8 and must band-collide at 4×2 with high margin
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 == 1000000L)
    assert(pairs.filter(p => p._2 == 3L).forall(_._3 == 1000000L * 55 / 61))
  }

  test("portable simhash: identical docs at hamming 0, near-dup within gate, unrelated dropped") {
    val words = (1 to 300).map(i => s"tok$i")
    val a = words.mkString(" ")
    val b = words.updated(150, "CHANGED").mkString(" ")
    val d = docs((1L, a), (2L, a), (3L, b),
      (4L, (500 to 800).map(i => s"q$i").mkString(" ")))
    val pairs = Dedup.simHashPairsPortable(d)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 0L)
    // a one-token edit flips 3 of ~300 shingles — set cosine ≈ 0.99, so the
    // expected fingerprint movement (60·θ/π ≈ 2–3 bits) sits well inside
    // the default Hamming ≤ 6 gate
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L)) <= 6L)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("q28 oracle tier parity: every compound-key arm j=1..4 matches a driver replay of the SQL algebra; pairs j-invariant") {
    // r12 ADVICE #3: the q28 oracle's j=3/4 UNION arms only execute past
    // 512k/16M docs, so a desync there would pass the fixture-scale hash
    // gate. Here every arm's keying algebra — the SQL's subset enumeration
    // (x<y<z<u), band-id encoding (((x*10+y)*10+z)*10+u), block shifts and
    // the 256-member dense-bucket cutoff — is transliterated on the driver
    // and compared against the Spark pipeline FORCED to each tier.
    val words = (1 to 300).map(i => s"tok$i")
    val a = words.mkString(" ")
    val b = words.updated(150, "CHANGED").mkString(" ")
    val filler = (1 to 40).map(i =>
      (100L + i, (i * 7 to i * 7 + 50).map(j => s"w$j").mkString(" ")))
    val d = docs(Seq((1L, a), (2L, a), (3L, b)) ++ filler: _*)
    val fps = Dedup.simHashesPortable(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def block(f: Long, i: Int): Long = (f >> (i * 6)) & 0x3fL
    def replay(j: Int): Set[(Long, Long, Long)] = {
      val buckets = scala.collection.mutable.Map
        .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      for ((id, f) <- fps; sub <- (0 until 10).combinations(j)) {
        val bandId = sub.foldLeft(0)((acc, x) => acc * 10 + x)
        val bkey = sub.zipWithIndex
          .map { case (bi, i) => block(f, bi) << (6 * i) }.reduce(_ | _)
        buckets.getOrElseUpdate((bandId, bkey),
          scala.collection.mutable.ArrayBuffer.empty) += ((id, f))
      }
      buckets.values.filter(_.size <= 256).flatMap { mem =>
        for {
          x <- mem; y <- mem
          if x._1 < y._1 &&
            java.lang.Long.bitCount(x._2 ^ y._2) <= 6
        } yield (x._1, y._1,
          java.lang.Long.bitCount(x._2 ^ y._2).toLong)
      }.toSet
    }
    val perTier = (1 to 4).map { j =>
      val got = Dedup.simHashPairsPortable(d, forceJ = Some(j))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == replay(j), s"tier j=$j diverges from the SQL-arm replay")
      got
    }
    // sparse buckets → completeness holds at every j ≤ 4: pair set invariant
    assert(perTier.distinct.size == 1,
      "pair set must be j-invariant over sparse buckets")
    assert(perTier.head.contains((1L, 2L, 0L)),
      "identical docs must pair at hamming 0 in every tier")
  }

  test("adaptive width/tier rules match the oracle's integer algebra at every boundary") {
    // the corpus-size → (j, w) derivations run as different SQL expressions
    // (LENGTH(BIN(..)) with floor division) than the Scala (bit-length with
    // truncating division) — sweep the boundaries to pin their equality
    def binLen(x: Long): Int = java.lang.Long.toBinaryString(x).length
    def sparkBitlen(n: Long): Int =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    def sparkJ(n: Long): Int = {
      val bl = sparkBitlen(n)
      math.min(math.max(1, 10 - 6), math.max(1, (bl - 5) / 5))
    }
    def sqlJ(n: Long): Int = {
      val bl = binLen(math.max(1L, n - 1))
      math.min(4, math.max(1, Math.floorDiv(bl - 5, 5)))
    }
    def sparkW(n: Long): Int =
      math.min(21, math.max(7, sparkBitlen(n)))
    def sqlW(n: Long): Int =
      math.min(21, math.max(7, binLen(math.max(1L, n - 1))))
    val sweep = (1L to 4100L) ++
      (2 to 26).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1))
    sweep.foreach { n =>
      assert(sparkBitlen(n) == binLen(math.max(1L, n - 1)),
        s"bitlen desync at n=$n")
      assert(sparkJ(n) == sqlJ(n), s"q28 j-rule desync at n=$n")
      assert(sparkW(n) == sqlW(n), s"q30 w-rule desync at n=$n")
      assert(63 / sparkW(n) >= 3, s"band count collapsed at n=$n")
    }
    // tier boundaries land where the docs claim: 16k/512k/16M docs
    assert(sqlJ(16384L) == 1 && sqlJ(16386L) == 2)
    assert(sqlJ(524288L) == 2 && sqlJ(524290L) == 3)
    assert(sqlJ(16777216L) == 3 && sqlJ(16777218L) == 4)
  }

  test("native portable_simhash60 is bit-identical to the per-bit HOF composition") {
    // The 60-bit nested-aggregate lambda below is a deliberately-
    // interpreted REFERENCE composition: its generated doConsume can exceed
    // janino's limits (observed r14), which the strict engine session turns
    // into a hard failure — so this test (and only the reference side of
    // it) opts back into the interpreted fallback. The PRODUCTION path is
    // the native portable_simhash60 expression, swept compile-clean with
    // every other registered query in PlanQualitySpec.
    TestSpark.withCodegenFallback {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val hs = array_distinct(graft.functions.TextFunctions
      .portableShingleHashes(col("text"), 3))
    val native = Dedup.simHashesPortable(d)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // reference: one aggregate per bit over the same distinct hash array
    val ref = d.select(col("doc_id"),
        aggregate(sequence(lit(0), lit(59)), lit(0L), (acc, t) =>
          acc + when(
            aggregate(hs, lit(0L), (s, h) =>
              s + when(call_function("shiftright", h, t.cast("int"))
                  .bitwiseAND(lit(1L)) === 1L,
                lit(1L)).otherwise(lit(-1L))) > 0,
            call_function("shiftleft", lit(1L), t.cast("int")))
            .otherwise(lit(0L)))
          .as("f"))
      .filter(size(hs) > 0)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(native == ref)
    }
  }

  test("containment: a quoted doc pairs at ~1.0 where resemblance-LSH is blind; unrelated docs drop") {
    // doc 1 (10 tokens) is quoted verbatim inside doc 2 (210 tokens):
    // containment = 1.0 while Jaccard ≈ 8/208 ≈ 0.04 — the asymmetry the
    // operator exists for
    val small = (1 to 10).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (100 to 299).map(i => s"pad$i").mkString(" ")
    val other = (500 to 560).map(i => s"z$i").mkString(" ")
    val d = docs((1L, small), (2L, big), (3L, other))
    val pairs = Dedup.containmentPairs(d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1000000L)),
      s"expected exactly the quoted pair at containment 1.0, got $pairs")
    // the resemblance pipeline legitimately misses the same pair — the
    // blind spot that motivates containment as a separate operator
    val minhash = Dedup.minHashPairsPortableFrom(d, minJaccardX1e6 = 700000L)
      .as[(Long, Long, Long)].collect()
    assert(!minhash.exists(p => p._1 == 1L && p._2 == 2L),
      "fixture broken: resemblance found the quote, containment adds nothing")
  }

  test("containment: pairs sharing only over-cap shingles are skipped by declared design") {
    // 70 docs all share one stock phrase (df = 70 > cap 64) and nothing
    // else distinctive pairwise — no anchors survive, no pairs emitted
    val d = docs((1 to 70).map(i =>
      (i.toLong, s"common stock phrase here u${i}a u${i}b u${i}c")): _*)
    assert(Dedup.containmentPairs(d).count() == 0)
  }

  test("sig store: built once per corpus stamp, probe serves from the persisted table") {
    val sf = "/root/testdata/sf0.001"
    val first = graft.dedup.PortableSigStore.batchProbe(spark, sf).collect()
    val path = graft.dedup.PortableSigStore.ensureBuilt(spark, sf)
    val dir = new java.io.File(s"$path/sigs")
    assert(dir.exists, "store parquet missing after build")
    def stamp(): Seq[(String, Long)] = dir.listFiles.toSeq
      .map(f => (f.getName, f.lastModified)).sortBy(_._1)
    val before = stamp()
    // second probe: the store must be REUSED byte-for-byte (no rebuild)
    val second = graft.dedup.PortableSigStore.batchProbe(spark, sf).collect()
    assert(stamp() == before, "unchanged corpus must never rebuild the store")
    assert(first.map(_.toSeq).toSeq == second.map(_.toSeq).toSeq)
    // the store indexes ONLY the existing corpus (arrival bucket excluded)
    val stored = spark.read.parquet(s"$path/sigs").select("doc_id")
    val leaked = stored.filter(graft.functions.TextFunctions
      .hashBucket(col("doc_id"), graft.dedup.PortableSigStore.NewMod)
        === graft.dedup.PortableSigStore.NewBucket).count()
    assert(leaked == 0, "arrival-bucket docs must not be in the store")
    // every batch doc appears exactly once; misses carry the (-1, 0) shape
    val ids = first.map(_.getLong(0))
    assert(ids.distinct.length == ids.length && ids.nonEmpty)
    first.foreach { r =>
      val (m, j, d) = (r.getLong(1), r.getLong(2), r.getInt(3))
      if (d == 0) assert(m == -1L && j == 0L)
      else assert(m >= 0L && j >= 700000L)
    }
  }

  test("containment recall audit: a stock-phrase-only containment is measurably missed; a rare-anchored one is found") {
    // r13 VERDICT #3: q252 DECLARES that a pair whose every common shingle
    // has df > dfCap is missed by design. Plant exactly that corpus and
    // read the declaration off the audit as a number:
    //  - doc 0 is a 5-word stock phrase quoted verbatim inside docs
    //    100..170 (71 hosts) -> each of its 3 shingles has df = 72 > 64,
    //    so NO anchor exists and all 71 true containment pairs are missed;
    //  - doc 1 is a 5-word rare phrase quoted inside doc 200 only -> its
    //    shingles have df = 2 (in [2, 64]), anchored, found.
    val stock = "alpha beta gamma delta epsilon"
    val rare = "omicron sigma tau upsilon phi"
    def filler(i: Int) = (0 until 12).map(j => s"w${i}x$j").mkString(" ")
    val hosts = (0 until 71).map(i => (100L + i, s"${filler(i)} $stock"))
    val d = docs(
      Seq((0L, stock), (1L, rare), (200L, s"${filler(900)} $rare")) ++
        hosts: _*)
    val out = Dedup.containmentRecallAudit(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // all 72 true pairs are full containment (band 1000000); exactly one
    // (the rare-anchored quote) is discoverable
    assert(out.keySet == Set(1000000L), out.toString)
    assert(out(1000000L) == ((72L, 1L, 1000000L / 72L)), out.toString)
  }

  test("adjacent n-gram jaccard: hand-computed value") {
    // doc1 bigrams {a b, b c}; doc2 bigrams {a b, b x} → J = 1/3
    val d = docs((1L, "a b c"), (2L, "a b x"))
    val out = Dedup.adjacentNgramJaccard(d).as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1000000L / 3)))
  }

  test("native word_shingles and portable_shingle_hashes match their HOF compositions") {
    import org.apache.spark.sql.functions._
    val T = graft.functions.TextFunctions
    // fixture corpus plus the edge shapes: too-few tokens, exactly n tokens,
    // repeated shingles, empty tokens from double/trailing spaces, empty text
    val edge = Seq("", "a", "a b", "a b c", "a b c d", "x x x x x",
      "a  b c ", " leading", "one two three four five").toDF("text")
    val corpus = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("text").union(edge)
    Seq(2, 3, 8).foreach { n =>
      val both = corpus.select(
        T.wordShingles(col("text"), n).as("native_s"),
        T.wordShinglesHof(col("text"), n).as("hof_s"),
        T.portableShingleHashes(col("text"), n).as("native_p"),
        T.portableShingleHashesHof(col("text"), n).as("hof_p"))
      both.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n shingle mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
        assert(r.getSeq[Long](2) == r.getSeq[Long](3),
          s"n=$n portable mismatch: ${r.getSeq[Long](2)} vs ${r.getSeq[Long](3)}")
      }
    }
  }

  test("q188 duplication inflation replays from a driver-side distinct-text count") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Extensions.q188(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val byDoc = graft.Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getString(3), r.getString(1)))
    val expected = byDoc.groupBy(_._1).map { case (src, xs) =>
      val raw = xs.map(_._2.split(" ").length.toLong).sum
      val uniq = xs.map(_._2).distinct.map(_.split(" ").length.toLong).sum
      src -> ((xs.length.toLong, raw, xs.map(_._2).distinct.length.toLong,
        uniq, raw * 1000000L / uniq))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, n, raw, nu, uniq, ppm) =>
      assert((n, raw, nu, uniq, ppm) == expected(src), s"$src mismatch")
      assert(ppm >= 1000000L, s"$src: inflation below 1 is impossible")
    }
  }
}
