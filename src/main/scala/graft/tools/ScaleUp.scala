package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev-only fixture scaler for scale-validation benches (VERDICT r10
  * next-round #5): writes `factor`× the sf0.1 fixture with foreign-key-
  * consistent key offsets, so the heavy-query scaling slope can be
  * MEASURED instead of argued. `runMain graft.tools.ScaleUp <srcDir>
  * <dstDir> <factor>`.
  *
  * Key design point — copies must not be NEAR-DUPLICATES of their
  * originals: a naive clone makes every text/vector an exact twin of its
  * source, so dedup/ANN candidate pairs grow quadratically in `factor`
  * (C(factor,2) per original) and the measured "scaling" of the LSH
  * family would be an artifact of the generator, not the plan. Real
  * corpora grow with NEW content. So:
  *  - document text in copy i is word-permuted with a copy-specific
  *    stride — token multiset, length, and per-word stats are preserved
  *    (language-id, quality ratios, vocabulary scale honestly) but
  *    shingle sets decorrelate, so MinHash/SimHash candidate structure
  *    stays scale-invariant;
  *  - embeddings in copy i are dimension-rotated by a copy-specific
  *    shift — norms and coordinate distributions are preserved but
  *    cosine vs the original decorrelates, so embedding-LSH buckets do
  *    not collapse;
  *  - relational keys are offset per copy (FKs rewritten consistently),
  *    so the co-purchase/basket universe grows like a real catalog
  *    (copy-local graphs), and per-key group sizes — the skew profile —
  *    match the base fixture.
  * Dims (region, nation) stay fixed, as TPC-H itself scales them. */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1 && factor <= 64, "factor in [1, 64]")
    val spark = graft.Engine.session("scale-up")
    new java.io.File(dst).mkdirs()

    def load(t: String): DataFrame = graft.Tables.load(spark, src, t)
    def save(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"SCALED $t -> ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    /** key offset stride: one larger than the table's max key, so copy
      * key spaces never collide. Numeric-type-agnostic (an Int key column
      * must not throw a Long cast error) with an explicit empty-table
      * diagnostic instead of an opaque NPE (r11 ADVICE #4). */
    def stride(df: DataFrame, key: String): Long = {
      val r = df.agg(max(col(key))).head()
      require(!r.isNullAt(0), s"cannot derive stride for '$key': table empty")
      r.getAs[Number](0).longValue + 1L
    }

    // fixed dims — every copy shares them, like TPC-H's nation/region
    save("region", load("region"))
    save("nation", load("nation"))

    val cust = load("customer"); val custS = stride(cust, "c_custkey")
    val ords = load("orders"); val ordS = stride(ords, "o_orderkey")
    val part = load("part"); val partS = stride(part, "p_partkey")
    val supp = load("supplier"); val supS = stride(supp, "s_suppkey")
    val li = load("lineitem")
    val ev = load("events")
    val evS = stride(ev, "event_id"); val userS = stride(ev, "user_id")
    val docs = load("documents"); val docS = stride(docs, "doc_id")
    val emb = load("embeddings")

    /** `factor` copies of `df` with the listed long key columns offset by
      * copy·stride; `extra` post-processes each copy given its index. */
    def copies(df: DataFrame, keys: Seq[(String, Long)],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = keys.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)

    save("customer", copies(cust, Seq("c_custkey" -> custS)))
    // part names get a copy-suffix with PAIRWISE edit distance > 3 from
    // the original and from every other copy's suffix (4 repeated letters
    // differ in >= 4 positions; a naive " cpy$i" differs by ONE digit
    // between copies and would fuzzy-match): cloned/near-cloned names
    // would otherwise be LEGITIMATE q71 matches, so the true result set
    // itself — not any plan — would grow quadratically in the copy
    // factor, and the measured slope would again be a generator artifact
    def nameSuffix(i: Int): String = {
      val c1 = ('a' + i % 26).toChar.toString * 4
      val c2 = if (i >= 26) ('a' + i / 26).toChar.toString * 4 else ""
      s" $c1$c2"
    }
    save("part", copies(part, Seq("p_partkey" -> partS), (d, i) =>
      if (i == 0) d
      else d.withColumn("p_name", concat(col("p_name"), lit(nameSuffix(i))))))
    save("supplier", copies(supp, Seq("s_suppkey" -> supS)))
    save("orders", copies(ords,
      Seq("o_orderkey" -> ordS, "o_custkey" -> custS)))
    save("lineitem", copies(li, Seq("l_orderkey" -> ordS,
      "l_partkey" -> partS, "l_suppkey" -> supS)))
    save("events", copies(ev,
      Seq("event_id" -> evS, "user_id" -> userS)))

    // stride-permute words for copy i>0: position j takes word
    // (j*s_i mod n) — token multiset preserved, shingles decorrelated.
    // Strides are small odd primes; where gcd(s, n) != 1 the map is not a
    // bijection (some words repeat/drop) — acceptable noise for a perf
    // fixture, but MEASURED below (r11 ADVICE #4) so fixture distortion
    // is visible instead of silently assumed small.
    val strides = Array(1, 3, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43,
      47, 53, 59, 61, 67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109,
      113, 127, 131, 137, 139, 149, 151, 157, 163, 167, 173, 179, 181,
      191, 193, 197, 199, 211, 223, 227, 229, 233, 239, 241, 251, 257,
      263, 269, 271, 277, 281, 283, 293, 307, 311, 313)
    // distortion report: fraction of each copy's documents whose word
    // permutation is non-bijective (gcd(stride, n_words) != 1). One small
    // word-count histogram aggregate, then driver-side gcd per stride.
    locally {
      val nHist = docs
        .select(size(split(col("text"), " ")).as("n"))
        .groupBy("n").count()
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val tot = math.max(1L, nHist.map(_._2).sum)
      @annotation.tailrec def gcd(a: Int, b: Int): Int =
        if (b == 0) a else gcd(b, a % b)
      (1 until factor).foreach { i =>
        val s = strides(i)
        val bad = nHist.collect {
          case (n, c) if n > 0 && gcd(s, n) != 1 => c
        }.sum
        println(f"PERM copy=$i stride=$s non_bijective_docs=$bad/$tot " +
          f"(${100.0 * bad / tot}%.1f%%)")
      }
    }
    save("documents", copies(docs, Seq("doc_id" -> docS), (d, i) =>
      if (i == 0) d
      else {
        val s = strides(i)
        d.withColumn("w", split(col("text"), " "))
          .withColumn("text", concat_ws(" ",
            transform(sequence(lit(0), size(col("w")) - 1),
              j => element_at(col("w"), (j * s % size(col("w"))) + 1))))
          .drop("w")
          .withColumn("n_chars", length(col("text")))
      }))

    // rotate embedding dimensions by a copy-specific shift: norm and
    // coordinate stats preserved, cosine vs the original decorrelated
    save("embeddings", copies(emb, Seq("vec_id" -> docS), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(sequence(lit(0), size(col("embedding")) - 1), j =>
          element_at(col("embedding"),
            ((j + lit(i * 7)) % size(col("embedding"))) + 1))
          .cast(ArrayType(FloatType)))))

    spark.stop()
  }
}
