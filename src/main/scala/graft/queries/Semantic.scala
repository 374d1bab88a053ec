package graft.queries

import graft.Tables
import graft.ann.{Models, PortableAnn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EMBEDDING-SPACE corpus curation — the cluster-blocked semantic family a
  * training-data pipeline runs after lexical dedup (q26–q30 exact/MinHash/
  * SimHash) has converged: SemDeDup cluster-blocked semantic dedup (Abbas et
  * al. 2023, arXiv:2303.09540), prototype-redundancy pruning (Sorscher et al.
  * 2022's SSL-prototypes, the D4 pipeline's second leg — arXiv:2206.14486),
  * and a frozen-model embedding drift monitor (the "did the corpus
  * distribution move between snapshots" deploy gate).
  *
  * All three share one model: an integer-Lloyd k-means whose cluster count k
  * follows the corpus through [[tierK]] (SemDeDup's own knob — the paper runs
  * k = 50k at 5B points precisely so within-cluster pairwise work stays
  * n²/k-bounded). Training reuses the portable algebra of
  * [[PortableAnn.ivfTrainInt]] verbatim (md5 hash-sample, lowest-id init,
  * truncating-division means, ties → smaller cid), so the SAME DuckDB CTE
  * generator ([[Extensions.ivfTrainCtes]]) replays it bit-for-bit — but the
  * per-row argmin here rides a broadcast centroid FRAME, not a literal
  * expression: at SemDeDup-scale k a literal model would put k·dim ≈ 3M
  * leaves in the plan, while a broadcast frame is bounded only by executor
  * memory (reference behavior: Northwind-ETL's pandas transforms hold the
  * whole model AND corpus in driver memory — `etl_orders.py:48` — the exact
  * pattern this engine must not scale up).
  */
object Semantic {

  /** Corpus-size → cluster-count tier, OPEN-ENDED (r13 VERDICT #2 — the
    * static 512 cap is gone). Boundaries are powers of two so both engines
    * evaluate the same integer comparisons. Base tiers quadruple k per tier
    * (8/32/128/512 — the small-corpus regime where k must outgrow the corpus
    * quickly to block anything at all); above 2^16 vectors k DOUBLES per
    * corpus doubling, holding the expected cluster size at a constant 256
    * members — which is SemDeDup's own operating point (the paper runs
    * k = 50k at 5B points, i.e. clusters of ~10⁵; ours are tighter because
    * the within-cluster verify is exact all-pairs) and makes the pairwise
    * cost n²/k = 256·n LINEAR in the corpus forever: at 10⁹ vectors,
    * k = 512·2^13 ≈ 4.2M clusters and ~2.4·10¹¹ within-cluster dot products
    * — ~238 per vector, a bounded per-row cost, not a quadratic blow-up
    * (the SURVEY §6 cost model). Nothing below depends on any cap; the
    * ORACLE arm list ([[tiers]]) is generated from the same rule and covers
    * corpora to 2^24 vectors — beyond that the engine rule keeps doubling
    * and only the DuckDB replay (a test harness, not the engine) would need
    * more generated arms. */
  private[graft] def tierK(t: Long): Int =
    if (t <= 16384L) 8 else if (t <= 32768L) 32
    else if (t <= 65536L) 128
    else {
      // i = ceil(log2(t / 65536)) via floor(log2((t-1) div 65536)) + 1;
      // k = 512 · 2^(i-1), saturated far above any Int-addressable corpus
      val m = (t - 1L) >> 16
      val i = 64 - java.lang.Long.numberOfLeadingZeros(m)
      math.min(512L << math.min(i - 1, 21), Int.MaxValue.toLong).toInt
    }

  /** Highest open-ended arm generated for the ORACLE (i = 1..8 → corpora to
    * 65536·2^8 = 2^24 vectors, k to 65536). The engine's [[tierK]] is
    * open-ended; this bounds only how far the DuckDB replay can follow. */
  private val OracleOpenArms = 8

  /** (pfx, k, lower-exclusive, upper-inclusive) oracle arms, GENERATED from
    * the [[tierK]] rule (r13 VERDICT #2: a hand-maintained list desyncs the
    * moment the rule moves; [[graft.SemanticSpec]] pins arm/rule agreement
    * at every boundary). */
  private[graft] val tiers: Seq[(String, Int, Option[Long], Option[Long])] = {
    val base = Seq(
      ("t8_", 8, None, Some(16384L)),
      ("t32_", 32, Some(16384L), Some(32768L)),
      ("t128_", 128, Some(32768L), Some(65536L)))
    val open = (1 to OracleOpenArms).map { i =>
      val k = 512 << (i - 1)
      (s"tk${k}_", k, Some(65536L << (i - 1)), Some(65536L << i))
    }
    base ++ open
  }

  /** DuckDB CTEs: one gated [[Extensions.ivfTrainCtes]] arm per [[tiers]]
    * entry (CTE names namespaced by prefix) unioned into one `cents` model
    * CTE — exactly one arm's gate is true at any covered corpus size, so the
    * replay follows the engine's adaptive k without dynamic SQL. The tier
    * gate is pushed INTO each arm's sample CTE (r13 ADVICE #3): a non-firing
    * arm trains on an empty set (its whole Lloyd chain collapses to empty
    * scans) instead of running k full iterations that the final union then
    * discards — with 11 generated arms the ungated shape would cost the
    * oracle ~11× the needed CPU. The union keeps the same gate in its WHERE
    * (belt and braces; the firing arm's rows are unchanged either way).
    * `cmeta` adds the centroid self-norm the cos²-ppm statistic needs. */
  private[queries] def tieredTrainCtes(src: String, cntSql: String): String = {
    def gateOf(lo: Option[Long], hi: Option[Long]): String =
      (lo.map(l => s"($cntSql) > $l").toSeq ++
        hi.map(h => s"($cntSql) <= $h")).mkString(" AND ")
    val arms = tiers.map { case (pfx, k, lo, hi) =>
      Extensions.ivfTrainCtes(nC = k, mod = 10, topUp = k, dim = 64,
        iters = 2, src = src, pfx = pfx, gate = gateOf(lo, hi))
    }.mkString(", ")
    val union = tiers.map { case (pfx, _, lo, hi) =>
      s"SELECT cid, cvec FROM ${pfx}c2 WHERE ${gateOf(lo, hi)}"
    }.mkString("\n  UNION ALL ")
    s"""$arms, cents AS (
      |  $union
      |), cmeta AS (
      |  SELECT cid, cvec,
      |    CAST(list_sum(list_transform(cvec, x -> x * x)) AS BIGINT) AS cnrm
      |  FROM cents
      |)""".stripMargin
  }

  /** Shared assignment CTE over `src` rows (vec_id, qv, nrm): nearest
    * centroid by full integer L2 with ties → smaller cid, plus the
    * member↔centroid dot and centroid norm the cos²-ppm statistic needs. */
  private def asgCte(src: String): String =
    s"""asg AS (
      |  SELECT vec_id, nrm, cid, cdot, cnrm FROM (
      |    SELECT s.vec_id, s.nrm, c.cid, c.cnrm,
      |      CAST(list_sum(list_transform(range(1, 65),
      |        i -> s.qv[i] * c.cvec[i])) AS BIGINT) AS cdot,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
      |        ${Extensions.l2Sql("s.qv", "c.cvec", 64)}, c.cid) AS rn
      |    FROM $src s CROSS JOIN cmeta c) t
      |  WHERE rn = 1
      |)""".stripMargin

  /** Centroid frame (cid, cvec, cnrm) from a driver-side model — the
    * broadcast-sized carrier [[assignCid]] joins against. */
  private[graft] def centFrame(spark: SparkSession,
      cents: Array[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (cid, cv) =>
      (cid, cv.toSeq, cv.map(x => x * x).sum)
    }.toDF("cid", "cvec", "cnrm")
  }

  /** Nearest-centroid assignment with the model as a broadcast FRAME:
    * (vec_id, cid, cdot, cnrm, carry...) where cid minimizes integer L2,
    * ties → smaller cid. The ordering key is ‖c‖² − 2⟨v,c⟩ (the per-row
    * constant ‖v‖² dropped — same ordering AND ties as the full distance,
    * exactly the [[PortableAnn.nearestCidInt]] trick). Scale shape: the
    * broadcast nested-loop fan emits the k rows of one input row
    * contiguously, so partial aggregation collapses them to one row per
    * vec_id BEFORE the exchange — the shuffle is corpus-narrow regardless of
    * k, and nothing in the plan grows with k but the broadcast itself. */
  def assignCid(q: DataFrame, cf: DataFrame,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val fan = q.crossJoin(broadcast(cf))
      .withColumn("cdot", call_function("dot_i64", col("qv"), col("cvec")))
      .withColumn("d", col("cnrm") - lit(2L) * col("cdot"))
    val fields = Seq("d", "cid", "cdot", "cnrm") ++ carry
    fan.groupBy(col("vec_id"))
      .agg(min(struct(fields.map(col): _*)).as("b"))
      .select(col("vec_id") +:
        (Seq("cid", "cdot", "cnrm") ++ carry).map(f => col(s"b.$f").as(f)): _*)
  }

  /** Integer Lloyd with join-based assignment — bit-identical algebra to
    * [[PortableAnn.ivfTrainInt]] (same md5 hash-sample with the k-seed
    * top-up, same lowest-id init, same truncating-division means, same
    * empty-cluster carry-forward), replayed by the SAME
    * [[Extensions.ivfTrainCtes]] oracle; only the physical argmin differs
    * (broadcast frame vs literal expression), which the hash gate cannot
    * see and [[graft.SemanticSpec]] pins by direct comparison. */
  def ivfTrainIntJoin(spark: SparkSession, q: DataFrame, nClusters: Int,
      iters: Int = 2, sampleMod: Int = 10): Array[(Long, Array[Long])] = {
    val base = graft.operators.Checkpoints.scratch(
      PortableAnn.sampled(q, sampleMod, nClusters).select("vec_id", "qv"))
    try {
      var cents: Array[(Long, Array[Long])] =
        base.orderBy("vec_id").limit(nClusters).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      for (_ <- 0 until iters) {
        val updated = assignCid(base, centFrame(spark, cents),
            carry = Seq("qv"))
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(expr("sum(v) div count(1)").as("m"))
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"),
            transform(col("pm"), x => x.getField("m")).as("cvec"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
        cents = cents.map { case (cid, old) =>
          (cid, updated.getOrElse(cid, old))
        }
      }
      cents
    } finally graft.operators.Checkpoints.release(base)
  }

  /** Frozen tiered-k centroid model for `dir`'s embeddings, trained once per
    * corpus stamp. The tier gate reads the RAW table count (pre-quantize,
    * pre-zero-norm-drop) — the one number both engines read identically. */
  private[queries] def corpusModel(spark: SparkSession, dir: String)
      : Array[(Long, Array[Long])] = {
    val embs = Tables.load(spark, dir, "embeddings")
    val k = tierK(embs.count())
    Models.cachedLatest[Array[(Long, Array[Long])]](
      s"semk:$dir:$k", Models.corpusStamp(spark, dir)) {
      ivfTrainIntJoin(spark, PortableAnn.quantized(embs), k)
    }
  }

  /** Shared member frame: (vec_id, cid, nrm, qv, cscore) — every corpus
    * vector with its cluster, carried quantized vector, and the signed
    * member↔centroid cos²-ppm (the SemDeDup keep-rule statistic). Cached via
    * [[SharedFrames]]: q257 and q258 both start here, so the n·k assignment
    * fan is paid once per corpus per session. */
  private def memberFrame(spark: SparkSession, dir: String): DataFrame = {
    // the model lookup is hoisted OUT of the sharedFrame build thunk:
    // both go through Models.cachedLatest, and a cachedLatest call nested
    // inside another's compute() is a reentrant ConcurrentHashMap update —
    // java.lang.IllegalStateException("Recursive update") once the map is
    // populated enough (found by SemanticSpec in a long-lived JVM, latent
    // before that). The model gate is itself cached, so the hoisted call
    // costs a map hit when the frame cache is warm.
    val cents = corpusModel(spark, dir)
    SharedFrames.sharedFrame(spark, dir, "embeddings", "sem-members") {
      val q = PortableAnn.quantized(Tables.load(spark, dir, "embeddings"))
      assignCid(q, centFrame(spark, cents), carry = Seq("nrm", "qv"))
        .withColumn("cscore", PortableAnn.cosPpmScore("cdot", "nrm", "cnrm"))
        .select("vec_id", "cid", "nrm", "qv", "cscore")
    }
  }

  // Per-block transitive closure + keep-rule: the native
  // `semdedup_closure(ms, es)` kernel ([[graft.plans.SemDedupClosure]]).
  // Edges never span blocks, so a block-local union-find is the EXACT
  // transitive closure — no iterative whole-graph pass (the q58 machinery
  // costs O(log diameter) synchronized rounds; here every group is
  // confined to a tierK-bounded cluster, which is precisely how the
  // SemDeDup paper processes clusters: independently, in memory). Was a
  // Scala udf until r16 — a ScalaUDF the de-vacuized plan sweep flags, and
  // an encoder round-trip per aggregation row the native kernel skips.

  /** Declared member cap for one closure block (r13 VERDICT #1): a cluster
    * with more members than this is SUB-SPLIT by a deterministic md5 bucket
    * before the pair fan and the union-find, so no `collect_list` row ever
    * holds more than ~this many members (or their C(cap,2) worst-case
    * pairs) — the q30/q263 dense-bucket discipline applied to SemDeDup's
    * closure. The tierK rule keeps EXPECTED cluster size ≤ 256, so the cap
    * never fires on a well-spread corpus; it exists for the degenerate one
    * (mass near-duplicate embeddings collapsing into one cell — exactly
    * what a dup-heavy real corpus does). */
  private[graft] val ClosureMemberCap = 1024

  /** The SemDeDup survivorship over a member frame, factored out for the
    * spec's planted-corpus replay: within-cluster pairs at cos²-ppm ≥
    * `thresholdPpm` close transitively into dup groups (cluster-local
    * union-find — see [[graft.plans.SemDedupClosure]]), each keeping its
    * least-central member.
    *
    * MEGA-CLUSTER GUARD (r13 VERDICT #1): a cluster of m members used to
    * collect ALL m ids and ALL qualifying pairs into ONE aggregation row —
    * expected-n/k-bounded, but a degenerate corpus (everything near-
    * identical → one cell) put C(m,2) pair structs in a single row, an
    * executor-memory hazard. Clusters over [[ClosureMemberCap]] members now
    * sub-split into nsub = ⌈m / cap⌉ md5-keyed sub-blocks; pairs are
    * discovered and closed WITHIN a sub-block only, and the per-cid output
    * re-aggregates the sub-block results. Dedup across sub-blocks is the
    * DECLARED recall tradeoff (the q30/q263 dense-bucket shape): a pair
    * split across sub-blocks of a mega-cluster is missed by design — a
    * cluster that big is mass duplication, and its sub-blocks each still
    * catch ~cap-sized dup groups (survivor count is conservative, never
    * wrong-side: at most nsub survivors per true group instead of 1). For
    * every cluster ≤ cap, nsub = 1 and the semantics are EXACTLY the
    * uncapped closure. The oracle replays the sub rule bit-for-bit (md5
    * bucket over ⌈count-over-cid / cap⌉), so the gate holds whether or not
    * the cap fires.
    *
    * Scale shape: the self-join is the SemDeDup-declared n²/k cost, bounded
    * by the tierK adaptivity (k follows the corpus); the closure is one
    * (cid, sub)-keyed aggregation over cap-bounded groups — no iteration,
    * no driver, no unbounded row. */
  private[graft] def semdedupRollup(m0: DataFrame,
      thresholdPpm: Long): DataFrame = {
    val nsubExpr = expr(
      s"(count(1) over (partition by cid) + ${ClosureMemberCap - 1}) " +
        s"div $ClosureMemberCap")
    val m = m0.withColumn("sub",
      graft.functions.TextFunctions.hashBucket(col("vec_id"), nsubExpr))
    val a = m.select(col("cid"), col("sub"), col("vec_id").as("id_a"),
      col("qv").as("qa"), col("nrm").as("na"))
    val b = m.select(col("cid"), col("sub"), col("vec_id").as("id_b"),
      col("qv").as("qb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cid", "sub"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("s", PortableAnn.cosPpmScore("dot", "na", "nb"))
      .filter(col("s") >= thresholdPpm)
      .select("cid", "sub", "id_a", "id_b")
    val pairsBySub = pairs.groupBy("cid", "sub").agg(
      count(lit(1)).as("n_dup_pairs"),
      collect_list(struct(col("id_a"), col("id_b"))).as("es"))
    val membersBySub = m.groupBy("cid", "sub").agg(
      count(lit(1)).as("n_members"),
      collect_list(struct(col("vec_id"), col("cscore"))).as("ms"))
    membersBySub.join(pairsBySub, Seq("cid", "sub"), "left")
      .withColumn("r", call_function("semdedup_closure", col("ms"), col("es")))
      .groupBy("cid").agg(
        sum(col("n_members")).as("n_members"),
        sum(coalesce(col("n_dup_pairs"), lit(0L))).as("n_dup_pairs"),
        sum(col("r._1")).as("n_dup_groups"),
        sum(col("r._2")).as("n_dropped"),
        sum(col("r._3")).as("kept_id_sum"))
      .orderBy("cid")
  }

  /** q257 SemDeDup — cluster-blocked semantic dedup (Abbas et al. 2023):
    * tiered-k integer k-means blocks the corpus, within-cluster pairs at
    * cos²-ppm ≥ 150000 (the q159-family threshold) close transitively into
    * dup groups, and each group keeps its member least similar to the
    * cluster centroid. Per cluster: members, qualifying pairs, multi-member
    * groups, drops, and the kept-id checksum that pins the keep-rule under
    * the hash gate. Scale: assignment is one broadcast-fan pass (shuffle
    * corpus-narrow), pairs are n²/k-bounded by tierK, closure blocks are
    * [[ClosureMemberCap]]-bounded even on a degenerate all-duplicate
    * corpus (see [[semdedupRollup]]). */
  def q257(spark: SparkSession, dir: String): DataFrame =
    semdedupRollup(memberFrame(spark, dir), thresholdPpm = 150000L)

  private def tieredModelSql(src: String, cntSql: String): String =
    s"${tieredTrainCtes(src, cntSql)}, ${asgCte("n")}"

  /** The standard embeddings-corpus tiered-model CTE chain (train + `asg`
    * assignment over the `n` quant CTE) — shared with q307's cell-Shapley
    * oracle so it blocks on the IDENTICAL cells as q257/q262/q266. */
  private[queries] def tieredModelSqlForOracle: String =
    tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")

  val q257Sql: String =
    s"""WITH RECURSIVE ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, m0 AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv,
      |    (CASE WHEN a.cdot >= 0 THEN a.cdot * a.cdot * 1000000 // (a.nrm * a.cnrm)
      |          ELSE -(a.cdot * a.cdot * 1000000 // (a.nrm * a.cnrm)) END) AS cscore
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), m AS (
      |  SELECT *,
      |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
      |      % ((COUNT(*) OVER (PARTITION BY cid) + ${ClosureMemberCap - 1})
      |         // $ClosureMemberCap) AS sub
      |  FROM m0
      |), prs AS (
      |  SELECT cid, id_a, id_b FROM (
      |    SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
      |      a.nrm AS na, b.nrm AS nb,
      |      CAST(list_sum(list_transform(range(1, 65),
      |        i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
      |    FROM m a JOIN m b ON b.cid = a.cid AND b.sub = a.sub
      |      AND a.vec_id < b.vec_id) t
      |  WHERE (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |         ELSE -(dot * dot * 1000000 // (na * nb)) END) >= 150000
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM prs
      |  UNION ALL SELECT id_b, id_a FROM prs
      |), reach(a, b) AS (
      |  SELECT vec_id, vec_id FROM m
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
      |), comp AS (
      |  SELECT a AS vec_id, MIN(b) AS comp FROM reach GROUP BY a
      |), rk AS (
      |  SELECT m.cid, c.comp, m.vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY c.comp ORDER BY m.cscore, m.vec_id) AS rn
      |  FROM m JOIN comp c ON c.vec_id = m.vec_id
      |), grp AS (
      |  SELECT cid, comp, COUNT(*) AS n_grp,
      |    CAST(SUM(vec_id) AS BIGINT) AS id_sum,
      |    CAST(SUM(CASE WHEN rn = 1 THEN vec_id ELSE 0 END) AS BIGINT) AS keep_id
      |  FROM rk GROUP BY cid, comp
      |), roll AS (
      |  SELECT cid, CAST(SUM(n_grp) AS BIGINT) AS n_members,
      |    CAST(SUM(CASE WHEN n_grp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |    CAST(SUM(CASE WHEN n_grp >= 2 THEN n_grp - 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |    CAST(SUM(CASE WHEN n_grp >= 2 THEN keep_id ELSE id_sum END) AS BIGINT) AS kept_id_sum
      |  FROM grp GROUP BY cid
      |), pc AS (SELECT cid, COUNT(*) AS n_dup_pairs FROM prs GROUP BY cid)
      |SELECT r.cid, r.n_members, COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
      |  r.n_dup_groups, r.n_dropped, r.kept_id_sum
      |FROM roll r LEFT JOIN pc p ON p.cid = r.cid
      |ORDER BY r.cid""".stripMargin

  /** q258 prototype-redundancy pruning (SSL-prototypes / D4's second leg,
    * Sorscher et al. 2022): within each cluster, rank members by similarity
    * to the centroid (most prototypical first) and prune the top 20% — the
    * "easy example" mass whose removal the paper shows beats random pruning
    * at scale. Per cluster: members, pruned count (⌊members·0.2⌋ by integer
    * floor), and the pruned/kept id checksums that pin the rank rule. One
    * assignment pass + one cid-keyed window over cluster-bounded partitions
    * — linear, no pairwise anything. */
  def q258(spark: SparkSession, dir: String): DataFrame = {
    val m = memberFrame(spark, dir)
    val rn = row_number().over(
      Window.partitionBy("cid").orderBy(col("cscore").desc, col("vec_id")))
    val nm = count(lit(1)).over(Window.partitionBy("cid"))
    m.withColumn("rn", rn).withColumn("n_members", nm)
      .withColumn("pruned",
        col("rn") <= expr("n_members * 200000 div 1000000"))
      .groupBy("cid").agg(
        max(col("n_members")).as("n_members"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
        sum(when(col("pruned"), col("vec_id")).otherwise(0L))
          .as("pruned_id_sum"),
        sum(when(!col("pruned"), col("vec_id")).otherwise(0L))
          .as("kept_id_sum"))
      .orderBy("cid")
  }

  val q258Sql: String =
    s"""WITH ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, m AS (
      |  SELECT a.vec_id, a.cid,
      |    (CASE WHEN a.cdot >= 0 THEN a.cdot * a.cdot * 1000000 // (a.nrm * a.cnrm)
      |          ELSE -(a.cdot * a.cdot * 1000000 // (a.nrm * a.cnrm)) END) AS cscore
      |  FROM asg a
      |), rk AS (
      |  SELECT cid, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cscore DESC, vec_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY cid) AS n_members
      |  FROM m
      |)
      |SELECT cid, CAST(MAX(n_members) AS BIGINT) AS n_members,
      |  CAST(SUM(CASE WHEN rn <= n_members * 200000 // 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
      |  CAST(SUM(CASE WHEN rn <= n_members * 200000 // 1000000 THEN vec_id ELSE 0 END) AS BIGINT) AS pruned_id_sum,
      |  CAST(SUM(CASE WHEN rn <= n_members * 200000 // 1000000 THEN 0 ELSE vec_id END) AS BIGINT) AS kept_id_sum
      |FROM rk GROUP BY cid ORDER BY cid""".stripMargin

  /** q259 embedding drift monitor — the frozen-model distribution-shift gate
    * between corpus snapshots (deterministic stand-in: even vec_ids = the
    * reference snapshot A, odd = the candidate snapshot B). Centroids train
    * on A ONLY (tier gated on A's raw count); BOTH snapshots assign to the
    * frozen model; per cluster the A/B mass in exact ppm and the absolute
    * drift. A fresh crawl whose per-cluster ppm moves is the signal to
    * re-weight the q139/q166 mixture or re-train the q103 index — this is
    * the number that decides it. Anchored on the centroid frame (every
    * cluster reports, mass 0 distinct from absent); one assignment pass, one
    * ≤k-row aggregate; totals ride a 1-row broadcast. */
  def q259(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val evens = embs.filter(col("vec_id") % 2 === 0)
    val k = tierK(evens.count())
    val cents = Models.cachedLatest[Array[(Long, Array[Long])]](
      s"semdrift:$dir:$k", Models.corpusStamp(spark, dir)) {
      ivfTrainIntJoin(spark, PortableAnn.quantized(evens), k)
    }
    val cf = centFrame(spark, cents)
    val asg = assignCid(PortableAnn.quantized(embs), cf)
      .withColumn("snap_a", col("vec_id") % 2 === 0)
    val mass = asg.groupBy("cid").agg(
      sum(when(col("snap_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("snap_a"), 1L).otherwise(0L)).as("n_b"))
    val tot = mass.agg(
      greatest(sum(col("n_a")), lit(1L)).as("ta"),
      greatest(sum(col("n_b")), lit(1L)).as("tb"))
    cf.select("cid").join(mass, Seq("cid"), "left")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(broadcast(tot))
      .withColumn("ppm_a", expr("n_a * 1000000 div ta"))
      .withColumn("ppm_b", expr("n_b * 1000000 div tb"))
      .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
      .select("cid", "n_a", "n_b", "ppm_a", "ppm_b", "drift_ppm")
      .orderBy("cid")
  }

  val q259Sql: String =
    s"""WITH ${Extensions.portableQuantCte}, na AS (
      |  SELECT vec_id, qv, nrm FROM n WHERE vec_id % 2 = 0
      |),
      |${tieredModelSql("na",
         "SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 0")}, mass AS (
      |  SELECT cid,
      |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM asg GROUP BY cid
      |), tot AS (
      |  SELECT GREATEST(CAST(SUM(n_a) AS BIGINT), 1) AS ta,
      |    GREATEST(CAST(SUM(n_b) AS BIGINT), 1) AS tb
      |  FROM mass
      |)
      |SELECT c.cid, COALESCE(m.n_a, 0) AS n_a, COALESCE(m.n_b, 0) AS n_b,
      |  COALESCE(m.n_a, 0) * 1000000 // t.ta AS ppm_a,
      |  COALESCE(m.n_b, 0) * 1000000 // t.tb AS ppm_b,
      |  ABS(COALESCE(m.n_a, 0) * 1000000 // t.ta
      |    - COALESCE(m.n_b, 0) * 1000000 // t.tb) AS drift_ppm
      |FROM cmeta c LEFT JOIN mass m ON m.cid = c.cid CROSS JOIN tot t
      |ORDER BY c.cid""".stripMargin

  /** Directed within-cluster pair fan over a member frame: one row per
    * ordered (anchor, neighbor) pair inside a cluster, with the integer dot
    * and both norms. The n²/k-bounded kernel q260/q261 rank and aggregate —
    * bounded by the same tierK adaptivity as q257's pair discovery. */
  private def withinClusterFan(m: DataFrame): DataFrame =
    m.select(col("cid"), col("vec_id").as("id_a"),
        col("qv").as("qa"), col("nrm").as("na"))
      .join(m.select(col("cid"), col("vec_id").as("id_b"),
        col("qv").as("qb"), col("nrm").as("nb")), Seq("cid"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .select("cid", "id_a", "id_b", "dot", "na", "nb")

  /** q260 embedding-label kNN eval — does the embedding space separate the
    * labels? Leave-one-out 5-NN majority vote, neighbors restricted to the
    * anchor's own k-means cell (the probe-1 IVF approximation, declared —
    * exactly what a production eval harness does to avoid the n² scan):
    * per label, vectors evaluated (≥1 same-cell neighbor), majority-correct
    * count, and accuracy in exact ppm. Neighbor rank = (cos²-ppm DESC,
    * vec_id), vote ties → smaller label — all integer, both engines replay
    * it. The rank window carries a rk ≤ 5 filter, so Spark plans it as a
    * map-side WindowGroupLimit prune, never a full per-anchor sort spill. */
  def q260(spark: SparkSession, dir: String): DataFrame = {
    val m = memberFrame(spark, dir)
    val labels = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
    val nbr = withinClusterFan(m)
      .withColumn("s", PortableAnn.cosPpmScore("dot", "na", "nb"))
      .withColumn("rk", row_number().over(Window.partitionBy("id_a")
        .orderBy(col("s").desc, col("id_b"))))
      .filter(col("rk") <= 5)
      .join(labels.select(col("vec_id").as("id_b"),
        col("lbl").as("nbr_lbl")), Seq("id_b"))
    val votes = nbr.groupBy("id_a", "nbr_lbl")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("id_a")
      .agg(min(struct((-col("cnt")).as("nc"), col("nbr_lbl").as("l")))
        .getField("l").as("pred"))
    val evald = labels.join(votes, col("vec_id") === col("id_a"))
    val per = evald.groupBy("lbl").agg(
      count(lit(1)).as("n_eval"),
      sum(when(col("pred") === col("lbl"), 1L).otherwise(0L)).as("n_correct"))
    labels.groupBy("lbl").agg(count(lit(1)).as("n_total"))
      .join(per, Seq("lbl"), "left")
      .na.fill(0L, Seq("n_eval", "n_correct"))
      .withColumn("acc_ppm",
        expr("n_correct * 1000000 div greatest(n_eval, 1)"))
      .select(col("lbl").as("label"), col("n_total"), col("n_eval"),
        col("n_correct"), col("acc_ppm"))
      .orderBy("label")
  }

  val q260Sql: String =
    s"""WITH ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, lbls AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings
      |), mq AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), nbr AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY
      |        (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |              ELSE -(dot * dot * 1000000 // (na * nb)) END) DESC,
      |        id_b) AS rk
      |    FROM (
      |      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.nrm AS na, b.nrm AS nb,
      |        CAST(list_sum(list_transform(range(1, 65),
      |          i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
      |      FROM mq a JOIN mq b ON b.cid = a.cid AND a.vec_id <> b.vec_id) p) t
      |  WHERE rk <= 5
      |), votes AS (
      |  SELECT id_a, nbr_lbl AS pred FROM (
      |    SELECT v.id_a, v.nbr_lbl,
      |      ROW_NUMBER() OVER (PARTITION BY v.id_a
      |        ORDER BY v.cnt DESC, v.nbr_lbl) AS rn
      |    FROM (SELECT nb.id_a, l.lbl AS nbr_lbl, COUNT(*) AS cnt
      |          FROM nbr nb JOIN lbls l ON l.vec_id = nb.id_b
      |          GROUP BY nb.id_a, l.lbl) v) t
      |  WHERE rn = 1
      |), per AS (
      |  SELECT l.lbl, COUNT(*) AS n_eval,
      |    CAST(SUM(CASE WHEN v.pred = l.lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      |  FROM lbls l JOIN votes v ON v.id_a = l.vec_id
      |  GROUP BY l.lbl
      |)
      |SELECT t.lbl AS label, t.n_total, COALESCE(p.n_eval, 0) AS n_eval,
      |  COALESCE(p.n_correct, 0) AS n_correct,
      |  COALESCE(p.n_correct, 0) * 1000000
      |    // GREATEST(COALESCE(p.n_eval, 0), 1) AS acc_ppm
      |FROM (SELECT lbl, COUNT(*) AS n_total FROM lbls GROUP BY lbl) t
      |LEFT JOIN per p ON p.lbl = t.lbl
      |ORDER BY label""".stripMargin

  /** q261 cluster medoid coreset — the k representative exemplars a
    * data-selection or visualization pipeline ships instead of the corpus:
    * per cluster, the member minimizing the TOTAL squared L2 to every other
    * member (the exact medoid; ties → smaller vec_id) with its summed
    * distance. d(a,b)² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ rides the same within-cell
    * fan as q260 — one n²/k-bounded pass, one cid-keyed argmin. Singleton
    * clusters report their lone member at distance 0. */
  def q261(spark: SparkSession, dir: String): DataFrame = {
    val m = memberFrame(spark, dir)
    val ssd = withinClusterFan(m)
      .withColumn("d2", col("na") + col("nb") - lit(2L) * col("dot"))
      .groupBy("cid", "id_a").agg(sum(col("d2")).as("ssd"))
    m.select(col("cid"), col("vec_id").as("id_a"))
      .join(ssd, Seq("cid", "id_a"), "left")
      .na.fill(0L, Seq("ssd"))
      .groupBy("cid").agg(
        count(lit(1)).as("n_members"),
        min(struct(col("ssd"), col("id_a"))).as("b"))
      .select(col("cid"), col("n_members"),
        col("b.id_a").as("medoid_id"), col("b.ssd").as("medoid_ssd"))
      .orderBy("cid")
  }

  val q261Sql: String =
    s"""WITH ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, mq AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), ssd AS (
      |  SELECT a.cid, a.vec_id AS id_a,
      |    CAST(SUM(a.nrm + b.nrm - 2 * CAST(list_sum(list_transform(range(1, 65),
      |      i -> a.qv[i] * b.qv[i])) AS BIGINT)) AS BIGINT) AS ssd
      |  FROM mq a JOIN mq b ON b.cid = a.cid AND a.vec_id <> b.vec_id
      |  GROUP BY a.cid, a.vec_id
      |), full_s AS (
      |  SELECT m.cid, m.vec_id AS id_a, COALESCE(s.ssd, 0) AS ssd
      |  FROM mq m LEFT JOIN ssd s ON s.cid = m.cid AND s.id_a = m.vec_id
      |), rk AS (
      |  SELECT cid, id_a, ssd,
      |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ssd, id_a) AS rn,
      |    COUNT(*) OVER (PARTITION BY cid) AS n_members
      |  FROM full_s
      |)
      |SELECT cid, CAST(MAX(n_members) AS BIGINT) AS n_members,
      |  CAST(SUM(CASE WHEN rn = 1 THEN id_a ELSE 0 END) AS BIGINT) AS medoid_id,
      |  CAST(SUM(CASE WHEN rn = 1 THEN ssd ELSE 0 END) AS BIGINT) AS medoid_ssd
      |FROM rk GROUP BY cid ORDER BY cid""".stripMargin

  /** q262 within-cell kNN recall audit — PRICES the probe-1 approximation
    * q260 (and every cluster-blocked consumer of the model) makes, the way
    * q243 prices truncated dimensions: for a fixed 64-anchor panel (vec_id
    * < 64 — present at every fixture scale, parameter-sized so the exact
    * leg stays anchors × corpus, never corpus²), compare the EXACT
    * whole-corpus 5-NN against the same-cell 5-NN and histogram the recall
    * (0/200k/…/1e6 ppm, exact fifths). The number that decides whether the
    * tier's k (cells per corpus) is too coarse for the eval to be trusted.
    * Both rank rules are (cos²-ppm DESC, vec_id) — fully integer, both
    * engines replay them. */
  def q262(spark: SparkSession, dir: String): DataFrame = {
    val m = memberFrame(spark, dir)
    val anchors = m.filter(col("vec_id") < 64)
      .select(col("vec_id").as("id_a"), col("cid").as("acid"),
        col("qv").as("qa"), col("nrm").as("na"))
    def top5(cand: DataFrame): DataFrame = cand
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("s", PortableAnn.cosPpmScore("dot", "na", "nb"))
      .withColumn("rk", row_number().over(Window.partitionBy("id_a")
        .orderBy(col("s").desc, col("id_b"))))
      .filter(col("rk") <= 5)
      .select("id_a", "id_b")
    val corpus = m.select(col("vec_id").as("id_b"), col("cid").as("bcid"),
      col("qv").as("qb"), col("nrm").as("nb"))
    // 64-anchor panel × corpus: broadcast the parameter side explicitly —
    // anchors derive from joins whose size ESTIMATE exceeds the broadcast
    // threshold, so without the hint the initial plan is a shuffled
    // CartesianProductExec (hidden under AQE until the r16 sweep)
    val exact = top5(broadcast(anchors).crossJoin(corpus)
      .filter(col("id_a") =!= col("id_b")))
    val cell = top5(anchors.join(corpus, col("acid") === col("bcid"))
      .filter(col("id_a") =!= col("id_b")))
    val hits = exact.join(cell, Seq("id_a", "id_b"), "left_semi")
      .groupBy("id_a").agg(count(lit(1)).as("nhit"))
    anchors.select("id_a").join(hits, Seq("id_a"), "left")
      .na.fill(0L, Seq("nhit"))
      .withColumn("recall_ppm", expr("nhit * 1000000 div 5"))
      .groupBy("recall_ppm").agg(count(lit(1)).as("n_anchors"))
      .orderBy("recall_ppm")
  }

  val q262Sql: String =
    s"""WITH ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, mq AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), anch AS (
      |  SELECT vec_id AS id_a, cid AS acid, qv AS qa, nrm AS na
      |  FROM mq WHERE vec_id < 64
      |), exact5 AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY
      |        (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |              ELSE -(dot * dot * 1000000 // (na * nb)) END) DESC,
      |        id_b) AS rk
      |    FROM (
      |      SELECT a.id_a, b.vec_id AS id_b, a.na, b.nrm AS nb,
      |        CAST(list_sum(list_transform(range(1, 65),
      |          i -> a.qa[i] * b.qv[i])) AS BIGINT) AS dot
      |      FROM anch a JOIN mq b ON b.vec_id <> a.id_a) p) t
      |  WHERE rk <= 5
      |), cell5 AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY
      |        (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |              ELSE -(dot * dot * 1000000 // (na * nb)) END) DESC,
      |        id_b) AS rk
      |    FROM (
      |      SELECT a.id_a, b.vec_id AS id_b, a.na, b.nrm AS nb,
      |        CAST(list_sum(list_transform(range(1, 65),
      |          i -> a.qa[i] * b.qv[i])) AS BIGINT) AS dot
      |      FROM anch a JOIN mq b ON b.cid = a.acid AND b.vec_id <> a.id_a) p) t
      |  WHERE rk <= 5
      |), hits AS (
      |  SELECT e.id_a, COUNT(*) AS nhit
      |  FROM exact5 e JOIN cell5 c ON c.id_a = e.id_a AND c.id_b = e.id_b
      |  GROUP BY e.id_a
      |)
      |SELECT COALESCE(h.nhit, 0) * 1000000 // 5 AS recall_ppm,
      |  COUNT(*) AS n_anchors
      |FROM anch a LEFT JOIN hits h ON h.id_a = a.id_a
      |GROUP BY 1 ORDER BY recall_ppm""".stripMargin

  /** q266 SEMANTIC decontamination — the embedding-space leg of the
    * train/eval leakage scrub, catching what the lexical scrubs are
    * structurally blind to: q59 flags shared 4-grams and q176 flags MinHash
    * near-dups, but a PARAPHRASED eval item (same meaning, different words)
    * sails through both — it only collides in embedding space. Eval side =
    * the q59 md5 bucket-0 convention; train docs whose embedding lands in
    * the same k-means cell as any eval doc at cos²-ppm ≥ 150000 are flagged
    * contaminated, rolled up per source over the EMBEDDED train population
    * (what semantic decon can actually scan — q265 audits the unembedded
    * remainder, and q262 prices this cell-blocking approximation). Pairs
    * are eval×train within cells only — bounded by the tierK adaptivity,
    * and the eval side of each cell is benchmark-sized in practice. */
  def q266(spark: SparkSession, dir: String): DataFrame = {
    val m = memberFrame(spark, dir)
      .withColumn("is_eval",
        graft.functions.TextFunctions.hashBucket(col("vec_id"), 10) === 0)
    val ev = m.filter(col("is_eval")).select(col("cid"),
      col("qv").as("qe"), col("nrm").as("ne"))
    val tr = m.filter(!col("is_eval")).select(col("cid"),
      col("vec_id").as("id_t"), col("qv").as("qt"), col("nrm").as("nt"))
    val hits = tr.join(ev, Seq("cid"))
      .withColumn("dot", call_function("dot_i64", col("qt"), col("qe")))
      .withColumn("s", PortableAnn.cosPpmScore("dot", "nt", "ne"))
      .filter(col("s") >= 150000L)
      .select("id_t").distinct()
      .withColumn("hit", lit(1))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    m.filter(!col("is_eval"))
      .select(col("vec_id").as("doc_id"))
      .join(docs, Seq("doc_id"))
      .join(hits.withColumnRenamed("id_t", "doc_id"), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_train_embedded"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("contaminated_ppm",
        expr("n_contaminated * 1000000 div greatest(n_train_embedded, 1)"))
      .orderBy("source")
  }

  val q266Sql: String =
    s"""WITH ${Extensions.portableQuantCte},
      |${tieredModelSql("n", "SELECT COUNT(*) FROM embeddings")}, mq AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv,
      |    CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0 AS is_eval
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), hits AS (
      |  SELECT DISTINCT t.vec_id AS doc_id FROM (
      |    SELECT t.vec_id, t.nrm AS nt, e.nrm AS ne,
      |      CAST(list_sum(list_transform(range(1, 65),
      |        i -> t.qv[i] * e.qv[i])) AS BIGINT) AS dot
      |    FROM mq t JOIN mq e ON e.cid = t.cid AND e.is_eval AND NOT t.is_eval
      |  ) t(vec_id, nt, ne, dot)
      |  WHERE (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (nt * ne)
      |         ELSE -(dot * dot * 1000000 // (nt * ne)) END) >= 150000
      |)
      |SELECT d.source, COUNT(*) AS n_train_embedded,
      |  COUNT(h.doc_id) AS n_contaminated,
      |  COUNT(h.doc_id) * 1000000 // GREATEST(COUNT(*), 1) AS contaminated_ppm
      |FROM mq m
      |JOIN documents d ON d.doc_id = m.vec_id
      |LEFT JOIN hits h ON h.doc_id = m.vec_id
      |WHERE NOT m.is_eval
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q265 cross-modal integrity audit — the referential-integrity check a
    * multimodal pipeline runs before ANY embedding-space operator is
    * trusted (q251's FK-audit discipline applied across modalities): per
    * document source, how many documents actually have an embedding row
    * (vec_id = doc_id, the corpus alignment convention), how many of those
    * are zero-norm under the family's quantization (unusable for cosine —
    * the [[PortableAnn.quantized]] drop rule made visible instead of
    * silent), and the unmatched share in exact ppm; plus one embeddings-
    * side row for orphan vectors (no backing document — the stale-index
    * smell). At sf0.1 the fixture genuinely has 3k of 5k documents without
    * embeddings, so the audit reports real mass, not a degenerate zero.
    * Two narrow scans, two id-keyed joins, a ≤|sources|+1 rollup. */
  def q265(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    // "unusable for cosine" covers NULL embeddings, empty arrays, and
    // all-zero quantizations — one predicate, evaluated through the SHARED
    // quantization expression (PortableAnn.qvExpr; a private copy of the
    // ⌊x·100⌋ algebra here would be the drifting-copies defect the r13
    // review fixed for MinHash). NULL-embedding handling is explicit so
    // the oracle's NULL semantics can't diverge (second review pass).
    val qv = PortableAnn.qvExpr(col("embedding"))
    val embs = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"),
        when(col("embedding").isNull, lit(true))
          .otherwise(call_function("dot_i64", qv, qv) === 0L)
          .as("unusable"))
    // ONE embeddings scan feeds the doc-side join; the embeddings-side
    // totals derive from it (vec_id and doc_id are unique, so matched
    // embeddings == matched documents) plus one aggregate-only scan —
    // two scans total. The grouped frame is tiny but feeds two consumers;
    // scratch it so the join doesn't run twice.
    val docSide = graft.operators.Checkpoints.scratch(docs
      .join(embs.select(col("vec_id").as("doc_id"),
        col("vec_id").as("evid"), col("unusable")), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_rows"),
        count(col("evid")).as("n_matched"),
        sum(when(col("unusable"), 1L).otherwise(0L)).as("n_zero_vec")))
    val embSide = embs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("unusable"), 1L).otherwise(0L)).as("n_zero_vec"))
      .crossJoin(broadcast(
        docSide.agg(sum(col("n_matched")).as("n_matched"))))
      .select(lit("embeddings").as("side"), lit("(all)").as("source"),
        col("n_rows"), col("n_matched"), col("n_zero_vec"))
    docSide.withColumn("side", lit("documents"))
      .select(col("side"), col("source"), col("n_rows"),
        col("n_matched"), col("n_zero_vec"))
      .unionByName(embSide)
      .withColumn("unmatched_ppm",
        expr("(n_rows - n_matched) * 1000000 div greatest(n_rows, 1)"))
      .orderBy("side", "source")
  }

  val q265Sql: String =
    s"""WITH ${Extensions.portableQuantCte}, e AS (
      |  SELECT vec_id,
      |    qv IS NULL OR
      |      COALESCE(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT), 0) = 0
      |      AS unusable
      |  FROM q
      |), doc_side AS (
      |  SELECT 'documents' AS side, d.source, COUNT(*) AS n_rows,
      |    COUNT(e.vec_id) AS n_matched,
      |    CAST(SUM(CASE WHEN e.unusable THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec
      |  FROM documents d LEFT JOIN e ON e.vec_id = d.doc_id
      |  GROUP BY d.source
      |), emb_side AS (
      |  SELECT 'embeddings' AS side, '(all)' AS source,
      |    (SELECT COUNT(*) FROM e) AS n_rows,
      |    (SELECT CAST(SUM(n_matched) AS BIGINT) FROM doc_side) AS n_matched,
      |    (SELECT CAST(SUM(CASE WHEN unusable THEN 1 ELSE 0 END) AS BIGINT) FROM e) AS n_zero_vec
      |), u AS (
      |  SELECT * FROM doc_side UNION ALL SELECT * FROM emb_side
      |)
      |SELECT side, source, n_rows, n_matched, n_zero_vec,
      |  (n_rows - n_matched) * 1000000 // GREATEST(n_rows, 1) AS unmatched_ppm
      |FROM u ORDER BY side, source""".stripMargin

  /** Streaming twin of q259's candidate-snapshot leg: a stream of quantized
    * vectors (vec_id, qv, nrm) assigned to a FROZEN centroid model,
    * maintaining per-cluster arriving mass as a streaming aggregate. The
    * assignment is the literal-expression argmin ([[PortableAnn
    * .nearestCidInt]] — narrow, stateless, no aggregation), because a
    * streaming query admits ONE aggregation and the mass count must be it;
    * the literal/broadcast-frame parity is spec-pinned, so batch q259 and
    * this stream see the same cells. A monitor compares the maintained
    * masses against the frozen baseline ppm and fires the q259 drift rule
    * continuously instead of per-snapshot. */
  def driftMassStream(quantizedStream: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame =
    quantizedStream
      .withColumn("cid", PortableAnn.nearestCidInt(cents))
      .groupBy("cid").agg(count(lit(1)).as("n_b"))

  // ---- semantic ingest gate (r13 VERDICT #5) ----------------------------

  /** q255's arrival convention in embedding space: md5 bucket 0-of-10 of
    * vec_ids is the incoming batch; everything else is the existing corpus
    * the frozen model indexes. */
  val GateMod = 10
  val GateBucket = 0

  /** Frozen gate state for `dir`'s corpus: the tiered-k model trained on
    * the EXISTING side only (tier gated on the existing side's raw count —
    * the q259 frozen-model discipline) plus every existing vector assigned
    * to it. Model cached per corpus stamp; the member frame is the
    * broadcast-fan assignment, rebuilt per call (callers that gate many
    * batches against one corpus persist it once — see [[semGateStream]]). */
  private[graft] def gateState(spark: SparkSession, dir: String)
      : (Array[(Long, Array[Long])], DataFrame) = {
    val embs = Tables.load(spark, dir, "embeddings")
    val isNew = graft.functions.TextFunctions
      .hashBucket(col("vec_id"), GateMod) === GateBucket
    val k = tierK(embs.filter(!isNew).count())
    val cents = Models.cachedLatest[Array[(Long, Array[Long])]](
      s"semgate:$dir:$k", Models.corpusStamp(spark, dir)) {
      ivfTrainIntJoin(spark, PortableAnn.quantized(embs.filter(!isNew)), k)
    }
    val existing = assignCid(
      PortableAnn.quantized(embs.filter(!isNew)),
      centFrame(spark, cents), carry = Seq("nrm", "qv"))
      .select(col("cid"), col("vec_id").as("id_e"),
        col("qv").as("qe"), col("nrm").as("ne"))
    (cents, existing)
  }

  /** Gate one batch of quantized arrivals (vec_id, qv, nrm) against the
    * frozen state: each arrival is assigned to its nearest frozen centroid
    * and collides if ANY existing vector in that cell scores cos²-ppm ≥
    * `thresholdPpm` against it — the q257 pair rule pointed at the
    * ingest boundary, catching the paraphrased near-duplicate the q255
    * MinHash gate is lexically blind to. Returns one row per arrival:
    * (vec_id, cid, n_collisions, best_match_id, best_score_ppm, admitted).
    * Scale shape: one broadcast-fan assignment over the BATCH (batch-sized,
    * the amortization the frozen model buys), then a cid-keyed join whose
    * existing side is n/k-bounded per cell by the tierK rule — the batch
    * pays |batch|·(n/k) score rows, never |batch|·n. */
  def semGateBatch(batchQ: DataFrame, cents: Array[(Long, Array[Long])],
      existing: DataFrame, thresholdPpm: Long = 150000L): DataFrame = {
    val spark = batchQ.sparkSession
    // scratch-barrier the assignment: the hits branch (cid-keyed join) and
    // the final vec_id-keyed join both consume it on DIFFERENT shuffle
    // keys, so an un-materialized frame would run the O(|batch|·k·dim)
    // broadcast-fan argmin twice per micro-batch (the perceptualGateBatch
    // `bh` discipline; r14 session-2 review finding)
    val ar = graft.operators.Checkpoints.scratch(
      assignCid(batchQ, centFrame(spark, cents),
        carry = Seq("nrm", "qv"))
      .select(col("cid"), col("vec_id"), col("qv").as("qa"),
        col("nrm").as("na")))
    val hits = ar.join(existing, Seq("cid"))
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qe")))
      .withColumn("s", PortableAnn.cosPpmScore("dot", "na", "ne"))
      .filter(col("s") >= thresholdPpm)
      .groupBy("vec_id").agg(
        count(lit(1)).as("n_collisions"),
        max_by(struct(col("id_e"), col("s")),
          struct(col("s"), -col("id_e"))).as("b"))
      .select(col("vec_id"), col("n_collisions"),
        col("b.id_e").as("best_match_id"), col("b.s").as("best_score_ppm"))
    ar.select("vec_id", "cid").join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_collisions"), lit(0L)).as("n_collisions"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_score_ppm"), lit(0L)).as("best_score_ppm"),
        (col("n_collisions").isNull).cast("int").as("admitted"))
  }

  /** q268 semantic ingest gate, batch twin — the md5 arrival bucket of the
    * embeddings table gated against the frozen existing-corpus model: the
    * [[graft.dedup.PortableSigStore]] deployment shape (q255) in EMBEDDING
    * space, and the batch semantics [[semGateStream]] replays per
    * micro-batch. The oracle replays train → assign → cell-join →
    * best-match bit-for-bit. */
  def q268(spark: SparkSession, dir: String): DataFrame = {
    val (cents, existing) = gateState(spark, dir)
    val embs = Tables.load(spark, dir, "embeddings")
    val arrivals = PortableAnn.quantized(embs.filter(
      graft.functions.TextFunctions
        .hashBucket(col("vec_id"), GateMod) === GateBucket))
    semGateBatch(arrivals, cents, existing).orderBy("vec_id")
  }

  val q268Sql: String = {
    val exCnt = "SELECT COUNT(*) FROM embeddings WHERE " +
      s"CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % $GateMod <> $GateBucket"
    s"""WITH ${Extensions.portableQuantCte}, ex AS (
      |  SELECT vec_id, qv, nrm FROM n
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % $GateMod <> $GateBucket
      |),
      |${tieredTrainCtes("ex", exCnt)}, ${asgCte("n")}, m AS (
      |  SELECT a.vec_id, a.cid, a.nrm, x.qv,
      |    CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT) % $GateMod = $GateBucket AS is_new
      |  FROM asg a JOIN n x ON x.vec_id = a.vec_id
      |), prs AS (
      |  SELECT vec_id, id_e,
      |    (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * ne)
      |          ELSE -(dot * dot * 1000000 // (na * ne)) END) AS s
      |  FROM (
      |    SELECT a.vec_id, e.vec_id AS id_e, a.nrm AS na, e.nrm AS ne,
      |      CAST(list_sum(list_transform(range(1, 65),
      |        i -> a.qv[i] * e.qv[i])) AS BIGINT) AS dot
      |    FROM m a JOIN m e ON e.cid = a.cid AND a.is_new AND NOT e.is_new) t
      |  WHERE (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * ne)
      |         ELSE -(dot * dot * 1000000 // (na * ne)) END) >= 150000
      |), agg AS (
      |  SELECT vec_id, COUNT(*) AS n_collisions FROM prs GROUP BY vec_id
      |), best AS (
      |  SELECT vec_id, id_e, s FROM (
      |    SELECT vec_id, id_e, s,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, id_e) AS rn
      |    FROM prs) t
      |  WHERE rn = 1
      |)
      |SELECT a.vec_id, a.cid,
      |  CAST(COALESCE(g.n_collisions, 0) AS BIGINT) AS n_collisions,
      |  CAST(COALESCE(b.id_e, -1) AS BIGINT) AS best_match_id,
      |  CAST(COALESCE(b.s, 0) AS BIGINT) AS best_score_ppm,
      |  CAST(g.vec_id IS NULL AS INTEGER) AS admitted
      |FROM m a
      |LEFT JOIN agg g ON g.vec_id = a.vec_id
      |LEFT JOIN best b ON b.vec_id = a.vec_id
      |WHERE a.is_new
      |ORDER BY a.vec_id""".stripMargin
  }

  /** STREAMING semantic ingest gate — the [[graft.dedup.PortableSigStore
    * .gateStream]] shape in embedding space (r13 VERDICT #5): each
    * micro-batch of quantized vectors is gated under the FROZEN existing-
    * corpus model and only semantically-novel rows land in `outDir`. Batch
    * semantics per micro-batch (the collision rollup has no incremental
    * streaming form), so the stream runs through foreachBatch; survivors
    * write to a batch-stamped subdir with OVERWRITE, making the
    * at-least-once replay exactly-once by idempotence (each batch owns its
    * directory — the q255 commit protocol). `existing` should be passed
    * PERSISTED by callers gating many batches (it is re-consumed per
    * micro-batch). Readers take `outDir/batch-*`. */
  def semGateStream(spark: SparkSession,
      cents: Array[(Long, Array[Long])], existing: DataFrame,
      quantizedStream: DataFrame, outDir: String, checkpointDir: String,
      thresholdPpm: Long = 150000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    quantizedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        semGateBatch(batch.toDF(), cents, existing, thresholdPpm)
          .filter(col("admitted") === 1)
          .write.mode("overwrite").parquet(s"$outDir/batch-$id")
      }
      .start()

  // ---- q280 k-center diverse coreset --------------------------------------

  /** Coreset size for [[q280]] — driver-bounded: the loop runs K−1 rounds
    * and holds K quantized vectors on the driver, nothing else. */
  private val KCenterK = 8

  /** q280 k-center diverse coreset (Gonzalez, TCS 1985 farthest-point
    * traversal — the 2-approximation for the k-center objective): greedily
    * pick the vector FARTHEST (integer squared L2, the q261 metric) from
    * everything chosen so far, seeding from the smallest surviving vec_id.
    * The DIVERSITY complement to q261's medoids: medoids summarize each
    * cluster's center of mass, k-center covers the corpus's extremes —
    * the coreset a data-selection pipeline uses to SPAN the distribution
    * (and the classic seeding for k-means++-style inits). Emits
    * (round, chosen_id, sel_d2): round r's sel_d2 is by construction the
    * exact COVERING RADIUS² of the first r−1 centers, so the output doubles
    * as the k-vs-radius curve.
    *
    * Scale shape: K−1 full scans, each a pure MAP (min-distance to ≤ K
    * driver-literal centers — no shuffle, no crossJoin fan) feeding a
    * top-1 TakeOrdered (per-partition top-1, a 1-row reduce at the driver —
    * never a global sort); the driver holds K rows. Θ(K·n) dot
    * products total, embarrassingly parallel at any corpus size — the same
    * reason GraphX-style libraries run farthest-point sampling as K
    * map-reduce rounds. Ties (equal d2) break to the smaller vec_id; the
    * oracle unrolls the identical K−1 rounds as generated CTEs. */
  def q280(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.operators.Checkpoints.scratch(
      PortableAnn.quantized(Tables.load(spark, dir, "embeddings")))
    val seed = m.orderBy("vec_id").limit(1).collect()
    require(seed.nonEmpty,
      "q280 k-center: no non-zero-norm vectors in the embeddings table")
    def rowOf(r: org.apache.spark.sql.Row): (Long, Seq[Long], Long) =
      (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Long]]("qv").toSeq,
        r.getAs[Long]("nrm"))
    var chosen = Vector((rowOf(seed(0)), 0L))
    while (chosen.length < KCenterK) {
      val dists = chosen.map { case ((_, cq, cn), _) =>
        col("nrm") + lit(cn) -
          lit(2L) * call_function("dot_i64", col("qv"), typedLit(cq))
      }
      val d2 = if (dists.length == 1) dists.head else least(dists: _*)
      val picked = m
        .filter(!col("vec_id").isInCollection(chosen.map(_._1._1)))
        .select(col("vec_id"), col("qv"), col("nrm"), d2.as("d2"))
        .orderBy(desc("d2"), col("vec_id"))
        .limit(1).collect()
      if (picked.isEmpty) return chosenDf(spark, chosen) // corpus < K vectors
      chosen = chosen :+ ((rowOf(picked(0)), picked(0).getAs[Long]("d2")))
    }
    chosenDf(spark, chosen)
  }

  private def chosenDf(
      spark: SparkSession,
      chosen: Vector[((Long, Seq[Long], Long), Long)]): DataFrame = {
    import spark.implicits._
    chosen.zipWithIndex
      .map { case (((id, _, _), d2), i) => (i + 1L, id, d2) }
      .toDF("round", "chosen_id", "sel_d2")
  }

  val q280Sql: String = {
    val dot = "CAST(list_sum(list_transform(range(1, 65), " +
      "i -> x.qv[i] * c.qv[i])) AS BIGINT)"
    // every round CTE is MATERIALIZED (the q254/q267 oracle lesson): ch_r
    // is referenced three times by round r+1, so inlining would re-expand
    // the whole chain per reference — exponential replay cost
    val rounds = (2 to KCenterK).map { r =>
      s"""d$r AS MATERIALIZED (
        |  SELECT x.vec_id, MIN(x.nrm + c.nrm - 2 * $dot) AS d2
        |  FROM nm x CROSS JOIN ch${r - 1} c
        |  WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
        |  GROUP BY x.vec_id
        |), s$r AS MATERIALIZED (
        |  SELECT vec_id, d2 FROM d$r ORDER BY d2 DESC, vec_id LIMIT 1
        |), ch$r AS MATERIALIZED (
        |  SELECT * FROM ch${r - 1}
        |  UNION ALL
        |  SELECT nm.vec_id, nm.qv, nm.nrm FROM nm JOIN s$r USING (vec_id)
        |)""".stripMargin
    }.mkString(", ")
    val tail = (2 to KCenterK).map(r =>
      s"SELECT $r AS round, vec_id, d2 AS sel_d2 FROM s$r").mkString(
      "\n  UNION ALL ")
    s"""WITH ${Extensions.portableQuantCte}, nm AS MATERIALIZED (
      |  SELECT vec_id, qv, nrm FROM n
      |), ch1 AS MATERIALIZED (
      |  SELECT vec_id, qv, nrm FROM nm ORDER BY vec_id LIMIT 1
      |), $rounds
      |SELECT CAST(round AS BIGINT) AS round, CAST(vec_id AS BIGINT)
      |    AS chosen_id, CAST(sel_d2 AS BIGINT) AS sel_d2 FROM (
      |  SELECT 1 AS round, vec_id, 0 AS sel_d2 FROM ch1
      |  UNION ALL $tail
      |) ORDER BY round""".stripMargin
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q280_kcenter_coreset", q280 _, Some(q280Sql)),
    ("q257_semdedup", q257 _, Some(q257Sql)),
    ("q258_prototype_prune", q258 _, Some(q258Sql)),
    ("q259_embedding_drift", q259 _, Some(q259Sql)),
    ("q260_knn_label_eval", q260 _, Some(q260Sql)),
    ("q261_medoid_coreset", q261 _, Some(q261Sql)),
    ("q262_knn_recall_audit", q262 _, Some(q262Sql)),
    ("q265_modal_integrity", q265 _, Some(q265Sql)),
    ("q266_semantic_decontam", q266 _, Some(q266Sql)),
    ("q268_semantic_gate", q268 _, Some(q268Sql)))
}
