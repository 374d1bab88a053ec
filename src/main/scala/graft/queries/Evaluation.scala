package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Model-evaluation analytics — the metrics a training pipeline computes
  * AFTER the classifier/ranker stages (q111 quality gate, q125 batch kNN,
  * q129 Markov eval) to decide whether a model or heuristic is good enough
  * to gate data on: AUC, rank agreement, distribution drift, label purity.
  *
  * All four are reformulated so the answer is exact integer arithmetic on
  * GROUPED counts — never a per-row global sort. The classic textbook
  * formulations (sort all scores and scan) are driver-shaped; at 100 TB the
  * only scalable shape is aggregate-by-value first (the value domain is
  * bounded — scores, lengths, labels), then run the O(|domain|) rank/ECDF
  * pass over the grouped frame. Every output is a floor-division ppm or an
  * exact integer, so the DuckDB oracle hash-matches bit-for-bit.
  */
object Evaluation {

  /** q140 exact AUC via the Mann–Whitney rank-sum — the standard evaluation
    * of a score column as a binary classifier (here: does document length
    * predict English?), per source. AUC = P(score⁺ > score⁻) + ½P(tie),
    * computed exactly as U2 = Σ_s np(s)·(2·N⁻(<s) + nn(s)) over DISTINCT
    * score values s — twice the U statistic, so ties contribute integer 1
    * instead of ½ and everything stays int64.
    *
    * Scale shape: one map-combined aggregate to (source, score) — the frame
    * shrinks from corpus rows to |sources|×|distinct scores| — then a
    * per-source window over distinct scores (bounded domain, each source's
    * partition is one task regardless of corpus size) and a final
    * per-source rollup. No global sort of raw rows anywhere. The ppm
    * division guards n_pos·n_neg = 0 (single-class sources report NULL,
    * the honest answer). */
  def q140(spark: SparkSession, dir: String): DataFrame =
    aucByGroup(Tables.load(spark, dir, "documents")
      .select(col("source").as("grp"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos")))
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** The reusable kernel: per-group exact 2·U and AUC over a labeled score
    * frame (`grp`, `score`, `pos` ∈ {0,1}). Semantics (perfect / reversed /
    * all-tied separation, hand-computed tie cases) asserted in
    * EvaluationSpec. */
  def aucByGroup(labeled: DataFrame): DataFrame =
    aucFromCells(labeled
      .groupBy("grp", "score")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn")))

  /** [[aucByGroup]] from a pre-aggregated (grp, score, np, nn) CELL frame
    * — the score histogram is the mergeable object the streaming leg
    * persists ([[scoreCellStream]]), so batch and merge-on-read provably
    * share one algebra. */
  def aucFromCells(byScore: DataFrame): DataFrame = {
    val below = Window.partitionBy("grp").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("negs_below", coalesce(sum("nn").over(below), lit(0L)))
      .groupBy("grp")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (lit(2L) * col("negs_below") + col("nn"))).as("u2"))
      .withColumn("auc_ppm", expr(
        "case when n_pos > 0 and n_neg > 0 then u2 * 1000000 div (2 * n_pos * n_neg) end"))
  }

  val q140Sql: String =
    """WITH g AS (
      |  SELECT source, n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY 1, 2
      |), c AS (
      |  SELECT source, np, nn,
      |    COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negs_below
      |  FROM g
      |)
      |SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  CAST(SUM(np * (2 * negs_below + nn)) AS BIGINT) AS u2,
      |  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
      |    THEN SUM(np * (2 * negs_below + nn)) * 1000000
      |      // (2 * SUM(np) * SUM(nn)) END AS BIGINT) AS auc_ppm
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** q141 Spearman rank agreement — do two per-entity metrics induce the
    * same ranking? Here: suppliers ranked within nation by net revenue vs
    * by shipment count (the "does volume proxy for value" question every
    * marketplace asks). Σd² between the two min-rank sequences, plus the
    * classic ρ = 1 − 6Σd²/(n(n²−1)) rendered in ppm by floor division —
    * exact, deterministic under ties (rank() assigns equal ranks to equal
    * keys in both engines regardless of physical row order).
    *
    * Scale shape: one supplier-keyed aggregate of lineitem (map-combined),
    * one broadcast-sized join to supplier, then per-nation windows over
    * entity rows — |suppliers| per nation, catalog-sized, each partition
    * one task. The corpus-sized table is touched exactly once. */
  def q141(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0))
          .cast("long").as("cents"))
      .groupBy("l_suppkey")
      .agg(sum("cents").as("rev_cents"), count(lit(1)).as("n_items"))
      .join(Tables.load(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey").cast("long").as("nation")),
        col("l_suppkey") === col("s_suppkey"))
    val byRev = Window.partitionBy("nation").orderBy(desc("rev_cents"))
    val byCnt = Window.partitionBy("nation").orderBy(desc("n_items"))
    per
      .withColumn("d", rank().over(byRev).cast("long") - rank().over(byCnt).cast("long"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"), sum(col("d") * col("d")).as("sum_d2"))
      .withColumn("rho_ppm", expr(
        """case when n_suppliers >= 2 then 1000000 -
          |  6 * sum_d2 * 1000000 div (n_suppliers * (n_suppliers * n_suppliers - 1))
          |end""".stripMargin))
      .orderBy("nation")
  }

  /** q308 exact average precision (area under the precision–recall curve,
    * the step-wise estimator sklearn calls `average_precision_score`) —
    * the IMBALANCED-task companion to q140's ROC-AUC on the identical
    * framing (does document length predict English, per source): ROC-AUC
    * stays deceptively high when positives are rare because false-positive
    * RATE hides absolute false-positive count; AP weights by precision,
    * the number a quality-filter pipeline actually pays for (Davis &
    * Goadrich, ICML 2006, "The relationship between PR and ROC curves").
    * A random scorer's AP equals the prevalence — shipped as a reference
    * column so every row carries its own baseline.
    *
    * Exact over DISTINCT score blocks, descending:
    *
    *   AP·10⁶ = ⌊ Σ_s np_s · ⌊cumTP_s·10⁶ / cumAll_s⌋ / n_pos ⌋
    *
    * — two declared floors (block precision, final mean); ties form one
    * block, so all-tied scores yield AP = prevalence EXACTLY
    * (spec-pinned), and perfect separation yields exactly 10⁶. The
    * cumTP·10⁶ product rides decimal(38,0)/HUGEINT (the q290 rule —
    * int64 wraps past ~9.2·10¹² rows per group).
    *
    * Scale shape: the q140 contract verbatim — one map-combined
    * (group, score) aggregate collapses the corpus, per-group windows run
    * over the bounded distinct-score domain, rollup is |groups|-sized.
    * NULL AP for a positive-free group (the honest answer). */
  def q308(spark: SparkSession, dir: String): DataFrame =
    apByGroup(Tables.load(spark, dir, "documents")
      .select(col("source").as("grp"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos")))
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** The reusable kernel: per-group exact step-wise AP over a labeled
    * score frame (`grp`, `score`, `pos` ∈ {0,1}); see [[q308]] for the
    * algebra. Perfect / reversed / all-tied cases asserted in
    * EvaluationSpec. */
  def apByGroup(labeled: DataFrame): DataFrame =
    apFromCells(labeled
      .groupBy("grp", "score")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn")))

  /** [[apByGroup]] from a pre-aggregated (grp, score, np, nn) CELL frame —
    * the [[scoreCellStream]] merge-on-read entry. */
  def apFromCells(byScore: DataFrame): DataFrame = {
    val cumDesc = Window.partitionBy("grp").orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum_tp", sum("np").over(cumDesc))
      .withColumn("cum_all", sum(col("np") + col("nn")).over(cumDesc))
      .withColumn("term", expr(
        "np * (cast(cum_tp as decimal(38,0)) * 1000000 div cum_all)"))
      .groupBy("grp")
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum("term").as("t"))
      .withColumn("ap_ppm", expr("CASE WHEN n_pos > 0 THEN t div n_pos END"))
      .withColumn("prevalence_ppm",
        expr("n_pos * 1000000 div (n_pos + n_neg)"))
      .select("grp", "n_pos", "n_neg", "ap_ppm", "prevalence_ppm")
  }

  /** STREAMING leg of the q140/q308 classifier-metric pair (the q299/q303
    * LSM discipline on the score axis): the stream appends per-batch
    * (grp, score, np, nn) COUNT cells — the score histogram is the
    * mergeable object (order-free sums, replay-idempotent by batch-dir
    * overwrite) — and BOTH ranking metrics assemble merge-on-read from
    * the merged cells ([[aucReadMerged]] / [[apReadMerged]]), because
    * each is a pure function of the per-score positive/negative counts.
    * The streaming-model-monitoring shape: scores land continuously,
    * AUC/AP are read on demand, nothing rescans the scored corpus. */
  def scoreCellStream(spark: SparkSession, scored: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    scored.select(col("grp"), col("score"), col("pos"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.toDF().groupBy("grp", "score")
          .agg(sum("pos").as("np"),
            (count(lit(1)) - sum("pos")).as("nn"))
          .write.mode("overwrite").parquet(s"$outDir/batch-$id")
      }
      .start()

  private def mergedCells(spark: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map(d => spark.read.parquet(d)).reduce(_ unionByName _)
      .groupBy("grp", "score")
      .agg(sum("np").as("np"), sum("nn").as("nn"))

  /** Assemble q140's exact AUC from persisted score cells (glob paths
    * welcome); cells for the same (grp, score) across batches SUM. */
  def aucReadMerged(spark: SparkSession, dirs: Seq[String]): DataFrame =
    aucFromCells(mergedCells(spark, dirs))

  /** Assemble q308's exact AP from persisted score cells. */
  def apReadMerged(spark: SparkSession, dirs: Seq[String]): DataFrame =
    apFromCells(mergedCells(spark, dirs))

  val q308Sql: String =
    """WITH g AS (
      |  SELECT source, n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      |  FROM documents GROUP BY 1, 2
      |), c AS (
      |  SELECT source, np, nn,
      |    SUM(np) OVER (PARTITION BY source ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
      |    SUM(np + nn) OVER (PARTITION BY source ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      |  FROM g
      |), t AS (
      |  SELECT source, np, nn,
      |    np * (CAST(cum_tp AS HUGEINT) * 1000000 // cum_all) AS term
      |  FROM c
      |)
      |SELECT source, CAST(SUM(np) AS BIGINT) AS n_pos,
      |  CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  CAST(CASE WHEN SUM(np) > 0
      |    THEN SUM(term) // SUM(np) END AS BIGINT) AS ap_ppm,
      |  CAST(SUM(np) * 1000000 // (SUM(np) + SUM(nn)) AS BIGINT)
      |    AS prevalence_ppm
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  val q141Sql: String =
    """WITH per AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS rev_cents,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1
      |), r AS (
      |  SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
      |    RANK() OVER (PARTITION BY s.s_nationkey ORDER BY per.rev_cents DESC)
      |      - RANK() OVER (PARTITION BY s.s_nationkey ORDER BY per.n_items DESC) AS d
      |  FROM per JOIN supplier s ON per.l_suppkey = s.s_suppkey
      |)
      |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |  CAST(SUM(d * d) AS BIGINT) AS sum_d2,
      |  CAST(CASE WHEN COUNT(*) >= 2 THEN 1000000 - 6 * SUM(d * d) * 1000000
      |    // (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) END AS BIGINT) AS rho_ppm
      |FROM r GROUP BY nation ORDER BY nation""".stripMargin

  /** q142 Kolmogorov–Smirnov distance between the English and non-English
    * document-length distributions — the drift/shift statistic a data
    * pipeline runs between a new crawl slice and the reference corpus
    * before admitting it. D = max_x |F₁(x) − F₂(x)|, with both ECDFs
    * quantized to ppm by floor division so the statistic is exact integer
    * cross-engine (the exact-rational form |n₂·c₁ − n₁·c₂| overflows int64
    * once n₁·n₂ passes 9·10¹⁸ — ppm quantization is the 100 TB-safe
    * formulation, biased by < 2 ppm).
    *
    * Scale shape: one map-combined aggregate by length value (the domain,
    * not the corpus), then ONE sorted single-partition window pass over
    * distinct values carrying the running ECDFs, the totals, AND the
    * sup-statistic (whole-frame max) together; the argmax resolves as a
    * filter + min(v) — deterministic, no max_by tie lottery, no totals
    * cross join, no second consume of the domain frame. */
  def q142(spark: SparkSession, dir: String): DataFrame =
    ksDistance(Tables.load(spark, dir, "documents")
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("in1")))

  /** The reusable kernel: ppm-quantized two-sample KS over a tagged value
    * frame (`v`, `in1` ∈ {0,1}); returns one row (`n1`, `n2`, `ks_ppm`,
    * `ks_at`). Identical/disjoint-sample bounds asserted in
    * EvaluationSpec. */
  def ksDistance(tagged: DataFrame): DataFrame = {
    val g = tagged
      .groupBy("v")
      .agg(sum("in1").as("c1"), (count(lit(1)) - sum("in1")).as("c2"))
    val cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    // totals AND the sup-statistic ride the SAME single-partition sorted
    // pass as the running ECDFs (unbounded frames over the already-sorted
    // domain frame): no totals cross join, no max-pass self-join, and the
    // domain frame is consumed exactly once — nothing to persist, nothing
    // to recompute. The whole-frame window is the documented domain-sized
    // single-partition trade the cum window already takes.
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    g.withColumn("f1", sum("c1").over(cum))
      .withColumn("f2", sum("c2").over(cum))
      .withColumn("n1", sum("c1").over(all))
      .withColumn("n2", sum("c2").over(all))
      .withColumn("d_ppm",
        abs(expr("f1 * 1000000 div n1") - expr("f2 * 1000000 div n2")))
      .withColumn("ks_ppm", max("d_ppm").over(all))
      .filter(col("d_ppm") === col("ks_ppm"))
      .groupBy("n1", "n2", "ks_ppm")
      .agg(min("v").as("ks_at"))
      .select("n1", "n2", "ks_ppm", "ks_at")
  }

  val q142Sql: String =
    """WITH g AS (
      |  SELECT n_chars AS v,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c2
      |  FROM documents GROUP BY 1
      |), e AS (
      |  SELECT v,
      |    SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
      |    SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2,
      |    (SELECT SUM(c1) FROM g) AS n1, (SELECT SUM(c2) FROM g) AS n2
      |  FROM g
      |), d AS (
      |  SELECT v, n1, n2, ABS(f1 * 1000000 // n1 - f2 * 1000000 // n2) AS d_ppm FROM e
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(MAX(d_ppm) AS BIGINT) AS ks_ppm,
      |  CAST(MIN(CASE WHEN d_ppm = (SELECT MAX(d_ppm) FROM d) THEN v END) AS BIGINT) AS ks_at
      |FROM d GROUP BY n1, n2""".stripMargin

  /** q143 label-purity profile — per-source Gini impurity of the language
    * distribution, the "how mixed is this slice" score a curriculum /
    * mixture designer reads before weighting sources. Shares quantized to
    * ppm by floor division, impurity 1e6 − Σ⌊share²/1e6⌋ — the per-term
    * floor makes the quantization itself part of the spec, so both engines
    * agree exactly (Σcnt² without quantization overflows int64 at corpus
    * counts past 3·10⁹).
    *
    * Scale shape: one map-combined (source, lang) aggregate — the frame is
    * |sources|×|langs| from there on — then a per-source window for totals
    * and one rollup. The corpus is scanned once, two columns. */
  def q143(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      .withColumn("share_ppm",
        expr("cnt * 1000000 div sum(cnt) over (partition by source)"))
      .groupBy("source")
      .agg(sum("cnt").as("n_docs"), count(lit(1)).as("n_langs"),
        max("share_ppm").as("majority_ppm"),
        (lit(1000000L) - sum(expr("share_ppm * share_ppm div 1000000")))
          .as("gini_ppm"))
      .orderBy("source")

  val q143Sql: String =
    """WITH g AS (
      |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
      |), s AS (
      |  SELECT source, cnt,
      |    cnt * 1000000 // SUM(cnt) OVER (PARTITION BY source) AS share_ppm
      |  FROM g
      |)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_langs,
      |  CAST(MAX(share_ppm) AS BIGINT) AS majority_ppm,
      |  CAST(1000000 - SUM(share_ppm * share_ppm // 1000000) AS BIGINT) AS gini_ppm
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** q152 week-over-week distribution drift — the monitoring statistic a
    * live ingestion pipeline alarms on (is this week's event mix still
    * last week's?): total-variation-style L1 distance between consecutive
    * weekly event-type distributions, in ppm. PSI/KL need logs; the L1
    * form is exact integer arithmetic after ppm quantization, which is
    * what makes it hash-verifiable cross-engine and mergeable. Weeks are
    * epoch-day div 7 buckets — calendar-free integer arithmetic both
    * engines share, immune to week-start/locale conventions.
    *
    * The distributions are compared on the DENSE week × type grid
    * (missing types count as share 0 — dropping them would silently
    * understate drift when a type vanishes), built by a cross join of two
    * aggregated, domain-sized frames.
    *
    * Scale shape: one map-combined (week, type) aggregate collapses the
    * corpus; the grid, shares, and consecutive-week join all live on
    * |weeks|×|types| rows. */
  def q152(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .select(expr("unix_millis(ts) div 86400000 div 7").as("wk"),
        col("event_type"))
      .groupBy("wk", "event_type").agg(count(lit(1)).as("cnt"))
    val grid = counts.select("wk").distinct()
      .crossJoin(counts.select("event_type").distinct())
      .join(counts, Seq("wk", "event_type"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("share_ppm",
        expr("cnt * 1000000 div sum(cnt) over (partition by wk)"))
    grid.select(col("wk"), col("event_type"), col("share_ppm").as("pa"))
      .join(grid.select((col("wk") - 1).as("wk"), col("event_type"),
        col("share_ppm").as("pb")), Seq("wk", "event_type"))
      .groupBy(col("wk").as("wk_from"))
      .agg(sum(abs(col("pa") - col("pb"))).as("l1_ppm"),
        sum(when(col("pa") === 0 || col("pb") === 0, 1L).otherwise(0L))
          .as("n_vanished_or_new"))
      .withColumn("wk_to", col("wk_from") + 1)
      .select("wk_from", "wk_to", "l1_ppm", "n_vanished_or_new")
      .orderBy("wk_from")
  }

  val q152Sql: String =
    """WITH c AS (
      |  SELECT (epoch_ms(ts) // 86400000) // 7 AS wk, event_type,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT w.wk, t.event_type, COALESCE(c.cnt, 0) AS cnt
      |  FROM (SELECT DISTINCT wk FROM c) w
      |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
      |  LEFT JOIN c ON c.wk = w.wk AND c.event_type = t.event_type
      |), s AS (
      |  SELECT wk, event_type,
      |    cnt * 1000000 // SUM(cnt) OVER (PARTITION BY wk) AS share_ppm
      |  FROM grid
      |)
      |SELECT a.wk AS wk_from, a.wk + 1 AS wk_to,
      |  CAST(SUM(ABS(a.share_ppm - b.share_ppm)) AS BIGINT) AS l1_ppm,
      |  CAST(SUM(CASE WHEN a.share_ppm = 0 OR b.share_ppm = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_vanished_or_new
      |FROM s a JOIN s b ON b.wk = a.wk + 1 AND b.event_type = a.event_type
      |GROUP BY a.wk ORDER BY wk_from""".stripMargin

  /** q155 reliability (calibration) bins — the curve behind the q140 AUC:
    * bucket the score (document length, 50-char bins), and per bucket
    * report how often the positive class actually occurs. A well-calibrated
    * score has pos_ppm monotone in the bin; AUC alone can't show the
    * plateau shape. Value-based bins (floor division), never ntile — rank
    * bins put tied scores on both sides of a boundary and make the curve
    * depend on row order.
    *
    * Scale shape: one map-combined aggregate to |bins| rows; the rest is
    * per-row arithmetic on the domain-sized frame. */
  def q155(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select((col("n_chars") / 50).cast("long").as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      .withColumn("lo_chars", col("bin") * 50)
      .withColumn("pos_ppm", expr("n_pos * 1000000 div n"))
      .select("bin", "lo_chars", "n", "n_pos", "pos_ppm")
      .orderBy("bin")

  val q155Sql: String =
    """WITH b AS (
      |  SELECT CAST((n_chars - n_chars % 50) / 50 AS BIGINT) AS bin,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents
      |)
      |SELECT bin, bin * 50 AS lo_chars, COUNT(*) AS n,
      |  CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_ppm
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** q156 leave-one-source-out jackknife of lang-ID accuracy — the
    * robustness check behind the q154 kappa: if dropping ONE source moves
    * corpus accuracy materially, that source dominates the metric (the
    * sensitivity audit an eval pipeline runs before trusting a corpus-wide
    * number). Exact by algebra, not resampling: per-source (n, agree)
    * partial sums recombine into every leave-one-out accuracy with window
    * totals — N resamples for the price of one aggregate.
    *
    * Scale shape: the corpus collapses at the per-source (n, agree)
    * aggregate; the jackknife itself is |sources|-row window arithmetic. */
  def q156(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"),
        graft.functions.TextFunctions.langId(col("text")).as("predicted"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === col("predicted"), 1L).otherwise(0L)).as("agree"))
      .withColumn("acc_ppm", expr("agree * 1000000 div n"))
      .withColumn("acc_without_ppm", expr(
        "(sum(agree) over () - agree) * 1000000 div (sum(n) over () - n)"))
      .select("source", "n", "agree", "acc_ppm", "acc_without_ppm")
      .orderBy("source")

  val q156Sql: String =
    s"""WITH p AS (
       |  SELECT source,
       |    CASE WHEN lang = (${Extensions.langIdSqlPredicted}) THEN 1 ELSE 0 END AS ok
       |  FROM documents
       |), s AS (
       |  SELECT source, COUNT(*) AS n, SUM(ok) AS agree FROM p GROUP BY source
       |)
       |SELECT source, CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
       |  CAST(agree * 1000000 // n AS BIGINT) AS acc_ppm,
       |  CAST((SUM(agree) OVER () - agree) * 1000000
       |    // (SUM(n) OVER () - n) AS BIGINT) AS acc_without_ppm
       |FROM s ORDER BY source""".stripMargin

  /** q168 nearest-centroid classification eval — the simplest embedding
    * probe (Rocchio / nearest-class-mean): assign every vector to its
    * nearest label centroid and score per-label accuracy. The centroids
    * are the q151 kernel verbatim — per-dimension integer-truncated means
    * of the ×1000-quantized vectors — so the whole statistic is exact
    * int64 arithmetic the oracle replays bit-for-bit (squared Euclidean,
    * deterministic (dist², label) tie-break).
    *
    * Scale shape — the model-serving contract: the centroid frame is
    * |classes| rows (class-count-bounded, the same parameter-sized
    * contract as the ANN model registry), so broadcasting it is the
    * correct plan at any corpus size; the corpus streams through ONE scan
    * against it, the per-vector argmin is a `min_by` AGGREGATE on the
    * |corpus|×|classes| scored frame — partial aggregation combines
    * map-side, so the argmin shuffle carries one row per vector where a
    * row_number window would shuffle all |corpus|×|classes| scored rows —
    * and the rollup is one aggregate. The (dist2, c_label) ordering struct
    * keeps the tie-break total, so the aggregate is deterministic and
    * matches the oracle's ROW_NUMBER replay exactly. */
  /** The q168 scoring kernel, shared with q223: every vector against every
    * label centroid with the exact squared-Euclidean distance. Returns
    * (vec_id, label, c_label, dist2). */
  private def centroidScored(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
    val cent = q
      .select(col("label").as("c_label"),
        posexplode(col("qv")).as(Seq("dim", "qd")))
      .groupBy("c_label", "dim")
      .agg(expr("sum(qd) div count(1)").as("m"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m")).as("cv"))
    // ‖q−c‖² = ‖q‖² + ‖c‖² − 2·q·c keeps the distance inside the codegen'd
    // dot_i64 kernel (a zip_with/aggregate HOF is interpreted per row per
    // class); the norms are computed once per row / once per centroid
    q.withColumn("nq", call_function("dot_i64", col("qv"), col("qv")))
      .crossJoin(broadcast( // |classes| rows — model-sized by contract
        cent.withColumn("nc", call_function("dot_i64", col("cv"), col("cv")))))
      .withColumn("dist2",
        col("nq") + col("nc") -
          lit(2L) * call_function("dot_i64", col("qv"), col("cv")))
      .select("vec_id", "label", "c_label", "dist2")
  }

  def q168(spark: SparkSession, dir: String): DataFrame = {
    centroidScored(spark, dir)
      .groupBy("vec_id", "label") // label is functionally dependent on vec_id
      .agg(min_by(col("c_label"),
        struct(col("dist2"), col("c_label"))).as("c_label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("c_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_vecs"))
      .orderBy("label")
  }

  /** q223 classification margin audit — the confidence companion of the
    * q168 accuracy table: per vector, the margin = dist²(runner-up) −
    * dist²(best) over the label centroids (the q168 kernel verbatim via
    * [[centroidScored]]); per true label: vectors, correct, exact mean
    * margin, the count under the literal 8,000 low-margin knob (≈ the
    * fixture's lower quartile — SURVEY §2.13), and the MODAL runner-up
    * class ((count desc, label) argmax) — which class is the confuser,
    * the actionable output when q168 says accuracy dropped. Low-margin
    * mass predicts which labels flip under retraining noise; it is the
    * per-class drill-down of q169's stability flag.
    *
    * Scale shape: the top-2 per vector is ONE collect_list aggregate
    * whose per-key list is \|classes\|-bounded by the model contract
    * (the q168 broadcast argument — never a rank window over the
    * corpus×classes frame); the runner-mode argmax runs on the
    * \|labels\|² cell frame. */
  def q223(spark: SparkSession, dir: String): DataFrame = {
    val top2 = centroidScored(spark, dir)
      .groupBy("vec_id", "label")
      .agg(slice(array_sort(collect_list(struct(col("dist2"), col("c_label")))),
        1, 2).as("t2"))
      .select(col("vec_id"), col("label"),
        col("t2")(0)("c_label").as("best"),
        col("t2")(1)("c_label").as("runner"),
        (col("t2")(1)("dist2") - col("t2")(0)("dist2")).as("margin"))
    val roll = top2.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("best") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        sum("margin").as("margin_sum"),
        sum(when(col("margin") < 8000L, 1L).otherwise(0L))
          .as("n_low_margin"))
      .withColumn("mean_margin", expr("margin_sum div n_vecs"))
    val mode = top2.groupBy("label", "runner")
      .agg(count(lit(1)).as("rc"))
      .groupBy("label")
      .agg(min_by(col("runner"), struct(-col("rc"), col("runner")))
        .as("runner_mode"))
    roll.join(mode, "label")
      .select("label", "n_vecs", "n_correct", "mean_margin", "n_low_margin",
        "runner_mode")
      .orderBy("label")
  }

  val q223Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT label, unnest(range(1, len(qv) + 1)) AS i, qv FROM q
      |), cd AS (
      |  SELECT label AS c_label, i, CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m
      |  FROM e GROUP BY label, i
      |), cent AS (
      |  SELECT c_label, list(m ORDER BY i) AS cv FROM cd GROUP BY c_label
      |), scored AS (
      |  SELECT q.vec_id, q.label, c.c_label,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist2
      |  FROM q CROSS JOIN cent c
      |), rk AS (
      |  SELECT vec_id, label, c_label, dist2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
      |  FROM scored
      |), t2 AS (
      |  SELECT a.vec_id, a.label, a.c_label AS best, b.c_label AS runner,
      |    b.dist2 - a.dist2 AS margin
      |  FROM rk a JOIN rk b ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
      |), roll AS (
      |  SELECT label, COUNT(*) AS n_vecs,
      |    SUM(CASE WHEN best = label THEN 1 ELSE 0 END) AS n_correct,
      |    SUM(margin) AS margin_sum,
      |    SUM(CASE WHEN margin < 8000 THEN 1 ELSE 0 END) AS n_low_margin
      |  FROM t2 GROUP BY label
      |), rmode AS (
      |  SELECT label, runner AS runner_mode FROM (
      |    SELECT label, runner, COUNT(*) AS rc,
      |      ROW_NUMBER() OVER (PARTITION BY label ORDER BY COUNT(*) DESC,
      |        runner) AS mrn
      |    FROM t2 GROUP BY label, runner)
      |  WHERE mrn = 1
      |)
      |SELECT r.label, r.n_vecs, CAST(r.n_correct AS BIGINT) AS n_correct,
      |  CAST(r.margin_sum // r.n_vecs AS BIGINT) AS mean_margin,
      |  CAST(r.n_low_margin AS BIGINT) AS n_low_margin,
      |  m.runner_mode
      |FROM roll r JOIN rmode m ON m.label = r.label
      |ORDER BY r.label""".stripMargin

  val q168Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT label, unnest(range(1, len(qv) + 1)) AS i, qv FROM q
      |), cd AS (
      |  SELECT label AS c_label, i, CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m
      |  FROM e GROUP BY label, i
      |), cent AS (
      |  SELECT c_label, list(m ORDER BY i) AS cv FROM cd GROUP BY c_label
      |), scored AS (
      |  SELECT q.vec_id, q.label, c.c_label,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist2
      |  FROM q CROSS JOIN cent c
      |), best AS (
      |  SELECT vec_id, label, c_label,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
      |  FROM scored
      |)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
      |FROM best WHERE rn = 1 GROUP BY label ORDER BY label""".stripMargin

  /** q169 split-half centroid stability — the sampling-noise audit behind
    * "is this eval set big enough": deterministically hash-split each
    * label's vectors into two halves (the portable md5 bucket, the
    * q66/q139 reproducible-randomness contract), compute both halves'
    * integer-truncated centroids (the q151/q168 kernel), and report the
    * exact squared distance between them. A class whose two half-centroids
    * sit far apart relative to its size has a mean you cannot trust at
    * that sample size — the statistic that decides how many labeled
    * examples the q168 probe needs. `stableDist2` is the declared
    * calibration knob (SURVEY §2.13): a label is flagged `stable` = 1 when
    * its half-to-half squared distance is at or under the threshold —
    * 80000 in quantized-coordinate units sits mid-range of the observed
    * fixture distances, so the flag actually separates classes; raise it
    * for noisier embeddings or smaller eval sets. Scale shape: one corpus
    * scan, one keyed aggregate; the half-to-half comparison joins the
    * |labels|×2×dim model-sized centroid frame against itself, never the
    * corpus. */
  def q169(spark: SparkSession, dir: String,
      stableDist2: Long = 80000L): DataFrame = {
    val T = graft.functions.TextFunctions
    val cent = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("label").cast("long").as("label"),
        T.hashBucket(col("vec_id"), 2).as("half"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("dim", "qd")))
      .groupBy("label", "half", "dim")
      .agg(expr("sum(qd) div count(1)").as("m"), count(lit(1)).as("n"))
    cent.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("m").as("ma"), col("n").as("n_a"))
      .join(cent.filter(col("half") === 1)
          .select(col("label"), col("dim"), col("m").as("mb"), col("n").as("n_b")),
        Seq("label", "dim"))
      .groupBy("label")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(expr("(ma - mb) * (ma - mb)")).as("dist2"))
      .withColumn("stable",
        when(col("dist2") <= stableDist2, 1L).otherwise(0L))
      .orderBy("label")
  }

  val q169Sql: String =
    """WITH q AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS half,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT label, half, unnest(range(1, len(qv) + 1)) AS i, qv FROM q
      |), cent AS (
      |  SELECT label, half, i, CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m,
      |    COUNT(*) AS n
      |  FROM e GROUP BY label, half, i
      |)
      |SELECT a.label, CAST(MAX(a.n) AS BIGINT) AS n_a,
      |  CAST(MAX(b.n) AS BIGINT) AS n_b,
      |  CAST(SUM((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS dist2,
      |  CAST(CASE WHEN SUM((a.m - b.m) * (a.m - b.m)) <= 80000
      |    THEN 1 ELSE 0 END AS BIGINT) AS stable
      |FROM cent a JOIN cent b ON a.label = b.label AND a.i = b.i
      |  AND a.half = 0 AND b.half = 1
      |GROUP BY a.label ORDER BY a.label""".stripMargin

  /** q173 embedding-table quality audit — the data-quality gate that runs
    * BEFORE any ANN index build or centroid eval: per label, vector count,
    * the min/max array length (a ragged table breaks every fixed-dim
    * kernel downstream — min ≠ max is the alarm), zero-vector count (an
    * all-zero embedding is an upstream encoder failure and poisons cosine
    * math with 0/0), and min/max/mean squared norm in the exact quantized
    * integer units of the q151/q168 centroid kernel (a norm wildly off the
    * cohort's range flags an unnormalized or corrupted batch). One narrow
    * codegen'd map (the norm rides the dot_i64 kernel), one map-combined
    * aggregate — the profile never shuffles the vectors themselves. */
  def q173(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("ndim"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
      .select(col("label"), col("ndim"),
        call_function("dot_i64", col("qv"), col("qv")).as("norm2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("ndim").as("min_dim"), max("ndim").as("max_dim"),
        sum(when(col("norm2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min("norm2").as("min_norm2"), max("norm2").as("max_norm2"),
        expr("sum(norm2) div count(1)").as("avg_norm2"))
      .orderBy("label")

  val q173Sql: String =
    """WITH q AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(len(embedding) AS BIGINT) AS ndim,
      |    list_sum(list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |         * CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS norm2
      |  FROM embeddings
      |)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(MIN(ndim) AS BIGINT) AS min_dim, CAST(MAX(ndim) AS BIGINT) AS max_dim,
      |  CAST(SUM(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(MIN(norm2) AS BIGINT) AS min_norm2,
      |  CAST(MAX(norm2) AS BIGINT) AS max_norm2,
      |  CAST(SUM(norm2) // COUNT(*) AS BIGINT) AS avg_norm2
      |FROM q GROUP BY label ORDER BY label""".stripMargin

  /** q178 one full Lloyd k-means round in-engine — the clustering refresh a
    * training pipeline schedules over its embedding store (MacQueen 1967 /
    * Lloyd 1982; the distributed shape is the classic MapReduce k-means):
    * seed centroids = the q151/q168 per-label integer centroids, E-step =
    * exact squared-Euclidean argmin assignment (the q168 `min_by` kernel),
    * M-step = per-cluster integer-truncated mean recompute, then report per
    * cluster the member count, how many members DEFECTED from their seed
    * label, and the centroid's squared shift — the convergence telemetry
    * (shift → 0) that decides whether another round is worth scheduling.
    * All-integer (×1000 quantization), so the DuckDB oracle replays the
    * entire round as chained CTEs (the q124 unrolled-fixed-point pattern).
    *
    * Scale shape: centroids are |classes|-row model frames (broadcast by
    * contract); the corpus streams through TWO scans (assign, recompute) —
    * the E-step argmin combines map-side via `min_by`, the M-step is one
    * posexplode aggregate keyed by (cluster, dim), and the shift/defector
    * rollups join model-sized frames only. The assignment join back to the
    * vectors is the round's one corpus-keyed shuffle — exactly what a
    * 1000-executor k-means round costs per iteration. */
  def q178(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
    val cent0 = q
      .select(col("label").as("c_label"),
        posexplode(col("qv")).as(Seq("dim", "qd")))
      .groupBy("c_label", "dim")
      .agg(expr("sum(qd) div count(1)").as("m"))
      .groupBy("c_label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m")).as("cv"))
    val assign = q
      .withColumn("nq", call_function("dot_i64", col("qv"), col("qv")))
      .crossJoin(broadcast( // |classes| rows — model-sized by contract
        cent0.withColumn("nc", call_function("dot_i64", col("cv"), col("cv")))))
      .withColumn("dist2",
        col("nq") + col("nc") -
          lit(2L) * call_function("dot_i64", col("qv"), col("cv")))
      .groupBy("vec_id", "label")
      .agg(min_by(col("c_label"), struct(col("dist2"), col("c_label")))
        .as("cluster"))
    val members = q.select(col("vec_id"), col("qv")).join(assign, "vec_id")
    val stats = members.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("label") =!= col("cluster"), 1L).otherwise(0L))
          .as("n_defectors"))
    val cent1 = members
      .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "qd")))
      .groupBy("cluster", "dim")
      .agg(expr("sum(qd) div count(1)").as("m1"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m1")))),
        s => s("m1")).as("cv1"))
    cent0.select(col("c_label").as("cluster"), col("cv"))
      .join(stats, Seq("cluster"), "left")
      .join(cent1, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("n_defectors"), lit(0L)).as("n_defectors"),
        when(col("cv1").isNotNull, // model-sized frame: HOF cost is |classes|·dim
          aggregate(zip_with(col("cv"), col("cv1"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x)).as("shift_dist2"))
      .orderBy("cluster")
  }

  val q178Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT label, unnest(range(1, len(qv) + 1)) AS i, qv FROM q
      |), cd AS (
      |  SELECT label AS c_label, i, CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m
      |  FROM e GROUP BY label, i
      |), cent AS (
      |  SELECT c_label, list(m ORDER BY i) AS cv FROM cd GROUP BY c_label
      |), scored AS (
      |  SELECT q.vec_id, q.label, c.c_label,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist2
      |  FROM q CROSS JOIN cent c
      |), best AS (
      |  SELECT vec_id, label, c_label AS cluster,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
      |  FROM scored
      |), assign AS (
      |  SELECT vec_id, label, cluster FROM best WHERE rn = 1
      |), members AS (
      |  SELECT a.cluster, a.label, q.qv FROM assign a JOIN q USING (vec_id)
      |), stats AS (
      |  SELECT cluster, COUNT(*) AS n_members,
      |    CAST(SUM(CASE WHEN label <> cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_defectors
      |  FROM members GROUP BY cluster
      |), e1 AS (
      |  SELECT cluster, unnest(range(1, len(qv) + 1)) AS i, qv FROM members
      |), cd1 AS (
      |  SELECT cluster, i, CAST(SUM(qv[i]) // COUNT(*) AS BIGINT) AS m1
      |  FROM e1 GROUP BY cluster, i
      |), cent1 AS (
      |  SELECT cluster, list(m1 ORDER BY i) AS cv1 FROM cd1 GROUP BY cluster
      |)
      |SELECT c.c_label AS cluster,
      |  CAST(COALESCE(s.n_members, 0) AS BIGINT) AS n_members,
      |  CAST(COALESCE(s.n_defectors, 0) AS BIGINT) AS n_defectors,
      |  CASE WHEN c1.cv1 IS NOT NULL THEN
      |    CAST(list_sum(list_transform(range(1, len(c.cv) + 1),
      |      i -> (c.cv[i] - c1.cv1[i]) * (c.cv[i] - c1.cv1[i]))) AS BIGINT)
      |  END AS shift_dist2
      |FROM cent c
      |LEFT JOIN stats s ON s.cluster = c.c_label
      |LEFT JOIN cent1 c1 ON c1.cluster = c.c_label
      |ORDER BY cluster""".stripMargin

  /** q204 int8 quantization calibration table — the per-dimension range
    * audit that precedes serving an embedding table at 100 TB: symmetric
    * int8 quantization (the standard ANN-memory trade, the disk format
    * PQ compresses further) needs one scale per dimension, and a
    * per-tensor scale silently crushes narrow dimensions. Per dimension of
    * the ×1000-quantized coordinates (the q151/q168 grid): min, max,
    * absolute max, the derived int8 step in micro-units
    * (absmax·1e6 div 127 — micro-quantized-coordinates per int8 level),
    * and the mass that a literal clip at ±400 would saturate (count + ppm)
    * — the clipping-calibration decision (absmax vs percentile clip) made
    * with exact numbers instead of a histogram eyeball. The ±400 literal
    * is a declared calibration knob (SURVEY §2.13): fixture absmax spans
    * 337–526 per dim, so the clip genuinely saturates some dims and not
    * others.
    *
    * Scale shape: one corpus pass — posexplode of the quantized vector
    * into (dim, q) cells — and ONE map-combined aggregate keyed by the
    * \|dims\|-bounded dimension id; partial aggregation collapses each
    * task to ≤\|dims\| rows before the shuffle, so shuffle bytes are
    * executor-count-, not corpus-, sized. No window, no join. */
  def q204(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("pos", "q")))
      .select((col("pos") + 1).cast("long").as("dim"), col("q"))
      .groupBy("dim")
      .agg(min("q").as("q_min"), max("q").as("q_max"),
        max(greatest(col("q"), -col("q"))).as("absmax"),
        count(lit(1)).as("n_vals"),
        sum(when(greatest(col("q"), -col("q")) > 400, 1L).otherwise(0L))
          .as("n_sat"))
      .withColumn("scale_micro", expr("absmax * 1000000 div 127"))
      .withColumn("sat_ppm", expr("n_sat * 1000000 div n_vals"))
      .select("dim", "q_min", "q_max", "absmax", "scale_micro", "n_sat",
        "sat_ppm")
      .orderBy("dim")

  /** q207 top principal direction by MATRIX-FREE power iteration — the
    * PCA probe over the embedding table (dominant direction of the
    * uncentered second-moment matrix M = Σ x·xᵀ; uncentered on purpose —
    * no mean pass, and for the spherical fixtures the top direction of
    * M and of the covariance coincide): three fixed iterations of
    * v ← normalize(M·v), computed WITHOUT materializing M — M·v =
    * Σ_rows x·(x·v), so each round is ONE corpus pass (a codegen'd
    * dot_i64 against the broadcast 64-long v, one posexplode, one
    * \|dims\|-keyed map-combined aggregate), where materializing M costs
    * \|dims\|² cells per row. The inter-round v is a \|dims\|-long
    * driver-side parameter fetch (the q127 argmax discipline); v₀ is the
    * all-1000 vector, and normalization is the exact integer
    * sign·(\|u\| div (max\|u\| div 1024 + 1)) — floor-of-positive on BOTH
    * engines, sidestepping the div-truncates / //-floors disagreement on
    * negatives. The oracle replays all three rounds as chained CTEs (the
    * q124/q178 pattern). Rounds = 3 is the declared knob (SURVEY §2.13);
    * convergence rate is spectrum-gap-dependent — the fixture's spherical
    * synthetic embeddings have close top eigenvalues, so three rounds
    * stabilize the direction to cos(v₂,v₃) ≈ 0.98 (spec-asserted
    * monotone); raise the knob for a tighter direction.
    *
    * Scale shape: three corpus scans, deliberately UNCACHED — a 100 TB
    * working set does not fit and the scan is the cheap part of a narrow
    * codegen'd map; shuffle bytes are \|dims\|×tasks (map-combined).
    * Int64 bound: u accumulates Σ q_d·dot ≤ n·1000·(dims·1000·1024) —
    * lift the aggregate to decimal(38,0) past n ≈ 10¹⁴ rows. */
  def q207(spark: SparkSession, dir: String): DataFrame = {
    val qv = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def round(v: Array[Long]): DataFrame =
      qv.withColumn("dot", call_function("dot_i64", col("qv"),
          array(v.toSeq.map(lit(_)): _*)))
        .select(posexplode(col("qv")).as(Seq("pos", "qd")), col("dot"))
        .groupBy("pos").agg(sum(expr("qd * dot")).as("u"))
        // the normalization window runs on the |dims|-row aggregate —
        // model-sized by construction (unpartitioned-window inventory)
        .withColumn("m", max(greatest(col("u"), -col("u"))).over(all))
        .withColumn("s", expr("m div 1024 + 1"))
        .withColumn("v",
          expr("CASE WHEN u < 0 THEN -((-u) div s) ELSE u div s END"))
    val dims = qv.select(size(col("qv"))).head().getInt(0)
    var v = Array.fill(dims)(1000L)
    for (_ <- 1 to 2) // rounds 1–2 fetch the |dims|-long parameter
      v = round(v).select("pos", "v").collect()
        .sortBy(_.getInt(0)).map(_.getLong(1))
    round(v) // round 3 is the returned frame
      .select((col("pos") + 1).cast("long").as("dim"), col("v").as("v_comp"))
      .orderBy("dim")
  }

  val q207Sql: String = {
    def round(prev: String, next: String): String =
      s"""dot$next AS (
         |  SELECT c.vec_id, CAST(SUM(c.qd * v.v) AS BIGINT) AS dot
         |  FROM cells c JOIN v$prev v ON v.i = c.i GROUP BY c.vec_id
         |), u$next AS (
         |  SELECT c.i, CAST(SUM(c.qd * d.dot) AS BIGINT) AS u
         |  FROM cells c JOIN dot$next d ON d.vec_id = c.vec_id GROUP BY c.i
         |), v$next AS (
         |  SELECT i, CASE WHEN u < 0 THEN -((-u) // s) ELSE u // s END AS v
         |  FROM (SELECT i, u,
         |    (SELECT MAX(GREATEST(u, -u)) FROM u$next) // 1024 + 1 AS s
         |    FROM u$next)
         |)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), cells AS (
       |  SELECT vec_id, i, qv[i] AS qd
       |  FROM (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q)
       |), v0 AS (
       |  SELECT DISTINCT i, CAST(1000 AS BIGINT) AS v FROM cells
       |), ${round("0", "1")}, ${round("1", "2")}, ${round("2", "3")}
       |SELECT i AS dim, v AS v_comp FROM v3 ORDER BY dim""".stripMargin
  }

  val q204Sql: String =
    """WITH c AS (
      |  SELECT i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
      |  FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)
      |)
      |SELECT i AS dim, MIN(q) AS q_min, MAX(q) AS q_max,
      |  MAX(GREATEST(q, -q)) AS absmax,
      |  MAX(GREATEST(q, -q)) * 1000000 // 127 AS scale_micro,
      |  CAST(SUM(CASE WHEN GREATEST(q, -q) > 400 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sat,
      |  CAST(SUM(CASE WHEN GREATEST(q, -q) > 400 THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS sat_ppm
      |FROM c GROUP BY i ORDER BY dim""".stripMargin

  /** q235 kNN label-noise audit — which labels are dirty? For every
    * embedding, its 5 nearest neighbors by the exact q110 integer-cosine
    * statistic (self excluded, (score desc, id) tie-break), and the count
    * of neighbors SHARING its label; per label: vectors, mean agreement in
    * exact ppm, and the count of low-agreement vectors (≤2 of 5 — the
    * relabel-review queue). A mislabeled example sits in a neighborhood of
    * the true class, so its agreement collapses — the neighborhood-
    * consistency signal behind confident-learning-style noise detection
    * (Northcutt et al., "Confident Learning", JAIR 2021), on the exact
    * kernel so it is hash-checkable.
    *
    * Scale shape: the all-pairs scoring is the q110 gold-standard kernel,
    * run on the PROBE set (here the whole fixture; at open scale a hash
    * sample — or [[q240]], the r11 LSH-blocked twin of this exact audit,
    * which the scaling study measured flat at ×10 data where this
    * all-pairs frame paid ×59.8, `SCALING_r11.json`). The per-vector
    * top-5 is a
    * rank-only row_number window ⇒ WindowGroupLimit pre-prunes to 5 rows
    * per vector map-side (CI-asserted); everything after is a ≤\|labels\|
    * rollup. dot²·1e6 ≤ 4.1e17 for unit-bounded inputs — the q110 bound. */
  def q235(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 100).cast(LongType)).as("qv"))
      .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))
      .filter(col("nrm") > 0)
    val a = q.select(col("vec_id").as("id_a"), col("label").as("la"),
      col("qv").as("qa"), col("nrm").as("na"))
    val b = q.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("qv").as("qb"), col("nrm").as("nb"))
    val rk = Window.partitionBy("id_a")
      .orderBy(desc("score_x1e6"), col("id_b"))
    a.join(b, col("id_a") =!= col("id_b"))
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("score_x1e6",
        when(col("dot") >= 0, expr("dot * dot * 1000000 div (na * nb)"))
          .otherwise(-expr("dot * dot * 1000000 div (na * nb)")))
      .select("id_a", "la", "id_b", "lb", "score_x1e6")
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 5)
      .groupBy("id_a", "la")
      .agg(sum(when(col("lb") === col("la"), 1L).otherwise(0L)).as("n_agree"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(n_agree) * 1000000 div (5 * count(1))").as("agree_ppm"),
        sum(when(col("n_agree") <= 2, 1L).otherwise(0L)).as("n_noisy"))
      .orderBy("label")
  }

  val q235Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM q
      |), nz AS (SELECT * FROM n WHERE nrm > 0
      |), pairs AS (
      |  SELECT a.vec_id AS id_a, a.label AS la, b.vec_id AS id_b,
      |    b.label AS lb, a.nrm AS na, b.nrm AS nb,
      |    CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
      |      i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
      |  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      |), scored AS (
      |  SELECT id_a, la, lb,
      |    CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |         ELSE -(dot * dot * 1000000 // (na * nb)) END AS score_x1e6,
      |    id_b
      |  FROM pairs
      |), top5 AS (
      |  SELECT id_a, la, lb,
      |    ROW_NUMBER() OVER (PARTITION BY id_a
      |      ORDER BY score_x1e6 DESC, id_b) AS rk
      |  FROM scored
      |), per AS (
      |  SELECT id_a, la,
      |    SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS n_agree
      |  FROM top5 WHERE rk <= 5 GROUP BY id_a, la
      |)
      |SELECT la AS label, COUNT(*) AS n_vecs,
      |  CAST(SUM(n_agree) * 1000000 // (5 * COUNT(*)) AS BIGINT) AS agree_ppm,
      |  CAST(SUM(CASE WHEN n_agree <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_noisy
      |FROM per GROUP BY la ORDER BY label""".stripMargin

  /** The q240 blocking model: `Bands` sign-random-projection bands of
    * `BitsPerBand` bits over `Dim` embedding dimensions, every projection
    * sign derived from md5("rp<band>:<bit>:<dim>") — PORTABLE pseudo-
    * randomness (the q99 md5-minhash discipline applied to hyperplanes),
    * so DuckDB rebuilds the identical hyperplanes from the same strings
    * and the whole blocked audit is hash-checkable, unlike a JVM-seeded
    * plane matrix. Signs are data-independent constants: computed
    * once driver-side, shipped as 24 array literals into a codegen'd
    * `dot_i64` each — no per-row hashing on the Spark side at all. */
  private[queries] val LshBands = 4
  private[queries] val LshBitsPerBand = 6
  private[queries] val LshDim = 64
  private[queries] def lshSign(band: Int, bit: Int, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp$band:$bit:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(md.substring(0, 8), 16) % 2 == 0) -1L else 1L
  }

  /** q240 LSH-blocked kNN label-noise audit — the SUBQUADRATIC serve shape
    * of q235, with the approximation itself cross-engine PROVED: the r11
    * scaling study measured q235's all-pairs probe at n^1.78 (×59.8 wall-
    * clock at ×10 data, `SCALING_r11.json`) — the one superlinear query on
    * the surface — and this is the documented swap, made hash-checkable.
    * Candidate pairs are restricted to vectors sharing at least one of 4
    * six-bit sign-random-projection band buckets ([[lshSign]]: hyperplane
    * signs from md5, so the ORACLE rebuilds the same hyperplanes and
    * replays the same buckets); within candidates the exact q110 integer-
    * cosine top-5 + agreement rollup of q235 runs unchanged. A vector with
    * fewer than 5 collision candidates keeps denominator 5 — missing
    * neighbors count as disagreement, deliberately conservative: an
    * isolated vector lands in the review queue, which is the audit's
    * fail-open direction. Vectors with NO collisions still appear (left
    * join, n_agree 0).
    *
    * Scale shape: signatures are 24 codegen'd `dot_i64`s against literal
    * sign vectors (narrow map); the candidate join is keyed by
    * (band, bucket) so pairs ∝ Σ_{band,bucket} |bucket|² — at uniform
    * spread n²·Bands/2^bits, 16× under the all-pairs frame at these
    * constants, and the knobs (bands, bits) turn independently of the
    * query; the pair `distinct` and rank window are keyed by the pair/
    * vector ids (no skewed key); everything after is q235's ≤|labels|
    * rollup. Measured on the ScaleUp fixtures (fresh-JVM min-of-3,
    * SCALING_r11.json): ×10 data → 0.68 s → 0.89 s (×1.3; the 28M-pair
    * candidate frame rides the idle-core headroom) where q235's all-pairs
    * frame paid ×59.8 — and the ×10 result still hash-matches the DuckDB
    * replay of the same hyperplanes. r12 extended the measurement to ×30:
    * 0.77 s, still flat. Ceiling note (the r12 q30/q28 audit): the fixed
    * 2^bits bucket count makes candidates eventually ∝ n²·Bands/2^bits;
    * when a corpus outgrows these constants the remedy is the q30/q28
    * discipline — corpus-adaptive band width (and, for pair emission,
    * the dense-bucket cutoff), both replayable via length(bin(n−1)). */
  def q240(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 100).cast(LongType)).as("qv"))
      .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))
      .filter(col("nrm") > 0)
    val sigStructs = (0 until LshBands).map { band =>
      val bucket = (0 until LshBitsPerBand).map { bit =>
        val signs = (0 until LshDim).map(d => lshSign(band, bit, d))
        when(call_function("dot_i64", col("qv"),
          typedlit(signs)) >= 0L, lit(1L << bit)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(band.toLong).as("band"), bucket.as("bucket"))
    }
    val sig = q.select(col("vec_id"),
        explode(array(sigStructs: _*)).as("s"))
      .select(col("vec_id"), col("s.band").as("band"),
        col("s.bucket").as("bucket"))
    val cand = sig.as("x")
      .join(sig.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct() // a pair colliding in 2 bands must score once
    val a = q.select(col("vec_id").as("id_a"), col("label").as("la"),
      col("qv").as("qa"), col("nrm").as("na"))
    val b = q.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("qv").as("qb"), col("nrm").as("nb"))
    val rk = Window.partitionBy("id_a")
      .orderBy(desc("score_x1e6"), col("id_b"))
    val perVec = cand.join(a, "id_a").join(b, "id_b")
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("score_x1e6",
        when(col("dot") >= 0, expr("dot * dot * 1000000 div (na * nb)"))
          .otherwise(-expr("dot * dot * 1000000 div (na * nb)")))
      .select("id_a", "la", "lb", "score_x1e6", "id_b")
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 5)
      .groupBy("id_a")
      .agg(sum(when(col("lb") === col("la"), 1L).otherwise(0L)).as("n_agree"))
    a.select(col("id_a"), col("la"))
      .join(perVec, Seq("id_a"), "left")
      .withColumn("n_agree", coalesce(col("n_agree"), lit(0L)))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(n_agree) * 1000000 div (5 * count(1))").as("agree_ppm"),
        sum(when(col("n_agree") <= 2, 1L).otherwise(0L)).as("n_noisy"))
      .orderBy("label")
  }

  /** The oracle REBUILDS the hyperplanes from the same md5 strings and
    * replays the identical blocking — the approximation, not just the
    * arithmetic, is what hash-matches. */
  val q240Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
      |  FROM embeddings
      |), nz AS (
      |  SELECT vec_id, label, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM q
      |  WHERE CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) > 0
      |), rp AS (
      |  SELECT band, bit, dim,
      |    CASE WHEN CAST('0x' || substr(md5('rp' || band || ':' || bit
      |           || ':' || dim), 1, 8) AS BIGINT) % 2 = 0
      |      THEN -1 ELSE 1 END AS s
      |  FROM range(4) t1(band), range(6) t2(bit), range(64) t3(dim)
      |), bits AS (
      |  SELECT nz.vec_id, r.band, r.bit,
      |    CASE WHEN SUM(r.s * nz.qv[r.dim + 1]) >= 0 THEN 1 ELSE 0 END AS b
      |  FROM nz, rp r GROUP BY nz.vec_id, r.band, r.bit
      |), sig AS (
      |  SELECT vec_id, band, CAST(SUM(b * (1 << bit)) AS BIGINT) AS bucket
      |  FROM bits GROUP BY vec_id, band
      |), cand AS (
      |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM sig x JOIN sig y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
      |), scored AS (
      |  SELECT c.id_a, a.label AS la, b.label AS lb,
      |    CASE WHEN d.dot >= 0 THEN d.dot * d.dot * 1000000 // (a.nrm * b.nrm)
      |         ELSE -(d.dot * d.dot * 1000000 // (a.nrm * b.nrm)) END
      |      AS score_x1e6,
      |    c.id_b
      |  FROM cand c
      |  JOIN nz a ON a.vec_id = c.id_a
      |  JOIN nz b ON b.vec_id = c.id_b,
      |  LATERAL (SELECT CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
      |    i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot) d
      |), top5 AS (
      |  SELECT id_a, la, lb,
      |    ROW_NUMBER() OVER (PARTITION BY id_a
      |      ORDER BY score_x1e6 DESC, id_b) AS rk
      |  FROM scored
      |), agr AS (
      |  SELECT id_a, SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS n_agree
      |  FROM top5 WHERE rk <= 5 GROUP BY id_a
      |), per AS (
      |  SELECT nz.vec_id, nz.label AS la, COALESCE(agr.n_agree, 0) AS n_agree
      |  FROM nz LEFT JOIN agr ON agr.id_a = nz.vec_id
      |)
      |SELECT la AS label, COUNT(*) AS n_vecs,
      |  CAST(SUM(n_agree) * 1000000 // (5 * COUNT(*)) AS BIGINT) AS agree_ppm,
      |  CAST(SUM(CASE WHEN n_agree <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_noisy
      |FROM per GROUP BY la ORDER BY label""".stripMargin

  /** q238 deterministic Poisson-bootstrap confidence interval — error bars
    * for a corpus metric (per-source mean tokens/doc) computed the way a
    * distributed engine actually can: the classic resample-n-rows
    * bootstrap is driver-shaped (it needs n draws WITH replacement per
    * replicate), but Poisson(1) row weights approximate multinomial
    * resampling exactly in the large-n limit (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google TR 2012 — the
    * "Poisson bootstrap"), and a deterministic md5 uniform per (doc,
    * replicate) makes every weight reproducible and cross-engine exact:
    * u = md5(doc#b) mod 1e6, w = Poisson(1) inverse-CDF bucket of u
    * (thresholds 367879/735759/919699/981012, truncated at 4 — the
    * omitted tail is 0.37% of mass). B = 32 replicates; the interval is
    * the deterministic rank convention [2nd smallest, 2nd largest] of the
    * DEFINED replicate means — the central ~94% band, no float
    * percentiles. A replicate whose Poisson weights are all zero (a
    * realistic event for sources of only a few documents: P ≈ 0.37ⁿ per
    * replicate) has no mean and is EXCLUDED from the ranking, with the
    * rank picks clamped to [1, n_defined] — naive rank-31 over a NULLS
    * LAST ordering would silently collapse the interval onto its low
    * bound; a source with zero defined replicates reports NULL bounds
    * (left join), never a fabricated interval.
    *
    * Scale shape: ONE corpus scan exploded ×B (the stated linear ×32
    * cost), collapsing map-side into the (source, b) cell frame
    * (\|sources\|·32 rows); the rank pass runs per source over exactly 32
    * cells. Means in exact ×1e3 floor fixed point; Σ(w·nt)·1e3 bounds
    * int64 past ~2e15 corpus tokens per (source, replicate) — lift to
    * decimal beyond. */
  def q238(spark: SparkSession, dir: String): DataFrame =
    bootstrapCi(Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("nt")))

  /** The Poisson(1) inverse-CDF weight ladder of the deterministic
    * bootstrap (thresholds = ⌊CDF·10⁶⌋; truncated at 4) — ONE definition
    * shared by q238 and q291's uplift CI so a recalibration can never
    * desync the kernels (r14 session-2 review finding). */
  private[graft] def poissonW(u: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L).otherwise(4L)

  /** The same ladder as oracle SQL over a uniform-in-[0,1e6) expression. */
  private[graft] def poissonCaseSql(u: String): String =
    s"(CASE WHEN $u < 367879 THEN 0 WHEN $u < 735759 THEN 1 " +
      s"WHEN $u < 919699 THEN 2 WHEN $u < 981012 THEN 3 ELSE 4 END)"

  /** The reusable kernel over a (doc_id, source, nt) frame — frame-shaped
    * so the degenerate single-doc-source path (zero-weight replicates,
    * clamped rank picks, NULL bounds) is literal-testable in
    * EvaluationSpec. */
  private[graft] def bootstrapCi(docs: DataFrame): DataFrame = {
    val reps = docs.select(col("doc_id"), col("source"), col("nt"),
        explode(array((0 until 32).map(lit): _*)).as("b"))
      .withColumn("u", graft.functions.TextFunctions.hashBucket(
        concat(col("doc_id").cast(StringType), lit("#b"),
          col("b").cast(StringType)), 1000000))
      .withColumn("w", poissonW(col("u")))
      .groupBy("source", "b")
      .agg(sum("w").as("sw"), sum(expr("w * nt")).as("swx"))
      .filter(col("sw") > 0) // zero-weight replicates have no mean
      .withColumn("rep_mean_x1e3", expr("swx * 1000 div sw"))
    val rk = Window.partitionBy("source")
      .orderBy(col("rep_mean_x1e3"), col("b"))
    val point = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(nt) * 1000 div count(1)").as("mean_x1e3"))
    val ci = reps.withColumn("r", row_number().over(rk))
      .withColumn("n_def", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("r") === least(lit(2), col("n_def")) ||
        col("r") === greatest(col("n_def") - 1, lit(1)))
      .groupBy("source")
      .agg(min("rep_mean_x1e3").as("boot_lo_x1e3"),
        max("rep_mean_x1e3").as("boot_hi_x1e3"))
    point.join(ci, Seq("source"), "left")
      .select("source", "n_docs", "mean_x1e3", "boot_lo_x1e3", "boot_hi_x1e3")
      .orderBy("source")
  }

  val q238Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, source, nt, b,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#b'
      |      || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS u
      |  FROM d, (SELECT unnest(range(0, 32)) AS b)
      |), w AS (
      |  SELECT source, b, ${poissonCaseSql("u")} AS w,
      |    nt
      |  FROM r
      |), cells AS (
      |  SELECT source, b, SUM(w) AS sw, SUM(w * nt) AS swx FROM w GROUP BY 1, 2
      |), means AS (
      |  SELECT source, b, swx * 1000 // sw AS rep_mean_x1e3,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY swx * 1000 // sw, b) AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS n_def
      |  FROM cells WHERE sw > 0
      |), ci AS (
      |  SELECT source,
      |    MIN(rep_mean_x1e3) AS boot_lo_x1e3,
      |    MAX(rep_mean_x1e3) AS boot_hi_x1e3
      |  FROM means
      |  WHERE r = LEAST(2, n_def) OR r = GREATEST(n_def - 1, 1)
      |  GROUP BY source
      |), pt AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(nt) * 1000 // COUNT(*) AS BIGINT) AS mean_x1e3
      |  FROM d GROUP BY source
      |)
      |SELECT pt.source, pt.n_docs, pt.mean_x1e3,
      |  CAST(ci.boot_lo_x1e3 AS BIGINT) AS boot_lo_x1e3,
      |  CAST(ci.boot_hi_x1e3 AS BIGINT) AS boot_hi_x1e3
      |FROM pt LEFT JOIN ci USING (source) ORDER BY source""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("q140_auc_ranksum", q140 _, Some(q140Sql)),
      ("q308_average_precision", q308 _, Some(q308Sql)),
      ("q238_bootstrap_ci", q238 _, Some(q238Sql)),
      ("q235_knn_label_noise", q235 _, Some(q235Sql)),
      ("q240_label_noise_lsh", q240 _, Some(q240Sql)),
      ("q204_int8_calibration", q204 _, Some(q204Sql)),
      ("q207_power_iteration", q207 _, Some(q207Sql)),
      ("q223_margin_audit", q223 _, Some(q223Sql)),
      ("q168_centroid_eval", q168 _, Some(q168Sql)),
      ("q169_centroid_stability",
        (s: SparkSession, d: String) => q169(s, d), Some(q169Sql)),
      ("q141_rank_agreement", q141 _, Some(q141Sql)),
      ("q142_ks_distance", q142 _, Some(q142Sql)),
      ("q143_gini_purity", q143 _, Some(q143Sql)),
      ("q152_weekly_drift", q152 _, Some(q152Sql)),
      ("q155_reliability_bins", q155 _, Some(q155Sql)),
      ("q156_jackknife_langid", q156 _, Some(q156Sql)),
      ("q173_embedding_audit", q173 _, Some(q173Sql)),
      ("q178_kmeans_round", q178 _, Some(q178Sql)))
}
