package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.functions.{TextFunctions => T}
import graft.operators.{ConnectedComponents, Rounds}
import graft.operators.Rounds.Round
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline operators beyond the q26–q38 extension family:
  * dedup clustering (pairs → groups), benchmark decontamination, TF-IDF-style
  * term scoring, repetition-based quality, stratified sampling. All integer
  * or string math — every query here is DuckDB-oracle hash-checked.
  */
/** One learned BPE merge: the argmax pair in symbol space (`rawA`/`rawB`,
  * placeholder chars included — what a tokenizer's merge table stores and
  * what an encoder replays) and rendered to plain text (`expandedA`/
  * `expandedB` — what humans read), with its selection-time count. */
case class BpeMerge(step: Long, rawA: String, rawB: String,
    expandedA: String, expandedB: String, cnt: Long)

object Training {

  /** q58 dedup clusters: near-dup PAIRS (exact adjacent-bigram Jaccard ≥
    * 0.06, the q29 kernel thresholded) promoted to dedup GROUPS via
    * distributed connected components — every doc labeled with the min
    * doc_id of its cluster, singletons included. The canonical "keep one per
    * cluster" step of a corpus dedup is then a deterministic groupBy on
    * cluster_id. Oracle: recursive-CTE reachability in DuckDB. */
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // The thresholded near-dup edge list is deterministic, corpus-derived,
    // slim (2 ids per adjacent near-dup pair), and its plan is recomputable
    // from the parquet scan — the registry-safety criterion (a checkpoint-
    // rooted frame like the CC RESULT below must stay out: its blocks are
    // unrecoverable after a block-store sweep). Sharing it means repeated
    // executions (q58 + q131 compose it; timed bench reps) pay the gram
    // explode + merge join once per corpus and only the CC rounds per run.
    val edges = SharedFrames.sharedFrame(spark, dir, "documents",
      "adj-bigram-edges-60000") {
      Dedup.adjacentNgramJaccard(docs)
        .filter(col("jaccard_x1e6") >= 60000L)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    }
    ConnectedComponents.run(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")
  }

  val q58Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
      |  FROM toks
      |), gsets AS (
      |  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1 AND a.bg = b.bg
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM gsets sa JOIN gsets sb ON sb.doc_id = sa.doc_id + 1
      |  LEFT JOIN inter i ON i.doc_a = sa.doc_id
      |  WHERE FLOOR(1000000.0 * COALESCE(i.i, 0) / (sa.n + sb.n - COALESCE(i.i, 0))) >= 60000
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
      |)
      |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
      |ORDER BY doc_id""".stripMargin

  /** q59 benchmark decontamination: the train split (md5 buckets 1–9) swept
    * for documents sharing any distinct 4-gram with the eval split (bucket
    * 0) — the train/test-overlap scrub every corpus needs before training.
    * Shape at scale: distinct grams explode to (gram, doc) rows, the
    * gram-keyed semi-join is one hash shuffle of the train grams; the eval
    * gram set is benchmark-sized in practice, so AQE broadcasts it. */
  def q59(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .withColumn("is_eval", T.hashBucket(col("doc_id"), 10) === 0)
    // scratch-checkpointed: the gram explode (corpus scan + shingles +
    // array_distinct) is the dominant cost and is consumed by BOTH the
    // eval-gram side and the train-gram side — without the barrier it runs
    // twice, and a persist() would strand a cache entry past the
    // lazily-returned result (Checkpoints.scratch scaladoc).
    val grams = graft.operators.Checkpoints.scratch(
      docs.select(col("doc_id"), col("is_eval"),
        explode(array_distinct(T.wordShingles(col("text"), 4))).as("g")))
    val evalGrams = grams.filter(col("is_eval")).select("g").distinct()
    val contaminated = grams.filter(!col("is_eval"))
      .join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct().withColumn("hit", lit(1))
    docs.filter(!col("is_eval"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"), count(col("hit")).as("n_contaminated"))
      .orderBy("source")
  }

  val q59Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), ev AS (
      |  SELECT doc_id FROM documents
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |), grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
      |  FROM toks
      |), eg AS (
      |  SELECT DISTINCT g FROM grams JOIN ev USING (doc_id)
      |), cont AS (
      |  SELECT DISTINCT doc_id FROM grams
      |  WHERE g IN (SELECT g FROM eg) AND doc_id NOT IN (SELECT doc_id FROM ev)
      |)
      |SELECT d.source, COUNT(*) AS n_train, COUNT(c.doc_id) AS n_contaminated
      |FROM documents d LEFT JOIN cont c USING (doc_id)
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM ev)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q150 cross-source contamination matrix — WHICH sources share content,
    * the pairwise generalization of the q59 train/eval decontamination
    * check (the audit a corpus curator runs before treating sources as
    * independent: mirror sites, scraped re-posts, and syndicated text make
    * "different source" a lie). For every source pair: the count of shared
    * distinct 4-gram fingerprints and the containment in ppm
    * (shared / min(|A|, |B|) — the directional-overlap form that flags a
    * small source wholly swallowed by a big one, which plain Jaccard
    * dilutes away).
    *
    * Scale shape: the corpus collapses to the DISTINCT (source, gram)
    * frame first — one map-combined aggregate — and the pair counts come
    * from the gram-keyed self-join of that frame: candidates are
    * Σ_g C(k_g, 2) with k_g ≤ |sources|, so the output is bounded by
    * |sources|² and the join never touches corpus-scale pair counts. A
    * syndication hub gram (present in every source) is exactly the AQE
    * skew-split case; per-source totals join in at |sources| rows. */
  def q150(spark: SparkSession, dir: String): DataFrame = {
    // scratch-checkpointed: consumed 3x (both self-join sides + per-source
    // totals) — one materialization of the explode+distinct, no stranded
    // cache entry (Checkpoints.scratch discipline)
    val grams = graft.operators.Checkpoints.scratch(
      Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        explode(array_distinct(T.wordShingles(col("text"), 4))).as("g"))
      .distinct())
    val per = grams.groupBy("source").agg(count(lit(1)).as("n"))
    grams.select(col("source").as("source_a"), col("g"))
      .join(grams.select(col("source").as("source_b"), col("g")),
        Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(per.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(per.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .withColumn("containment_ppm",
        expr("n_shared * 1000000 div least(na, nb)"))
      .select("source_a", "source_b", "n_shared", "containment_ppm")
      .orderBy("source_a", "source_b")
  }

  val q150Sql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(range(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
      |  FROM toks
      |), per AS (
      |  SELECT source, COUNT(*) AS n FROM grams GROUP BY source
      |), sh AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(n_shared * 1000000 // LEAST(pa.n, pb.n) AS BIGINT) AS containment_ppm
      |FROM sh
      |JOIN per pa ON pa.source = source_a
      |JOIN per pb ON pb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** q60 distinctive terms (TF-IDF shape, integer-exact): term frequency per
    * source vs corpus-wide document frequency, scored as floor(1e6·tf/df) —
    * the rational-number rank avoids cross-engine log()/double drift while
    * keeping the tf/idf ordering. Top-3 terms per source via one windowed
    * rank over the (source, token) aggregate. */
  def q60(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("source")
      .orderBy(desc("score_x1e6"), desc("tf"), col("token"))
    tf.join(dfreq, "token")
      .withColumn("score_x1e6", floor(lit(1000000.0) * col("tf") / col("df")))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select("source", "rnk", "token", "tf", "df", "score_x1e6")
      .orderBy("source", "rnk")
  }

  val q60Sql =
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents
      |), tf AS (
      |  SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      |  SELECT token, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
      |), s AS (
      |  SELECT tf.source, tf.token, tf.tf, df.df,
      |    CAST(FLOOR(1000000.0 * tf.tf / df.df) AS BIGINT) AS score_x1e6
      |  FROM tf JOIN df USING (token)
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY score_x1e6 DESC, tf DESC, token) AS BIGINT) AS rnk
      |  FROM s
      |)
      |SELECT source, rnk, token, tf, df, score_x1e6 FROM r WHERE rnk <= 3
      |ORDER BY source, rnk""".stripMargin

  /** q61 repetition quality (Gopher-style duplicate-token rule): per-doc
    * distinct-token ratio as integer millionths plus the resulting gate
    * flag — a narrow per-row map, no shuffle before the final sort. */
  def q61(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(w).cast(LongType).as("n_tokens"),
        size(array_distinct(w)).cast(LongType).as("n_distinct"))
      .withColumn("rep_x1e6",
        floor(lit(1000000.0) * (col("n_tokens") - col("n_distinct")) / col("n_tokens")))
      .withColumn("repetitive", (col("rep_x1e6") >= 600000L).cast(IntegerType))
      .orderBy("doc_id")
  }

  val q61Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens, n_distinct,
      |  CAST(FLOOR(1000000.0 * (n_tokens - n_distinct) / n_tokens) AS BIGINT) AS rep_x1e6,
      |  CAST(FLOOR(1000000.0 * (n_tokens - n_distinct) / n_tokens) >= 600000
      |    AS INTEGER) AS repetitive
      |FROM m ORDER BY doc_id""".stripMargin

  /** q66 stratified sampling: per-stratum rates (half of Spanish docs, a
    * tenth of everything else) through the same deterministic md5 bucket
    * primitive as q44/q54 — reproducible on any engine or cluster layout,
    * unlike rand()-based sampleBy. The rate expression is a narrow map, so
    * the sample is a pushed-down filter over the scan. */
  def q66(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "es", lit(5L)).otherwise(lit(1L))
    Tables.load(spark, dir, "documents")
      .filter(T.hashBucket(col("doc_id"), 10) < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val q66Sql =
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 <
      |  CASE WHEN lang = 'es' THEN 5 ELSE 1 END
      |ORDER BY doc_id""".stripMargin

  /** q67 distribution ranks (the window functions q17 left out): quartile
    * bucket (ntile), percent_rank and cume_dist as exact-rational millionths
    * — the document-length stratification a curriculum/length-balanced
    * sampler runs. One (lang) shuffle serves all four window functions. */
  def q67(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(4).over(w).cast(LongType).as("len_quartile"),
        floor(percent_rank().over(w) * 1000000.0).as("pct_rank_x1e6"),
        floor(cume_dist().over(w) * 1000000.0).as("cume_x1e6"))
      .orderBy("doc_id")
  }

  val q67Sql =
    """SELECT doc_id, lang, n_chars,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS len_quartile,
      |  CAST(FLOOR(PERCENT_RANK() OVER w * 1000000.0) AS BIGINT) AS pct_rank_x1e6,
      |  CAST(FLOOR(CUME_DIST() OVER w * 1000000.0) AS BIGINT) AS cume_x1e6
      |FROM documents
      |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q68 array (higher-order) function surface over the embedding vectors:
    * dimensionality, exact min/max components, argmax position — all narrow
    * per-row array kernels (no explode, no shuffle). Float components are
    * widened to double (exact) and floored to millionths, so the same bits
    * come out of both engines. */
  def q68(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        floor(array_min(col("embedding")).cast(DoubleType) * 1000000.0)
          .as("min_x1e6"),
        floor(array_max(col("embedding")).cast(DoubleType) * 1000000.0)
          .as("max_x1e6"),
        array_position(col("embedding"), array_max(col("embedding")))
          .as("argmax_pos"))
      .orderBy("vec_id")

  val q68Sql =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  CAST(FLOOR(CAST(list_min(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS min_x1e6,
      |  CAST(FLOOR(CAST(list_max(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS max_x1e6,
      |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** q127 BPE merge step — the inner loop of byte-pair-encoding tokenizer
    * training (Sennrich et al., "Neural Machine Translation of Rare Words
    * with Subword Units", ACL 2016): over the word-frequency table (the real
    * algorithm's working set — corpus-vocabulary-sized, never corpus-sized),
    * count adjacent symbol pairs weighted by word frequency, pick the most
    * frequent pair, MERGE it (left-to-right non-overlapping `replace`, the
    * greedy BPE application order), and re-count — the exact state the next
    * merge round would consume. The merged symbol travels as chr(1) (absent
    * from the corpus) and is rendered back for the output. Everything is
    * string/integer ops both engines evaluate identically, so the
    * data-dependent fixed point (the chosen pair CHANGES the round-2 counts)
    * is hash-verified cross-engine.
    *
    * Scale shape: word frequencies are one map-combined aggregate; each
    * round is one explode over vocabulary words + one pair aggregate; the
    * chosen pair is a 1-row broadcast (parameter-sized by construction). */
  /** The reusable BPE step over a word-frequency frame (`word`, `f`):
    * round-1 pair counts → argmax merge → round-2 pair counts with the
    * merged symbol rendered back. Generator-driven parity with a
    * driver-side reference implementation is asserted in PropertySpec. */
  def bpeMergeStep(words0: DataFrame): DataFrame = {
    def pairCounts(df: DataFrame, wcol: String): DataFrame = df
      .filter(length(col(wcol)) >= 2) // guard: sequence(1,0) would DESCEND
      .select(col("f"), col(wcol).as("w"),
        explode(sequence(lit(1), length(col(wcol)) - 1)).as("i"))
      .select(expr("substring(w, i, 1)").as("a"),
        expr("substring(w, i + 1, 1)").as("b"), col("f"))
      .groupBy("a", "b").agg(sum("f").as("cnt"))

    // consumed by the round-1 count AND the lazily returned merge pass: a
    // scratch copy, since the returned plan has no point to unpersist at
    val words = graft.operators.Checkpoints.scratch(words0)
    // the chosen pair is a 1-row PARAMETER (like an ANN query vector): fetch
    // it once instead of re-evaluating the round-1 aggregate under two
    // crossJoin consumers — this is also the real trainer's shape, where
    // the merge table lives on the driver and grows one entry per step
    val bpRow = pairCounts(words, "word")
      .orderBy(desc("cnt"), col("a"), col("b")).limit(1)
      .select(concat(col("a"), col("b")).as("bp"))
      .take(1)
    if (bpRow.isEmpty) {
      // degenerate vocabulary (every word a single symbol): nothing to
      // merge, and round 2 would be identical — return the empty pair
      // table rather than crashing on the missing argmax. Free only a copy
      // this call made: a caller's own scratch frame comes back as `words`
      if (words ne words0) graft.operators.Checkpoints.release(words)
      return words0.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sym_a",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("sym_b",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType))))
    }
    val bp = bpRow.head.getString(0)
    val mergedSym = lit("\u0001") // chr(1): absent from any text corpus
    val merged = words
      .select(replace(col("word"), lit(bp), mergedSym).as("w2"), col("f"))
    pairCounts(merged, "w2")
      .select(replace(col("a"), mergedSym, lit(bp)).as("sym_a"),
        replace(col("b"), mergedSym, lit(bp)).as("sym_b"), col("cnt"))
      .orderBy(desc("cnt"), col("sym_a"), col("sym_b"))
  }

  def q127(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
    bpeMergeStep(words).limit(10)
  }

  /** q135 BPE merge TABLE — the artifact a tokenizer trainer actually
    * produces: the first `steps` merges in order, each row the argmax
    * adjacent-symbol pair (rendered to full strings) with its
    * frequency-weighted count at selection time. The q127 single step run
    * as the real induction loop: after each merge the vocabulary is
    * rewritten with a fresh placeholder symbol (chr(step), absent from any
    * text corpus) and the next round counts over the MERGED symbols, so
    * step 2 can and does pick pairs containing step 1's token. Each round
    * is one vocabulary-sized aggregate; the chosen pair is a 1-row
    * parameter fetch; retired vocabulary checkpoints are freed per step.
    * The oracle chains the same rounds as CTEs and renders placeholders
    * back through the earlier merges — hash-verifying the whole
    * data-dependent induction. */
  /** The q135/q137/q144 induction core, TRAIN-ONCE: run `steps` BPE merge
    * rounds over the corpus word-frequency table and return (merge log,
    * placeholder→expansion render map) — both small deterministic DRIVER
    * values, so they memoize safely in the [[graft.ann.Models]] registry
    * keyed by (session, corpus stamp, steps): the data-dependent fixed
    * point (the expensive half — `steps` vocabulary aggregates with
    * per-round materialization) runs once per corpus and every consumer
    * (merge table, vocabulary, encoder) replays the learned merges as a
    * lazy narrow expression. The tokenizer-serving contract, same as the
    * ANN model registry: train per corpus, serve per query. */
  private[queries] def bpeMerges(spark: SparkSession, dir: String, steps: Int)
      : (Seq[BpeMerge], Map[Char, String]) =
    graft.ann.Models.cachedLatest[(Seq[BpeMerge], Map[Char, String])](
      "bpe:" + graft.ann.Models.sessionId(spark) + ":" + steps + ":" + dir,
      graft.ann.Models.corpusStamp(spark, dir, "documents"))(
      bpeInduction(spark, dir, steps))

  /** One full induction run (no memo) on [[graft.operators.Rounds]]: each
    * round rewrites the vocabulary with the chosen merge into a scratch
    * checkpoint and fetches the next argmax pair (a 1-row driver parameter
    * fetch over one vocabulary-sized aggregate); the loop stops after
    * `steps` merges or when no pair is left. Earlier rounds' vocabularies
    * are freed one round late and the last one on return: consumers
    * rebuild the vocabulary lazily from the merges. */
  private[queries] def bpeInduction(spark: SparkSession, dir: String, steps: Int)
      : (Seq[BpeMerge], Map[Char, String]) = {
    def pairCounts(df: DataFrame, wcol: String): DataFrame = df
      .filter(length(col(wcol)) >= 2)
      .select(col("f"), col(wcol).as("w"),
        explode(sequence(lit(1), length(col(wcol)) - 1)).as("i"))
      .select(expr("substring(w, i, 1)").as("a"),
        expr("substring(w, i + 1, 1)").as("b"), col("f"))
      .groupBy("a", "b").agg(sum("f").as("cnt"))

    // the argmax adjacent pair (a, b, cnt) of a vocabulary, if any is left
    def best(words: DataFrame): Option[Row] = pairCounts(words, "word")
      .orderBy(desc("cnt"), col("a"), col("b")).limit(1)
      .take(1).headOption // 1-row parameter fetch, like the ANN query vector
    var render = Map.empty[Char, String] // placeholder -> plain expansion
    def expand(s: String): String =
      s.flatMap(c => render.getOrElse(c, c.toString))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    val words0 = graft.operators.Checkpoints.scratch(
      Tables.parallelized(Tables.load(spark, dir, "documents"))
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("f")))
    val pair0 = if (steps > 0) best(words0) else None
    // a vocabulary whose words are all single symbols has no pair left to
    // learn: a real trainer stops there too
    val (last, _) = Rounds.iterate(
        Round((words0, pair0), Seq(words0), more = pair0.nonEmpty), steps) {
      case ((words, pair), step) =>
        val (a, b, cnt) = (pair.get.getString(0), pair.get.getString(1),
          pair.get.getLong(2))
        val sym = step.toChar // chr(1), chr(2), ... — never in corpus text
        render += sym -> expand(a + b)
        merges += BpeMerge(step.toLong, a, b, expand(a), expand(b), cnt)
        val next = graft.operators.Checkpoints.scratch(words
          .select(replace(col("word"), lit(a + b), lit(sym.toString)).as("word"),
            col("f")))
        val nextPair = if (step < steps) best(next) else None
        Round((next, nextPair), Seq(next), more = nextPair.nonEmpty)
    }
    graft.operators.Checkpoints.release(last.frames: _*)
    (merges.toSeq, render)
  }

  def q135(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val (merges, _) = bpeMerges(spark, dir, steps)
    spark.createDataFrame(
        merges.map(m => (m.step, m.expandedA, m.expandedB, m.cnt)))
      .toDF("step", "sym_a", "sym_b", "pair_count")
      .orderBy("step")
  }

  /** q137 tokenizer vocabulary — the second artifact a BPE trainer ships:
    * the per-symbol frequency table of the corpus AFTER the learned merges
    * are applied (q135 produces the merge log; this produces the vocab).
    * The merged vocabulary is exploded back to single symbols (placeholders
    * included), aggregated by frequency-weighted count, and the
    * placeholders are rendered to their full expansions through the driver-
    * side render map — a 3-entry literal map lookup, never a join. The
    * merged vocabulary is served lazily from the memoized merge log (one
    * fold of replaces over the base word aggregate — see [[bpeMerges]]),
    * so only the first tokenizer-family query per corpus pays the fixed
    * point. The oracle replays the merges as chained CTEs and renders via
    * CASE. */
  def q137(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val (merges, render) = bpeMerges(spark, dir, steps)
    val renderMap = typedLit(render.map { case (k, v) => (k.toString, v) })
    // Rebuild the post-merge vocabulary LAZILY: the sequential per-round
    // rewrites compose to one fold of replaces over the base word table
    // (identical composition to the loop's materialized rounds), so serving
    // the vocab costs one narrow map over one aggregate — no fixed point.
    val mergedWord = merges.foldLeft(col("word")) { (c, m) =>
      replace(c, lit(m.rawA + m.rawB), lit(m.step.toChar.toString))
    }
    val words = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(mergedWord.as("word"), col("f"))
    words
      .select(col("f"), col("word").as("w"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(expr("substring(w, i, 1)").as("s"), col("f"))
      .withColumn("symbol", coalesce(element_at(renderMap, col("s")), col("s")))
      .groupBy("symbol").agg(sum("f").as("freq"))
      .orderBy(desc("freq"), col("symbol"))
      .limit(30)
  }

  val q135Sql =
    """WITH wf AS (
      |  SELECT word, COUNT(*) AS f FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word
      |), p1 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM wf)
      |  GROUP BY 1, 2
      |), b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1
      |), w2 AS (
      |  SELECT replace(word, b1.a || b1.b, chr(1)) AS word, f
      |  FROM wf CROSS JOIN b1
      |), p2 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w2)
      |  GROUP BY 1, 2
      |), b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1
      |), w3 AS (
      |  SELECT replace(word, b2.a || b2.b, chr(2)) AS word, f
      |  FROM w2 CROSS JOIN b2
      |), p3 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w3)
      |  GROUP BY 1, 2
      |), b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1
      |), x1 AS (SELECT b1.a || b1.b AS e FROM b1
      |), x2 AS (
      |  SELECT replace(b2.a || b2.b, chr(1), x1.e) AS e FROM b2 CROSS JOIN x1
      |)
      |SELECT CAST(1 AS BIGINT) AS step, b1.a AS sym_a, b1.b AS sym_b,
      |  b1.cnt AS pair_count FROM b1
      |UNION ALL
      |SELECT 2, replace(b2.a, chr(1), x1.e), replace(b2.b, chr(1), x1.e),
      |  b2.cnt FROM b2 CROSS JOIN x1
      |UNION ALL
      |SELECT 3,
      |  replace(replace(b3.a, chr(2), x2.e), chr(1), x1.e),
      |  replace(replace(b3.b, chr(2), x2.e), chr(1), x1.e),
      |  b3.cnt FROM b3 CROSS JOIN x1 CROSS JOIN x2
      |ORDER BY step""".stripMargin

  val q137Sql =
    """WITH wf AS (
      |  SELECT word, COUNT(*) AS f FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word
      |), p1 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM wf)
      |  GROUP BY 1, 2
      |), b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1
      |), w2 AS (
      |  SELECT replace(word, b1.a || b1.b, chr(1)) AS word, f
      |  FROM wf CROSS JOIN b1
      |), p2 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w2)
      |  GROUP BY 1, 2
      |), b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1
      |), w3 AS (
      |  SELECT replace(word, b2.a || b2.b, chr(2)) AS word, f
      |  FROM w2 CROSS JOIN b2
      |), p3 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w3)
      |  GROUP BY 1, 2
      |), b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1
      |), w4 AS (
      |  SELECT replace(word, b3.a || b3.b, chr(3)) AS word, f
      |  FROM w3 CROSS JOIN b3
      |), x1 AS (SELECT b1.a || b1.b AS e FROM b1
      |), x2 AS (
      |  SELECT replace(b2.a || b2.b, chr(1), x1.e) AS e FROM b2 CROSS JOIN x1
      |), x3 AS (
      |  SELECT replace(replace(b3.a || b3.b, chr(2), x2.e), chr(1), x1.e) AS e
      |  FROM b3 CROSS JOIN x2 CROSS JOIN x1
      |), syms AS (
      |  SELECT substr(word, i, 1) AS s, f
      |  FROM (SELECT word, f, unnest(range(1, length(word) + 1)) AS i FROM w4)
      |)
      |SELECT CASE s WHEN chr(1) THEN x1.e WHEN chr(2) THEN x2.e
      |    WHEN chr(3) THEN x3.e ELSE s END AS symbol,
      |  CAST(SUM(f) AS BIGINT) AS freq
      |FROM syms CROSS JOIN x1 CROSS JOIN x2 CROSS JOIN x3
      |GROUP BY 1
      |ORDER BY freq DESC, symbol LIMIT 30""".stripMargin

  /** q144 BPE ENCODING — the apply side of the tokenizer the q135 induction
    * trains, closing the family (q127 one step, q135 merge table, q137
    * vocabulary, q144 encoder): replay the learned merges over every
    * document and report per-source token economics — word count, raw
    * chars, post-merge token count, and tokens-per-million-chars (the
    * compression ratio a pretraining-budget planner actually reads).
    *
    * The merge table is applied exactly the way a real BPE encoder does:
    * in training order, each merge a left-to-right non-overlapping
    * `replace` in SYMBOL space (placeholders chr(1..k) stand for earlier
    * merges, so merge 3 can consume merge 1's token — the raw pairs, not
    * the rendered expansions, are what an encoder stores and replays).
    *
    * Scale shape: induction runs over the vocabulary-sized word-frequency
    * table (the q135 loop); the learned merges then ride into codegen as
    * chained literal `replace` calls — the corpus-sized pass is ONE narrow
    * projection + one map-combined aggregate, no join against a vocabulary
    * table and no shuffle before the |sources|-row rollup. A production
    * encoder with 50k merges would compile the merge table into a trie
    * expression rather than 50k replaces, but the per-row contract — merge
    * table as broadcast-sized parameter, encode as a narrow map — is
    * exactly this. */
  def q144(spark: SparkSession, dir: String, steps: Int = 3): DataFrame = {
    val (merges, _) = bpeMerges(spark, dir, steps)
    val encoded = merges.foldLeft(col("w")) { (c, m) =>
      replace(c, lit(m.rawA + m.rawB), lit(m.step.toChar.toString))
    }
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .withColumn("m", encoded)
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast(LongType).as("sum_chars"),
        sum(length(col("m"))).cast(LongType).as("n_tokens"))
      .withColumn("tokens_per_mchar",
        expr("n_tokens * 1000000 div sum_chars"))
      .orderBy("source")
  }

  /** The oracle re-learns the same 3 merges as chained CTEs (the q135Sql
    * prefix) and replays them over the exploded corpus with the identical
    * replace chain — hash-verifying induction AND application. */
  val q144Sql: String =
    """WITH wf AS (
      |  SELECT word, COUNT(*) AS f FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word
      |), p1 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM wf)
      |  GROUP BY 1, 2
      |), b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1
      |), w2 AS (
      |  SELECT replace(word, b1.a || b1.b, chr(1)) AS word, f
      |  FROM wf CROSS JOIN b1
      |), p2 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w2)
      |  GROUP BY 1, 2
      |), b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1
      |), w3 AS (
      |  SELECT replace(word, b2.a || b2.b, chr(2)) AS word, f
      |  FROM w2 CROSS JOIN b2
      |), p3 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM w3)
      |  GROUP BY 1, 2
      |), b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1
      |), dw AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      |), enc AS (
      |  SELECT source, w,
      |    replace(replace(replace(w,
      |      b1.a || b1.b, chr(1)), b2.a || b2.b, chr(2)), b3.a || b3.b, chr(3)) AS m
      |  FROM dw CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN b3
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(length(w)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(length(m)) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(m)) * 1000000 // SUM(length(w)) AS BIGINT) AS tokens_per_mchar
      |FROM enc GROUP BY source ORDER BY source""".stripMargin

  /** q139 temperature-weighted mixture sampling — how a pretraining corpus
    * balances its sources: a source with n docs gets sampling weight
    * n^(1/2) (temperature τ=2 in the Σnᵢ^(1/τ) convention — upweights
    * small sources, damps the head), a document budget is split by floor
    * division over the weights, and each source's quota is realized
    * deterministically by ranking docs on an engine-portable md5 hash —
    * the same "hash as reproducible randomness" contract as q44/q84.
    * Everything is integer-exact EXCEPT sqrt, which IEEE 754 requires to
    * be correctly rounded — the one transcendental-looking function that
    * is still bit-identical across engines, so ⌊√n⌋ hash-matches where
    * ⌊n^0.9⌋ would not. Plan: one count aggregate, a scalar cross join,
    * one per-source window rank (single keyed shuffle), one aggregate —
    * no collect, quota realization scales with the corpus. The checksum
    * column proves ROW-LEVEL selection parity, not just quota counts. */
  def q139(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs"))))
    val wsum = bySrc.agg(sum("weight").as("wsum"))
    val target = bySrc.crossJoin(wsum) // 1-row scalar side
      .withColumn("target_docs",
        least(col("n_docs"), expr("1000 * weight div wsum")))
    val ranked = docs
      .withColumn("hk", T.portableHash60(col("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))))
    val picked = ranked
      .join(target.select("source", "target_docs"), "source")
      .filter(col("rk") <= col("target_docs"))
      .groupBy("source")
      .agg(count(lit(1)).as("picked_docs"), sum("doc_id").as("picked_checksum"))
    target.join(picked, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("weight"), col("target_docs"),
        coalesce(col("picked_docs"), lit(0L)).as("picked_docs"),
        coalesce(col("picked_checksum"), lit(0L)).as("picked_checksum"))
      .orderBy("source")
  }

  val q139Sql =
    """WITH bys AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS weight
      |  FROM documents GROUP BY source
      |), tot AS (SELECT SUM(weight) AS wsum FROM bys
      |), tgt AS (
      |  SELECT source, n_docs, weight,
      |    LEAST(n_docs, 1000 * weight // tot.wsum) AS target_docs
      |  FROM bys CROSS JOIN tot
      |), ranked AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
      |      doc_id) AS rk
      |  FROM documents
      |), picked AS (
      |  SELECT r.source, COUNT(*) AS picked_docs, SUM(r.doc_id) AS picked_checksum
      |  FROM ranked r JOIN tgt ON tgt.source = r.source
      |  WHERE r.rk <= tgt.target_docs
      |  GROUP BY r.source
      |)
      |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs, t.weight,
      |  CAST(t.target_docs AS BIGINT) AS target_docs,
      |  CAST(COALESCE(p.picked_docs, 0) AS BIGINT) AS picked_docs,
      |  CAST(COALESCE(p.picked_checksum, 0) AS BIGINT) AS picked_checksum
      |FROM tgt t LEFT JOIN picked p ON p.source = t.source
      |ORDER BY t.source""".stripMargin

  val q127Sql =
    """WITH wf AS (
      |  SELECT word, COUNT(*) AS f FROM
      |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word
      |), p1 AS (
      |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT word, f, unnest(range(1, length(word))) AS i FROM wf)
      |  GROUP BY 1, 2
      |), best AS (
      |  SELECT a || b AS bp FROM p1 ORDER BY cnt DESC, a, b LIMIT 1
      |), merged AS (
      |  SELECT replace(word, bp, chr(1)) AS w2, f FROM wf CROSS JOIN best
      |), p2 AS (
      |  SELECT substr(w2, i, 1) AS a, substr(w2, i + 1, 1) AS b,
      |    CAST(SUM(f) AS BIGINT) AS cnt
      |  FROM (SELECT w2, f, unnest(range(1, length(w2))) AS i FROM merged)
      |  GROUP BY 1, 2
      |)
      |SELECT replace(a, chr(1), bp) AS sym_a, replace(b, chr(1), bp) AS sym_b,
      |  cnt
      |FROM p2 CROSS JOIN best
      |ORDER BY cnt DESC, sym_a, sym_b LIMIT 10""".stripMargin

  /** q128 incremental-batch dedup — dedup AT INGESTION, the production shape
    * (a new batch arrives; the corpus is already indexed): batch docs whose
    * portable 60-bit content fingerprint already exists in the corpus are
    * dropped, then in-batch duplicates keep the min doc_id, and the
    * per-source ingest report (batch / dropped-vs-existing / dropped-in-batch
    * / ingested) is the audit a continuous pipeline publishes. The batch is
    * the md5 doc_id bucket 0 (the q59 split convention). Scale shape: the
    * existing-corpus side is ONE distinct-fingerprint aggregate (write-once
    * in a real deployment — the fingerprint index); the batch joins it on
    * the fingerprint key (AQE decides strategy; the batch is typically the
    * small side but is data, so no forced hint), and in-batch survivorship
    * is one more fingerprint aggregate. Candidates ∝ batch, never corpus². */
  def q128(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .withColumn("fp", T.portableHash60(col("text")))
      .withColumn("is_new", T.hashBucket(col("doc_id"), 10) === 0)
    val existingFps = docs.filter(!col("is_new")).select("fp").distinct()
    val batch = docs.filter(col("is_new"))
      .join(existingFps.withColumn("hit", lit(1)), Seq("fp"), "left")
      .withColumn("dup_existing", col("hit").isNotNull)
    val survivorIds = batch.filter(!col("dup_existing"))
      .groupBy("fp").agg(min("doc_id").as("keep_id"))
    batch
      .join(survivorIds, Seq("fp"), "left")
      .withColumn("ingested", !col("dup_existing") && col("doc_id") === col("keep_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("dup_existing"), 1L).otherwise(0L)).as("n_dup_existing"),
        sum(when(!col("dup_existing") && !col("ingested"), 1L).otherwise(0L))
          .as("n_dup_in_batch"),
        sum(when(col("ingested"), 1L).otherwise(0L)).as("n_ingested"))
      .orderBy("source")
  }

  val q128Sql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |      AS is_new
      |  FROM documents
      |), ex AS (
      |  SELECT DISTINCT fp FROM d WHERE NOT is_new
      |), b AS (
      |  SELECT d.doc_id, d.source, d.fp,
      |    d.fp IN (SELECT fp FROM ex) AS dup_existing
      |  FROM d WHERE is_new
      |), surv AS (
      |  SELECT fp, MIN(doc_id) AS keep_id FROM b WHERE NOT dup_existing
      |  GROUP BY fp
      |)
      |SELECT b.source, COUNT(*) AS n_batch,
      |  CAST(SUM(CASE WHEN b.dup_existing THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_existing,
      |  CAST(SUM(CASE WHEN NOT b.dup_existing AND b.doc_id <> s.keep_id
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
      |  CAST(SUM(CASE WHEN NOT b.dup_existing AND b.doc_id = s.keep_id
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested
      |FROM b LEFT JOIN surv s USING (fp)
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  /** q129 Markov next-event model, trained AND evaluated in-engine with a
    * temporal split — the shape of every sequence-model eval: transitions
    * observed up to the global 80th-percentile timestamp train a bigram
    * (first-order Markov) model, the argmax next-event per state is the
    * prediction, and transitions landing after the cut are the held-out
    * test set. Leakage-free by construction: a transition trains iff its
    * TARGET is at or before the cut, so no test-period observation touches
    * the model. Everything is exact — the cut is 80% of the observed time
    * RANGE in integer milliseconds (min + (max−min)·8 div 10: one
    * distributed min/max aggregate — a global rank statistic would need a
    * single-partition sort, the plan shape this engine bans); the argmax
    * resolves ties lexicographically; accuracy is floor-ppm.
    *
    * Scale shape: transitions are one per-user window pass (a single keyed
    * shuffle); the model is states×states counts (event-vocabulary-sized,
    * not corpus-sized); the cut is a 1-row broadcast; the model join keys
    * on the state (AQE-decided — the state vocabulary is data). */
  def q129(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("tms"))
    // the temporal cut: 80% of the time range — a 1-row parameter, broadcast
    val cut = e.agg(
      expr("min(tms) + (max(tms) - min(tms)) * 8 div 10").as("cut_ms"))
    val nxt = Window.partitionBy("user_id").orderBy("tms", "event_id")
    val pairs = e
      .withColumn("b", lead("event_type", 1).over(nxt))
      .withColumn("b_tms", lead("tms", 1).over(nxt))
      .filter(col("b").isNotNull)
      .crossJoin(broadcast(cut))
      .withColumn("is_train", col("b_tms") <= col("cut_ms"))
      .select(col("event_type").as("a"), col("b"), col("is_train"))
    val model = pairs.filter(col("is_train"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(desc("cnt"), col("b"))))
      .filter(col("rk") === 1)
      .select(col("a"), col("b").as("predicted"))
    pairs.filter(!col("is_train"))
      .join(model, Seq("a"), "left")
      .groupBy(col("a").as("prev_event"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("b") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"),
        max("predicted").as("predicted")) // ≤1 prediction per state: max = it
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_test"))
      .orderBy("prev_event")
  }

  val q129Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms FROM events
      |), cut AS (
      |  SELECT MIN(tms) + (MAX(tms) - MIN(tms)) * 8 // 10 AS cut_ms FROM e
      |), pairs AS (
      |  SELECT event_type AS a,
      |    lead(event_type) OVER w AS b,
      |    lead(tms) OVER w AS b_tms
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
      |), tagged AS (
      |  SELECT a, b, b_tms <= cut_ms AS is_train
      |  FROM pairs CROSS JOIN cut WHERE b IS NOT NULL
      |), model AS (
      |  SELECT a, b AS predicted FROM (
      |    SELECT a, b, ROW_NUMBER() OVER
      |      (PARTITION BY a ORDER BY COUNT(*) DESC, b) AS rk
      |    FROM tagged WHERE is_train GROUP BY a, b)
      |  WHERE rk = 1
      |)
      |SELECT t.a AS prev_event, COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN t.b = m.predicted THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  MAX(m.predicted) AS predicted,
      |  CAST(SUM(CASE WHEN t.b = m.predicted THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS acc_ppm
      |FROM tagged t LEFT JOIN model m USING (a)
      |WHERE NOT t.is_train
      |GROUP BY t.a ORDER BY prev_event""".stripMargin

  /** q130 class-balanced downsampling — equalize class sizes by keeping,
    * per class, exactly min-class-size rows chosen by deterministic hash
    * order (the md5-of-key ranking every reproducible sampler here uses):
    * the majority-class downsampling step of a classifier training set,
    * with a selection any engine can replay. One lang-keyed window ranks
    * candidates (a single keyed shuffle); the min class size is a 1-row
    * broadcast parameter. */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"))
      .withColumn("hk", md5(col("doc_id").cast(StringType)))
    val minSize = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("m"))
    docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy("hk", "doc_id")).cast(LongType))
      .crossJoin(broadcast(minSize))
      .filter(col("rk") <= col("m"))
      .select("lang", "doc_id", "rk")
      .orderBy("lang", "rk")
  }

  val q130Sql =
    """WITH d AS (
      |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
      |), m AS (
      |  SELECT MIN(n) AS m FROM
      |    (SELECT COUNT(*) AS n FROM d GROUP BY lang)
      |), r AS (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id)
      |      AS BIGINT) AS rk
      |  FROM d
      |)
      |SELECT lang, doc_id, rk FROM r CROSS JOIN m
      |WHERE rk <= m ORDER BY lang, rk""".stripMargin

  /** q131 dedup-cluster size distribution — the corpus-health histogram the
    * q58 clustering exists to feed: how many near-dup clusters of each size
    * the corpus contains (size 1 = unique docs; a heavy tail means the
    * dedup threshold or upstream crawl needs attention). Composes the q58
    * connected components verbatim with two map-combined aggregates; the
    * oracle replays the same recursive-CTE reachability. */
  def q131(spark: SparkSession, dir: String): DataFrame =
    q58(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val q131Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
      |  FROM toks
      |), gsets AS (
      |  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1 AND a.bg = b.bg
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM gsets sa JOIN gsets sb ON sb.doc_id = sa.doc_id + 1
      |  LEFT JOIN inter i ON i.doc_a = sa.doc_id
      |  WHERE FLOOR(1000000.0 * COALESCE(i.i, 0) / (sa.n + sb.n - COALESCE(i.i, 0))) >= 60000
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
      |), labels AS (
      |  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
      |), sizes AS (
      |  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id
      |)
      |SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes
      |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** q159 semantic (embedding-space) dedup — the SemDeDup shape: generate
    * candidate pairs from a BLOCKING structure, verify each candidate with
    * the exact integer quantized-cosine kernel (q110), drop every vector
    * whose verified neighbor has a smaller id (deterministic min-id
    * survivorship, the q26 rule lifted into embedding space).
    *
    * Blocking is TWO-level — (label, hyperplane-LSH band) — because either
    * level alone fails at scale: the label (the deterministic stand-in for
    * the IVF coarse cell of q49/q103) is corpus-sized in real deployments,
    * so label-only blocking is Σ label² ≈ corpus² pairs; the band level cuts
    * every label block to its band-collision subsets, making candidate count
    * ∝ collisions (observed ~10× under all-pairs on the fixture, and the
    * reduction grows with block size since collisions are per-pair
    * probability, not per-block). Banded candidates are the declared
    * semantics, exactly as in every production ANN-backed dedup: the recall
    * of the banding (9 bands × 7 bits here) against the threshold is the
    * calibration tradeoff, and both band shape and the 0.15 cos²-ppm
    * threshold are knobs (SURVEY §2.13).
    *
    * The signature is PORTABLE (the q99 MinHash pattern): bit t of the
    * 63-bit signature is [Σ_j qv_j·c(t,j) ≥ 0] with integer plane
    * coefficients c(t,j) = ((1299709·(t·dim+j) + 15485863) mod 1000003) −
    * 500001 — pure int64 arithmetic both engines evaluate identically, so
    * the DuckDB oracle replays the ENTIRE pipeline (banding included), not
    * just row counts — and it is native: `portable_hyperplane_sig` runs the
    * 63×dim multiply-accumulate as one codegen'd loop with the coefficients
    * computed inline (a JVM-seeded plane matrix is exactly what an external
    * engine cannot reproduce). Scale shape: the band explode is
    * 9 slim rows per vector, candidates dedup to (label, id_a, id_b) before
    * the two corpus hash-joins fetch vectors, and the verify kernel is the
    * codegen'd `dot_i64`. */
  def q159(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.parallelized(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 100).cast(LongType)).as("qv"))
      .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))
      .filter(col("nrm") > 0)
    // 63-bit portable hyperplane signature (native codegen'd expression,
    // one fused 63×dim loop per row — the nested-HOF composition of the
    // same algebra is interpreted per bit), sliced into 9 bands × 7 bits.
    // Ceiling note (the r12 q30/q28 audit): fixed 7-bit bands cap buckets
    // at 128 per (label, band), so within-label candidates grow ∝
    // n_label²/128 eventually — label-keying splits the hot mass enough
    // that this measures FLAT through ×30 data (0.69 s, SCALING_r12), and
    // the escape hatch at larger per-label corpora is the q30 remedy:
    // corpus-adaptive width w = bitlen(n−1) clamped [7,21], bands = 63
    // div w, replayable via length(bin(n−1)) on both engines.
    val bands = q
      .withColumn("sig", call_function("portable_hyperplane_sig", col("qv")))
      .select(col("label"), col("vec_id"),
        explode(sequence(lit(0), lit(8))).as("band_id"), col("sig"))
      .withColumn("band_val", expr("shiftright(sig, band_id * 7) & 127"))
      .select("label", "vec_id", "band_id", "band_val")
    val cand = bands.select(col("label"), col("band_id"), col("band_val"),
        col("vec_id").as("id_a"))
      .join(bands.select(col("label"), col("band_id"), col("band_val"),
        col("vec_id").as("id_b")), Seq("label", "band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("label", "id_a", "id_b").distinct()
    val dropped = cand
      .join(q.select(col("label"), col("vec_id").as("id_a"),
        col("qv").as("qa"), col("nrm").as("na")), Seq("label", "id_a"))
      .join(q.select(col("label"), col("vec_id").as("id_b"),
        col("qv").as("qb"), col("nrm").as("nb")), Seq("label", "id_b"))
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("score_x1e6",
        when(col("dot") >= 0, expr("dot * dot * 1000000 div (na * nb)"))
          .otherwise(-expr("dot * dot * 1000000 div (na * nb)")))
      .filter(col("score_x1e6") >= 150000)
      .select(col("label"), col("id_b").as("vec_id")).distinct()
      .withColumn("hit", lit(1))
    q.join(dropped, Seq("label", "vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), count(col("hit")).as("n_dropped"),
        (count(lit(1)) - count(col("hit"))).as("n_kept"))
      .orderBy("label")
  }

  val q159Sql =
    """WITH q AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM q WHERE CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) > 0
      |), s AS (
      |  SELECT vec_id, label,
      |    CAST(list_sum(list_transform(range(0, 63), t ->
      |      CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), j ->
      |        qv[j] * ((1299709 * (t * len(qv) + j - 1) + 15485863) % 1000003
      |                 - 500001))) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(t AS INTEGER)) ELSE 0 END))
      |      AS BIGINT) AS sig
      |  FROM n
      |), bands AS (
      |  SELECT label, vec_id, r.b AS band_id,
      |    (sig >> CAST(r.b * 7 AS INTEGER)) & 127 AS band_val
      |  FROM s CROSS JOIN range(0, 9) r(b)
      |), cand AS (
      |  SELECT DISTINCT a.label, a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.label = b.label AND a.band_id = b.band_id
      |   AND a.band_val = b.band_val AND a.vec_id < b.vec_id
      |), pairs AS (
      |  SELECT c.label, c.id_a, c.id_b, x.nrm AS na, y.nrm AS nb,
      |    CAST(list_sum(list_transform(range(1, len(x.qv) + 1),
      |      i -> x.qv[i] * y.qv[i])) AS BIGINT) AS dot
      |  FROM cand c
      |  JOIN n x ON x.label = c.label AND x.vec_id = c.id_a
      |  JOIN n y ON y.label = c.label AND y.vec_id = c.id_b
      |), dropped AS (
      |  SELECT DISTINCT label, id_b AS vec_id FROM pairs
      |  WHERE (CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |              ELSE -(dot * dot * 1000000 // (na * nb)) END) >= 150000
      |)
      |SELECT n.label, COUNT(*) AS n_vecs, COUNT(d.vec_id) AS n_dropped,
      |  COUNT(*) - COUNT(d.vec_id) AS n_kept
      |FROM n LEFT JOIN dropped d ON d.label = n.label AND d.vec_id = n.vec_id
      |GROUP BY n.label ORDER BY n.label""".stripMargin

  /** q160 LM-based quality scoring — the CCNet/Wikipedia-LM filter shape:
    * train a bigram language model on the held-in split, score every held-out
    * document by its mean per-bigram surprisal, roll up per source. The whole
    * statistic is INTEGER-EXACT cross-engine: surprisal of a seen bigram is
    * bitlen(ctx_count) − bitlen(bigram_count) — an exact integer-bit
    * log₂-ratio surrogate (bitlen n = ⌊log₂ n⌋ + 1, Spark `length(bin(n))`,
    * DuckDB `length(printf('%b', n))`) — and an unseen bigram pays a flat
    * 20-bit OOV penalty, the literal-parameterized stand-in for a backoff
    * model. No engine evaluates a floating log anywhere. Scale shape: the
    * model IS an aggregate (two map-combined groupBys of the train split);
    * scoring is a fact→model equi-join on the bigram key — model size is
    * vocabulary-bounded, joined unhinted so AQE picks broadcast vs shuffle
    * by measured size (the q90 lesson: vocabulary is corpus-derived, never
    * force-broadcast it). */
  def q160(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .withColumn("is_eval", T.hashBucket(col("doc_id"), 10) === 0)
      .select(col("doc_id"), col("source"), col("is_eval"),
        split(col("text"), " ").as("w"))
    val nB = size(col("w")) - 1
    val bi = docs.select(col("doc_id"), col("source"), col("is_eval"),
        explode(zip_with(slice(col("w"), lit(1), nB), slice(col("w"), lit(2), nB),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("doc_id"), col("source"), col("is_eval"),
        col("bg.w1"), col("bg.w2"))
    val trainBi = bi.filter(!col("is_eval"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val trainCtx = trainBi.groupBy("w1").agg(sum("c_xy").as("c_x"))
    val scoredDocs = bi.filter(col("is_eval"))
      .join(trainBi, Seq("w1", "w2"), "left")
      .join(trainCtx, Seq("w1"), "left")
      .withColumn("bits",
        when(col("c_xy").isNotNull,
          (length(bin(col("c_x"))) - length(bin(col("c_xy")))).cast(LongType))
          .otherwise(lit(20L)))
      .groupBy("doc_id", "source")
      .agg(sum("bits").as("doc_bits"), count(lit(1)).as("n_bg"))
    scoredDocs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_bg").as("n_bigrams"),
        sum("doc_bits").as("total_bits"))
      .withColumn("mean_surprisal_x1e3",
        expr("total_bits * 1000 div n_bigrams"))
      .orderBy("source")
  }

  val q160Sql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0 AS is_eval,
      |    string_split(text, ' ') AS w
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id, source, is_eval,
      |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |    unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
      |  FROM toks
      |), train AS (
      |  SELECT w1, w2, COUNT(*) AS c_xy FROM bi WHERE NOT is_eval GROUP BY 1, 2
      |), ctx AS (
      |  SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM train GROUP BY 1
      |), ev AS (
      |  SELECT b.doc_id, b.source,
      |    CASE WHEN t.c_xy IS NOT NULL
      |         THEN length(printf('%b', c.c_x)) - length(printf('%b', t.c_xy))
      |         ELSE 20 END AS bits
      |  FROM bi b
      |  LEFT JOIN train t ON t.w1 = b.w1 AND t.w2 = b.w2
      |  LEFT JOIN ctx c ON c.w1 = b.w1
      |  WHERE b.is_eval
      |), doc AS (
      |  SELECT doc_id, source, CAST(SUM(bits) AS BIGINT) AS doc_bits,
      |    COUNT(*) AS n_bg
      |  FROM ev GROUP BY 1, 2
      |)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(doc_bits) AS BIGINT) AS total_bits,
      |  CAST(SUM(doc_bits) * 1000 // SUM(n_bg) AS BIGINT) AS mean_surprisal_x1e3
      |FROM doc GROUP BY source ORDER BY source""".stripMargin

  /** q164 implicit-preference pair mining — the data-side construction step
    * of pairwise ranking / DPO-style training: for each (user, day), every
    * PURCHASED item is paired against every item the user merely VIEWED
    * that day and did not also purchase — (chosen, rejected) pairs from
    * implicit feedback, the standard construction when no explicit labels
    * exist (BPR's sampling rule, made exhaustive and deterministic). The
    * item id lives inside the JSON `props` payload; extraction is the
    * codegen'd `get_json_object` path, no UDF.
    *
    * Scale shape — ONE corpus scan: the per-(user, day) purchased and
    * viewed item SETS come out of a single keyed aggregate (set size
    * bounded by daily activity, the q122 basket bound), and the distinct
    * reduction, the purchased-anti rule (`array_except`) and the pair
    * fan-out (explode × explode) are all stateless array operations on the
    * aggregate's output — no self-joins, so the events table is read once
    * where the naive pos⋈neg formulation scans it twice and shuffles three
    * times. This is the SAME plan the streaming twin runs
    * ([[graft.streaming.EventStream.preferencePairsStream]]) with state
    * bounds instead of a shuffle. Output is per CHOSEN item
    * (item-vocabulary rows, aggregates map-combine). */
  def q164(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.preferencePairsStream(
        Tables.load(spark, dir, "events"))
      .groupBy("chosen")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("rejected")).as("n_rejected"))
      .orderBy("chosen")

  val q164Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      |  FROM events
      |  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
      |), pos AS (
      |  SELECT DISTINCT user_id, day, item FROM ev WHERE event_type = 'purchase'
      |), neg AS (
      |  SELECT DISTINCT v.user_id, v.day, v.item
      |  FROM ev v
      |  WHERE v.event_type = 'view' AND NOT EXISTS (
      |    SELECT 1 FROM pos p
      |    WHERE p.user_id = v.user_id AND p.day = v.day AND p.item = v.item)
      |)
      |SELECT p.item AS chosen, COUNT(*) AS n_pairs,
      |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(DISTINCT n.item) AS BIGINT) AS n_rejected
      |FROM pos p JOIN neg n ON n.user_id = p.user_id AND n.day = p.day
      |GROUP BY p.item ORDER BY chosen""".stripMargin

  /** q165 duplicate-aware flattened sampling — the "don't let one template
    * dominate" step between dedup and mixing: cluster documents by a
    * portable MinHash band key (the q99 algebra: md5 3-gram shingle hashes
    * + two fixed Carter–Wegman permutations — near-identical docs collide,
    * both engines compute the key bit-identically), then keep only ⌊√size⌋
    * members of each cluster — realized by the PURE-INTEGER rule r² ≤ size
    * on the doc_id-ordered rank, no float sqrt anywhere. Keeping √size
    * instead of 1 (dedup) or size (nothing) is the standard compromise when
    * near-dup clusters carry some diversity worth sampling. Scale shape:
    * the signature is a narrow codegen'd map, and ONE window over the
    * cluster key yields rank and size in a single keyed shuffle; docs with
    * no shingles (< 3 tokens) are excluded, same as the whole q27/q99 LSH
    * family. The checksum proves row-level selection parity. */
  def q165(spark: SparkSession, dir: String): DataFrame = {
    // the two permuted minima come from the shared corpus-stamped
    // portable-signature frame (five registry queries start there)
    val sig = graft.dedup.Dedup.portableSigs(spark, dir)
      .select(col("doc_id"), col("source"), col("s0"), col("s1"))
      .filter(col("s0").isNotNull)
    val w = Window.partitionBy("s0", "s1")
    val flagged = sig
      .withColumn("rk", row_number().over(w.orderBy("doc_id")))
      .withColumn("sz", count(lit(1)).over(w))
      .withColumn("keep", col("rk") * col("rk") <= col("sz"))
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_checksum"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
      .select("source", "n_docs", "n_kept", "n_dropped", "kept_checksum")
      .orderBy("source")
  }

  val q165Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks WHERE len(w) >= 3
      |), sig AS (
      |  SELECT doc_id, source,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
      |  FROM sh
      |), flagged AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY s0, s1 ORDER BY doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY s0, s1) AS sz
      |  FROM sig
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rk * rk <= sz THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) - SUM(CASE WHEN rk * rk <= sz THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN rk * rk <= sz THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
      |FROM flagged GROUP BY source ORDER BY source""".stripMargin

  /** q166 largest-remainder (Hamilton) token-budget apportionment — the
    * exact version of the mixture step q139 approximates with floors: a
    * literal budget of 1,000,000 training tokens is split across sources
    * proportionally to their token counts, floor quotas first, then the
    * leftover seats go to the largest fractional remainders (ties broken
    * by source asc) so the allocations sum EXACTLY to the budget — floor
    * division alone under-allocates by up to |sources|−1 tokens, and at
    * thousands of mixture cells that slack becomes a real skew. All
    * integer: quota = B·tokᵢ div T, remainder = B·tokᵢ mod T. Scale
    * shape: ONE map-combined aggregate is the only corpus pass; the total,
    * the slack, and the remainder ranking are window passes over the
    * |sources|-row aggregate (deliberately single-partition — the frame is
    * mixture-cell-sized by construction; the scalar-crossJoin formulation
    * of the same math re-planned the corpus aggregate under every consumer
    * and cost five scans). Int64 bound: B·tokᵢ overflows past
    * tokᵢ ≈ 9.2e12/B — decompose B or lift to decimal before that, noted
    * here because the query is otherwise scale-free. */
  def q166(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("t_tokens", sum("n_tokens").over(all))
      .withColumn("base", expr(s"$budget * n_tokens div t_tokens"))
      .withColumn("rem", expr(s"$budget * n_tokens % t_tokens"))
      .withColumn("n_spare", lit(budget) - sum("base").over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc_tokens",
        col("base") + when(col("rk") <= col("n_spare"), 1L).otherwise(0L))
      .select("source", "n_tokens", "base", "alloc_tokens")
      .orderBy("source")
  }

  val q166Sql =
    """WITH bys AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), tot AS (SELECT SUM(n_tokens) AS t_tokens FROM bys
      |), q AS (
      |  SELECT source, n_tokens,
      |    1000000 * n_tokens // tot.t_tokens AS base,
      |    1000000 * n_tokens % tot.t_tokens AS rem
      |  FROM bys CROSS JOIN tot
      |), sp AS (SELECT 1000000 - SUM(base) AS n_spare FROM q
      |), rk AS (
      |  SELECT source, n_tokens, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM q
      |)
      |SELECT source, n_tokens, CAST(base AS BIGINT) AS base,
      |  CAST(base + CASE WHEN rk <= sp.n_spare THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_tokens
      |FROM rk CROSS JOIN sp ORDER BY source""".stripMargin

  /** q206 cap-constrained token apportionment (water-filling) — q166's
    * Hamilton split under a PER-SOURCE CEILING, the constrained mixture
    * step every real data budget hits (Muennighoff et al. 2023's repeated-
    * epoch caps; privacy/diversity ceilings): budget B = 5·T div 4 (a
    * derived 1.25-epoch global budget — exact integers off the corpus
    * total), each source's allocation capped at the literal 1,800 tokens
    * (declared knob, SURVEY §2.13). Plain proportional shares would hand
    * big sources more than their ceiling; the classic fix is water-filling:
    * Hamilton-apportion the remaining budget over UNCAPPED sources, clamp
    * any share that crosses the cap, return the freed budget to the pool,
    * repeat. Rounds are a literal 3 (each non-final round either caps ≥1
    * source or is already the fixed point, so 3 rounds settle any instance
    * that caps ≤2 waves deep; the fixture caps 4 sources in round 1, 1 in
    * round 2, and round 3 verifies the fixed point — Σalloc = B exactly).
    * Output per source: mass, capped flag, final allocation, and
    * `residual` = B − Σalloc — the fixed-point witness: 0 iff the rounds
    * converged, so an instance that caps deeper than the literal 3 waves
    * is VISIBLE in the output (non-zero residual), not a silent
    * under-allocation. The spec asserts residual = 0 on the fixture.
    *
    * Scale shape: ONE map-combined corpus aggregate is the only corpus
    * pass (the q166 contract); all three rounds are window arithmetic over
    * the \|sources\|-row frame — deliberately single-partition,
    * mixture-cell-sized by construction. Int64 bound: R·massᵢ overflows
    * past massᵢ ≈ 9.2e18/B, same ceiling as q166 — lift to decimal
    * before a 10¹³-token corpus meets a 10⁶-cell mixture. */
  def q206(spark: SparkSession, dir: String): DataFrame = {
    val cap = 1800L
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    var df = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("t_tokens", sum("n_tokens").over(all))
      .withColumn("budget", expr("5 * t_tokens div 4"))
      .withColumn("capped", lit(false))
      .withColumn("alloc", lit(0L))
    for (_ <- 1 to 3) {
      df = df
        .withColumn("m_active",
          sum(when(!col("capped"), col("n_tokens")).otherwise(0L)).over(all))
        .withColumn("r_budget", col("budget") -
          lit(cap) * sum(when(col("capped"), 1L).otherwise(0L)).over(all))
        .withColumn("base",
          when(!col("capped"), expr("r_budget * n_tokens div m_active")))
        .withColumn("rem",
          when(!col("capped"), expr("r_budget * n_tokens % m_active")))
        .withColumn("spare", col("r_budget") -
          sum(coalesce(col("base"), lit(0L))).over(all))
        .withColumn("rk", row_number().over(Window.partitionBy(col("capped"))
          .orderBy(col("rem").desc_nulls_last, col("source"))))
        .withColumn("alloc", when(col("capped"), lit(cap))
          .otherwise(col("base") +
            when(col("rk") <= col("spare"), 1L).otherwise(0L)))
        .withColumn("capped", col("capped") || col("alloc") > cap)
        .drop("m_active", "r_budget", "base", "rem", "spare", "rk")
    }
    df.withColumn("fin", when(col("capped"), cap).otherwise(col("alloc")))
      .withColumn("residual", col("budget") - sum("fin").over(all))
      .select(col("source"), col("n_tokens"),
        when(col("capped"), 1L).otherwise(0L).as("capped"),
        col("fin").as("alloc_tokens"), col("residual"))
      .orderBy("source")
  }

  val q206Sql: String = {
    // one water-filling round as a CTE block: rPrev -> rNext
    def round(prev: String, next: String): String =
      s"""w$next AS (
         |  SELECT r.source, r.n_tokens, r.capped, p.b,
         |    SUM(CASE WHEN NOT r.capped THEN r.n_tokens ELSE 0 END) OVER ()
         |      AS m_active,
         |    p.b - 1800 * SUM(CASE WHEN r.capped THEN 1 ELSE 0 END) OVER ()
         |      AS rb
         |  FROM r$prev r CROSS JOIN par p
         |), b$next AS (
         |  SELECT *,
         |    CASE WHEN NOT capped THEN rb * n_tokens // m_active END AS base,
         |    CASE WHEN NOT capped THEN rb * n_tokens % m_active END AS rem
         |  FROM w$next
         |), s$next AS (
         |  SELECT *, rb - SUM(COALESCE(base, 0)) OVER () AS spare,
         |    ROW_NUMBER() OVER (PARTITION BY capped
         |      ORDER BY rem DESC NULLS LAST, source) AS rk
         |  FROM b$next
         |), r$next AS (
         |  SELECT source, n_tokens,
         |    capped OR (CASE WHEN capped THEN 1800
         |      ELSE base + CASE WHEN rk <= spare THEN 1 ELSE 0 END END) > 1800
         |      AS capped,
         |    CAST(CASE WHEN capped THEN 1800
         |      ELSE base + CASE WHEN rk <= spare THEN 1 ELSE 0 END END
         |      AS BIGINT) AS alloc
         |  FROM s$next
         |)""".stripMargin
    s"""WITH bys AS (
       |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
       |    AS n_tokens
       |  FROM documents GROUP BY source
       |), par AS (
       |  SELECT SUM(n_tokens) AS t, 5 * SUM(n_tokens) // 4 AS b FROM bys
       |), r0 AS (
       |  SELECT source, n_tokens, FALSE AS capped, CAST(0 AS BIGINT) AS alloc
       |  FROM bys
       |), ${round("0", "1")}, ${round("1", "2")}, ${round("2", "3")}
       |SELECT source, n_tokens,
       |  CAST(CASE WHEN capped THEN 1 ELSE 0 END AS BIGINT) AS capped,
       |  CAST(CASE WHEN capped THEN 1800 ELSE alloc END AS BIGINT)
       |    AS alloc_tokens,
       |  CAST(par.b - SUM(CASE WHEN capped THEN 1800 ELSE alloc END) OVER ()
       |    AS BIGINT) AS residual
       |FROM r3 CROSS JOIN par ORDER BY source""".stripMargin
  }

  /** q224 Bloom-screened ingest gate — q216's portable filter doing its
    * actual job in the q128 ingest pipeline: the existing corpus builds a
    * 2048-bit / 4-probe Bloom over document texts, and the arriving batch
    * probes it BEFORE the exact fingerprint semi-join — a bloom-negative
    * document is provably new and skips the expensive check entirely
    * (`saved_ppm` is the screened share), a bloom-positive goes to exact
    * verification, which splits it into true duplicates and the filter's
    * false positives. `n_false_neg` is emitted and must be 0 — the Bloom
    * no-false-negative guarantee, hash-checked cross-engine rather than
    * just asserted. The whole composition (split → build → probe → verify)
    * replays in the oracle.
    *
    * Scale shape: the filter is a ≤32-row broadcast (the q216 contract) —
    * the probe join costs a map-side lookup per batch doc, while the exact
    * check it screens is a shuffle against the corpus-sized fingerprint
    * set; at a 1% duplicate rate the screen drops that shuffle's probe
    * side by ~the true-negative rate (fixture: ~88%). */
  def q224(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .withColumn("fp", T.portableHash60(col("text")))
      .withColumn("is_new", T.hashBucket(col("doc_id"), 10) === 0)
    val probes = explode(array((0 until 4).map(lit): _*)).as("j")
    def buckets(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("source"), col("fp"), col("text"), probes)
        .withColumn("b", T.hashBucket(
          concat(col("text"), lit("#bf"), col("j").cast(StringType)), 2048))
        .withColumn("word", expr("b div 64"))
        .withColumn("mask", when(expr("b % 64") === 63L, lit(Long.MinValue))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 64 AS INT))")))
    val bloom = buckets(docs.filter(!col("is_new")))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
    val existingFps = docs.filter(!col("is_new")).select("fp").distinct()
    val probed = buckets(docs.filter(col("is_new")))
      .join(broadcast(bloom), Seq("word"), "left") // ≤32 rows by construction
      .withColumn("hit",
        coalesce(col("bits").bitwiseAND(col("mask")) =!= 0L, lit(false)))
      .groupBy("doc_id", "source", "fp")
      .agg(min(when(col("hit"), 1L).otherwise(0L)).as("allhit"))
    probed.join(existingFps.withColumn("dup", lit(1)), Seq("fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("allhit") === 1L, 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_true_dup"),
        sum(when(col("allhit") === 1L && col("dup").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(col("allhit") === 0L && col("dup").isNotNull, 1L)
          .otherwise(0L)).as("n_false_neg"))
      .withColumn("saved_ppm",
        expr("(n_batch - n_bloom_pos) * 1000000 div n_batch"))
      .orderBy("source")
  }

  val q224Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source, text,
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |      % 10 = 0 AS is_new
      |  FROM documents
      |), cb AS (
      |  SELECT CAST('0x' || substr(md5(text || '#bf' || CAST(j AS VARCHAR)),
      |    1, 8) AS BIGINT) % 2048 AS b
      |  FROM d, (SELECT unnest([0, 1, 2, 3]) AS j) WHERE NOT is_new
      |), bloom AS (
      |  SELECT b // 64 AS word,
      |    BIT_OR(CASE WHEN b % 64 = 63
      |      THEN CAST(-9223372036854775808 AS BIGINT)
      |      ELSE CAST(1 AS BIGINT) << CAST(b % 64 AS INT) END) AS bits
      |  FROM cb GROUP BY 1
      |), efp AS (SELECT DISTINCT fp FROM d WHERE NOT is_new
      |), bp AS (
      |  SELECT doc_id, source, fp,
      |    CAST('0x' || substr(md5(text || '#bf' || CAST(j AS VARCHAR)),
      |      1, 8) AS BIGINT) % 2048 AS b
      |  FROM d, (SELECT unnest([0, 1, 2, 3]) AS j) WHERE is_new
      |), hits AS (
      |  SELECT bp.doc_id, bp.source, bp.fp,
      |    MIN(CASE WHEN bl.bits IS NOT NULL AND
      |      (bl.bits & (CASE WHEN bp.b % 64 = 63
      |        THEN CAST(-9223372036854775808 AS BIGINT)
      |        ELSE CAST(1 AS BIGINT) << CAST(bp.b % 64 AS INT) END)) <> 0
      |      THEN 1 ELSE 0 END) AS allhit
      |  FROM bp LEFT JOIN bloom bl ON bl.word = bp.b // 64
      |  GROUP BY 1, 2, 3
      |), v AS (
      |  SELECT h.source, h.allhit, e.fp IS NOT NULL AS dup
      |  FROM hits h LEFT JOIN efp e ON e.fp = h.fp
      |)
      |SELECT source, COUNT(*) AS n_batch,
      |  CAST(SUM(CASE WHEN allhit = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bloom_pos,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
      |  CAST(SUM(CASE WHEN allhit = 1 AND NOT dup THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos,
      |  CAST(SUM(CASE WHEN allhit = 0 AND dup THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_false_neg,
      |  CAST((COUNT(*) - SUM(CASE WHEN allhit = 1 THEN 1 ELSE 0 END))
      |    * 1000000 // COUNT(*) AS BIGINT) AS saved_ppm
      |FROM v GROUP BY source ORDER BY source""".stripMargin

  /** q239 PURGED temporal split with embargo — the leakage-hygiene upgrade
    * of q129's plain 80% time cut (López de Prado, "Advances in Financial
    * Machine Learning" ch. 7, the purged/embargoed split): events inside
    * an EMBARGO window after the cut belong to NEITHER side. A model
    * trained to the cut and evaluated immediately after it leaks through
    * temporally-correlated behavior that straddles the boundary (a user
    * session, a trend, a label horizon); dropping the embargo band makes
    * train and eval separated by a declared gap (1 day here — the
    * SURVEY §2.13 knob convention). Output: one row per split (train /
    * embargo_dropped / eval) with event count, distinct users, and the
    * exact ms bounds — the auditable split manifest, plus the count of
    * users present on BOTH retained sides (the residual cross-boundary
    * exposure the embargo does NOT remove; user-level splits — q171 —
    * are the stronger tool when that number matters).
    *
    * Scale shape: one scan; the cut is a 1-row broadcast aggregate (no
    * global sort — the q129 discipline); the split tag is a narrow map;
    * one ≤3-row rollup plus a users-both 1-row semi-free aggregate
    * (distinct users per side collapses at the user grain first). */
  def q239(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("tms"))
    val cut = e.agg(
      expr("min(tms) + (max(tms) - min(tms)) * 8 div 10").as("cut_ms"))
    val embargoMs = 86400000L // 1 day
    val tagged = e.crossJoin(broadcast(cut))
      .withColumn("split",
        when(col("tms") <= col("cut_ms"), "train")
          .when(col("tms") <= col("cut_ms") + embargoMs, "embargo_dropped")
          .otherwise("eval"))
    tagged.groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        min("tms").as("min_ms"), max("tms").as("max_ms"))
      .crossJoin(broadcast(tagged.filter(col("split") =!= "embargo_dropped")
        .select(col("user_id"), col("split")).distinct()
        .groupBy("user_id").agg(count(lit(1)).as("sides"))
        .agg(coalesce(sum(when(col("sides") === 2, 1L).otherwise(0L)), lit(0L))
          .as("users_on_both_sides"))))
      .orderBy("split")
  }

  val q239Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS tms FROM events
      |), cut AS (
      |  SELECT MIN(tms) + (MAX(tms) - MIN(tms)) * 8 // 10 AS cut_ms FROM e
      |), tagged AS (
      |  SELECT user_id, tms,
      |    CASE WHEN tms <= cut_ms THEN 'train'
      |         WHEN tms <= cut_ms + 86400000 THEN 'embargo_dropped'
      |         ELSE 'eval' END AS split
      |  FROM e CROSS JOIN cut
      |), both_sides AS (
      |  SELECT COALESCE(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END), 0)
      |    AS users_on_both_sides
      |  FROM (SELECT user_id, COUNT(DISTINCT split) AS sides
      |        FROM tagged WHERE split <> 'embargo_dropped' GROUP BY user_id)
      |)
      |SELECT split, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(MIN(tms) AS BIGINT) AS min_ms, CAST(MAX(tms) AS BIGINT) AS max_ms,
      |  CAST(b.users_on_both_sides AS BIGINT) AS users_on_both_sides
      |FROM tagged CROSS JOIN both_sides b
      |GROUP BY split, b.users_on_both_sides ORDER BY split""".stripMargin

  /** q221 curation-funnel capstone — the WHOLE cleaning pipeline as one
    * per-source survivorship funnel, each stage the registry's own kernel
    * applied to the previous stage's survivors: documents → q205's
    * heuristic rules → q111's model gate (logit ≥ 0) → exact dedup
    * (min-id per md5-60 fingerprint, the q26 kernel) → near-dup cluster
    * survivorship (min-id per two-permutation portable MinHash key, the
    * q165/q171 cluster algebra from the shared [[graft.dedup.Dedup.portableSigs]]
    * frame) → surviving token mass. This is the table a curation review
    * actually reads: WHICH stage costs WHICH source how much — and the
    * cross-engine proof that the composed pipeline, not just each stage in
    * isolation, computes the declared algebra. Per-source counts are
    * monotone through the first three stages; dedup stages may move a
    * cluster's survivor across sources (global monotonicity only — the
    * spec asserts both).
    *
    * Scale shape: one corpus map (rules + logit + fingerprint), one
    * doc-keyed join to the shared signature frame, two survivor
    * aggregates (fingerprint- and cluster-keyed, candidates ∝ survivors),
    * two slim survivor-id semi-join backflags, one ≤\|sources\| rollup. */
  def q221(spark: SparkSession, dir: String): DataFrame = {
    val sigs = graft.dedup.Dedup.portableSigs(spark, dir)
      .select(col("doc_id"), col("s0"), col("s1"))
    val flagged = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast(LongType))
      .withColumn("distinct_ppm",
        expr("cast(size(array_distinct(w)) as bigint) * 1000000 div n_tokens"))
      .withColumn("stop_ppm",
        expr("cast(2 * size(w) - size(array_remove(w, 'the')) - size(array_remove(w, 'a')) as bigint) * 1000000 div n_tokens"))
      // gate knobs referenced from Retrieval, never re-hardcoded: the
      // funnel must replay EXACTLY the standalone q205/q111 gates
      .withColumn("pass_rules",
        !(col("n_tokens") < Retrieval.RuleMinTokens ||
          !(array_contains(col("w"), "the") || array_contains(col("w"), "a")) ||
          col("distinct_ppm") < Retrieval.RuleMinDistinctPpm))
      .withColumn("logit_x1e6",
        lit(Retrieval.W0) + lit(Retrieval.WLen) * col("n_tokens") +
          lit(Retrieval.WDistinct) * col("distinct_ppm") +
          lit(Retrieval.WStop) * col("stop_ppm"))
      .withColumn("pass_model", col("pass_rules") && col("logit_x1e6") >= 0)
      .withColumn("fp60",
        graft.functions.TextFunctions.portableHash60(col("text")))
      .select("doc_id", "source", "n_tokens", "pass_rules", "pass_model",
        "fp60")
      .join(sigs, Seq("doc_id"))
    val m = flagged.filter(col("pass_model"))
    val ex = m.groupBy("fp60").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_exact"))
    val nr = m.join(ex, Seq("doc_id"))
      .groupBy("s0", "s1").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_near"))
    flagged.join(ex, Seq("doc_id"), "left").join(nr, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass_rules"), 1L).otherwise(0L)).as("n_rules"),
        sum(when(col("pass_model"), 1L).otherwise(0L)).as("n_model"),
        sum(when(col("is_exact").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("is_near").isNotNull, 1L).otherwise(0L)).as("n_near"),
        sum(when(col("is_near").isNotNull, col("n_tokens")).otherwise(0L))
          .as("tokens_final"))
      .orderBy("source")
  }

  val q221Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, text, string_split(text, ' ') AS w
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
      |    len(w) < ${Retrieval.RuleMinTokens} AS r_short,
      |    NOT (list_contains(w, 'the') OR list_contains(w, 'a')) AS r_nostop,
      |    CAST(len(list_distinct(w)) AS BIGINT) * 1000000 // len(w)
      |      AS distinct_ppm,
      |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT)
      |      * 1000000 // len(w) AS stop_ppm,
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp60
      |  FROM toks
      |), g AS (
      |  SELECT *,
      |    NOT (r_short OR r_nostop
      |      OR distinct_ppm < ${Retrieval.RuleMinDistinctPpm}) AS pass_rules,
      |    NOT (r_short OR r_nostop
      |      OR distinct_ppm < ${Retrieval.RuleMinDistinctPpm})
      |      AND ${Retrieval.W0} + ${Retrieval.WLen} * n_tokens
      |        + ${Retrieval.WDistinct} * distinct_ppm
      |        + (${Retrieval.WStop}) * stop_ppm >= 0 AS pass_model
      |  FROM f
      |), sig AS (
      |  SELECT doc_id,
      |    list_min(list_transform(hs,
      |      h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs,
      |      h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
      |  FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
      |      1, 15) AS BIGINT))) AS hs FROM toks)
      |), ex AS (
      |  SELECT MIN(doc_id) AS doc_id FROM g WHERE pass_model GROUP BY fp60
      |), nr AS (
      |  SELECT MIN(e.doc_id) AS doc_id
      |  FROM ex e JOIN sig s ON s.doc_id = e.doc_id
      |  GROUP BY s.s0, s.s1
      |)
      |SELECT g.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN g.pass_rules THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rules,
      |  CAST(SUM(CASE WHEN g.pass_model THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_model,
      |  CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact,
      |  CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_near,
      |  CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN g.n_tokens ELSE 0 END)
      |    AS BIGINT) AS tokens_final
      |FROM g
      |LEFT JOIN ex e ON e.doc_id = g.doc_id
      |LEFT JOIN nr n ON n.doc_id = g.doc_id
      |GROUP BY g.source ORDER BY g.source""".stripMargin

  /** q171 leakage-free cluster-aware train/test split — the eval-split audit
    * between dedup and mixing: a plain per-document hash split (q54) puts
    * near-identical documents on BOTH sides of the boundary and the test
    * half stops measuring generalization. [[graft.dedup.Dedup.splitSides]]
    * clusters documents by the q165 two-permutation portable MinHash key
    * and assigns WHOLE clusters a side by an md5 bucket of the cluster key
    * — per-row algebra, no window, no join, so the assignment costs one
    * narrow codegen'd map. This query reports the resulting split per
    * (source, side): document count, distinct-cluster count, and the
    * doc_id checksum proving row-level assignment parity against the
    * oracle's full replay (the q165 convention). Scale shape: the only
    * shuffle is the final 2·|sources|-cell aggregate (count-distinct adds
    * its standard two-level expansion — keyed, never corpus²). */
  def q171(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.splitSides(spark, dir)
      .groupBy("source", "side")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("c0"), col("c1")).as("n_clusters"),
        sum("doc_id").as("doc_checksum"))
      .orderBy("source", "side")

  val q171Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks
      |), sig AS (
      |  SELECT doc_id, source,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
      |  FROM sh
      |), cl AS (
      |  SELECT doc_id, source,
      |    CASE WHEN s0 IS NOT NULL THEN s0 ELSE -1 END AS c0,
      |    CASE WHEN s0 IS NOT NULL THEN s1 ELSE doc_id END AS c1
      |  FROM sig
      |), sides AS (
      |  SELECT doc_id, source, c0, c1,
      |    CAST('0x' || substr(md5(CAST(c0 AS VARCHAR) || ':' || CAST(c1 AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS side
      |  FROM cl
      |)
      |SELECT source, side, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT (c0, c1)) AS BIGINT) AS n_clusters,
      |  CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
      |FROM sides GROUP BY source, side ORDER BY source, side""".stripMargin

  /** q179 data-selection importance weights (DSIR shape — Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document by how much its hashed-bigram
    * feature profile looks like a TARGET domain (source `src0` here)
    * relative to the RAW corpus, in the exact integer-log surrogate the
    * engine uses everywhere (q160/q167): per bigram occurrence,
    * [bitlen(1 + target count of its bucket) − bitlen(1 + raw count)]
    * + [bitlen(total raw) − bitlen(total target)] — the second term is the
    * global size normalization that turns the raw count ratio into the
    * log PROBABILITY ratio log(p_target/p_raw); without it every weight
    * is ≤ 0 by target ⊂ raw and the sign carries nothing. Positive-weight
    * mass is what importance resampling would upsample. Rolled up per
    * source (n docs, mean/min/max weight, positive-doc count). Portable
    * algebra end-to-end: the md5 hash bucket is the q44/q54 primitive, so
    * the oracle replays feature hashing, both count profiles, the
    * normalizer, and every per-doc sum bit-for-bit (and the spec replays
    * it all a third time driver-side).
    *
    * Scale shape — the two-model contract: the feature space is CLOSED at
    * 1024 buckets by construction, so the (raw, target) count table is a
    * model-sized frame built by ONE conditional aggregate over the bigram
    * stream and broadcast back against it; documents stream through twice
    * (model build, scoring — same as q160's train/score split), the
    * per-doc sum combines map-side, and the rollup is |sources| cells.
    * Nothing pairwise, nothing corpus-broadcast. */
  def q179(spark: SparkSession, dir: String): DataFrame = {
    def bigrams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("source"),
        explode(T.wordShingles(col("text"), 2)).as("bg"))
      .withColumn("bucket", T.hashBucket(col("bg"), 1024))
      .drop("bg")
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
    val model = bigrams(docs)
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt_raw"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("cnt_tgt"))
    // 1-row normalizer: bitlen(Σraw) − bitlen(Σtgt) ≈ log2(|corpus|/|target|)
    val norm = model.agg(
      (length(bin(sum("cnt_raw"))) - length(bin(sum("cnt_tgt"))))
        .cast(LongType).as("z"))
    val scored = bigrams(docs)
      .join(broadcast(model), "bucket") // ≤1024 rows by construction
      .crossJoin(broadcast(norm))
      .groupBy("doc_id", "source")
      .agg(sum(length(bin(col("cnt_tgt") + 1)).cast(LongType) -
        length(bin(col("cnt_raw") + 1)).cast(LongType) + col("z")).as("w"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(w) div count(1)").as("mean_w"),
        min("w").as("min_w"), max("w").as("max_w"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_positive"))
      .orderBy("source")
  }

  val q179Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), bg AS (
      |  SELECT doc_id, source,
      |    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 8) AS BIGINT) % 1024 AS bucket
      |  FROM toks, unnest(range(1, len(w))) AS t(i)
      |), model AS (
      |  SELECT bucket, COUNT(*) AS cnt_raw,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS cnt_tgt
      |  FROM bg GROUP BY bucket
      |), norm AS (
      |  SELECT CAST(length(printf('%b', CAST(SUM(cnt_raw) AS BIGINT)))
      |       - length(printf('%b', CAST(SUM(cnt_tgt) AS BIGINT))) AS BIGINT) AS z
      |  FROM model
      |), scored AS (
      |  SELECT bg.doc_id, bg.source,
      |    CAST(SUM(CAST(length(printf('%b', CAST(m.cnt_tgt + 1 AS BIGINT))) AS BIGINT)
      |           - CAST(length(printf('%b', CAST(m.cnt_raw + 1 AS BIGINT))) AS BIGINT)
      |           + n.z) AS BIGINT) AS w
      |  FROM bg JOIN model m USING (bucket) CROSS JOIN norm n
      |  GROUP BY bg.doc_id, bg.source
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(w) // COUNT(*) AS BIGINT) AS mean_w,
      |  CAST(MIN(w) AS BIGINT) AS min_w, CAST(MAX(w) AS BIGINT) AS max_w,
      |  CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
      |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** q183 quality-aware dedup survivorship — production near-dup dedup
    * (CCNet, RefinedWeb) keeps the BEST copy of each duplicate cluster,
    * not the first: clusters are the q165/q171 two-permutation portable
    * MinHash key (short docs are singleton clusters, the (-1, doc_id)
    * sentinel), the survivor is the cluster's argmax under the exact
    * (q111 quality logit, then lowest doc_id) order, and the rollup is
    * q165's per-source shape (docs / kept / removed / kept checksum) so
    * the two survivorship policies diff directly. The checksum pins row
    * identity: min-id and best-quality survivors differ (spec-asserted
    * against a driver-side replay).
    *
    * Scale shape: the logit is a narrow codegen'd map joined to the shared
    * corpus-stamped signature frame on doc_id (one corpus-keyed shuffle),
    * the argmax is ONE `max_by` aggregate keyed by cluster — partial
    * aggregation combines map-side, where q165's rank window shuffles
    * every row to its cluster's sort — and both rollups are |sources|
    * cells. */
  def q183(spark: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.portableSigs(spark, dir)
      .select(col("doc_id"), col("source"),
        when(col("s0").isNotNull, col("s0")).otherwise(lit(-1L)).as("c0"),
        when(col("s0").isNotNull, col("s1")).otherwise(col("doc_id")).as("c1"))
    val logit = Tables.load(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")).cast(LongType))
      .withColumn("distinct_ppm",
        expr("cast(size(array_distinct(w)) as bigint) * 1000000 div n_tokens"))
      .withColumn("stop_ppm",
        expr("cast(2 * size(w) - size(array_remove(w, 'the')) - size(array_remove(w, 'a')) as bigint) * 1000000 div n_tokens"))
      .withColumn("logit_x1e6", // the q111 declared weights, shared
        expr(s"${Retrieval.W0} + ${Retrieval.WLen} * n_tokens + " +
          s"${Retrieval.WDistinct} * distinct_ppm + (${Retrieval.WStop}) * stop_ppm"))
      .select(col("doc_id"), col("logit_x1e6"))
    val winners = sig.join(logit, "doc_id")
      .groupBy("c0", "c1")
      .agg(max_by(
        struct(col("doc_id").as("w_doc"), col("source").as("w_src")),
        struct(col("logit_x1e6"), -col("doc_id"))).as("w"))
      .select(col("w.w_doc").as("doc_id"), col("w.w_src").as("source"))
    sig.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(winners.groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_checksum")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
      .orderBy("source")
  }

  val q183Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks
      |), sig AS (
      |  SELECT doc_id, source,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
      |  FROM sh
      |), cl AS (
      |  SELECT doc_id, source,
      |    CASE WHEN s0 IS NOT NULL THEN s0 ELSE -1 END AS c0,
      |    CASE WHEN s0 IS NOT NULL THEN s1 ELSE doc_id END AS c1
      |  FROM sig
      |), lg AS (
      |  SELECT doc_id,
      |    ${Retrieval.W0} + ${Retrieval.WLen} * CAST(len(string_split(text, ' ')) AS BIGINT)
      |    + ${Retrieval.WDistinct} * (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000
      |           // len(string_split(text, ' ')))
      |    + (${Retrieval.WStop}) * (CAST(len(list_filter(string_split(text, ' '),
      |             t -> t = 'the' OR t = 'a')) AS BIGINT) * 1000000
      |           // len(string_split(text, ' '))) AS logit_x1e6
      |  FROM documents
      |), ranked AS (
      |  SELECT cl.doc_id, cl.source, cl.c0, cl.c1,
      |    ROW_NUMBER() OVER (PARTITION BY cl.c0, cl.c1
      |      ORDER BY lg.logit_x1e6 DESC, cl.doc_id) AS rk
      |  FROM cl JOIN lg USING (doc_id)
      |), win AS (
      |  SELECT source, COUNT(*) AS n_kept, SUM(doc_id) AS kept_checksum
      |  FROM ranked WHERE rk = 1 GROUP BY source
      |), tot AS (
      |  SELECT source, COUNT(*) AS n_docs FROM cl GROUP BY source
      |)
      |SELECT t.source, t.n_docs,
      |  CAST(COALESCE(w.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(t.n_docs - COALESCE(w.n_kept, 0) AS BIGINT) AS n_removed,
      |  CAST(COALESCE(w.kept_checksum, 0) AS BIGINT) AS kept_checksum
      |FROM tot t LEFT JOIN win w ON w.source = t.source
      |ORDER BY t.source""".stripMargin

  /** q185 incremental NEAR-dup ingest gate — the fuzzy twin of q128's
    * exact-fingerprint ingestion dedup (production pipelines run both: an
    * exact gate, then a MinHash gate): the arriving batch (the q128 md5
    * bucket convention, ~10% of docs) is checked against the EXISTING
    * corpus via the q99 portable banded pairs — a batch doc near-dupping
    * any existing doc is rejected (`n_neardup_existing`); within the
    * batch, the PAIRWISE lower-id rule drops a doc when any lower-id batch
    * doc is its verified near-dup (`n_neardup_in_batch`) — deliberately
    * pairwise, not transitive-closure (chains live in q58's connected
    * components; an ingest gate decides per document, online). Ingested
    * survivors carry an id checksum. The oracle replays banding, exact
    * verification, batch split, and both rules end-to-end.
    *
    * Scale shape: pairs ∝ band collisions (never corpus²), directionalized
    * by a union and collapsed by ONE map-combining max-flag aggregate
    * keyed by the batch doc; the final rollup is |sources| cells. In a
    * real deployment the existing side's band keys come from the persisted
    * signature index (the PortableSigStore discipline) — here both sides
    * derive from the shared corpus-stamped signature frame. */
  def q185(spark: SparkSession, dir: String): DataFrame = {
    val docs = Dedup.portableSigs(spark, dir)
      .select(col("doc_id"), col("source"),
        (T.hashBucket(col("doc_id"), 10) === 0).as("is_new"))
    val pairs = Dedup.minHashPairsPortable(spark, dir)
    val e = pairs.select(col("doc_a").as("me"), col("doc_b").as("other"))
      .union(pairs.select(col("doc_b").as("me"), col("doc_a").as("other")))
    val flags = e
      .join(docs.select(col("doc_id").as("me"), col("is_new").as("me_new")),
        "me")
      .filter(col("me_new"))
      .join(docs.select(col("doc_id").as("other"),
        col("is_new").as("other_new")), "other")
      .groupBy("me")
      .agg(max(when(!col("other_new"), 1L).otherwise(0L)).as("hit_existing"),
        max(when(col("other_new") && col("other") < col("me"), 1L)
          .otherwise(0L)).as("hit_lower_batch"))
    docs.filter(col("is_new"))
      .join(flags, docs("doc_id") === flags("me"), "left")
      .withColumn("dup_existing",
        coalesce(col("hit_existing"), lit(0L)) === 1L)
      .withColumn("dup_in_batch", !col("dup_existing") &&
        coalesce(col("hit_lower_batch"), lit(0L)) === 1L)
      .withColumn("ingested", !col("dup_existing") && !col("dup_in_batch"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("dup_existing"), 1L).otherwise(0L))
          .as("n_neardup_existing"),
        sum(when(col("dup_in_batch"), 1L).otherwise(0L))
          .as("n_neardup_in_batch"),
        sum(when(col("ingested"), 1L).otherwise(0L)).as("n_ingested"),
        sum(when(col("ingested"), col("doc_id")).otherwise(0L))
          .as("ingested_checksum"))
      .orderBy("source")
  }

  val q185Sql: String =
    s"""WITH d5 AS (
       |  SELECT doc_id, source,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
       |      AS is_new
       |  FROM documents
       |), e5 AS (
       |  SELECT doc_a AS me, doc_b AS other FROM (${Extensions.q99Sql}) p
       |  UNION ALL
       |  SELECT doc_b AS me, doc_a AS other FROM (${Extensions.q99Sql}) p
       |), f5 AS (
       |  SELECT e5.me,
       |    MAX(CASE WHEN NOT dn.is_new THEN 1 ELSE 0 END) AS hit_existing,
       |    MAX(CASE WHEN dn.is_new AND e5.other < e5.me THEN 1 ELSE 0 END) AS hit_lower
       |  FROM e5
       |  JOIN d5 dm ON dm.doc_id = e5.me
       |  JOIN d5 dn ON dn.doc_id = e5.other
       |  WHERE dm.is_new
       |  GROUP BY e5.me
       |), b5 AS (
       |  SELECT d5.doc_id, d5.source,
       |    COALESCE(f5.hit_existing, 0) = 1 AS dup_existing,
       |    COALESCE(f5.hit_existing, 0) = 0 AND COALESCE(f5.hit_lower, 0) = 1
       |      AS dup_in_batch
       |  FROM d5 LEFT JOIN f5 ON f5.me = d5.doc_id
       |  WHERE d5.is_new
       |)
       |SELECT source, COUNT(*) AS n_batch,
       |  CAST(SUM(CASE WHEN dup_existing THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_existing,
       |  CAST(SUM(CASE WHEN dup_in_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_in_batch,
       |  CAST(SUM(CASE WHEN NOT dup_existing AND NOT dup_in_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested,
       |  CAST(SUM(CASE WHEN NOT dup_existing AND NOT dup_in_batch THEN doc_id ELSE 0 END) AS BIGINT) AS ingested_checksum
       |FROM b5 GROUP BY source ORDER BY source""".stripMargin

  /** q189 marginal n-gram novelty per source — the corpus-ACQUISITION
    * metric: when sources are admitted in lexicographic order, how many
    * distinct 4-grams does each source add that no earlier source already
    * contributed? A source whose novelty share is low is mostly buying
    * text you already have (the q150/q170 overlap matrices say WHO it
    * overlaps; this prices the marginal value of keeping it at all). The
    * sequential "admit one source at a time" definition computes ORDER-FREE:
    * a gram is novel to exactly the MIN source that carries it, so one
    * min-aggregate attributes every gram without any loop over sources.
    *
    * Scale shape: linear gram explode, per-source-distinct first (the q59
    * discipline), then ONE gram-keyed min-aggregate + one count per
    * attribution — all map-combined; output is |sources| cells. */
  def q189(spark: SparkSession, dir: String): DataFrame = {
    // scratch-checkpointed: consumed by both the per-source count and the
    // min side — one materialization of the explode+distinct, no stranded
    // cache entry (Checkpoints.scratch discipline)
    val grams = graft.operators.Checkpoints.scratch(
      Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        explode(array_distinct(T.wordShingles(col("text"), 4))).as("g"))
      .distinct()) // per-source distinct grams
    val perSource = grams.groupBy("source")
      .agg(count(lit(1)).as("n_distinct_grams"))
    val novel = grams.groupBy("g").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_novel_grams"))
    perSource.join(novel, Seq("source"), "left")
      .select(col("source"), col("n_distinct_grams"),
        coalesce(col("n_novel_grams"), lit(0L)).as("n_novel_grams"))
      .withColumn("novelty_ppm",
        expr("n_novel_grams * 1000000 div n_distinct_grams"))
      .orderBy("source")
  }

  val q189Sql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents
      |), g0 AS (
      |  SELECT DISTINCT source, unnest(list_distinct(list_transform(range(1, len(w) - 2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS g
      |  FROM toks
      |), per AS (
      |  SELECT source, COUNT(*) AS n_distinct_grams FROM g0 GROUP BY source
      |), nov AS (
      |  SELECT source, COUNT(*) AS cnt
      |  FROM (SELECT g, MIN(source) AS source FROM g0 GROUP BY g)
      |  GROUP BY source
      |)
      |SELECT per.source, per.n_distinct_grams,
      |  CAST(COALESCE(nov.cnt, 0) AS BIGINT) AS n_novel_grams,
      |  CAST(COALESCE(nov.cnt, 0) * 1000000 // per.n_distinct_grams AS BIGINT) AS novelty_ppm
      |FROM per LEFT JOIN nov ON nov.source = per.source
      |ORDER BY per.source""".stripMargin

  /** q197 duplicate-cluster source census — the cluster-level view of
    * q170's pair-level matrix: every multi-doc MinHash cluster (the
    * q165/q171 key) cross-tabulated by (cluster size, distinct sources
    * inside it). The n_sources = 1 column is internal redundancy (one
    * source repeating itself — dedup is cheap, locality is good); the
    * n_sources ≥ 2 mass is SYNDICATION (the same text bought twice from
    * different vendors — the clusters q171's whole-cluster split exists
    * to keep on one side). Cells are (size, n_sources)-bounded, sizes
    * duplicate-bounded, so the output is a small census at any scale.
    *
    * Scale shape: one cluster-keyed aggregate over the shared signature
    * frame (count + count-distinct, map-combined), then an aggregate of
    * the cluster frame — candidates ∝ documents, never pairs. */
  def q197(spark: SparkSession, dir: String): DataFrame =
    Dedup.splitSides(spark, dir)
      .groupBy("c0", "c1")
      .agg(count(lit(1)).as("sz"), countDistinct("source").as("n_sources"))
      .filter(col("sz") >= 2)
      .groupBy("sz", "n_sources")
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      .orderBy("sz", "n_sources")

  val q197Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks
      |), sig AS (
      |  SELECT doc_id, source,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
      |  FROM sh
      |), cl AS (
      |  SELECT doc_id, source,
      |    CASE WHEN s0 IS NOT NULL THEN s0 ELSE -1 END AS c0,
      |    CASE WHEN s0 IS NOT NULL THEN s1 ELSE doc_id END AS c1
      |  FROM sig
      |), g AS (
      |  SELECT c0, c1, COUNT(*) AS sz, COUNT(DISTINCT source) AS n_sources
      |  FROM cl GROUP BY c0, c1 HAVING COUNT(*) >= 2
      |)
      |SELECT CAST(sz AS BIGINT) AS sz, CAST(n_sources AS BIGINT) AS n_sources,
      |  COUNT(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs
      |FROM g GROUP BY sz, n_sources ORDER BY sz, n_sources""".stripMargin

  /** q270 soft-dedup sampling weights (SoftDeDup — He et al., ACL 2024,
    * arXiv:2407.06654): instead of DROPPING duplicates (q26's survivor
    * rule), down-weight every copy by its corpus-wide commonness —
    * weight = 1e6 div multiplicity, so a text's copies TOGETHER carry at
    * most one document's worth of sampling mass while rare texts keep
    * full weight. Commonness is CORPUS-WIDE (a text duplicated across
    * sources is down-weighted globally — the cross-source leak q188's
    * per-source inflation cannot express), keyed by the portable md5-60
    * fingerprint so the shuffle carries an 8-byte key. Per source: docs,
    * raw token mass, effective (weighted) token mass in micro-tokens, and
    * the effective share in ppm — the number that feeds the q139/q166
    * mixture as corrected source sizes. One fp-keyed aggregate + one
    * fp-keyed join (the multiplicity is corpus-sized, never broadcast) +
    * one |sources| rollup. */
  def q270(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), T.portableHash60(col("text")).as("fp"),
        size(T.tokens(col("text"))).cast(LongType).as("n_tok"))
    val mult = f.groupBy("fp").agg(count(lit(1)).as("mult"))
    f.join(mult, Seq("fp"))
      .withColumn("w_ppm", expr("1000000 div mult"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("raw_tokens"),
        sum(expr("n_tok * w_ppm")).as("eff_tokens_micro"))
      .withColumn("effective_ppm",
        expr("eff_tokens_micro div greatest(raw_tokens, 1)"))
      .orderBy("source")
  }

  val q270Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), m AS (
      |  SELECT fp, COUNT(*) AS mult FROM f GROUP BY fp
      |)
      |SELECT f.source, COUNT(*) AS n_docs,
      |  CAST(SUM(f.n_tok) AS BIGINT) AS raw_tokens,
      |  CAST(SUM(f.n_tok * (1000000 // m.mult)) AS BIGINT) AS eff_tokens_micro,
      |  CAST(SUM(f.n_tok * (1000000 // m.mult))
      |    // GREATEST(CAST(SUM(f.n_tok) AS BIGINT), 1) AS BIGINT) AS effective_ppm
      |FROM f JOIN m ON m.fp = f.fp
      |GROUP BY f.source ORDER BY f.source""".stripMargin

  /** q271 sequence-packing audit — the padding-waste number a pretraining
    * pipeline reads before choosing packed vs padded batching at context
    * length L = 2048: per source, documents, overlong documents (chunked
    * into ⌈tok/L⌉ sequences), raw token mass, PADDED slot cost
    * (Σ ⌈tok/L⌉·L — each doc's chunks padded to L), the IDEAL packed slot
    * cost (⌈Σtok/L⌉·L — exact optimum when documents may split across
    * sequence boundaries, the standard pretraining concatenate-and-chunk),
    * and the recoverable waste in ppm. Pure integer arithmetic on one
    * corpus scan + a |sources| rollup; zero-token documents cost zero
    * slots by the ceiling. */
  def q271(spark: SparkSession, dir: String): DataFrame = {
    val L = 2048L
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        size(T.tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("n_seq", expr(s"(n_tok + ${L - 1}) div $L"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > L, 1L).otherwise(0L)).as("n_overlong"),
        sum("n_tok").as("total_tokens"),
        sum(expr(s"n_seq * $L")).as("padded_slots"))
      .withColumn("ideal_slots",
        expr(s"((total_tokens + ${L - 1}) div $L) * $L"))
      .withColumn("waste_ppm",
        expr("(padded_slots - ideal_slots) * 1000000 " +
          "div greatest(padded_slots, 1)"))
      .orderBy("source")
  }

  val q271Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN n_tok > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlong,
      |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      |    CAST(SUM(((n_tok + 2047) // 2048) * 2048) AS BIGINT) AS padded_slots
      |  FROM f GROUP BY source
      |)
      |SELECT source, n_docs, n_overlong, total_tokens, padded_slots,
      |  CAST(((total_tokens + 2047) // 2048) * 2048 AS BIGINT) AS ideal_slots,
      |  CAST((padded_slots - ((total_tokens + 2047) // 2048) * 2048) * 1000000
      |    // GREATEST(padded_slots, 1) AS BIGINT) AS waste_ppm
      |FROM g ORDER BY source""".stripMargin

  /** q281 sqrt-temperature mixture weights (exponential smoothing at
    * α = 1/2 — the multilingual sampling rule of mBERT and XLM; Conneau &
    * Lample, NeurIPS 2019 §3.1 run α = 0.5/0.7 so low-resource languages
    * are up-sampled without letting any giant source dominate): source s
    * samples ∝ n_s^α instead of ∝ n_s. α = 1/2 is the one exponent with an
    * EXACT integer form — w_s = ⌊√n_s⌋ via a floating sqrt plus a Newton
    * correction step (s ← s − [s² > n] + [(s+1)² ≤ n]), so a double rounding
    * error at a perfect-square boundary can never desync the hash gate.
    * The ppm budget then splits by the q166 largest-remainder rule over the
    * smoothed weights (exact 10⁶ total, no float shares), emitting raw vs
    * smoothed ppm side by side — the up-weighting a mixture pipeline
    * actually applies. One scan + a |sources| rollup + |sources|-row
    * windows; nothing corpus-sized past the first aggregate. */
  def q281(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        size(T.tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("s0",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_sqrt", expr(
        "s0 - CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END" +
          " + CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN 1 ELSE 0 END"))
      .withColumn("t_tokens", sum("n_tokens").over(all))
      .withColumn("t_w", sum("w_sqrt").over(all))
      // corpus-scale token sums ride decimal(38,0) through the ×10⁶ ppm
      // product (the q290 discipline): int64 wraps silently past ~9.2e12
      // tokens per source while DuckDB raises on BIGINT overflow — a
      // cross-engine divergence at exactly the 100 TB scale this mixing
      // planner exists for. The w_sqrt products stay int64: w = ⌊√n⌋, so
      // w·10⁶ needs n > 8.5e25 tokens to wrap — beyond any corpus.
      .withColumn("raw_ppm",
        expr("cast(n_tokens as decimal(38,0)) * 1000000 div t_tokens"))
      .withColumn("base", expr("w_sqrt * 1000000 div t_w"))
      .withColumn("rem", expr("w_sqrt * 1000000 % t_w"))
      .withColumn("n_spare", lit(1000000L) - sum("base").over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))))
      .withColumn("smoothed_ppm",
        col("base") + when(col("rk") <= col("n_spare"), 1L).otherwise(0L))
      .select("source", "n_tokens", "w_sqrt", "raw_ppm", "smoothed_ppm")
      .orderBy("source")
  }

  val q281Sql: String =
    """WITH bys AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), sq AS (
      |  SELECT source, n_tokens,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
      |  FROM bys
      |), w AS (
      |  SELECT source, n_tokens,
      |    s0 - CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END
      |       + CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN 1 ELSE 0 END
      |      AS w_sqrt
      |  FROM sq
      |), tot AS (
      |  SELECT SUM(n_tokens) AS t_tokens, SUM(w_sqrt) AS t_w FROM w
      |), q AS (
      |  SELECT source, n_tokens, w_sqrt,
      |    CAST(n_tokens AS HUGEINT) * 1000000 // tot.t_tokens AS raw_ppm,
      |    w_sqrt * 1000000 // tot.t_w AS base,
      |    w_sqrt * 1000000 % tot.t_w AS rem
      |  FROM w CROSS JOIN tot
      |), sp AS (SELECT 1000000 - SUM(base) AS n_spare FROM q
      |), rk AS (
      |  SELECT source, n_tokens, w_sqrt, raw_ppm, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM q
      |)
      |SELECT source, n_tokens, w_sqrt, CAST(raw_ppm AS BIGINT) AS raw_ppm,
      |  CAST(base + CASE WHEN rk <= sp.n_spare THEN 1 ELSE 0 END AS BIGINT)
      |    AS smoothed_ppm
      |FROM rk CROSS JOIN sp ORDER BY source""".stripMargin

  /** Declared per-epoch repeat-value decay table in ppm — ⌊0.87^i·10⁶⌋ for
    * repeat i = 1..7 (epoch E sees the data for the (E−1)-th time). The
    * GEOMETRIC simplification of the Muennighoff et al. (NeurIPS 2023,
    * arXiv:2305.16264) repeated-token value decay: the paper fits a soft
    * exponential with R*_D ≈ 15 epochs to extinction; this table is the
    * q153-nDCG-table discipline applied to it — a literal integer
    * calibration knob both engines share, swapped wholesale to recalibrate
    * (never recomputed at query time, so no engine evaluates a pow). */
  private val RepeatDecayPpm =
    Seq(870000L, 756900L, 658503L, 572897L, 498420L, 433626L, 377254L)

  /** Cumulative effective-value multiplier for E epochs, in ppm:
    * 10⁶ + Σ_{i=1}^{E−1} decay(i). */
  private def epochCumPpm(e: Int): Long =
    1000000L + RepeatDecayPpm.take(e - 1).sum

  /** q286 data-constrained scaling planner (Muennighoff et al., NeurIPS
    * 2023: "Scaling Data-Constrained Language Models") — the budget
    * question a pipeline answers BEFORE q139/q166 mix anything: how many
    * effective tokens does each source yield at E epochs, given that
    * repeated tokens are worth less each pass? Unique mass counts distinct
    * texts once (portable md5-60 fingerprint, the q270 key — q270
    * down-weights INTRA-corpus copies at E = 1, this prices DELIBERATE
    * multi-epoch reuse); effective(E) = unique·[[epochCumPpm]](E) div 10⁶
    * on the declared decay table. Emits E = 2/4/8 side by side so the
    * epoch-vs-new-data trade reads off one row. One fp-dedup aggregate +
    * one |sources| rollup. */
  def q286(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        T.portableHash60(coalesce(col("text"), lit(""))).as("fp"),
        size(T.tokens(coalesce(col("text"), lit(""))))
          .cast(LongType).as("n_tok"))
    val uniq = f.groupBy("source", "fp").agg(max("n_tok").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("unique_tokens"))
    f.groupBy("source").agg(sum("n_tok").as("total_tokens"))
      .join(uniq, Seq("source"))
      // unique_tokens · cumPpm (≤ 4.2e6) wraps int64 past ~2.2e12 unique
      // tokens per source — well inside a 100 TB corpus, so the product
      // rides decimal(38,0)/HUGEINT (the q290 discipline; `div` lands the
      // quotient back in int64, which the ppm scale guarantees fits)
      .withColumn("eff_tokens_e2", expr(
        s"cast(unique_tokens as decimal(38,0)) * ${epochCumPpm(2)} div 1000000"))
      .withColumn("eff_tokens_e4", expr(
        s"cast(unique_tokens as decimal(38,0)) * ${epochCumPpm(4)} div 1000000"))
      .withColumn("eff_tokens_e8", expr(
        s"cast(unique_tokens as decimal(38,0)) * ${epochCumPpm(8)} div 1000000"))
      .orderBy("source")
  }

  val q286Sql: String =
    s"""WITH f AS (
      |  SELECT source,
      |    CAST('0x' || substr(md5(COALESCE(text, '')), 1, 15) AS BIGINT) AS fp,
      |    CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), u AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS unique_tokens FROM (
      |    SELECT source, fp, MAX(n_tok) AS n_tok FROM f GROUP BY source, fp
      |  ) GROUP BY source
      |), t AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      |  FROM f GROUP BY source
      |)
      |SELECT t.source, t.total_tokens, u.unique_tokens,
      |  CAST(CAST(u.unique_tokens AS HUGEINT) * ${epochCumPpm(2)} // 1000000
      |    AS BIGINT) AS eff_tokens_e2,
      |  CAST(CAST(u.unique_tokens AS HUGEINT) * ${epochCumPpm(4)} // 1000000
      |    AS BIGINT) AS eff_tokens_e4,
      |  CAST(CAST(u.unique_tokens AS HUGEINT) * ${epochCumPpm(8)} // 1000000
      |    AS BIGINT) AS eff_tokens_e8
      |FROM t JOIN u ON u.source = t.source
      |ORDER BY t.source""".stripMargin

  /** q287 Bradley–Terry strength fit (Bradley & Terry, Biometrika 1952)
    * over q164's implicit preference pairs, via three unrolled rounds of
    * Hunter's MM algorithm (Annals of Statistics 2004) — the
    * strength-from-comparisons step an RLHF/reranking pipeline runs on
    * preference data (q164 COUNTS pairs; this FITS the latent quality the
    * pairs imply, pooling transitive evidence a per-item win rate cannot):
    * γ'_i = W_i / Σ_j n_ij/(γ_i+γ_j), all in fixed-point integers — terms
    * at 10¹⁰ scale, each round renormalized to mean 10⁶ by truncating
    * division and capped at 10¹² (an undefeated item diverges in exact BT;
    * the cap is the declared fixed-point ceiling, applied to the RAW
    * per-round quotient as well as the normalized γ: truncating division
    * can collapse a large-γ round's denominator to 0, so the rational
    * bound graw ≤ 2·γmax does NOT survive fixed point — with both caps
    * every product stays ≤ 10¹⁸ at catalog scale). Input-side, nij itself
    * saturates at 10⁸ comparisons per pair (declared evidence cap, both
    * engines) so the 10¹⁰-scale term can never wrap int64 per pair; the
    * residual declared ceiling is ~9.2e8 total capped comparisons per item
    * against near-zero-γ opponents in den's sum (q238-class declared
    * bound). Ties never arise in the arithmetic (pure integer),
    * and the top-20 orders (γ desc, item asc). MM is monotone in the BT
    * likelihood, so three rounds give a deterministic, replayable
    * approximation — the oracle unrolls the identical rounds as
    * MATERIALIZED CTEs (each round reads its predecessor three times; the
    * q280 inlining lesson).
    *
    * Scale shape: the pair frame aggregates to observed ordered item pairs
    * (q123's vocabulary-pair bound, never corpus²); each round is two
    * broadcast-size joins against the ≤|items| strength frame + one
    * pair-keyed aggregate + |items|-row windows; rounds scratch-barrier
    * their strength frame (the q124 per-round discipline). */
  def q287(spark: SparkSession, dir: String): DataFrame =
    // parallelized (r17; the q102 single-row-group fix applied here): the
    // fixture's one-file events scan ran the whole JSON-extract +
    // collect_set pair build on ONE task (JobProbe: 0.77 s of 1.34 s);
    // size-guarded, so a multi-file production scan is untouched
    bradleyTerry(graft.streaming.EventStream.preferencePairsStream(
      Tables.parallelized(Tables.load(spark, dir, "events"))))

  /** [[q287]]'s MM kernel over an arbitrary (chosen, rejected) pair frame —
    * spec entry point (planted comparison chains, driver replay). */
  def bradleyTerry(pp: DataFrame): DataFrame = {
    val (np, snaps) = bradleyTerryFit(pp, Seq(3))
    val g = snaps(3)
    val ncomp = np.groupBy("i").agg(sum("nij").as("n_comparisons"))
    g.join(ncomp, Seq("i"))
      .select(col("i").as("item"), col("wins").as("n_wins"),
        col("n_comparisons"), col("gamma").as("gamma_ppm"))
      .orderBy(desc("gamma_ppm"), col("item"))
      .limit(20)
  }

  /** The MM iteration of [[q287]], generalized to SNAPSHOT the strength
    * frame after selected rounds (r14 VERDICT #6 — q296 prices the 3-round
    * approximation against a 5-round run the way q269 priced q252's
    * recall). Returns (np, round → γ frame); a snapshot round lists no
    * frames, so [[graft.operators.Rounds]] keeps its blocks, and every
    * other round is retired. */
  private[graft] def bradleyTerryFit(pp: DataFrame, snapshots: Seq[Int])
      : (DataFrame, Map[Int, DataFrame]) = {
    val S = graft.operators.Checkpoints
    val w = S.scratch(pp.groupBy(col("chosen").as("i"), col("rejected").as("j"))
      .agg(count(lit(1)).as("w")))
    // nij saturates at 10⁸ comparisons per pair (declared evidence cap,
    // identical in the oracle): the MM term nij·10¹⁰ wraps int64 past
    // ~9.2e8 comparisons on one pair, and at that volume the pair's
    // evidence is already astronomically certain — saturating it changes
    // no fit materially and keeps every per-term product ≤ 10¹⁸ exactly.
    // Residual declared ceiling: den sums the per-opponent terms, so an
    // item needs ~9.2e8 TOTAL capped comparisons against near-zero-γ
    // opponents to wrap — the same q238-class bound the scaladoc states.
    val np = S.scratch(w.select("i", "j", "w")
      .union(w.select(col("j").as("i"), col("i").as("j"), col("w")))
      .groupBy("i", "j").agg(least(sum("w"), lit(100000000L)).as("nij")))
    val wins = np.select("i").distinct()
      .join(w.groupBy("i").agg(sum("w").as("wins")), Seq("i"), "left")
      .na.fill(0L, Seq("wins"))
    val g0 = S.scratch(wins.withColumn("gamma", lit(1000000L)))
    val init = Round((g0, Map.empty[Int, DataFrame]), Seq(g0))
    val (last, _) = Rounds.iterate(init, snapshots.max) { case ((g, snaps), r) =>
      // the ≤|items| strength frame is BROADCAST into the pair blocks (the
      // hits/labelPropagation regime argument: the item catalog is bounded
      // by construction; scratch frames carry no useful size stats, so the
      // unhinted join planned exchanges on the |pairs| frame every round)
      val gi = g.select(col("i"), col("gamma"))
      val den = np
        .join(broadcast(gi), Seq("i"))
        .join(broadcast(gi.select(col("i").as("j"), col("gamma").as("gj"))),
          Seq("j"))
        .withColumn("t",
          expr("nij * 10000000000 div greatest(1, gamma + gj)"))
        .groupBy("i").agg(sum("t").as("den"))
      // the 10^12 ceiling applies to graw itself, not only to the
      // normalized gamma: with truncating division a large-γ round can
      // collapse den to 0 (every term nij·10^10 div (γi+γj) rounds down),
      // and an uncapped graw = wins·10^10 would overflow int64 in the
      // graw·10^6 normalization below
      //
      // mean renormalization rides the round's checkpoint job as an
      // observe accumulator and enters the γ projection as a LITERAL (the
      // discipline q267 HITS used in r17): the old `over (partition by 1)`
      // windows forced an exchange-to-one-partition + two window passes
      // per round for two scalars. γ stays a lazy projection over the
      // checkpointed raw blocks, so consumers re-run only the projection.
      // Same fixed-point algebra: div on non-negative int64 ≡ Scala /.
      val (graw, mrow) = S.scratchAgg(
        g.select("i", "wins").join(den, Seq("i"))
          .withColumn("graw", expr(
            "least(1000000000000, wins * 10000000000 div greatest(1, den))"))
          .select("i", "wins", "graw"),
        Seq(coalesce(sum(col("graw")), lit(0L)).as("s"),
          count(lit(1)).as("c")))
      val meang = math.max(1L,
        mrow.getAs[Long]("s") / math.max(1L, mrow.getAs[Long]("c")))
      val next = graw.withColumn("gamma",
          expr(s"least(1000000000000, graw * 1000000 div $meang)"))
        .select("i", "wins", "gamma")
      // a snapshot round's frame must outlive the loop: it lists no frames
      if (snapshots.contains(r)) Round((next, snaps + (r -> next)))
      else Round((next, snaps), Seq(graw))
    }
    (np, last.state._2)
  }

  /** One MM round as oracle CTEs — shared by q287 (3 rounds) and q296
    * (5 rounds, the convergence audit) so the two oracles can never
    * desync on the round algebra. */
  private def btRoundSql(r: Int): String = {
    val p = if (r == 1) "g0" else s"g${r - 1}"
    s"""t$r AS MATERIALIZED (
      |  SELECT np.i,
      |    SUM(np.nij * 10000000000 // GREATEST(1, a.gamma + b.gamma)) AS den
      |  FROM np JOIN $p a ON a.i = np.i JOIN $p b ON b.i = np.j
      |  GROUP BY np.i
      |), r$r AS MATERIALIZED (
      |  SELECT g.i, g.wins,
      |    LEAST(1000000000000, g.wins * 10000000000 // GREATEST(1, t.den))
      |      AS graw
      |  FROM $p g JOIN t$r t ON t.i = g.i
      |), m$r AS MATERIALIZED (
      |  SELECT GREATEST(1, SUM(graw) // COUNT(*)) AS meang FROM r$r
      |), g$r AS MATERIALIZED (
      |  SELECT i, wins,
      |    LEAST(1000000000000, graw * 1000000 // m.meang) AS gamma
      |  FROM r$r CROSS JOIN m$r m
      |)""".stripMargin
  }

  /** The preference-pair → np/wins/g0 oracle preamble shared by q287 and
    * q296. */
  private val btBaseSql: String =
    s"""ev AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type,
      |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
      |  FROM events
      |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
      |), pos AS (
      |  SELECT DISTINCT user_id, day, item FROM ev WHERE event_type = 'purchase'
      |), neg AS (
      |  SELECT DISTINCT v.user_id, v.day, v.item
      |  FROM ev v
      |  WHERE v.event_type = 'view' AND NOT EXISTS (
      |    SELECT 1 FROM pos p
      |    WHERE p.user_id = v.user_id AND p.day = v.day AND p.item = v.item)
      |), w AS MATERIALIZED (
      |  SELECT p.item AS i, n.item AS j, COUNT(*) AS w
      |  FROM pos p JOIN neg n ON n.user_id = p.user_id AND n.day = p.day
      |  GROUP BY 1, 2
      |), np AS MATERIALIZED (
      |  SELECT i, j, LEAST(SUM(w), 100000000) AS nij FROM (
      |    SELECT i, j, w FROM w UNION ALL SELECT j AS i, i AS j, w FROM w
      |  ) GROUP BY i, j
      |), g0 AS MATERIALIZED (
      |  SELECT it.i, COALESCE(wn.wins, 0) AS wins,
      |    CAST(1000000 AS BIGINT) AS gamma
      |  FROM (SELECT DISTINCT i FROM np) it
      |  LEFT JOIN (SELECT i, SUM(w) AS wins FROM w GROUP BY i) wn
      |    ON wn.i = it.i
      |)""".stripMargin

  val q287Sql: String =
    s"""WITH $btBaseSql, ${btRoundSql(1)}, ${btRoundSql(2)}, ${btRoundSql(3)}
      |SELECT g.i AS item, CAST(g.wins AS BIGINT) AS n_wins,
      |  CAST(nc.n_comparisons AS BIGINT) AS n_comparisons,
      |  CAST(g.gamma AS BIGINT) AS gamma_ppm
      |FROM g3 g JOIN (SELECT i, SUM(nij) AS n_comparisons FROM np GROUP BY i) nc
      |  ON nc.i = g.i
      |ORDER BY gamma_ppm DESC, item
      |LIMIT 20""".stripMargin

  /** q296's declared agreement tolerance: two fits agree on an item when
    * their γ differ by ≤ 1% of the mean-10⁶ scale. A literal calibration
    * knob both engines share (the q153 table discipline). */
  private[graft] val BtAgreeTolPpm = 10000L

  /** q296 Bradley–Terry convergence audit (r14 VERDICT #6) — q287 ships a
    * DELIBERATE 3-round MM approximation; this companion prices it the way
    * q269 priced q252's containment recall: the identical fit run to 5
    * rounds, per-item γ₃ vs γ₅ side by side with the absolute delta, plus
    * the corpus-wide agreement rate (share of items within
    * [[BtAgreeTolPpm]]) repeated on every row so the one number reads off
    * any row. MM is monotone in the BT likelihood, so γ₅ is strictly
    * closer to the fixed point — a low delta certifies 3 rounds as
    * converged for this corpus, a high one tells the operator to buy more
    * rounds BEFORE trusting q287's ranking. Cost: ONE fit to round 5 with
    * a snapshot at 3 (the rounds are a shared prefix, not two fits). The
    * agreement window is |items|-bounded (the q287 frame), and
    * sum(agree)·10⁶ wraps int64 only past ~9.2e12 items — beyond any
    * catalog. */
  def q296(spark: SparkSession, dir: String): DataFrame =
    // parallelized for the same reason as q287 (single-task pair build)
    btConvergence(graft.streaming.EventStream.preferencePairsStream(
      Tables.parallelized(Tables.load(spark, dir, "events"))))

  /** [[q296]]'s kernel over an arbitrary (chosen, rejected) pair frame —
    * spec entry point (planted intransitive cycles, snapshot-consistency
    * replay). */
  private[graft] def btConvergence(pp: DataFrame): DataFrame = {
    val (_, snaps) = bradleyTerryFit(pp, Seq(3, 5))
    val g3 = snaps(3).select(col("i"), col("gamma").as("gamma3_ppm"))
    val g5 = snaps(5).select(col("i"), col("gamma").as("gamma5_ppm"))
    g5.join(g3, Seq("i"))
      .withColumn("delta_ppm", abs(col("gamma5_ppm") - col("gamma3_ppm")))
      .withColumn("agree",
        when(col("delta_ppm") <= BtAgreeTolPpm, 1L).otherwise(0L))
      .withColumn("agree_rate_ppm",
        expr("sum(agree) over (partition by 1) * 1000000" +
          " div count(*) over (partition by 1)"))
      .select(col("i").as("item"), col("gamma3_ppm"), col("gamma5_ppm"),
        col("delta_ppm"), col("agree_rate_ppm"))
      .orderBy("item")
  }

  val q296Sql: String =
    s"""WITH $btBaseSql, ${btRoundSql(1)}, ${btRoundSql(2)}, ${btRoundSql(3)},
      |${btRoundSql(4)}, ${btRoundSql(5)}
      |SELECT g5.i AS item, CAST(g3.gamma AS BIGINT) AS gamma3_ppm,
      |  CAST(g5.gamma AS BIGINT) AS gamma5_ppm,
      |  CAST(ABS(g5.gamma - g3.gamma) AS BIGINT) AS delta_ppm,
      |  CAST(SUM(CASE WHEN ABS(g5.gamma - g3.gamma) <= $BtAgreeTolPpm
      |      THEN 1 ELSE 0 END) OVER () * 1000000
      |    // COUNT(*) OVER () AS BIGINT) AS agree_rate_ppm
      |FROM g5 JOIN g3 ON g3.i = g5.i
      |ORDER BY item""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q281_temperature_mix", q281 _, Some(q281Sql)),
    ("q286_repeat_value", q286 _, Some(q286Sql)),
    ("q287_bradley_terry", q287 _, Some(q287Sql)),
    ("q296_bt_convergence", q296 _, Some(q296Sql)),
    ("q270_softdedup_weights", q270 _, Some(q270Sql)),
    ("q271_packing_audit", q271 _, Some(q271Sql)),
    ("q179_dsir_weights", q179 _, Some(q179Sql)),
    ("q197_cluster_census", q197 _, Some(q197Sql)),
    ("q189_gram_novelty", q189 _, Some(q189Sql)),
    ("q185_neardup_ingest", q185 _, Some(q185Sql)),
    ("q183_quality_dedup", q183 _, Some(q183Sql)),
    ("q171_cluster_split", q171 _, Some(q171Sql)),
    ("q127_bpe_merge", q127 _, Some(q127Sql)),
    ("q135_bpe_table", (s: SparkSession, d: String) => q135(s, d), Some(q135Sql)),
    ("q137_bpe_vocab", (s: SparkSession, d: String) => q137(s, d), Some(q137Sql)),
    ("q144_bpe_encode", (s: SparkSession, d: String) => q144(s, d), Some(q144Sql)),
    ("q139_mixture_sample", q139 _, Some(q139Sql)),
    ("q129_markov_eval", q129 _, Some(q129Sql)),
    ("q130_class_balance", q130 _, Some(q130Sql)),
    ("q131_cluster_sizes", q131 _, Some(q131Sql)),
    ("q128_ingest_dedup", q128 _, Some(q128Sql)),
    ("q159_semantic_dedup", q159 _, Some(q159Sql)),
    ("q160_lm_surprisal", q160 _, Some(q160Sql)),
    ("q164_preference_pairs", q164 _, Some(q164Sql)),
    ("q165_flattened_sample", q165 _, Some(q165Sql)),
    ("q166_token_apportion", q166 _, Some(q166Sql)),
    ("q206_capped_apportion", q206 _, Some(q206Sql)),
    ("q221_curation_funnel", q221 _, Some(q221Sql)),
    ("q239_purged_split", q239 _, Some(q239Sql)),
    ("q224_bloom_ingest_gate", q224 _, Some(q224Sql)),
    ("q58_dedup_clusters", q58 _, Some(q58Sql)),
    ("q59_decontaminate", q59 _, Some(q59Sql)),
    ("q150_source_overlap", q150 _, Some(q150Sql)),
    ("q60_distinctive_terms", q60 _, Some(q60Sql)),
    ("q61_repetition", q61 _, Some(q61Sql)),
    ("q66_stratified_sample", q66 _, Some(q66Sql)),
    ("q67_dist_ranks", q67 _, Some(q67Sql)),
    ("q68_array_funcs", q68 _, Some(q68Sql)))
}
