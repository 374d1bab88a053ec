package graft.queries

import graft.Tables
import graft.ann.Knn
import graft.dedup.Dedup
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The LLM-data-pipeline extension operators (SURVEY §2.11) as declared
  * queries: dedup family, similarity search, text analysis. Oracle SQL is
  * provided wherever the semantics are SQL-expressible in DuckDB without a
  * corpus² blow-up; the remaining queries are deterministic (seeded hashes,
  * total ordering) and covered by unit tests + the rows-only check.
  */
object Extensions {

  /** q26 exact dedup: deterministic survivor + multiplicity per distinct text. */
  def q26(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.load(spark, dir, "documents"))
      .select("keep_id", "dup_count")
      .orderBy("keep_id")

  val q26Sql =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** q27 MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join→
    * exact-Jaccard verify) at the 0.70 Jaccard threshold — the WIDER gate of
    * the two registered LSH dedup points (q99 runs the same pipeline at
    * 0.80). Re-keyed on the PORTABLE Carter-Wegman permutations (r11
    * VERDICT #1): every random bit derives from md5 + fixed integer maps, so
    * the DuckDB oracle replays the whole pipeline and q27 graduates from
    * rows-only to the hash gate. */
  def q27(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairsPortable(spark, dir, minJaccardX1e6 = 700000L)
      .orderBy("doc_a", "doc_b")

  val q27Sql: String = portableLshSql(700000L)

  /** q28 SimHash near-dup pairs (Hamming ≤ 6 via corpus-adaptive compound
    * block keys — Manku 2007, r12; see [[Dedup.simHashPairsPortable]] for
    * the ×30 scale rationale) over the PORTABLE 60-bit fingerprint —
    * md5-derived bit weights (r11 VERDICT #1) make every fingerprint bit,
    * compound band key, and Hamming distance integer arithmetic both
    * engines evaluate identically, so the oracle replays the full pipeline
    * including the adaptive key width AND the 256-member dense-bucket
    * cutoff (r12 VERDICT #1: dense compound-key buckets are near-dup
    * CLUSTERS routed to the q58/q131 connected-components pass; the
    * pairwise operator emits pairs discoverable through ≥ 1 sparse
    * bucket). */
  def q28(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairsPortable(Tables.load(spark, dir, "documents"))
      .orderBy("doc_a", "doc_b")

  val q28Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks WHERE len(w) >= 3
      |), fp AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), t ->
      |      CASE WHEN list_sum(list_transform(hs,
      |        h -> CASE WHEN ((h >> CAST(t AS INTEGER)) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |      THEN (CAST(1 AS BIGINT) << CAST(t AS INTEGER)) ELSE 0 END)) AS BIGINT) AS f
      |  FROM sh
      |), pw AS (
      |  SELECT LEAST(4, GREATEST(1,
      |    (LENGTH(BIN(GREATEST(CAST(1 AS BIGINT), COUNT(*) - 1))) - 5) // 5)) AS j
      |  FROM fp
      |), bands AS (
      |  SELECT doc_id, f, r.b AS band,
      |    (f >> CAST(r.b * 6 AS INTEGER)) & 63 AS bkey
      |  FROM fp CROSS JOIN pw CROSS JOIN range(0, 10) r(b)
      |  WHERE pw.j = 1
      |  UNION ALL
      |  SELECT doc_id, f, x.a * 10 + y.a AS band,
      |    ((f >> CAST(x.a * 6 AS INTEGER)) & 63)
      |      | (((f >> CAST(y.a * 6 AS INTEGER)) & 63) << 6) AS bkey
      |  FROM fp CROSS JOIN pw
      |  CROSS JOIN range(0, 10) x(a) CROSS JOIN range(0, 10) y(a)
      |  WHERE pw.j = 2 AND x.a < y.a
      |  UNION ALL
      |  SELECT doc_id, f, (x.a * 10 + y.a) * 10 + z.a AS band,
      |    ((f >> CAST(x.a * 6 AS INTEGER)) & 63)
      |      | (((f >> CAST(y.a * 6 AS INTEGER)) & 63) << 6)
      |      | (((f >> CAST(z.a * 6 AS INTEGER)) & 63) << 12) AS bkey
      |  FROM fp CROSS JOIN pw
      |  CROSS JOIN range(0, 10) x(a) CROSS JOIN range(0, 10) y(a)
      |  CROSS JOIN range(0, 10) z(a)
      |  WHERE pw.j = 3 AND x.a < y.a AND y.a < z.a
      |  UNION ALL
      |  SELECT doc_id, f, ((x.a * 10 + y.a) * 10 + z.a) * 10 + u.a AS band,
      |    ((f >> CAST(x.a * 6 AS INTEGER)) & 63)
      |      | (((f >> CAST(y.a * 6 AS INTEGER)) & 63) << 6)
      |      | (((f >> CAST(z.a * 6 AS INTEGER)) & 63) << 12)
      |      | (((f >> CAST(u.a * 6 AS INTEGER)) & 63) << 18) AS bkey
      |  FROM fp CROSS JOIN pw
      |  CROSS JOIN range(0, 10) x(a) CROSS JOIN range(0, 10) y(a)
      |  CROSS JOIN range(0, 10) z(a) CROSS JOIN range(0, 10) u(a)
      |  WHERE pw.j = 4 AND x.a < y.a AND y.a < z.a AND z.a < u.a
      |), smallb AS (
      |  SELECT band, bkey FROM bands
      |  GROUP BY band, bkey HAVING COUNT(*) <= 256
      |), kept AS (
      |  SELECT b.doc_id, b.f, b.band, b.bkey
      |  FROM bands b JOIN smallb USING (band, bkey)
      |)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
      |FROM kept a JOIN kept b
      |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.f, b.f)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q252 CONTAINMENT near-dup pairs (new r13) — Broder's asymmetric
    * similarity, the quote/doc-in-doc detector resemblance-LSH cannot see
    * (a short document quoted inside a long one has Jaccard ≈ 0 but
    * containment ≈ 1); discovery by df-capped rare-shingle anchors, exact
    * integer verify, fully oracle-replayed — see
    * [[Dedup.containmentPairs]] for the algorithm and the declared
    * common-shingle-only miss trade. */
  def q252(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.load(spark, dir, "documents"))

  val q252Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS h
      |  FROM toks WHERE len(w) >= 3
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
      |), rare AS (
      |  SELECT h FROM sh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 64
      |), anch AS (
      |  SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM anch a JOIN anch b ON a.h = b.h AND a.doc_id < b.doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.doc_a
      |  JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  CAST(1000000 * i // LEAST(sa.nsh, sb.nsh) AS BIGINT) AS containment_ppm
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE 1000000 * i // LEAST(sa.nsh, sb.nsh) >= 700000
      |ORDER BY containment_ppm DESC, doc_a, doc_b LIMIT 20""".stripMargin

  /** q269 containment-recall audit (r13 VERDICT #3) — prices q252's
    * df-cap anchor rule the way q262 prices cell blocking: exact
    * containment pairs on a fixed 64-doc panel vs the pairs the anchor
    * rule discovers, recall per 100k-ppm containment band. See
    * [[Dedup.containmentRecallAudit]]. */
  def q269(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentRecallAudit(Tables.load(spark, dir, "documents"))

  val q269Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS h
      |  FROM toks WHERE len(w) >= 3
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id
      |), pint AS (
      |  SELECT p.doc_id AS id_p, o.doc_id AS id_o, COUNT(*) AS i
      |  FROM sh p JOIN sh o ON o.h = p.h AND o.doc_id <> p.doc_id
      |  WHERE p.doc_id < 64
      |  GROUP BY 1, 2
      |), truth AS (
      |  SELECT DISTINCT LEAST(id_p, id_o) AS doc_a,
      |    GREATEST(id_p, id_o) AS doc_b,
      |    CAST(1000000 * i // LEAST(sp.nsh, so.nsh) AS BIGINT) AS cppm
      |  FROM pint
      |  JOIN sizes sp ON sp.doc_id = id_p
      |  JOIN sizes so ON so.doc_id = id_o
      |  WHERE 1000000 * i // LEAST(sp.nsh, so.nsh) >= 700000
      |), rare AS (
      |  SELECT h FROM sh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 64
      |), anch AS (
      |  SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM anch a JOIN anch b ON a.h = b.h AND a.doc_id < b.doc_id
      |  WHERE a.doc_id < 64 OR b.doc_id < 64
      |), tb AS (
      |  SELECT (cppm // 100000) * 100000 AS band_ppm, doc_a, doc_b FROM truth
      |), fb AS (
      |  SELECT (t.cppm // 100000) * 100000 AS band_ppm
      |  FROM truth t JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
      |)
      |SELECT t.band_ppm,
      |  CAST(t.n AS BIGINT) AS n_true_pairs,
      |  CAST(COALESCE(f.n, 0) AS BIGINT) AS n_found_pairs,
      |  CAST(COALESCE(f.n, 0) * 1000000 // t.n AS BIGINT) AS recall_ppm
      |FROM (SELECT band_ppm, COUNT(*) AS n FROM tb GROUP BY 1) t
      |LEFT JOIN (SELECT band_ppm, COUNT(*) AS n FROM fb GROUP BY 1) f
      |  USING (band_ppm)
      |ORDER BY band_ppm""".stripMargin

  /** q255 PERSISTED-signature-store batch probe (new r13) — the
    * deployment shape q185's docstring promised: the existing corpus's
    * MinHash signatures live in a stamp-keyed parquet store (built once
    * per corpus — the q103/q247 build-once discipline applied to TEXT),
    * and each arrival batch pays only its own narrow signature map plus
    * a band join against the slim store. Emits every batch doc with its
    * best existing match at J ≥ 0.7 (or −1). See
    * [[graft.dedup.PortableSigStore]]. */
  def q255(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.PortableSigStore.batchProbe(spark, dir)

  val q255Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks WHERE len(w) >= 3
      |), sig AS (
      |  SELECT doc_id, hs,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1,
      |    list_min(list_transform(hs, h -> (32452843 * (h % 2147483647) + 1009) % 2147483647)) AS s2,
      |    list_min(list_transform(hs, h -> (49979687 * (h % 2147483647) + 10007) % 2147483647)) AS s3,
      |    list_min(list_transform(hs, h -> (67867967 * (h % 2147483647) + 100003) % 2147483647)) AS s4,
      |    list_min(list_transform(hs, h -> (86028121 * (h % 2147483647) + 1000003) % 2147483647)) AS s5,
      |    list_min(list_transform(hs, h -> (104395301 * (h % 2147483647) + 9999991) % 2147483647)) AS s6,
      |    list_min(list_transform(hs, h -> (122949823 * (h % 2147483647) + 999983) % 2147483647)) AS s7
      |  FROM sh
      |), base AS (
      |  SELECT * FROM sig
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 <> 0
      |), bat AS (
      |  SELECT * FROM sig
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |), cand AS (
      |  SELECT n.doc_id AS nid, e.doc_id AS eid, n.hs AS hn, e.hs AS he
      |  FROM bat n JOIN base e ON (
      |    (n.s0 = e.s0 AND n.s1 = e.s1) OR (n.s2 = e.s2 AND n.s3 = e.s3) OR
      |    (n.s4 = e.s4 AND n.s5 = e.s5) OR (n.s6 = e.s6 AND n.s7 = e.s7))
      |), j AS (
      |  SELECT nid, eid, len(list_intersect(hn, he)) AS i,
      |    len(hn) + len(he) - len(list_intersect(hn, he)) AS u
      |  FROM cand
      |), v AS (
      |  SELECT nid, eid, CAST(FLOOR(1000000.0 * i / u) AS BIGINT) AS jac
      |  FROM j WHERE FLOOR(1000000.0 * i / u) >= 700000
      |), best AS (
      |  SELECT nid, eid, jac,
      |    ROW_NUMBER() OVER (PARTITION BY nid ORDER BY jac DESC, eid) AS rk
      |  FROM v
      |), allb AS (
      |  SELECT doc_id FROM documents
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |)
      |SELECT a.doc_id,
      |  CAST(COALESCE(b.eid, -1) AS BIGINT) AS match_id,
      |  CAST(COALESCE(b.jac, 0) AS BIGINT) AS jaccard_x1e6,
      |  CAST(b.eid IS NOT NULL AS INTEGER) AS is_dup
      |FROM allb a
      |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.nid = a.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q29 exact word-bigram Jaccard over a linear pair stream — the dedup
    * verification kernel, oracle-checked. */
  def q29(spark: SparkSession, dir: String): DataFrame =
    Dedup.adjacentNgramJaccard(Tables.load(spark, dir, "documents"))
      .orderBy("doc_a")

  val q29Sql =
    """WITH toks AS (
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
      |)
      |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
      |  CAST(FLOOR(1000000.0 * COALESCE(i.i, 0) / (sa.n + sb.n - COALESCE(i.i, 0))) AS BIGINT)
      |    AS jaccard_x1e6
      |FROM gsets sa JOIN gsets sb ON sb.doc_id = sa.doc_id + 1
      |LEFT JOIN inter i ON i.doc_a = sa.doc_id
      |ORDER BY doc_a""".stripMargin

  /** q30 embedding near-dup candidates via hyperplane-LSH bands + integer
    * cos²-ppm verify (top-20) — PORTABLE since r12 (r11 VERDICT #1): the
    * 63-bit arithmetic hyperplane signature and the signed quantized score
    * are pure integer algebra, so the DuckDB oracle replays the whole
    * pipeline — corpus-adaptive band width, dense-bucket cutoff, and
    * banding included (see [[Dedup.embeddingNearDupsPortable]] for the ×30
    * scale rationale behind both knobs). */
  def q30(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupsPortable(Tables.load(spark, dir, "embeddings"))

  /** Shared DuckDB CTE prefix for the whole portable vector family
    * (q30/q32/q49/q80/q103): quantize to int64 (⌊x·100⌋) and norm-filter —
    * the exact integer algebra of [[graft.ann.PortableAnn.quantized]]. */
  private[queries] val portableQuantCte: String =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM q WHERE CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) > 0
      |)""".stripMargin

  /** DuckDB CTE prefix: quantize → norm-filter → 63-bit signature — the
    * exact integer algebra of [[graft.plans.PortableHyperplaneSig]]. */
  private val portableSigCte: String =
    s"""$portableQuantCte, s AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(0, 63), t ->
      |      CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), j ->
      |        qv[j] * ((1299709 * (t * len(qv) + j - 1) + 15485863) % 1000003
      |                 - 500001))) >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(t AS INTEGER)) ELSE 0 END))
      |      AS BIGINT) AS sig
      |  FROM n
      |)""".stripMargin

  /** [[portableSigCte]] + the FIXED 9×7-bit banding of the q32 serve (a
    * per-query probe: candidates grow linearly in the corpus, so coarse
    * bands are the right recall/cost point there). */
  private val portableSigBandsCte: String =
    s"""$portableSigCte, bands AS (
      |  SELECT vec_id, r.b AS band_id,
      |    (sig >> CAST(r.b * 7 AS INTEGER)) & 127 AS band_val
      |  FROM s CROSS JOIN range(0, 9) r(b)
      |)""".stripMargin

  /** [[portableSigCte]] + CORPUS-ADAPTIVE banding for pair discovery
    * (q30): width = bitlength(n−1) clamped to [7, 21], bands = 63 div
    * width — buckets track corpus size so collision pairs stay ∝ n. The
    * same integer algebra as the Spark side (`length(bin(n − 1))`). */
  private val portableAdaptiveBandsCte: String =
    s"""$portableSigCte, pw AS (
      |  SELECT LEAST(21, GREATEST(7,
      |      LENGTH(BIN(GREATEST(CAST(1 AS BIGINT), COUNT(*) - 1))))) AS w
      |  FROM n
      |), bands AS (
      |  SELECT vec_id, r.b AS band_id,
      |    (sig >> CAST(r.b * pw.w AS INTEGER)) &
      |      ((CAST(1 AS BIGINT) << CAST(pw.w AS INTEGER)) - 1) AS band_val
      |  FROM s CROSS JOIN pw CROSS JOIN range(0, 9) r(b)
      |  WHERE r.b < 63 // pw.w
      |)""".stripMargin

  val q30Sql: String =
    s"""WITH $portableAdaptiveBandsCte, smallb AS (
      |  SELECT band_id, band_val FROM bands
      |  GROUP BY band_id, band_val HAVING COUNT(*) <= 256
      |), kept AS (
      |  SELECT b.vec_id, b.band_id, b.band_val
      |  FROM bands b JOIN smallb USING (band_id, band_val)
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM kept a JOIN kept b
      |    ON a.band_id = b.band_id AND a.band_val = b.band_val
      |   AND a.vec_id < b.vec_id
      |), pairs AS (
      |  SELECT c.vec_a, c.vec_b, x.nrm AS na, y.nrm AS nb,
      |    CAST(list_sum(list_transform(range(1, len(x.qv) + 1),
      |      i -> x.qv[i] * y.qv[i])) AS BIGINT) AS dot
      |  FROM cand c
      |  JOIN n x ON x.vec_id = c.vec_a
      |  JOIN n y ON y.vec_id = c.vec_b
      |)
      |SELECT vec_a, vec_b,
      |  CAST(CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |       ELSE -(dot * dot * 1000000 // (na * nb)) END AS BIGINT) AS score_x1e6
      |FROM pairs
      |ORDER BY score_x1e6 DESC, vec_a, vec_b
      |LIMIT 20""".stripMargin

  /** q31 brute-force cosine top-10 vs the vec_id=0 embedding — oracle-checked
    * similarity-search baseline. */
  def q31(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    Knn.bruteForce(embs, Knn.queryVector(embs, 0L), excludeId = 0L, k = 10)
  }

  val q31Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |pairs AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |    CAST(unnest(q.qe) AS DOUBLE) AS y
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> 0
      |)
      |SELECT vec_id,
      |  CAST(FLOOR(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))) * 10000.0) AS BIGINT)
      |    AS cos_x10k
      |FROM pairs GROUP BY vec_id
      |ORDER BY cos_x10k DESC, vec_id LIMIT 10""".stripMargin

  /** q32 LSH-bucketed approximate top-10 vs the vec_id=0 query — PORTABLE
    * since r12 (r11 VERDICT #1): candidates are the vectors sharing ≥ 1 of
    * the query's 9 signature bands (the multi-probe analog), ranked by the
    * signed integer cos²-ppm score, every step replayed by the DuckDB
    * oracle. */
  def q32(spark: SparkSession, dir: String): DataFrame =
    Knn.lshTopKPortable(Tables.load(spark, dir, "embeddings"),
      queryId = 0L, k = 10)

  val q32Sql: String =
    s"""WITH $portableSigBandsCte, qb AS (
      |  SELECT band_id, band_val FROM bands WHERE vec_id = 0
      |), cand AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM bands b JOIN qb
      |    ON b.band_id = qb.band_id AND b.band_val = qb.band_val
      |  WHERE b.vec_id <> 0
      |), q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), scored AS (
      |  SELECT c.vec_id, x.nrm AS na, q0.nrm AS nb,
      |    CAST(list_sum(list_transform(range(1, len(x.qv) + 1),
      |      i -> x.qv[i] * q0.qv[i])) AS BIGINT) AS dot
      |  FROM cand c JOIN n x ON x.vec_id = c.vec_id CROSS JOIN q0
      |)
      |SELECT vec_id,
      |  CAST(CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |       ELSE -(dot * dot * 1000000 // (na * nb)) END AS BIGINT) AS score_x1e6
      |FROM scored
      |ORDER BY score_x1e6 DESC, vec_id
      |LIMIT 10""".stripMargin

  /** q49 IVF-flat approximate top-10 — PORTABLE since r12 (r11 VERDICT #2):
    * integer Lloyd over an md5 hash-sample trains 8 coarse centroids
    * (truncating-division means — exact in any engine), the query probes the
    * 3 nearest lists by integer L2, and candidates rank by the signed
    * cos²-ppm integer score, so the DuckDB oracle replays TRAINING AND
    * SERVE bit-for-bit (the Lloyd iterations are unrolled CTEs). Served
    * through the fingerprint-keyed model registry (ann/Models): centroids
    * train once per corpus, every query pays only the narrow assignment +
    * probe scan. */
  def q49(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    // latest-stamp registry: a regenerated corpus retrains AND releases the
    // superseded model instead of accumulating entries for dead corpora
    val cents = graft.ann.Models.cachedLatest[Array[(Long, Array[Long])]](
      s"pivf:$dir:8:2", graft.ann.Models.corpusStamp(spark, dir)) {
      graft.ann.PortableAnn.ivfTrainInt(
        graft.ann.PortableAnn.quantized(embs), nClusters = 8, iters = 2)
    }
    graft.ann.PortableAnn.ivfTopKPortable(embs, queryId = 0L, k = 10,
      nClusters = 8, nProbe = 3, model = Some(cents))
  }

  /** Integer-L2 DuckDB fragment: ‖a−b‖² over 1-based list slots. */
  private[queries] def l2Sql(a: String, b: String, dim: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** DuckDB CTEs replaying [[graft.ann.PortableAnn.ivfTrainInt]]: portable
    * md5 hash-sample (`samp`) → lowest-id init (`c0`) → `iters` unrolled
    * Lloyd rounds (assign `aN` by integer L2 with ties to the smaller cid,
    * update `cN` by truncating-division means, empty clusters keeping their
    * previous centroid). Final model CTE: `<pfx>c<iters>`. `pfx` namespaces
    * every CTE so several trains (the tiered-k arms of
    * [[Semantic.tieredTrainCtes]]) can coexist in one WITH clause. */
  /** `gate`: optional extra predicate ANDed into the sample CTE's WHERE —
    * the tiered-arm generator passes its tier condition here so NON-FIRING
    * arms train on EMPTY sets instead of running the full Lloyd chain and
    * being discarded in the final union's WHERE (r13 ADVICE #3 — the
    * ungated shape cost DuckDB ~4× the needed oracle CPU at every corpus
    * size; the firing arm's output is unchanged because its gate is true
    * for every row). */
  private[queries] def ivfTrainCtes(nC: Int, mod: Int, topUp: Int, dim: Int,
      iters: Int, src: String = "n", pfx: String = "",
      gate: String = ""): String = {
    val gateSql = if (gate.isEmpty) "" else s"\n    AND ($gate)"
    val sb = new StringBuilder
    sb ++= s"""${pfx}samp AS (
      |  SELECT vec_id, qv FROM $src
      |  WHERE (CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % $mod = 0
      |     OR vec_id < $topUp)$gateSql
      |), ${pfx}c0 AS (
      |  SELECT vec_id AS cid, qv AS cvec
      |  FROM (SELECT vec_id, qv FROM ${pfx}samp ORDER BY vec_id LIMIT $nC)
      |)""".stripMargin
    for (it <- 1 to iters) {
      sb ++= s""", ${pfx}a$it AS (
      |  SELECT vec_id, qv, cid FROM (
      |    SELECT s.vec_id, s.qv, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
      |        ${l2Sql("s.qv", "c.cvec", dim)}, c.cid) AS rn
      |    FROM ${pfx}samp s CROSS JOIN ${pfx}c${it - 1} c) t
      |  WHERE rn = 1
      |), ${pfx}m$it AS (
      |  SELECT cid, r.i AS pos,
      |    CAST(SUM(qv[r.i + 1]) AS BIGINT) // COUNT(*) AS mv
      |  FROM ${pfx}a$it CROSS JOIN range(0, $dim) r(i)
      |  GROUP BY cid, r.i
      |), ${pfx}c$it AS (
      |  SELECT c.cid, COALESCE(u.cvec, c.cvec) AS cvec
      |  FROM ${pfx}c${it - 1} c LEFT JOIN
      |    (SELECT cid, list(mv ORDER BY pos) AS cvec FROM ${pfx}m$it GROUP BY cid) u
      |    ON u.cid = c.cid
      |)""".stripMargin
    }
    sb.toString
  }

  val q49Sql: String =
    s"""WITH $portableQuantCte, ${ivfTrainCtes(nC = 8, mod = 10, topUp = 8,
        dim = 64, iters = 2)}, q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), probe AS (
      |  SELECT cid FROM (
      |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY
      |      ${l2Sql("q0.qv", "c.cvec", 64)}, c.cid) AS rn
      |    FROM c2 c CROSS JOIN q0) t
      |  WHERE rn <= 3
      |), asg AS (
      |  SELECT vec_id, qv, nrm, cid FROM (
      |    SELECT s.vec_id, s.qv, s.nrm, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
      |        ${l2Sql("s.qv", "c.cvec", 64)}, c.cid) AS rn
      |    FROM n s CROSS JOIN c2 c
      |    WHERE s.vec_id <> 0) t
      |  WHERE rn = 1
      |), scored AS (
      |  SELECT a.vec_id, a.nrm AS na, q0.nrm AS nb,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      i -> a.qv[i] * q0.qv[i])) AS BIGINT) AS dot
      |  FROM asg a JOIN probe p ON p.cid = a.cid CROSS JOIN q0
      |)
      |SELECT vec_id,
      |  CAST(CASE WHEN dot >= 0 THEN dot * dot * 1000000 // (na * nb)
      |       ELSE -(dot * dot * 1000000 // (na * nb)) END AS BIGINT) AS score_x1e6
      |FROM scored
      |ORDER BY score_x1e6 DESC, vec_id
      |LIMIT 10""".stripMargin

  /** q80 product-quantization ANN — PORTABLE since r12 (r11 VERDICT #2):
    * 8 subspaces × 16 integer codes trained by integer Lloyd over the md5
    * hash-sample, ADC candidate scan (integer distance tables as literals
    * through the native `adc_dist` kernel — int64 values are exact in
    * double) + exact integer-L2 re-rank of topK×refine rows, zero
    * corpus-sized shuffles. The DuckDB oracle replays training, encoding,
    * ADC, and re-rank bit-for-bit. Codebooks come from the
    * fingerprint-keyed model registry (ann/Models): trained once per
    * corpus, served from memory after. */
  def q80(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val cbs = graft.ann.Models.cachedLatest[Array[Array[Array[Long]]]](
      s"ppq:$dir:8:16:2", graft.ann.Models.corpusStamp(spark, dir)) {
      graft.ann.PortableAnn.pqTrainInt(
        graft.ann.PortableAnn.quantized(embs), dim = 64, m = 8, k = 16,
        iters = 2)
    }
    graft.ann.PortableAnn.pqTopKPortable(embs, queryId = 0L, topK = 10,
      dim = 64, m = 8, k = 16, model = Some(cbs))
  }

  /** Integer subspace-L2 DuckDB fragment: ‖vec_sub(s) − cb‖² where the
    * subspace slice is `vec[s·w + j]`, j = 1..w (1-based slots). */
  private def subL2Sql(vec: String, sCol: String, cb: String, w: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${w + 1}), " +
      s"j -> ($vec[$sCol * $w + j] - $cb[j]) * ($vec[$sCol * $w + j] - $cb[j]))) AS BIGINT)"

  /** DuckDB CTEs replaying [[graft.ann.PortableAnn.pqTrainInt]] over the
    * (vec_id, qv) relation `src`: portable md5 hash-sample (`psamp`) →
    * lowest-id init codes (`cb0`) → `iters` unrolled per-subspace Lloyd
    * rounds (assign `eN` by integer subspace L2 with ties to the smaller
    * code, update `uN`/`cbN` by truncating-division means, empty codes
    * keeping their previous centroid). Final codebook CTE: `cb<iters>`. */
  private def pqTrainCtes(src: String, m: Int, k: Int, w: Int, mod: Int,
      iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""psamp AS (
      |  SELECT vec_id, qv FROM $src
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % $mod = 0
      |     OR vec_id < $k
      |), pinit AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, qv
      |  FROM (SELECT vec_id, qv FROM psamp ORDER BY vec_id LIMIT $k)
      |), cb0 AS (
      |  SELECT r.s, p.code,
      |    list_transform(range(1, ${w + 1}), j -> p.qv[r.s * $w + j]) AS cvec
      |  FROM pinit p CROSS JOIN range(0, $m) r(s)
      |)""".stripMargin
    for (it <- 1 to iters) {
      sb ++= s""", e$it AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT p.vec_id, cb.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY p.vec_id, cb.s ORDER BY
      |        ${subL2Sql("p.qv", "cb.s", "cb.cvec", w)}, cb.code) AS rn
      |    FROM psamp p CROSS JOIN cb${it - 1} cb) t
      |  WHERE rn = 1
      |), u$it AS (
      |  SELECT e.s, e.code, r.j AS sp,
      |    CAST(SUM(p.qv[e.s * $w + r.j]) AS BIGINT) // COUNT(*) AS mv
      |  FROM e$it e JOIN psamp p USING (vec_id) CROSS JOIN range(1, ${w + 1}) r(j)
      |  GROUP BY e.s, e.code, r.j
      |), cb$it AS (
      |  SELECT c.s, c.code, COALESCE(u.cvec, c.cvec) AS cvec
      |  FROM cb${it - 1} c LEFT JOIN
      |    (SELECT s, code, list(mv ORDER BY sp) AS cvec FROM u$it GROUP BY s, code) u
      |    ON u.s = c.s AND u.code = c.code
      |)""".stripMargin
    }
    sb.toString
  }


  /** The shared IVF assignment CTE pair (nearest centroid, ties → smaller
    * cid, then per-row residuals) over relation `src` against `c2` —
    * emitted as CTEs `asgName`/`rvName`. ONE definition serving
    * q103/q247/q248/q250, so a tie-break or residual-formula fix lands in
    * every oracle at once instead of four hand-kept copies. */
  private def assignResidCtes(src: String, asgName: String, rvName: String,
      dim: Int): String =
    s"""$asgName AS (
      |  SELECT vec_id, qv, cid FROM (
      |    SELECT s.vec_id, s.qv, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
      |        ${l2Sql("s.qv", "c.cvec", dim)}, c.cid) AS rn
      |    FROM $src s CROSS JOIN c2 c) t
      |  WHERE rn = 1
      |), $rvName AS (
      |  SELECT a.vec_id, a.cid,
      |    list_transform(range(1, ${dim + 1}), i -> a.qv[i] - c.cvec[i]) AS qv
      |  FROM $asgName a JOIN c2 c ON c.cid = a.cid
      |)""".stripMargin

  /** The shared IVF-PQ serve tail: probe → PQ-encode `encSrc` residuals
    * (minus the query row; `encPred`, when given, excises further rows —
    * q248's deleted bucket) → per-probe ADC tables → candidate top-50 →
    * exact integer re-rank against `rerankSrc` → top-10. Expects CTEs
    * `c2`, `cb2`, `q0` upstream. The one hand-written serve replay the
    * whole persisted-index family shares. */
  private def ivfPqServeSql(encSrc: String, rerankSrc: String,
      encPred: String = "", dim: Int = 64, w: Int = 8): String = {
    val pred = if (encPred.isEmpty) "" else s"\n      AND $encPred"
    s"""probe AS (
      |  SELECT cid FROM (
      |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY
      |      ${l2Sql("q0.qv", "c.cvec", dim)}, c.cid) AS rn
      |    FROM c2 c CROSS JOIN q0) t
      |  WHERE rn <= 3
      |), encp AS (
      |  SELECT vec_id, cid, s, code FROM (
      |    SELECT v.vec_id, v.cid, cb.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
      |        ${subL2Sql("v.qv", "cb.s", "cb.cvec", w)}, cb.code) AS rn
      |    FROM $encSrc v CROSS JOIN cb2 cb
      |    WHERE v.vec_id <> 0$pred) t
      |  WHERE rn = 1
      |), qres AS (
      |  SELECT p.cid,
      |    list_transform(range(1, ${dim + 1}), i -> q0.qv[i] - c.cvec[i]) AS rqv
      |  FROM probe p JOIN c2 c ON c.cid = p.cid CROSS JOIN q0
      |), dtp AS (
      |  SELECT qr.cid, cb.s, cb.code,
      |    ${subL2Sql("qr.rqv", "cb.s", "cb.cvec", w)} AS d
      |  FROM cb2 cb CROSS JOIN qres qr
      |), adistp AS (
      |  SELECT e.vec_id, CAST(SUM(d.d) AS BIGINT) AS ad
      |  FROM encp e JOIN dtp d
      |    ON d.cid = e.cid AND d.s = e.s AND d.code = e.code
      |  GROUP BY e.vec_id
      |), cands AS (
      |  SELECT vec_id FROM adistp ORDER BY ad, vec_id LIMIT 50
      |), rr AS (
      |  SELECT v.vec_id, ${l2Sql("v.qv", "q0.qv", dim)} AS dist_i64
      |  FROM $rerankSrc v JOIN cands USING (vec_id) CROSS JOIN q0
      |)
      |SELECT vec_id, dist_i64 FROM rr ORDER BY dist_i64, vec_id
      |LIMIT 10""".stripMargin
  }

  val q80Sql: String =
    s"""WITH $portableQuantCte, ${pqTrainCtes(src = "n", m = 8, k = 16,
        w = 8, mod = 10, iters = 2)}, q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), enc AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT v.vec_id, cb.s, cb.code,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
      |        ${subL2Sql("v.qv", "cb.s", "cb.cvec", 8)}, cb.code) AS rn
      |    FROM n v CROSS JOIN cb2 cb
      |    WHERE v.vec_id <> 0) t
      |  WHERE rn = 1
      |), dt AS (
      |  SELECT cb.s, cb.code, ${subL2Sql("q0.qv", "cb.s", "cb.cvec", 8)} AS d
      |  FROM cb2 cb CROSS JOIN q0
      |), adist AS (
      |  SELECT e.vec_id, CAST(SUM(dt.d) AS BIGINT) AS ad
      |  FROM enc e JOIN dt ON dt.s = e.s AND dt.code = e.code
      |  GROUP BY e.vec_id
      |), cands AS (
      |  SELECT vec_id FROM adist ORDER BY ad, vec_id LIMIT 50
      |), rr AS (
      |  SELECT v.vec_id, ${l2Sql("v.qv", "q0.qv", 64)} AS dist_i64
      |  FROM n v JOIN cands USING (vec_id) CROSS JOIN q0
      |)
      |SELECT vec_id, dist_i64 FROM rr ORDER BY dist_i64, vec_id
      |LIMIT 10""".stripMargin

  /** q103 IVF-PQ ANN — PORTABLE since r12 (r11 VERDICT #2): the composed
    * index (coarse lists + residual product quantization + per-list ADC +
    * exact re-rank) in pure integer arithmetic, served from the PERSISTED
    * portable index (ann/PortableIvfPqIndex): the first invocation per
    * corpus trains and writes the int model + cid-partitioned codes, every
    * later one reads them back — probes are partition-pruned scans
    * (PartitionFilters on cid, asserted in AnnSpec), so the measured
    * steady-state is the deployment serve path AND the DuckDB oracle
    * replays coarse training, residual codebook training, encoding, ADC,
    * and re-rank bit-for-bit. */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val idx = graft.ann.PortableIvfPqIndex.ensureBuilt(spark, embs, dir,
      dim = 64)
    graft.ann.PortableIvfPqIndex.query(spark, idx, embs, queryId = 0L,
      topK = 10, dim = 64)
  }

  val q103Sql: String =
    s"""WITH $portableQuantCte, ${ivfTrainCtes(nC = 8, mod = 10, topUp = 16,
        dim = 64, iters = 2)}, q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), ${assignResidCtes("n", "asg", "rv", 64)}, ${pqTrainCtes(src = "rv",
        m = 8, k = 16, w = 8, mod = 10, iters = 2)}, ${ivfPqServeSql(
        encSrc = "rv", rerankSrc = "n")}""".stripMargin

  /** q247 INCREMENTAL index ingest (new r12) — the maintenance operation a
    * deployed 100 TB vector index lives by: an ingest batch (the md5 bucket
    * 4-of-5 of vec_ids — a deterministic 20% "new arrivals" slice) is
    * APPENDED to the persisted IVF-PQ index under the FROZEN model (trained
    * on the base slice only; FAISS `add` semantics — retraining is a
    * deliberate corpus rewrite, never an ingest side effect), and the serve
    * probes partition-pruned code scans exactly as q103. Because encoding
    * is a pure function of (model, vector), build(base)+append(batch) is
    * bit-identical to encode(base ∪ batch) — the DuckDB oracle replays
    * base-only training, whole-corpus encoding, ADC and re-rank, so the
    * APPEND PATH ITSELF sits under the hash gate (top-10 including any
    * appended vectors that qualify), and AnnSpec asserts append ≡ rebuild
    * frame-for-frame. */
  def q247(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val idx = graft.ann.PortableIvfPqIndex.ensureBuiltWithIngest(spark, embs,
      dir, dim = 64)
    graft.ann.PortableIvfPqIndex.query(spark, idx, embs, queryId = 0L,
      topK = 10, dim = 64)
  }

  val q247Sql: String =
    s"""WITH $portableQuantCte, base AS (
      |  SELECT vec_id, qv FROM n
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 <> 4
      |), ${ivfTrainCtes(nC = 8, mod = 10, topUp = 16, dim = 64, iters = 2,
        src = "base")}, q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), ${assignResidCtes("n", "asg", "rv", 64)}, rvb AS (
      |  SELECT r.vec_id, r.qv FROM rv r JOIN base b USING (vec_id)
      |), ${pqTrainCtes(src = "rvb", m = 8, k = 16, w = 8, mod = 10,
        iters = 2)}, ${ivfPqServeSql(encSrc = "rv", rerankSrc = "n")}""".stripMargin

  /** q248 index DELETE + COMPACTION (new r12) — the third maintenance verb
    * of the deployed index lifecycle (build q103, ingest q247, delete
    * here): a deterministic 1-of-7 md5 bucket of vec_ids is tombstoned
    * (request-sized (vec_id, cid) rows — no rewrite at delete time, serves
    * anti-join them broadcast), then compaction physically rewrites ONLY
    * the cid partitions holding tombstoned rows via a restart-safe
    * hidden-dir swap, dropping the tombstones last so deleted rows can
    * never resurrect. The model keeps its pre-delete training (a delete
    * must not imply a retrain), so the oracle replays full-corpus training
    * and encoding and excises the deleted bucket from the candidate scan —
    * the hash gate covers the delete semantics end-to-end, and AnnSpec
    * asserts tombstone-serve ≡ compacted-serve, physical removal, and that
    * unaffected partitions' files are byte-identically untouched. */
  def q248(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val idx = graft.ann.PortableIvfPqIndex.ensureBuiltWithDelete(spark, embs,
      dir, dim = 64)
    graft.ann.PortableIvfPqIndex.queryLive(spark, idx, embs, queryId = 0L,
      topK = 10, dim = 64)
  }

  val q248Sql: String =
    s"""WITH $portableQuantCte, ${ivfTrainCtes(nC = 8, mod = 10, topUp = 16,
        dim = 64, iters = 2)}, q0 AS (
      |  SELECT qv, nrm FROM n WHERE vec_id = 0
      |), ${assignResidCtes("n", "asg", "rv", 64)}, ${pqTrainCtes(src = "rv",
        m = 8, k = 16, w = 8, mod = 10, iters = 2)}, ${ivfPqServeSql(
        encSrc = "rv", rerankSrc = "n", encPred =
          "CAST('0x' || substr(md5(CAST(v.vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 7 <> 2")}""".stripMargin

  /** q250 index UPSERT (new r12) — the re-embedding flow that completes
    * the maintenance lifecycle (build q103 / ingest q247 / delete q248 /
    * upsert here): the md5 bucket 5-of-9 of vec_ids gets new embeddings
    * (a deterministic integer patch standing in for a fresh encoder run),
    * and the index replaces those rows by DELETE → COMPACT → APPEND under
    * the frozen model. The compact BARRIER between delete and append is
    * the semantic content: tombstones are id-keyed, so appending the
    * replacement while its tombstone is pending would mask the new row at
    * serve — the ordering contract `ensureBuiltWithUpsert` owns and
    * AnnSpec proves (disk codes after upsert ≡ a whole-corpus re-encode
    * of the patched vectors, byte for byte). The oracle replays training
    * on the PRE-upsert corpus and candidate scan + re-rank on the patched
    * one, so the full replace semantics sit under the hash gate. */
  def q250(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val idx = graft.ann.PortableIvfPqIndex.ensureBuiltWithUpsert(spark, embs,
      dir, dim = 64)
    // the vector store after re-embedding: the same patched view (bucket
    // knob from the ONE shared definition), so the exact re-rank and the
    // query vector see the new embeddings too; codes read through the
    // empty-state-robust accessor per its contract
    val q2 = graft.ann.PortableIvfPqIndex.reembedded(
      graft.ann.PortableAnn.quantized(embs),
      mod = graft.ann.PortableIvfPqIndex.UpsertMod,
      bucket = graft.ann.PortableIvfPqIndex.UpsertBucket)
    graft.ann.PortableAnn.queryEncodedPortable(
      graft.ann.PortableIvfPqIndex.codesFrame(spark, idx), q2,
      graft.ann.PortableIvfPqIndex.loadModelCached(spark, idx),
      queryId = 0L, topK = 10, dim = 64)
  }

  val q250Sql: String =
    s"""WITH $portableQuantCte, ${ivfTrainCtes(nC = 8, mod = 10, topUp = 16,
        dim = 64, iters = 2)}, ${assignResidCtes("n", "asg", "rv", 64)},
        ${pqTrainCtes(src = "rv", m = 8, k = 16, w = 8, mod = 10,
        iters = 2)}, n2 AS (
      |  SELECT vec_id,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % ${graft.ann.PortableIvfPqIndex.UpsertMod} = ${graft.ann.PortableIvfPqIndex.UpsertBucket}
      |      THEN list_transform(qv, x -> x + 1 + vec_id % 3) ELSE qv END AS qv
      |  FROM n
      |), nn AS (
      |  SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM n2
      |), q0 AS (
      |  SELECT qv, nrm FROM nn WHERE vec_id = 0
      |), ${assignResidCtes("nn", "asg2", "rv2", 64)}, ${ivfPqServeSql(
        encSrc = "rv2", rerankSrc = "nn")}""".stripMargin

  /** q249 character-trigram LM quality score (new r12) — the CCNet-family
    * quality signal (Wenzek et al. 2020): score every document by its
    * cross-entropy under a reference language model, flagging
    * out-of-domain / low-quality text as HIGH surprise. The CHAR-level
    * complement of q160's WORD-bigram fluency filter: q160 scores
    * conditional word transitions and rolls up per source; this scores
    * unconditional char-trigram frequency per DOCUMENT — the estimator
    * that still works on tokenization-hostile garbage (mojibake, binary
    * spill, wrong-script text) where word segmentation itself has already
    * failed, which is exactly what a pretraining filter meets first. The
    * LM is char-trigram counts over a deterministic reference slice (md5
    * bucket 0-of-5 of doc_ids); a document's score is the mean per-trigram
    * surprise, where surprise is the PORTABLE integer log:
    * `length(bin(total div cnt))` = ⌈log2⌉ of the inverse relative
    * frequency (unseen trigrams smooth to cnt=1) — the `length(bin(…))`
    * integer-log idiom the adaptive LSH widths already rely on, so the
    * whole pipeline (training included) replays under the DuckDB hash
    * gate with zero floats. Returns the 15 most surprising documents.
    *
    * Scale shape: the LM is bounded by the charset³ trigram domain —
    * broadcastable at any corpus size, like the ANN codebooks; scoring is
    * one scan → per-char-position generator (posexplode_outer per the
    * q241 lesson — the array is never empty once `length ≥ 3` filters) →
    * broadcast left join → ONE doc_id-keyed partial aggregation →
    * TakeOrderedAndProject. The reference pass runs ONCE: the LM frame is
    * scratch-barriered (it feeds the `total` aggregate and the scoring
    * join — materializing it is the natural barrier, and it NEVER touches
    * the driver: on an open multilingual corpus the trigram domain reaches
    * 10⁶–10⁷ rows, a driver materialization the r12 verdict flagged), and
    * `total` is a broadcast 1-row aggregate cross-joined into the scoring
    * pass. Docs shorter than 3 chars carry no trigram and are excluded on
    * both engines; an empty reference slice degrades to a flat 1-bit score
    * on both engines rather than erroring. */
  def q249(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.load(spark, dir, "documents"))
      .filter(length(col("text")) >= 3)
    def tris(d: DataFrame): DataFrame = d
      .select(col("doc_id"), expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        .as("ts"))
      .select(col("doc_id"), posexplode_outer(col("ts")).as(Seq("p", "tri")))
      .select("doc_id", "tri")
    // the LM stays a DataFrame end-to-end; the empty-slice degenerate case
    // (total=1, every trigram unseen at 1 bit — flat, uninformative, never
    // an error) is carried by the same greatest/coalesce algebra the
    // oracle's tot CTE uses
    val lm = graft.operators.Checkpoints.scratch(
      tris(docs.filter(T.hashBucket(col("doc_id"), 5) === 0))
        .groupBy("tri").agg(count(lit(1)).as("cnt")))
    val tot = lm.agg(
      greatest(coalesce(sum("cnt"), lit(1L)), lit(1L)).as("t"))
    tris(docs)
      .join(broadcast(lm), Seq("tri"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        expr("length(bin(t div coalesce(cnt, 1L)))")
          .cast(LongType).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_tri"),
        expr("100 * sum_bits div n_tri").as("bits_x100"))
      .orderBy(desc("bits_x100"), col("doc_id"))
      .limit(15)
  }

  val q249Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents WHERE length(text) >= 3
      |), tr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, length(text) - 1),
      |      i -> substr(text, i, 3))) AS tri
      |  FROM d
      |), lm AS (
      |  SELECT tri, CAST(COUNT(*) AS BIGINT) AS cnt FROM tr
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 = 0
      |  GROUP BY tri
      |), tot AS (
      |  SELECT GREATEST(COALESCE(CAST(SUM(cnt) AS BIGINT), 1), 1) AS t FROM lm
      |), sc AS (
      |  SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
      |    SUM(length(bin(tot.t // coalesce(lm.cnt, 1)))) AS sum_bits
      |  FROM tr LEFT JOIN lm USING (tri) CROSS JOIN tot
      |  GROUP BY tr.doc_id
      |)
      |SELECT doc_id, n_tri, CAST(100 * sum_bits // n_tri AS BIGINT) AS bits_x100
      |FROM sc ORDER BY bits_x100 DESC, doc_id LIMIT 15""".stripMargin

  /** q33 per-document quality stats: token count, avg word length (×100),
    * quality flag — all integer math, oracle-checked. */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val spaces = length(t) - length(regexp_replace(t, " ", ""))
    val toks = (spaces + 1).cast(LongType)
    val awl = floor(lit(100.0) * (length(t) - spaces) / toks)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), toks.as("n_tokens"), awl.as("awl_x100"),
        (toks >= 5 && toks <= 1000 && awl >= 200 && awl <= 1500)
          .cast(IntegerType).as("quality_ok"))
      .orderBy("doc_id")
  }

  val q33Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    length(text) - length(replace(text, ' ', '')) AS spaces,
      |    length(replace(text, ' ', '')) AS nonspace
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(spaces + 1 AS BIGINT) AS n_tokens,
      |  CAST(FLOOR(100.0 * nonspace / (spaces + 1)) AS BIGINT) AS awl_x100,
      |  CAST(spaces + 1 BETWEEN 5 AND 1000
      |    AND FLOOR(100.0 * nonspace / (spaces + 1)) BETWEEN 200 AND 1500
      |    AS INTEGER) AS quality_ok
      |FROM m ORDER BY doc_id""".stripMargin

  /** q34 language-ID heuristic (marker-word scores → argmax), compared with
    * the labeled lang — oracle-checked (the scoring arithmetic is identical
    * length/replace math on both engines). */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        T.langScore(t, T.langMarkers.find(_._1 == "en").get._2).as("score_en"),
        T.langScore(t, T.langMarkers.find(_._1 == "de").get._2).as("score_de"),
        T.langScore(t, T.langMarkers.find(_._1 == "fr").get._2).as("score_fr"),
        T.langId(t).as("predicted"))
      .withColumn("agree", (col("predicted") === col("lang")).cast(IntegerType))
      .orderBy("doc_id")
  }

  val q34Sql = {
    def occ(w: String) =
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS BIGINT)"
    val en = s"(${occ("the")} + ${occ("and")} + ${occ("of")})"
    val de = s"(${occ("der")} + ${occ("und")} + ${occ("nicht")})"
    val fr = s"(${occ("le")} + ${occ("et")} + ${occ("les")})"
    s"""SELECT doc_id, lang, $en AS score_en, $de AS score_de, $fr AS score_fr,
       |  CASE
       |    WHEN $en >= $de AND $en >= $fr AND $en > 0 THEN 'en'
       |    WHEN $de >= $fr AND $de > 0 THEN 'de'
       |    WHEN $fr > 0 THEN 'fr'
       |    ELSE 'und' END AS predicted,
       |  CAST(CASE
       |    WHEN $en >= $de AND $en >= $fr AND $en > 0 THEN 'en'
       |    WHEN $de >= $fr AND $de > 0 THEN 'de'
       |    WHEN $fr > 0 THEN 'fr'
       |    ELSE 'und' END = lang AS INTEGER) AS agree
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q121 lang-ID confusion matrix — the evaluation rollup every deployed
    * classifier publishes: per (labeled, predicted) cell counts with row
    * shares in exact ppm, over the q34 scorer. One scan + one tiny-key
    * aggregate; precision/recall for any language are exact ratios of these
    * cells, so this IS the model-eval artifact, not a step toward it. */
  def q121(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val perLabel = Window.partitionBy("lang")
    Tables.load(spark, dir, "documents")
      .select(col("lang"), T.langId(t).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total", sum("n").over(perLabel))
      .withColumn("share_ppm", expr("n * 1000000 div label_total"))
      .select("lang", "predicted", "n", "label_total", "share_ppm")
      .orderBy("lang", "predicted")
  }

  val q121Sql = {
    s"""WITH p AS (
       |  SELECT lang, $langIdSqlPredicted AS predicted
       |  FROM documents
       |), c AS (
       |  SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
       |), w AS (
       |  SELECT *, SUM(n) OVER (PARTITION BY lang) AS label_total FROM c
       |)
       |SELECT lang, predicted, n, CAST(label_total AS BIGINT) AS label_total,
       |  CAST(n * 1000000 // label_total AS BIGINT) AS share_ppm
       |FROM w ORDER BY lang, predicted""".stripMargin
  }

  /** q222 cost-sensitive classifier evaluation — the q121 confusion matrix
    * under a LITERAL misclassification cost model (the deployment-facing
    * eval: not all errors are equal — routing a zh document to a Latin
    * pipeline breaks tokenization outright, while es↔fr merely degrades):
    * correct = 0, Latin↔Latin confusion = 1, cross-script (zh vs Latin)
    * confusion = 3 (declared knob, SURVEY §2.13). Per true label: docs,
    * errors, total cost, and expected cost ×1e6 per document — the number
    * that reorders "which class to fix first" away from raw accuracy
    * (a frequent cheap error can matter less than a rare catastrophic
    * one). Scale shape: one narrow codegen'd map (the q34 marker-argmax
    * classifier + a CASE), one ≤\|langs\| map-combined aggregate. */
  def q222(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("lang"), T.langId(col("text")).as("predicted"))
      .withColumn("cost", expr(
        """CAST(CASE WHEN predicted = lang THEN 0
          |  WHEN (lang = 'zh') != (predicted = 'zh') THEN 3
          |  ELSE 1 END AS BIGINT)""".stripMargin))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") =!= col("lang"), 1L).otherwise(0L))
          .as("n_err"),
        sum("cost").as("total_cost"))
      .withColumn("cost_x1e6", expr("total_cost * 1000000 div n_docs"))
      .select("lang", "n_docs", "n_err", "total_cost", "cost_x1e6")
      .orderBy("lang")

  val q222Sql: String =
    s"""WITH p AS (
       |  SELECT lang, $langIdSqlPredicted AS predicted
       |  FROM documents
       |), c AS (
       |  SELECT lang, predicted,
       |    CAST(CASE WHEN predicted = lang THEN 0
       |      WHEN (lang = 'zh') != (predicted = 'zh') THEN 3
       |      ELSE 1 END AS BIGINT) AS cost
       |  FROM p
       |)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN predicted <> lang THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_err,
       |  CAST(SUM(cost) AS BIGINT) AS total_cost,
       |  CAST(SUM(cost) * 1000000 // COUNT(*) AS BIGINT) AS cost_x1e6
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** q184 per-class precision / recall / F1 of the lang-ID classifier — the
    * standard per-class eval table (the q121 confusion matrix's canonical
    * consumer; q154's kappa is the single-number summary, this is the
    * per-class breakdown that says WHICH language the classifier fails).
    * All-integer: tp/fp/fn from the confusion counts, precision and recall
    * in exact ppm, and F1 computed as 2·tp·1e6 div (2·tp + fp + fn) — the
    * algebraic identity that avoids compounding the rounding of P and R.
    * Classes with no predictions (or no support) carry NULL for the
    * undefined ratio rather than a fabricated zero, both engines agreeing.
    *
    * Scale shape: the corpus collapses at the (lang, predicted) aggregate
    * — |langs|² cells — and everything after is model-sized arithmetic
    * (two rollups of the cell frame, one |classes|-row full-outer join). */
  def q184(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "documents")
      .select(col("lang"), T.langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
    val byLabel = c.groupBy(col("lang").as("cls"))
      .agg(sum("n").as("n_label"),
        sum(when(col("predicted") === col("lang"), col("n")).otherwise(0L))
          .as("tp"))
    val byPred = c.groupBy(col("predicted").as("cls"))
      .agg(sum("n").as("n_pred"))
    byLabel.join(byPred, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_label"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000 div (tp + fp)")))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000 div (tp + fn)")))
      .withColumn("f1_ppm",
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          expr("2 * tp * 1000000 div (2 * tp + fp + fn)")))
      .orderBy("cls")
  }

  val q184Sql: String =
    s"""WITH p AS (
       |  SELECT lang, $langIdSqlPredicted AS predicted
       |  FROM documents
       |), c AS (
       |  SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
       |), bl AS (
       |  SELECT lang AS cls, SUM(n) AS n_label,
       |    SUM(CASE WHEN predicted = lang THEN n ELSE 0 END) AS tp
       |  FROM c GROUP BY lang
       |), bp AS (
       |  SELECT predicted AS cls, SUM(n) AS n_pred FROM c GROUP BY predicted
       |), j AS (
       |  SELECT COALESCE(bl.cls, bp.cls) AS cls,
       |    COALESCE(bl.tp, 0) AS tp,
       |    COALESCE(bp.n_pred, 0) - COALESCE(bl.tp, 0) AS fp,
       |    COALESCE(bl.n_label, 0) - COALESCE(bl.tp, 0) AS fn
       |  FROM bl FULL OUTER JOIN bp ON bl.cls = bp.cls
       |)
       |SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
       |FROM j ORDER BY cls""".stripMargin

  /** The q121/q154 oracle predictor: the lang-ID heuristic rendered as the
    * equivalent DuckDB CASE expression over marker-word counts. */
  private[queries] def langIdSqlPredicted: String = {
    def occ(w: String) =
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS BIGINT)"
    val en = s"(${occ("the")} + ${occ("and")} + ${occ("of")})"
    val de = s"(${occ("der")} + ${occ("und")} + ${occ("nicht")})"
    val fr = s"(${occ("le")} + ${occ("et")} + ${occ("les")})"
    s"""CASE
       |      WHEN $en >= $de AND $en >= $fr AND $en > 0 THEN 'en'
       |      WHEN $de >= $fr AND $de > 0 THEN 'de'
       |      WHEN $fr > 0 THEN 'fr'
       |      ELSE 'und' END""".stripMargin
  }

  /** q154 Cohen's kappa — chance-corrected agreement between the q34/q121
    * lang-ID heuristic and the ground-truth label, THE summary number a
    * labeling pipeline reports next to its confusion matrix (Cohen, "A
    * Coefficient of Agreement for Nominal Scales", 1960). Multiplied out to
    * one exact integer ratio:
    *
    *   κ_ppm = ⌊1e6 · (N·Σdiag − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c)⌋
    *
    * — observed minus expected agreement over maximal minus expected, no
    * doubles anywhere. Negative κ (worse than chance) truncates toward
    * zero identically in both engines (verified). N² bounds int64 to ~3e9
    * rows; past that an eval runs on a sample by construction, and the
    * numerator/denominator terms are shipped alongside κ so a consumer can
    * recombine shards exactly.
    *
    * Scale shape: the corpus collapses at the (label, predicted) confusion
    * aggregate — |langs|² rows; margins, the diagonal, and the ratio are
    * all domain-sized arithmetic after that. */
  def q154(spark: SparkSession, dir: String): DataFrame = {
    // |langs|²-sized scratch checkpoint: consumed 4x (N, diagonal, both
    // margins), each rebuild would re-pay the corpus langId scan — one
    // materialization, no stranded cache entry (Checkpoints.scratch)
    val cm = graft.operators.Checkpoints.scratch(
      Tables.load(spark, dir, "documents")
      .select(col("lang"), T.langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n")))
    val total = cm.agg(sum("n").as("n_docs"))
    val agree = cm.filter(col("lang") === col("predicted"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_agree"))
    val rowcol = cm.groupBy("lang").agg(sum("n").as("rn"))
      .join(cm.groupBy(col("predicted").as("lang")).agg(sum("n").as("cn")), "lang")
      .agg(coalesce(sum(expr("rn * cn")), lit(0L)).as("sum_rowcol"))
    total.crossJoin(agree).crossJoin(rowcol)
      .withColumn("kappa_ppm", expr(
        "(n_docs * n_agree - sum_rowcol) * 1000000 div (n_docs * n_docs - sum_rowcol)"))
  }

  val q154Sql: String =
    s"""WITH p AS (
       |  SELECT lang, $langIdSqlPredicted AS predicted
       |  FROM documents
       |), c AS (
       |  SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
       |), t AS (SELECT SUM(n) AS n_docs FROM c
       |), a AS (
       |  SELECT COALESCE(SUM(n), 0) AS n_agree FROM c WHERE lang = predicted
       |), rc AS (
       |  SELECT COALESCE(SUM(r.rn * k.cn), 0) AS sum_rowcol FROM
       |    (SELECT lang, SUM(n) AS rn FROM c GROUP BY lang) r
       |    JOIN (SELECT predicted AS lang, SUM(n) AS cn FROM c GROUP BY predicted) k
       |    USING (lang)
       |)
       |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_agree AS BIGINT) AS n_agree,
       |  CAST(sum_rowcol AS BIGINT) AS sum_rowcol,
       |  CAST((n_docs * n_agree - sum_rowcol) * 1000000
       |    // (n_docs * n_docs - sum_rowcol) AS BIGINT) AS kappa_ppm
       |FROM t CROSS JOIN a CROSS JOIN rc""".stripMargin

  /** q35 document fingerprints — all three columns engine-portable md5
    * arithmetic (the 60-bit [[T.portableHash60]] primitive), so the query is
    * hash-checked against the oracle: whole-text fingerprint, order-sensitive
    * polynomial rolling fingerprint over the 3-gram shingle-hash stream, and
    * the winnowing min-shingle hash. (The xxhash64 chain variants remain as
    * the faster Spark-internal primitives, parity-covered in
    * TextVectorSpec.) */
  def q35(spark: SparkSession, dir: String): DataFrame = {
    val sh = T.portableShingleHashes(col("text"), 3)
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        T.portableHash60(col("text")).as("fp60"),
        T.portableRollingFp(sh).as("rolling_fp"),
        T.minShingleHash(sh).as("min_shingle"))
      .orderBy("doc_id")
  }

  val q35Sql =
    """WITH toks AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1, len(w) - 1),
      |      i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT)) AS hs
      |  FROM toks
      |)
      |SELECT doc_id,
      |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp60,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
      |    (acc, h) -> (acc * 31 + h % 1000000007) % 1000000007) AS rolling_fp,
      |  list_min(hs) AS min_shingle
      |FROM sh ORDER BY doc_id""".stripMargin

  /** q36 subword (BPE-ish) token-count estimate per source — scales as a
    * narrow map + one small aggregation. Oracle-checked: the ceil(len/6)
    * word-cost model is the same lambda arithmetic in DuckDB list functions. */
  def q36(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), T.subwordCountEstimate(col("text")).as("subwords"),
        T.tokenCount(col("text")).cast(LongType).as("words"))
      .groupBy("source")
      .agg(sum("subwords").as("total_subwords"), sum("words").as("total_words"))
      .orderBy("source")

  val q36Sql =
    """SELECT source,
      |  CAST(SUM(list_sum(list_transform(string_split(text, ' '),
      |    w -> CAST(ceil(length(w) / 6.0) AS BIGINT)))) AS BIGINT) AS total_subwords,
      |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_words
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q37 multimodal decode under the hash gate: documents encoded as REAL
    * binary Netpbm P6 images (public format — header + raw RGB raster,
    * width 4, text bytes zero-padded), decoded by an actual pure-JVM P6
    * parser through the partition-parallel iterator contract, rolled up to
    * per-source integer pixel statistics. Because the raster bytes are the
    * document's bytes and every feature is an exact integer (per-channel
    * sums, pixel counts), the oracle replays encode → decode → aggregate
    * from the text characters — the decode path's CONTENT is cross-engine
    * verified end-to-end, not stubbed (ord(char) == byte on the ASCII
    * fixture corpus, the q117 convention). */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val media = graft.multimodal.Multimodal.ppmFromDocuments(
      Tables.parallelized(docs))
    val stats = graft.multimodal.Multimodal.decodePpm(media)
    stats.join(docs.select(col("doc_id"), col("source")),
        stats("media_id") === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
        sum(col("width").cast(LongType) * col("height")).as("total_pixels"),
        sum("sum_r").as("sum_r"), sum("sum_g").as("sum_g"),
        sum("sum_b").as("sum_b"))
      .orderBy("source")
  }

  val q37Sql =
    """WITH dims AS (
      |  SELECT doc_id, source,
      |    GREATEST(1, CAST(ceil(strlen(text) / 12.0) AS BIGINT)) AS h
      |  FROM documents
      |), pos AS (
      |  SELECT doc_id, unnest(range(1, strlen(text) + 1)) AS i, text
      |  FROM documents
      |), ch AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN (i - 1) % 3 = 0 THEN ord(substr(text, i, 1)) ELSE 0 END) AS sr,
      |    SUM(CASE WHEN (i - 1) % 3 = 1 THEN ord(substr(text, i, 1)) ELSE 0 END) AS sg,
      |    SUM(CASE WHEN (i - 1) % 3 = 2 THEN ord(substr(text, i, 1)) ELSE 0 END) AS sb
      |  FROM pos GROUP BY doc_id
      |)
      |SELECT d.source, COUNT(*) AS n_media,
      |  CAST(SUM(4 * d.h) AS BIGINT) AS total_pixels,
      |  CAST(SUM(COALESCE(c.sr, 0)) AS BIGINT) AS sum_r,
      |  CAST(SUM(COALESCE(c.sg, 0)) AS BIGINT) AS sum_g,
      |  CAST(SUM(COALESCE(c.sb, 0)) AS BIGINT) AS sum_b
      |FROM dims d LEFT JOIN ch c USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q208 image thumbnail pipeline — the resize stage of a multimodal
    * training pipeline made REAL: every document's P6 image (the q37
    * encoding) is nearest-neighbor resized to a 2×2 thumbnail by
    * [[graft.multimodal.Multimodal.resizePpm]] (decode → floor-rule NN
    * sample → re-encode, a valid P6 out), the thumbnails are decoded by
    * the same parser the full-size path uses, and per-source integer
    * channel sums of the sampled pixels roll up. Because the sampled
    * pixels are specific bytes of the original text (raster offset
    * 3·(sy·w + sx), zero-padded tail), the oracle replays the ENTIRE
    * encode → resize → decode → aggregate chain from the text characters
    * — content-level cross-engine proof for a lossy geometric transform,
    * one step past q37's lossless decode. Scale shape: two
    * iterator-contract mapPartitions stages (no shuffle between them — the
    * thumbnail frame is narrow), one slim broadcast-eligible join to fetch
    * `source`, one ≤\|sources\| aggregate. */
  def q208(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val media = graft.multimodal.Multimodal.ppmFromDocuments(
      Tables.parallelized(docs))
    val thumbs = graft.multimodal.Multimodal.resizePpm(media, 2, 2)
    val stats = graft.multimodal.Multimodal.decodePpm(thumbs)
    stats.join(docs.select(col("doc_id"), col("source")),
        stats("media_id") === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
        sum("sum_r").as("thumb_r"), sum("sum_g").as("thumb_g"),
        sum("sum_b").as("thumb_b"))
      .orderBy("source")
  }

  val q208Sql: String =
    """WITH dims AS (
      |  SELECT doc_id, source, text,
      |    GREATEST(1, CAST(ceil(strlen(text) / 12.0) AS BIGINT)) AS h
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, source, text,
      |    unnest([CAST(0 AS BIGINT), CAST(6 AS BIGINT),
      |            12 * (h // 2), 12 * (h // 2) + 6]) AS b
      |  FROM dims
      |), px AS (
      |  SELECT doc_id, source,
      |    CASE WHEN b < strlen(text)
      |      THEN ord(substr(text, CAST(b + 1 AS BIGINT), 1)) ELSE 0 END AS r,
      |    CASE WHEN b + 1 < strlen(text)
      |      THEN ord(substr(text, CAST(b + 2 AS BIGINT), 1)) ELSE 0 END AS g,
      |    CASE WHEN b + 2 < strlen(text)
      |      THEN ord(substr(text, CAST(b + 3 AS BIGINT), 1)) ELSE 0 END AS bl
      |  FROM base
      |)
      |SELECT source, COUNT(DISTINCT doc_id) AS n_media,
      |  CAST(SUM(r) AS BIGINT) AS thumb_r,
      |  CAST(SUM(g) AS BIGINT) AS thumb_g,
      |  CAST(SUM(bl) AS BIGINT) AS thumb_b
      |FROM px GROUP BY source ORDER BY source""".stripMargin

  /** q213 peak-frame detection — the argmax stage of an audio/waveform
    * feature pipeline on opaque payloads: q100's frame sampling (16-byte
    * frames, stride 4) feeds [[graft.multimodal.Multimodal.frameEnergy]]
    * (Σ byte² per frame, the RMS-energy analog in exact integers), each
    * media item keeps its single loudest frame (highest energy, lowest
    * frame_no tie-break — the deterministic q73 argmax discipline via ONE
    * struct-max aggregate, no rank window on the frame stream), and the
    * per-source rollup reports count, total/max peak energy, and the
    * peak-frame-index checksum proving row-level argmax parity. The oracle
    * replays sample → energy → argmax → rollup from the text bytes.
    * Scale shape: frames are generator rows (linear, stride-pruned), the
    * argmax is a map-combining aggregate keyed by media id, and the rollup
    * is ≤\|sources\| cells. */
  def q213(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val media = graft.multimodal.Multimodal.mediaFromDocuments(
      Tables.parallelized(docs))
    val en = graft.multimodal.Multimodal.frameEnergy(
      graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 16, stride = 4))
    en.groupBy("media_id")
      .agg(max(struct(col("energy").as("e"),
        (-col("frame_no")).as("negf"))).as("pk"))
      .select(col("media_id"), col("pk.e").as("peak_energy"),
        (-col("pk.negf")).cast(LongType).as("peak_frame"))
      .join(docs.select(col("doc_id"), col("source")),
        col("media_id") === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
        sum("peak_energy").as("peak_sum"),
        max("peak_energy").as("peak_max"),
        sum("peak_frame").as("frame_checksum"))
      .orderBy("source")
  }

  val q213Sql: String =
    """WITH m AS (
      |  SELECT doc_id, source, text, strlen(text) AS L,
      |    CAST(ceil(strlen(text) / 16.0) AS BIGINT) AS nf
      |  FROM documents WHERE strlen(text) > 0
      |), kept AS (
      |  SELECT * FROM (
      |    SELECT doc_id, source, text, L, unnest(range(0, nf)) AS i FROM m)
      |  WHERE i % 4 = 0
      |), px AS (
      |  SELECT doc_id, source, i,
      |    unnest(range(i * 16 + 1, LEAST(i * 16 + 16, L) + 1)) AS p, text
      |  FROM kept
      |), en AS (
      |  SELECT doc_id, source, i,
      |    SUM(ord(substr(text, p, 1)) * ord(substr(text, p, 1))) AS energy
      |  FROM px GROUP BY 1, 2, 3
      |), pk AS (
      |  SELECT doc_id, source, energy, i,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY energy DESC, i)
      |      AS rk
      |  FROM en
      |)
      |SELECT source, COUNT(*) AS n_media,
      |  CAST(SUM(energy) AS BIGINT) AS peak_sum,
      |  CAST(MAX(energy) AS BIGINT) AS peak_max,
      |  CAST(SUM(i) AS BIGINT) AS frame_checksum
      |FROM pk WHERE rk = 1 GROUP BY source ORDER BY source""".stripMargin

  /** q264 VAD-style segmentation — the voice-activity-detection shape of an
    * audio preprocessing pipeline run on the opaque payloads: q100's
    * stride-sampled frames → Σ byte² energy (q213's kernel) → per-media
    * ADAPTIVE threshold (voiced ⇔ 2·energy ≥ media max — integer-exact,
    * self-calibrating across loud and quiet media the way a fixed floor is
    * not) → consecutive voiced frames fused into SEGMENTS by the q70
    * gaps-and-islands key (frame_no div stride − rank). Per source: media,
    * segment count, longest segment in frames, and voiced-frame share in
    * exact ppm — the stats that size a speech-segment store before anyone
    * cuts audio. Scale shape: frames are generator rows (linear,
    * stride-pruned), both windows are media-keyed (frame-count-bounded
    * partitions), rollup ≤|sources| cells. */
  def q264(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val media = graft.multimodal.Multimodal.mediaFromDocuments(
      Tables.parallelized(docs))
    // sampleFrames emits ORIGINAL frame indices, so the gaps-and-islands
    // divisor below must equal this stride or consecutive kept frames stop
    // looking adjacent (the oracle hardcodes the same 4 in `i % 4`/`i // 4`
    // — change all three together)
    val stride = 4
    val en = graft.multimodal.Multimodal.frameEnergy(
      graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 16,
        stride = stride))
    val voiced = en
      .withColumn("vmax",
        max("energy").over(Window.partitionBy("media_id")))
      .withColumn("voiced", col("energy") * 2 >= col("vmax"))
    val segs = voiced.filter(col("voiced"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("media_id").orderBy("frame_no")))
      .withColumn("grp", expr(s"frame_no div $stride") - col("rn"))
      .groupBy("media_id", "grp").agg(count(lit(1)).as("seg_len"))
    val perMedia = segs.groupBy("media_id").agg(
      count(lit(1)).as("n_segs"), max("seg_len").as("max_seg"),
      sum("seg_len").as("n_voiced"))
    val frames = en.groupBy("media_id").agg(count(lit(1)).as("n_frames"))
    frames.join(perMedia, Seq("media_id"))
      .join(docs.select(col("doc_id").as("media_id"), col("source")),
        Seq("media_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_media"),
        sum("n_segs").as("n_segments"),
        max("max_seg").as("max_seg_frames"),
        expr("sum(n_voiced) * 1000000 div sum(n_frames)").as("voiced_ppm"))
      .orderBy("source")
  }

  val q264Sql: String =
    """WITH m AS (
      |  SELECT doc_id, source, text, strlen(text) AS L,
      |    CAST(ceil(strlen(text) / 16.0) AS BIGINT) AS nf
      |  FROM documents WHERE strlen(text) > 0
      |), kept AS (
      |  SELECT * FROM (
      |    SELECT doc_id, source, text, L, unnest(range(0, nf)) AS i FROM m)
      |  WHERE i % 4 = 0
      |), px AS (
      |  SELECT doc_id, source, i,
      |    unnest(range(i * 16 + 1, LEAST(i * 16 + 16, L) + 1)) AS p, text
      |  FROM kept
      |), en AS (
      |  SELECT doc_id, source, i,
      |    CAST(SUM(ord(substr(text, p, 1)) * ord(substr(text, p, 1))) AS BIGINT) AS energy
      |  FROM px GROUP BY 1, 2, 3
      |), voiced AS (
      |  SELECT doc_id, source, i, energy,
      |    MAX(energy) OVER (PARTITION BY doc_id) AS vmax
      |  FROM en
      |), segs0 AS (
      |  SELECT doc_id, source, i,
      |    (i // 4) - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM voiced WHERE energy * 2 >= vmax
      |), segs AS (
      |  SELECT doc_id, source, grp, COUNT(*) AS seg_len
      |  FROM segs0 GROUP BY 1, 2, 3
      |), per_media AS (
      |  SELECT doc_id, source, COUNT(*) AS n_segs, MAX(seg_len) AS max_seg,
      |    CAST(SUM(seg_len) AS BIGINT) AS n_voiced
      |  FROM segs GROUP BY 1, 2
      |), frames AS (
      |  SELECT doc_id, COUNT(*) AS n_frames FROM en GROUP BY 1
      |)
      |SELECT p.source, COUNT(*) AS n_media,
      |  CAST(SUM(p.n_segs) AS BIGINT) AS n_segments,
      |  CAST(MAX(p.max_seg) AS BIGINT) AS max_seg_frames,
      |  CAST(SUM(p.n_voiced) AS BIGINT) * 1000000 // CAST(SUM(f.n_frames) AS BIGINT) AS voiced_ppm
      |FROM per_media p JOIN frames f ON f.doc_id = p.doc_id
      |GROUP BY p.source ORDER BY p.source""".stripMargin

  /** q263 perceptual image near-dup pairs — dHash dedup over the REAL P6
    * media pipeline (the multimodal twin of q30's embedding LSH): every
    * document's image (q37's encoder) is resized to the standard 9×8 dHash
    * grid through [[graft.multimodal.Multimodal.resizePpm]] (real
    * decode→NN-sample→re-encode, not a byte trick), fingerprinted by the
    * 63-bit row-gradient difference hash, and banded for candidate pairs
    * with EXACTLY the q30 scale discipline: corpus-adaptive band width
    * w = bitlen(n−1) clamped [7,21] (bands = 63 div w — buckets ∝ corpus, so
    * candidates never grow n²) plus the 256-member dense-bucket cutoff
    * (an oversized bucket is a dup CLUSTER, the q58-family's job, not a
    * pairwise tail). Verified pairs are exact Hamming ≤ 2 over the hashes
    * — calibrated on the candidate histogram (exact-dup images at 0, tiny
    * perturbations at 1–2, then a correlated-texture continuum from ~4 up
    * that is noise, not duplication). Since every width tier yields ≥ 3
    * bands (63 div 21), the BANDING ALONE is lossless for this threshold at
    * every corpus size by pigeonhole; the dense-bucket cutoff is the
    * (declared) recall tradeoff, exactly as in q30 — a true Hamming≤2 pair
    * whose every equal band lands in a dense bucket is dropped, by design
    * (r13 ADVICE #2 — the first cut's docstring claimed no-recall for the
    * whole pipeline, which the cutoff contradicts). Why dHash and
    * not the byte hash q26 already has: the gradient-sign fingerprint
    * survives small pixel perturbations (re-encode jitter, brightness
    * shifts) that flip every byte hash — the property the spec pins with a
    * planted one-pixel edit. The oracle replays encode → resize → gray →
    * sign bits → banding → Hamming from the raw text bytes. */
  /** Shared oracle prefix for the dHash family (q263/q274): the P6
    * encode → 9×8 resize → gray → gradient-sign-bits pipeline replayed
    * from the raw text bytes, ending in `hsh(doc_id, dh)`. */
  private val dHashPipelineCtes: String =
    """d AS (
      |  SELECT doc_id, text, strlen(text) AS L,
      |    GREATEST(1, CAST(ceil(strlen(text) / 12.0) AS BIGINT)) AS h
      |  FROM documents
      |), cells AS (
      |  SELECT doc_id, y, x,
      |    ((CASE WHEN base < L THEN ord(substr(text, CAST(base + 1 AS BIGINT), 1)) ELSE 0 END)
      |     + (CASE WHEN base + 1 < L THEN ord(substr(text, CAST(base + 2 AS BIGINT), 1)) ELSE 0 END)
      |     + (CASE WHEN base + 2 < L THEN ord(substr(text, CAST(base + 3 AS BIGINT), 1)) ELSE 0 END)) // 3 AS gray
      |  FROM (
      |    SELECT doc_id, text, L, ty.y AS y, tx.x AS x,
      |      ((ty.y * h) // 8) * 12 + ((tx.x * 4) // 9) * 3 AS base
      |    FROM d CROSS JOIN range(0, 8) ty(y) CROSS JOIN range(0, 9) tx(x)) p
      |), gr AS (
      |  SELECT doc_id, y, x, gray,
      |    LEAD(gray) OVER (PARTITION BY doc_id, y ORDER BY x) AS ng
      |  FROM cells
      |), hsh AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN x < 8 AND y * 8 + x < 63 AND ng > gray
      |    THEN (CAST(1 AS BIGINT) << CAST(y * 8 + x AS INTEGER)) ELSE 0 END) AS BIGINT) AS dh
      |  FROM gr GROUP BY doc_id
      |)""".stripMargin

  /** q274 perceptual ingest gate, batch twin (new r14) — completes the
    * ingest-gate family: lexical (q255, MinHash store), semantic (q268,
    * frozen cluster model), and now PERCEPTUAL — arriving media rejected
    * when an existing image is a dHash near-dup (Hamming ≤ 2, the q263
    * threshold), catching the re-encoded/brightness-shifted copy both
    * other gates are blind to. Arrival convention: md5 bucket 0-of-10 of
    * doc_ids (the q255/q268 convention). The band width adapts to the
    * EXISTING side's raw count (the frozen side, as q268 tiers on the
    * existing corpus); the 256-member dense-bucket cutoff applies to the
    * EXISTING index only (the q263 declared recall trade). Per arrival:
    * (doc_id, n_collisions, best_match_id, best_hamming, admitted) with
    * best = min Hamming, ties → smaller id; no-collision rows report
    * (-1, 64, 1). Scale shape: existing banding is the build-once index
    * cost; a batch pays its own band map plus a bucket-bounded join —
    * never |batch|·|corpus|. */
  /** Band map for a dHash frame: one (doc_id, band_id, bv) row per band of
    * each 63-bit hash under width `w` — the shared LSH carrier of the q263
    * all-pairs scan and the q274 gate (both sides of it). */
  private def dHashBands(hashes: DataFrame, w: Int): DataFrame = {
    val nBands = 63 / w
    val mask = (1L << w) - 1
    hashes
      .select(col("media_id").as("doc_id"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"), col("dhash"))
      .withColumn("bv", expr(s"shiftright(dhash, band_id * $w) & $mask"))
      .select("doc_id", "band_id", "bv")
  }

  /** Frozen perceptual gate state for `dir`'s existing corpus (everything
    * OUTSIDE the md5 arrival bucket): the adaptive band width (from the
    * existing side's raw count — the frozen side, as q268 tiers on the
    * existing corpus), the dense-bucket-pruned existing band index, and the
    * existing hash frame the verify join fetches from. Built once per
    * corpus; every batch ([[perceptualGateBatch]]) and every micro-batch
    * ([[perceptualGateStream]]) gates against it. Callers gating many
    * batches should persist the two frames. */
  private[graft] def perceptualGateState(spark: SparkSession, dir: String)
      : (Int, DataFrame, DataFrame) = {
    val exDocs = Tables.load(spark, dir, "documents")
      .filter(T.hashBucket(col("doc_id"), 10) =!= 0)
    val exHashes = graft.operators.Checkpoints.scratch(
      graft.multimodal.Multimodal.dHash63(
        graft.multimodal.Multimodal.resizePpm(
          graft.multimodal.Multimodal.ppmFromDocuments(
            Tables.parallelized(exDocs)), 9, 8)))
    val nExist = exDocs.count()
    val w = math.min(21, math.max(7,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nExist - 1))))
    val exB = dHashBands(exHashes, w)
    val small = exB.groupBy("band_id", "bv").agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= 256).select("band_id", "bv")
    val keptEx = exB.join(small, Seq("band_id", "bv"), "left_semi")
      .select(col("band_id"), col("bv"), col("doc_id").as("id_e"))
    (w, keptEx,
      exHashes.select(col("media_id").as("id_e"), col("dhash").as("he")))
  }

  /** Gate one batch of arriving media (media_id, kind, payload) against the
    * frozen perceptual state: decode → resize → dHash the BATCH, band it
    * under the frozen width, and reject any arrival with an existing
    * near-dup at Hamming ≤ 2. One row per decodable arrival:
    * (doc_id, n_collisions, best_match_id, best_hamming, admitted); best =
    * min Hamming, ties → smaller id; no-collision rows report (-1, 64, 1).
    * Scale shape: the existing banding is the build-once index cost carried
    * by `keptEx`; a batch pays its own hash pass plus a bucket-bounded join
    * — never |batch|·|corpus|. */
  def perceptualGateBatch(batchMedia: DataFrame, w: Int,
      keptEx: DataFrame, exHashes: DataFrame): DataFrame = {
    val bh = graft.operators.Checkpoints.scratch(
      graft.multimodal.Multimodal.dHash63(
        graft.multimodal.Multimodal.resizePpm(batchMedia, 9, 8)))
    val cand = dHashBands(bh, w)
      .join(keptEx, Seq("band_id", "bv"))
      .select("doc_id", "id_e").distinct()
    val ver = cand
      .join(bh.select(col("media_id").as("doc_id"),
        col("dhash").as("ha")), Seq("doc_id"))
      .join(exHashes, Seq("id_e"))
      .withColumn("hm",
        bit_count(col("ha").bitwiseXOR(col("he"))).cast(LongType))
      .filter(col("hm") <= 2)
    val roll = ver.groupBy("doc_id").agg(
        count(lit(1)).as("n_collisions"),
        min(struct(col("hm"), col("id_e"))).as("b"))
      .select(col("doc_id"), col("n_collisions"),
        col("b.id_e").as("best_match_id"), col("b.hm").as("best_hamming"))
    bh.select(col("media_id").as("doc_id"))
      .join(roll, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_collisions"), lit(0L)).as("n_collisions"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_hamming"), lit(64L)).as("best_hamming"),
        (col("n_collisions").isNull).cast(IntegerType).as("admitted"))
  }

  def q274(spark: SparkSession, dir: String): DataFrame = {
    val (w, keptEx, exHashes) = perceptualGateState(spark, dir)
    val arrivals = graft.multimodal.Multimodal.ppmFromDocuments(
      Tables.parallelized(Tables.load(spark, dir, "documents")
        .filter(T.hashBucket(col("doc_id"), 10) === 0)))
    perceptualGateBatch(arrivals, w, keptEx, exHashes).orderBy("doc_id")
  }

  /** STREAMING perceptual ingest gate — completes stream parity across the
    * gate family (lexical [[graft.dedup.PortableSigStore.gateStream]],
    * semantic [[Semantic.semGateStream]], and now perceptual): each
    * micro-batch of media rows (media_id, kind, payload) is decoded,
    * hashed, and gated under the FROZEN existing-corpus band index; only
    * perceptually-novel arrivals land in `outDir`. Batch semantics per
    * micro-batch (the collision rollup has no incremental form), so the
    * stream runs through foreachBatch; survivors write to a batch-stamped
    * subdir with OVERWRITE, making the at-least-once replay exactly-once by
    * idempotence (each batch owns its directory — the q255/q268 commit
    * protocol). `keptEx`/`exHashes` should be passed PERSISTED by callers
    * gating many batches (both are re-consumed per micro-batch). Readers
    * take `outDir/batch-*`. */
  def perceptualGateStream(spark: SparkSession, w: Int,
      keptEx: DataFrame, exHashes: DataFrame, mediaStream: DataFrame,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    mediaStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        perceptualGateBatch(batch.toDF(), w, keptEx, exHashes)
          .filter(col("admitted") === 1)
          .write.mode("overwrite").parquet(s"$outDir/batch-$id")
      }
      .start()

  val q274Sql: String =
    s"""WITH $dHashPipelineCtes, flags AS (
      |  SELECT doc_id, dh,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0 AS is_new
      |  FROM hsh
      |), pw AS (
      |  SELECT LEAST(21, GREATEST(7,
      |      LENGTH(BIN(GREATEST(CAST(1 AS BIGINT), COUNT(*) - 1))))) AS w
      |  FROM documents
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 <> 0
      |), bands AS (
      |  SELECT f.doc_id, f.is_new, r.b AS band_id,
      |    (dh >> CAST(r.b * pw.w AS INTEGER)) &
      |      ((CAST(1 AS BIGINT) << CAST(pw.w AS INTEGER)) - 1) AS bv
      |  FROM flags f CROSS JOIN pw CROSS JOIN range(0, 9) r(b)
      |  WHERE r.b < 63 // pw.w
      |), smallb AS (
      |  SELECT band_id, bv FROM bands WHERE NOT is_new
      |  GROUP BY band_id, bv HAVING COUNT(*) <= 256
      |), cand AS (
      |  SELECT DISTINCT a.doc_id, e.doc_id AS id_e
      |  FROM bands a
      |  JOIN bands e ON e.band_id = a.band_id AND e.bv = a.bv
      |    AND a.is_new AND NOT e.is_new
      |  JOIN smallb s ON s.band_id = e.band_id AND s.bv = e.bv
      |), ver AS (
      |  SELECT c.doc_id, c.id_e,
      |    CAST(bit_count(xor(x.dh, y.dh)) AS BIGINT) AS hm
      |  FROM cand c
      |  JOIN hsh x ON x.doc_id = c.doc_id
      |  JOIN hsh y ON y.doc_id = c.id_e
      |  WHERE bit_count(xor(x.dh, y.dh)) <= 2
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS n_collisions FROM ver GROUP BY 1
      |), best AS (
      |  SELECT doc_id, id_e, hm FROM (
      |    SELECT doc_id, id_e, hm,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hm, id_e) AS rn
      |    FROM ver) t
      |  WHERE rn = 1
      |)
      |SELECT f.doc_id,
      |  CAST(COALESCE(g.n_collisions, 0) AS BIGINT) AS n_collisions,
      |  CAST(COALESCE(b.id_e, -1) AS BIGINT) AS best_match_id,
      |  CAST(COALESCE(b.hm, 64) AS BIGINT) AS best_hamming,
      |  CAST(g.doc_id IS NULL AS INTEGER) AS admitted
      |FROM flags f
      |LEFT JOIN agg g ON g.doc_id = f.doc_id
      |LEFT JOIN best b ON b.doc_id = f.doc_id
      |WHERE f.is_new
      |ORDER BY f.doc_id""".stripMargin

  def q263(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val media = graft.multimodal.Multimodal.ppmFromDocuments(
      Tables.parallelized(docs))
    // the typed decode→resize→hash pipeline feeds the band map and both
    // candidate fetch joins — barrier it once (the q30 discipline)
    val hashes = graft.operators.Checkpoints.scratch(
      graft.multimodal.Multimodal.dHash63(
        graft.multimodal.Multimodal.resizePpm(media, 9, 8)))
    val nDocs = docs.count()
    val w = math.min(21, math.max(7,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nDocs - 1))))
    val bands = dHashBands(hashes, w)
    val small = bands.groupBy("band_id", "bv").agg(count(lit(1)).as("bc"))
      .filter(col("bc") <= 256).select("band_id", "bv")
    val kept = bands.join(small, Seq("band_id", "bv"), "left_semi")
    val cand = kept.select(col("band_id"), col("bv"), col("doc_id").as("id_a"))
      .join(kept.select(col("band_id"), col("bv"), col("doc_id").as("id_b")),
        Seq("band_id", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(hashes.select(col("media_id").as("id_a"), col("dhash").as("ha")),
        Seq("id_a"))
      .join(hashes.select(col("media_id").as("id_b"), col("dhash").as("hb")),
        Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
      .filter(col("hamming") <= 2)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }


  val q263Sql: String =
    s"""WITH $dHashPipelineCtes, pw AS (""".stripMargin + """
      |  SELECT LEAST(21, GREATEST(7,
      |      LENGTH(BIN(GREATEST(CAST(1 AS BIGINT), COUNT(*) - 1))))) AS w
      |  FROM documents
      |), bands AS (
      |  SELECT doc_id, r.b AS band_id,
      |    (dh >> CAST(r.b * pw.w AS INTEGER)) &
      |      ((CAST(1 AS BIGINT) << CAST(pw.w AS INTEGER)) - 1) AS bv
      |  FROM hsh CROSS JOIN pw CROSS JOIN range(0, 9) r(b)
      |  WHERE r.b < 63 // pw.w
      |), smallb AS (
      |  SELECT band_id, bv FROM bands
      |  GROUP BY band_id, bv HAVING COUNT(*) <= 256
      |), kept AS (
      |  SELECT b.doc_id, b.band_id, b.bv
      |  FROM bands b JOIN smallb USING (band_id, bv)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM kept a JOIN kept b
      |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
      |)
      |SELECT c.id_a, c.id_b,
      |  CAST(bit_count(xor(x.dh, y.dh)) AS BIGINT) AS hamming
      |FROM cand c JOIN hsh x ON x.doc_id = c.id_a JOIN hsh y ON y.doc_id = c.id_b
      |WHERE bit_count(xor(x.dh, y.dh)) <= 2
      |ORDER BY c.id_a, c.id_b""".stripMargin

  /** q38 stateful sessionization (flatMapGroupsWithState, 30-min gap) —
    * per-user session counts. Oracle-checked: the gap-and-count logic is
    * replayed in SQL with lag + a running new-session sum at the same ms
    * precision the state handler uses (`Timestamp.getTime`). */
  def q38(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    graft.streaming.EventStream.sessionize(events).toDF()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").cast(LongType).as("events_in_sessions"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")
  }

  val q38Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS tms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, tms,
      |    CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |per AS (SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY user_id, sid)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS events_in_sessions,
      |  CAST(MAX(n_events) AS INTEGER) AS max_session_events
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q214 per-user top-3 purchase leaderboard — the batch twin of
    * [[graft.streaming.EventStream.topPurchasesStream]], the streaming
    * deployment built on Spark 4's arbitrary-state v2 API
    * (`transformWithState` + ListState/ValueState; StreamingSpec proves
    * the stream's final Update-mode emission per user equals this rollup
    * exactly). Per user: purchase count, the sum of the top-3 purchase
    * cents under the deterministic (cents desc, event_id asc) order, and
    * the top event-id checksum (row-identity pin, the q187 convention).
    *
    * Scale shape: the rank window is deliberately RANK-ONLY so Spark's
    * InferWindowGroupLimit prunes to 3 rows per user MAP-SIDE (the q93
    * lesson — riding the count in the same window spec would block the
    * prune and shuffle every purchase); the per-user count is a separate
    * map-combined aggregate, and the two \|users\|-sized frames join
    * post-aggregation (AQE picks broadcast when users are few). */
  def q214(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        floor(col("value") * 100).cast(LongType).as("cents"), col("event_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(desc("cents"), col("event_id"))
    val top = p.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy("user_id")
      .agg(sum("cents").as("top_sum_cents"),
        sum("event_id").as("top_checksum"))
    p.groupBy("user_id").agg(count(lit(1)).as("n_purchases"))
      .join(top, "user_id")
      .select("user_id", "n_purchases", "top_sum_cents", "top_checksum")
      .orderBy("user_id")
  }

  val q214Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |), cnt AS (
      |  SELECT user_id, COUNT(*) AS n_purchases FROM p GROUP BY user_id
      |), rk AS (
      |  SELECT user_id, cents, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY cents DESC, event_id) AS rk
      |  FROM p
      |)
      |SELECT c.user_id, c.n_purchases,
      |  CAST(SUM(r.cents) AS BIGINT) AS top_sum_cents,
      |  CAST(SUM(r.event_id) AS BIGINT) AS top_checksum
      |FROM rk r JOIN cnt c ON c.user_id = r.user_id
      |WHERE r.rk <= 3
      |GROUP BY c.user_id, c.n_purchases ORDER BY c.user_id""".stripMargin

  /** q187 per-user EWMA anomaly rollup — the batch face of
    * [[graft.streaming.EventStream.ewmaAnomaly]] (the SAME
    * flatMapGroupsWithState plan the streaming deployment runs, q38/q86
    * convention): every event updates an exact-integer α=1/4 EWMA of its
    * user's value-in-cents, an event spiking past 4× the carried EWMA
    * emits an alert, and the rollup reports per user the event count,
    * spike count, and spike event-id checksum (row-identity pin). The
    * oracle replays the sequential recurrence as a RECURSIVE CTE (the q81
    * state-machine-replay pattern) — the cross-engine proof that the
    * stateful streaming operator computes the declared algebra.
    *
    * Scale shape: one keyed shuffle into the state machine (state = two
    * longs per user), alerts ∝ spikes, and the rollup joins the
    * |users|-keyed count aggregate with the spike aggregate. */
  def q187(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val spikes = graft.streaming.EventStream.ewmaAnomaly(events).toDF()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_spikes"),
        sum("event_id").as("spike_checksum"))
    events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .join(spikes, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        coalesce(col("n_spikes"), lit(0L)).as("n_spikes"),
        coalesce(col("spike_checksum"), lit(0L)).as("spike_checksum"))
      .orderBy("user_id")
  }

  val q187Sql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events
      |), st AS (
      |  SELECT user_id, rn, cents AS ewma,
      |    CAST(0 AS BIGINT) AS spikes, CAST(0 AS BIGINT) AS cks
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT ev.user_id, ev.rn,
      |    (3 * st.ewma + ev.cents) // 4,
      |    st.spikes + CASE WHEN ev.cents > 4 * st.ewma THEN 1 ELSE 0 END,
      |    st.cks + CASE WHEN ev.cents > 4 * st.ewma THEN ev.event_id ELSE 0 END
      |  FROM st JOIN ev ON ev.user_id = st.user_id AND ev.rn = st.rn + 1
      |), fin AS (
      |  SELECT user_id, MAX(rn) AS n_events FROM st GROUP BY user_id
      |)
      |SELECT st.user_id, fin.n_events,
      |  CAST(st.spikes AS BIGINT) AS n_spikes,
      |  CAST(st.cks AS BIGINT) AS spike_checksum
      |FROM st JOIN fin ON fin.user_id = st.user_id AND fin.n_events = st.rn
      |ORDER BY st.user_id""".stripMargin

  /** q196 time-to-conversion with censoring — the discrete survival curve
    * (the Kaplan–Meier primitive's input) behind funnel latency: per user
    * the first `view` and the first `purchase` AT OR AFTER it; converting
    * users histogram by whole days waited, users who never purchase after
    * their first view are RIGHT-CENSORED and reported as their own row
    * (day = −1) rather than dropped — discarding censored mass is the
    * classic survival-analysis bug, and the −1 row keeps the histogram a
    * partition of the at-risk population. Day deltas in epoch-ms div
    * 86400000 (the q162 calendar-free convention).
    *
    * Scale shape: one conditional-min aggregate per user (map-combined,
    * one keyed shuffle), then an ≤ observation-window-days histogram. */
  def q196(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("tms"))
    e.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("tms"))).as("t_view"))
      .filter(col("t_view").isNotNull)
      .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tms").as("t_buy")),
        Seq("user_id"), "left")
      .groupBy("user_id", "t_view")
      .agg(min(when(col("t_buy") >= col("t_view"), col("t_buy")))
        .as("t_conv"))
      .select(col("user_id"),
        when(col("t_conv").isNotNull,
          expr("(t_conv - t_view) div 86400000")).otherwise(lit(-1L))
          .as("days_to_convert"))
      .groupBy("days_to_convert")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("days_to_convert")
  }

  val q196Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events
      |), v AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN tms END) AS t_view
      |  FROM e GROUP BY user_id
      |), c AS (
      |  SELECT v.user_id,
      |    MIN(CASE WHEN e.event_type = 'purchase' AND e.tms >= v.t_view
      |        THEN e.tms END) AS t_conv,
      |    MAX(v.t_view) AS t_view
      |  FROM v JOIN e ON e.user_id = v.user_id
      |  WHERE v.t_view IS NOT NULL
      |  GROUP BY v.user_id
      |), d AS (
      |  SELECT CASE WHEN t_conv IS NOT NULL
      |    THEN (t_conv - t_view) // 86400000 ELSE -1 END AS days_to_convert
      |  FROM c
      |)
      |SELECT CAST(days_to_convert AS BIGINT) AS days_to_convert,
      |  COUNT(*) AS n_users
      |FROM d GROUP BY days_to_convert ORDER BY days_to_convert""".stripMargin

  /** q54 the corpus-preparation transform (quality gate → exact-dedup
    * survivors → deterministic split) under the hash gate — the flagship
    * LLM-pipeline composition, oracle-checked end to end. */
  def q54(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.CorpusPipeline
      .prepare(Tables.load(spark, dir, "documents"))
      .select("doc_id", "n_tokens", "split")
      .orderBy("doc_id")

  val q54Sql =
    """WITH q AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      |    FLOOR(100.0 * length(replace(text, ' ', '')) /
      |      (length(text) - length(replace(text, ' ', '')) + 1)) AS awl
      |  FROM documents),
      |g AS (SELECT * FROM q WHERE n_tokens BETWEEN 5 AND 1000 AND awl BETWEEN 200 AND 1500),
      |s AS (SELECT MIN(doc_id) AS doc_id FROM g GROUP BY text)
      |SELECT g.doc_id, g.n_tokens,
      |  CASE WHEN CAST('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0
      |    THEN 'val' ELSE 'train' END AS split
      |FROM g JOIN s ON g.doc_id = s.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** q86 conversion attribution — the stream-stream time-range join
    * (EventStream.conversions) replayed on the batch frame: purchases within
    * 60 min after a view by the same user. The SAME plan the streaming
    * deployment runs (watermarks are no-ops in batch), here under the DuckDB
    * hash gate via a time-range self-join. Timestamps are ms-truncated on
    * both sides (the q38/q75 convention) so the interval arithmetic is
    * engine-identical. */
  def q86(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    graft.streaming.EventStream.conversions(events, withinMinutes = 60)
      .orderBy("view_id", "purchase_id")
  }

  val q86Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS tms FROM events
      |)
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      |FROM e v JOIN e p
      |  ON p.user_id = v.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.tms >= v.tms AND p.tms <= v.tms + 3600000
      |ORDER BY view_id, purchase_id""".stripMargin

  /** q120 abandoned views — batch replay of the LEFT OUTER stream-stream
    * join ([[graft.streaming.EventStream.unconvertedViews]]): every view
    * with its in-window purchases, unconverted views carrying a NULL
    * purchase_id. The SAME plan the streaming deployment runs (watermarks
    * are a no-op on a batch frame); the oracle is a plain time-range LEFT
    * JOIN. Streaming-mode state expiry for the null rows is asserted in
    * StreamingSpec. */
  def q120(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    graft.streaming.EventStream.unconvertedViews(events, withinMinutes = 60)
      .orderBy("view_id", "purchase_id")
  }

  val q120Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS tms FROM events
      |)
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
      |FROM e v LEFT JOIN e p
      |  ON p.user_id = v.user_id
      | AND p.event_type = 'purchase'
      | AND p.tms >= v.tms AND p.tms <= v.tms + 3600000
      |WHERE v.event_type = 'view'
      |ORDER BY view_id, purchase_id""".stripMargin

  /** q96 PII masking: digit runs in customer names replaced with 'X' plus a
    * per-row count of masked characters — the redaction primitive a privacy
    * scrub runs before a corpus leaves the trust boundary. A narrow
    * codegen'd map (regexp_replace + length arithmetic), no UDF, no
    * shuffle before the final sort. */
  def q96(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("customer_id"),
        regexp_replace(col("c_name"), "[0-9]", "X").as("masked_name"),
        (length(col("c_name")) -
          length(regexp_replace(col("c_name"), "[0-9]", "")))
          .cast(LongType).as("n_masked"),
        col("c_mktsegment").as("segment"))
      .orderBy("customer_id")

  val q96Sql =
    """SELECT c_custkey AS customer_id,
      |  regexp_replace(c_name, '[0-9]', 'X', 'g') AS masked_name,
      |  CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
      |    AS BIGINT) AS n_masked,
      |  c_mktsegment AS segment
      |FROM customer ORDER BY customer_id""".stripMargin

  /** q148 k-anonymity audit — the release gate that runs AFTER the q96
    * masking pass: group the table by its quasi-identifier tuple (here
    * nation × market segment × thousand-unit balance band — the classic
    * "harmless" columns that jointly re-identify; Sweeney, "k-Anonymity: A
    * Model for Protecting Privacy", IJUFKS 2002) and report the dataset's
    * achieved k (the smallest equivalence class), the singleton rows that
    * are outright re-identifiable, and the class/row mass below the
    * conventional k=5 release threshold.
    *
    * Scale shape: one map-combined aggregate to equivalence classes (the
    * frame collapses from rows to |QI-value combinations|), then a 1-row
    * rollup over classes. Nothing else — a privacy audit at 100 TB is two
    * aggregates. Band edges use floor division so both engines bin
    * identically, including negative balances. */
  def q148(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast(LongType).as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast(LongType).as("bal_band"))
      .agg(count(lit(1)).as("cls_n"))
      .agg(sum("cls_n").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("cls_n").as("k_anonymity"),
        sum(when(col("cls_n") === 1, 1L).otherwise(0L)).as("n_unique_rows"),
        sum(when(col("cls_n") < 5, 1L).otherwise(0L)).as("classes_lt5"),
        sum(when(col("cls_n") < 5, col("cls_n")).otherwise(0L)).as("rows_lt5"))

  val q148Sql: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |    COUNT(*) AS cls_n
      |  FROM customer GROUP BY 1, 2, 3
      |)
      |SELECT CAST(SUM(cls_n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(cls_n) AS BIGINT) AS k_anonymity,
      |  CAST(SUM(CASE WHEN cls_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_rows,
      |  CAST(SUM(CASE WHEN cls_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt5,
      |  CAST(SUM(CASE WHEN cls_n < 5 THEN cls_n ELSE 0 END) AS BIGINT) AS rows_lt5
      |FROM cls""".stripMargin

  /** q161 l-diversity release audit — the companion to q148's k-anonymity:
    * k bounds RE-IDENTIFICATION, l bounds ATTRIBUTE disclosure. Even a
    * large equivalence class leaks its sensitive attribute if every member
    * shares one value (the homogeneity attack), so the release gate is the
    * MINIMUM count of distinct sensitive values (market segment) across the
    * quasi-identifier classes (nation × account-balance band — q148's QI
    * minus the segment, which moves to the sensitive side). Scale shape:
    * one exact distinct-aggregate keyed by the QI tuple (the distinct runs
    * inside the same hash shuffle as the count — no second pass), then a
    * single-row rollup; class cardinality is QI-bounded, never corpus-
    * bounded. */
  def q161(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast(LongType).as("nation"),
        floor(col("c_acctbal") / 1000.0).cast(LongType).as("bal_band"))
      .agg(count(lit(1)).as("cls_n"),
        countDistinct(col("c_mktsegment")).as("l"))
      .agg(sum("cls_n").as("n_rows"), count(lit(1)).as("n_classes"),
        min("l").as("l_diversity"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("classes_lt3"),
        sum(when(col("l") < 3, col("cls_n")).otherwise(0L)).as("rows_lt3"))

  val q161Sql: String =
    """WITH cls AS (
      |  SELECT c_nationkey,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |    COUNT(*) AS cls_n,
      |    COUNT(DISTINCT c_mktsegment) AS l
      |  FROM customer GROUP BY 1, 2
      |)
      |SELECT CAST(SUM(cls_n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(l) AS BIGINT) AS l_diversity,
      |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt3,
      |  CAST(SUM(CASE WHEN l < 3 THEN cls_n ELSE 0 END) AS BIGINT) AS rows_lt3
      |FROM cls""".stripMargin

  /** q212 t-closeness release audit — the third classic release gate after
    * q148's k-anonymity (class sizes) and q161's l-diversity (distinct
    * sensitive values): a class can be large AND diverse yet still leak if
    * its sensitive-value DISTRIBUTION diverges from the global one (the
    * skewness attack l-diversity misses — Li et al., ICDE 2007). Per
    * (nation, balance-band) equivalence class: the exact ppm L1 distance
    * between the class's market-segment distribution and the corpus-wide
    * one (the q152/q190 total-variation kernel on the sensitive axis),
    * with absent-segment mass closed WITHOUT a dense class×segment grid
    * (Σ_absent g = Σ_all g − Σ_present g, the q190 identity), and a breach
    * flag at the literal L1 > 800,000 ppm knob (fixture range
    * 17k–1.6M — mid-range by construction, SURVEY §2.13).
    *
    * Scale shape: the table collapses at ONE (class, segment) cell
    * aggregate; every later frame is class- or segment-bounded; the
    * global distribution and its total ride as broadcast scalars. */
  def q212(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast(LongType).as("nation"),
        floor(col("c_acctbal") / 1000.0).cast(LongType).as("bal_band"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
    val cn = cells.groupBy("nation", "bal_band").agg(sum("n").as("cls_n"))
    val tot = cells.agg(sum("n").as("t")) // 1-row scalar
    val gp = cells.groupBy("seg").agg(sum("n").as("gn"))
      .crossJoin(broadcast(tot))
      .select(col("seg"), expr("gn * 1000000 div t").as("g_ppm"))
    val gAll = gp.agg(sum("g_ppm").as("g_all")) // 1-row scalar
    cells.join(cn, Seq("nation", "bal_band")).join(gp, "seg")
      .withColumn("d", abs(expr("n * 1000000 div cls_n") - col("g_ppm")))
      .groupBy("nation", "bal_band", "cls_n")
      .agg(sum("d").as("l1_pres"), sum("g_ppm").as("g_pres"))
      .crossJoin(broadcast(gAll))
      .withColumn("l1_ppm", col("l1_pres") + col("g_all") - col("g_pres"))
      .withColumn("breach", when(col("l1_ppm") > 800000L, 1L).otherwise(0L))
      .select("nation", "bal_band", "cls_n", "l1_ppm", "breach")
      .orderBy("nation", "bal_band")
  }

  val q212Sql: String =
    """WITH cls AS (
      |  SELECT c_nationkey AS nation,
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |    c_mktsegment AS seg, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2, 3
      |), cn AS (
      |  SELECT nation, bal_band, SUM(n) AS cls_n FROM cls GROUP BY 1, 2
      |), tot AS (SELECT SUM(n) AS t FROM cls
      |), gp AS (
      |  SELECT seg, SUM(n) * 1000000 // tot.t AS g_ppm
      |  FROM cls CROSS JOIN tot GROUP BY seg, tot.t
      |), gall AS (SELECT SUM(g_ppm) AS g_all FROM gp
      |), pres AS (
      |  SELECT c.nation, c.bal_band, cn.cls_n,
      |    SUM(ABS(c.n * 1000000 // cn.cls_n - gp.g_ppm)) AS l1_pres,
      |    SUM(gp.g_ppm) AS g_pres
      |  FROM cls c
      |  JOIN cn USING (nation, bal_band)
      |  JOIN gp ON gp.seg = c.seg
      |  GROUP BY 1, 2, 3
      |)
      |SELECT CAST(nation AS BIGINT) AS nation, bal_band,
      |  CAST(cls_n AS BIGINT) AS cls_n,
      |  CAST(l1_pres + gall.g_all - g_pres AS BIGINT) AS l1_ppm,
      |  CAST(CASE WHEN l1_pres + gall.g_all - g_pres > 800000 THEN 1 ELSE 0
      |    END AS BIGINT) AS breach
      |FROM pres CROSS JOIN gall ORDER BY nation, bal_band""".stripMargin

  /** q97 streaming delivery-dedup replayed on batch: the EXACT
    * [[graft.streaming.EventStream.dedupStream]] plan (watermark is a no-op
    * in batch) collapsing redelivered (user, type, event-time) records, then
    * per-type uniqueness stats. Only key columns and deterministic
    * aggregates are emitted — dropDuplicates' survivor choice for non-key
    * columns is execution-order-dependent by contract, so it never reaches
    * the output. Timestamps ms-truncated first (the q86 convention) so both
    * engines dedup at the same granularity. */
  def q97(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .dedupStream(Tables.load(spark, dir, "events")
          .withColumn("ts", timestamp_millis(unix_millis(col("ts")))),
        Seq("user_id", "event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  val q97Sql =
    """WITH d AS (
      |  SELECT DISTINCT user_id, event_type, epoch_ms(ts) AS tms FROM events
      |)
      |SELECT event_type, COUNT(*) AS n_unique,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q99 portable MinHash+LSH near-dup pairs — the q27 pipeline's algebra
    * (signature → banding → candidates → exact-Jaccard verify) under the
    * DuckDB hash gate: md5 shingle hashes + fixed Carter-Wegman permutations
    * are evaluated identically by both engines, so the oracle replays the
    * ENTIRE LSH pipeline, not just row counts. Since r12, q27 runs the same
    * portable pipeline at the wider 0.70 threshold — this entry is the
    * 0.80-gate point of the pair. */
  def q99(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup
      .minHashPairsPortable(spark, dir)
      .orderBy("doc_a", "doc_b")

  /** The portable-LSH DuckDB replay (signatures → 4×2 banding → candidates →
    * exact-Jaccard verify), parameterized by the verify threshold — shared
    * by q27 (0.70) and q99 (0.80), which differ ONLY in that gate. */
  private def portableLshSql(minJaccardX1e6: Long): String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks WHERE len(w) >= 3
      |), sig AS (
      |  SELECT doc_id, hs,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1,
      |    list_min(list_transform(hs, h -> (32452843 * (h % 2147483647) + 1009) % 2147483647)) AS s2,
      |    list_min(list_transform(hs, h -> (49979687 * (h % 2147483647) + 10007) % 2147483647)) AS s3,
      |    list_min(list_transform(hs, h -> (67867967 * (h % 2147483647) + 100003) % 2147483647)) AS s4,
      |    list_min(list_transform(hs, h -> (86028121 * (h % 2147483647) + 1000003) % 2147483647)) AS s5,
      |    list_min(list_transform(hs, h -> (104395301 * (h % 2147483647) + 9999991) % 2147483647)) AS s6,
      |    list_min(list_transform(hs, h -> (122949823 * (h % 2147483647) + 999983) % 2147483647)) AS s7
      |  FROM sh
      |), cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hs AS hs_a, b.hs AS hs_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
      |    (a.s0 = b.s0 AND a.s1 = b.s1) OR (a.s2 = b.s2 AND a.s3 = b.s3) OR
      |    (a.s4 = b.s4 AND a.s5 = b.s5) OR (a.s6 = b.s6 AND a.s7 = b.s7))
      |), j AS (
      |  SELECT doc_a, doc_b, len(list_intersect(hs_a, hs_b)) AS i,
      |    len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)) AS u
      |  FROM cand
      |)
      |SELECT doc_a, doc_b, CAST(FLOOR(1000000.0 * i / u) AS BIGINT) AS jaccard_x1e6
      |FROM j WHERE FLOOR(1000000.0 * i / u) >= $minJaccardX1e6
      |ORDER BY doc_a, doc_b""".stripMargin

  val q99Sql: String = portableLshSql(800000L)

  /** q100 multimodal frame sampling under the hash gate: the
    * [[graft.multimodal.Multimodal.sampleFrames]] flatMap (16-byte "frames",
    * keep every 4th — the video-frame-extraction plumbing) aggregated to
    * per-media frame stats. The payload is the document's ASCII text bytes,
    * so frame counts and kept-byte totals are pure length arithmetic the
    * oracle replays exactly (strlen = BYTES on the oracle side, matching the
    * UTF-8 payload length even for non-ASCII text) — the binary-column
    * pipeline (BinaryType payload → typed flatMap → explode to frames) is
    * what's actually under test;
    * q37 keeps covering the feature-decode half, stubbed for lack of codecs. */
  def q100(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.mediaFromDocuments(
      Tables.parallelized(Tables.load(spark, dir, "documents")))
    graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 16, stride = 4)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).cast(LongType).as("bytes_kept"),
        max(col("frame_no")).cast(LongType).as("last_frame"))
      .orderBy("media_id")
  }

  val q100Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS L
      |  FROM documents WHERE strlen(text) > 0
      |), f AS (
      |  SELECT media_id, L,
      |    CAST((L + 15 - (L + 15) % 16) / 16 AS BIGINT) AS nf
      |  FROM m
      |), g AS (
      |  SELECT media_id, L, nf,
      |    CAST((nf + 3 - (nf + 3) % 4) / 4 AS BIGINT) AS n_frames
      |  FROM f
      |)
      |SELECT media_id, n_frames,
      |  CAST(CASE WHEN (nf - 1) % 4 = 0
      |    THEN (n_frames - 1) * 16 + (L - (nf - 1) * 16)
      |    ELSE n_frames * 16 END AS BIGINT) AS bytes_kept,
      |  CAST((nf - 1) - (nf - 1) % 4 AS BIGINT) AS last_frame
      |FROM g ORDER BY media_id""".stripMargin

  /** q117 multimodal byte-content histogram under the hash gate: the
    * partition-parallel decode path ([[graft.multimodal.Multimodal
    * .byteBuckets]] — the same mapPartitions iterator contract as the
    * feature extractor) emits integer byte-bucket counts per media item,
    * rolled up corpus-wide. The oracle replays the bucket arithmetic from
    * the text characters (`ord` == byte value on the fixture's ASCII
    * corpus), so the decode path's CONTENT is cross-engine-verified, where
    * q100 verified only its length arithmetic. */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.mediaFromDocuments(
      Tables.parallelized(Tables.load(spark, dir, "documents")))
    graft.multimodal.Multimodal.byteBuckets(media, dims = 32)
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(countDistinct(col("media_id")).as("n_media"),
        sum(col("n")).as("n_bytes"))
      .orderBy("bucket")
  }

  val q117Sql =
    """WITH pos AS (
      |  SELECT doc_id, unnest(range(1, strlen(text) + 1)) AS i, text
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, (ord(substr(text, i, 1)) * 32) // 256 AS bucket FROM pos
      |)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  COUNT(DISTINCT doc_id) AS n_media, COUNT(*) AS n_bytes
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q170 cross-source near-dup rate matrix — WHERE duplication lives: the
    * q99 portable MinHash pairs (the whole LSH pipeline, oracle-replayed)
    * rolled up to unordered (source, source) cells with pair counts and the
    * cell's max Jaccard. Within-source cells measure internal redundancy;
    * cross-source cells measure syndication — the evidence a corpus team
    * uses to decide which source to dedup against which (q150 gives the
    * same matrix n-gram-containment evidence; this gives it near-dup-pair
    * evidence). Scale shape: pair count ∝ band collisions (never corpus²),
    * then two doc-keyed fetch joins against the slim (doc_id, source)
    * projection and one map-combined rollup over ≤ |sources|² cells. */
  def q170(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup
      .minHashPairsPortable(spark, dir)
    val src = Tables.load(spark, dir, "documents").select("doc_id", "source")
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"),
        col("jaccard_x1e6"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"),
        max("jaccard_x1e6").as("max_jaccard_x1e6"))
      .orderBy("source_x", "source_y")
  }

  val q170Sql: String =
    s"""SELECT LEAST(da.source, db.source) AS source_x,
       |  GREATEST(da.source, db.source) AS source_y,
       |  COUNT(*) AS n_pairs,
       |  CAST(MAX(p.jaccard_x1e6) AS BIGINT) AS max_jaccard_x1e6
       |FROM ($q99Sql) p
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q172 split-leakage audit — the adversarial check on the q171 split:
    * roll the q99 banded near-dup pairs up by the UNORDERED side pair of
    * their endpoints. The cross-side cell (0, 1) counts near-duplicate
    * pairs that ended up straddling the train/test boundary — test-set
    * contamination a plain hash split leaves invisible. Pairs that collide
    * on the FIRST band (s0, s1) share a q171 cluster by construction and
    * can never leak; what this surfaces is the recall gap of clustering on
    * one band while detection runs four — the quantity you tune the
    * cluster key against. Scale shape: pair count ∝ band collisions (never
    * corpus²), sides join in as a slim narrow-map projection, and the
    * rollup is three cells. */
  def q172(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup
      .minHashPairsPortable(spark, dir)
    val sides = graft.dedup.Dedup
      .splitSides(spark, dir)
      .select("doc_id", "side")
    pairs
      .join(sides.select(col("doc_id").as("doc_a"), col("side").as("side_a")),
        "doc_a")
      .join(sides.select(col("doc_id").as("doc_b"), col("side").as("side_b")),
        "doc_b")
      .select(least(col("side_a"), col("side_b")).as("side_x"),
        greatest(col("side_a"), col("side_b")).as("side_y"),
        col("jaccard_x1e6"))
      .groupBy("side_x", "side_y")
      .agg(count(lit(1)).as("n_pairs"),
        max("jaccard_x1e6").as("max_jaccard_x1e6"))
      .orderBy("side_x", "side_y")
  }

  val q172Sql: String =
    s"""WITH toks2 AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), sh2 AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
       |  FROM toks2
       |), sig2 AS (
       |  SELECT doc_id,
       |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
       |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
       |  FROM sh2
       |), sides AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(
       |      CAST(CASE WHEN s0 IS NOT NULL THEN s0 ELSE -1 END AS VARCHAR) || ':' ||
       |      CAST(CASE WHEN s0 IS NOT NULL THEN s1 ELSE doc_id END AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS side
       |  FROM sig2
       |)
       |SELECT LEAST(sa.side, sb.side) AS side_x,
       |  GREATEST(sa.side, sb.side) AS side_y,
       |  COUNT(*) AS n_pairs,
       |  CAST(MAX(p.jaccard_x1e6) AS BIGINT) AS max_jaccard_x1e6
       |FROM ($q99Sql) p
       |JOIN sides sa ON sa.doc_id = p.doc_a
       |JOIN sides sb ON sb.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q188 per-source duplication inflation — the corpus-health number
    * behind every dedup decision ("how much of my 100 TB is copies"): per
    * source, the raw token mass vs the token mass of its DISTINCT texts
    * (within-source exact dedup, the q26 semantics scoped per source), and
    * the inflation ratio in ppm — 1e6 means copy-free, 2e6 means half the
    * source's compute would be spent re-training on byte-identical text.
    * Texts group by their portable md5-60 fingerprint (the q26/q128 key),
    * so the shuffle carries a 8-byte key + counts, never the text itself;
    * token counts are per-fingerprint constants (same text ⇒ same count),
    * making the two-level aggregate exact.
    *
    * Scale shape: one scan, one (source, fp) map-combined aggregate, one
    * |sources| rollup. The fingerprint shuffle is the same cardinality as
    * exact dedup's — this is the measurement that precedes it. */
  def q188(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), T.portableHash60(col("text")).as("fp"),
        size(T.tokens(col("text"))).cast(LongType).as("n_tok"))
      .groupBy("source", "fp")
      .agg(count(lit(1)).as("dup_n"), max("n_tok").as("n_tok"))
      .groupBy("source")
      .agg(sum("dup_n").as("n_docs"),
        sum(expr("dup_n * n_tok")).as("raw_tokens"),
        count(lit(1)).as("n_unique_texts"),
        sum("n_tok").as("unique_tokens"))
      .withColumn("inflation_ppm",
        expr("raw_tokens * 1000000 div unique_tokens"))
      .orderBy("source")

  val q188Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), g AS (
      |  SELECT source, fp, COUNT(*) AS dup_n, MAX(n_tok) AS n_tok
      |  FROM f GROUP BY source, fp
      |)
      |SELECT source, CAST(SUM(dup_n) AS BIGINT) AS n_docs,
      |  CAST(SUM(dup_n * n_tok) AS BIGINT) AS raw_tokens,
      |  COUNT(*) AS n_unique_texts,
      |  CAST(SUM(n_tok) AS BIGINT) AS unique_tokens,
      |  CAST(SUM(dup_n * n_tok) * 1000000 // SUM(n_tok) AS BIGINT) AS inflation_ppm
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** q176 fuzzy decontamination — the ACTION the q172 leakage audit
    * motivates: every train-side document (q171's leakage-free split, side
    * 0) that near-dup-collides with a test-side document is flagged for
    * removal, rolled up per source as (train docs, contaminated count,
    * flagged-id checksum). This is the MinHash analog of the q59 exact
    * n-gram benchmark decontamination (Brown et al., GPT-3 appendix C
    * dedups eval overlap fuzzily, not exactly) — clean evals need the
    * TRAIN side scrubbed of near-copies of test documents, not just exact
    * copies. Fully portable algebra: pairs are the q99 oracle-replayed LSH
    * pipeline, sides the q171 oracle-replayed cluster split, so the DuckDB
    * oracle replays flagging end-to-end and the checksum pins row identity.
    *
    * Scale shape: straddling pairs ∝ band collisions (never corpus²), the
    * side lookup is two slim doc-keyed fetch joins, the flag set is
    * duplicate-bounded and semi-joins back into one per-source aggregate. */
  def q176(spark: SparkSession, dir: String): DataFrame = {
    val sides = Dedup.splitSides(spark, dir).select("doc_id", "source", "side")
    val flagged = Dedup.minHashPairsPortable(spark, dir)
      .join(sides.select(col("doc_id").as("doc_a"), col("side").as("side_a")),
        "doc_a")
      .join(sides.select(col("doc_id").as("doc_b"), col("side").as("side_b")),
        "doc_b")
      .filter(col("side_a") =!= col("side_b"))
      .select(when(col("side_a") === 0, col("doc_a")).otherwise(col("doc_b"))
        .as("doc_id"))
      .distinct()
      .withColumn("flag", lit(1L))
    sides.filter(col("side") === 0)
      .join(flagged, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train_docs"),
        sum(coalesce(col("flag"), lit(0L))).as("n_contaminated"),
        coalesce(sum(when(col("flag") === 1L, col("doc_id"))), lit(0L))
          .as("contaminated_checksum"))
      .orderBy("source")
  }

  val q176Sql: String =
    s"""WITH toks4 AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), sh4 AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
       |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
       |  FROM toks4
       |), sig4 AS (
       |  SELECT doc_id,
       |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
       |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1
       |  FROM sh4
       |), sides AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(
       |      CAST(CASE WHEN s0 IS NOT NULL THEN s0 ELSE -1 END AS VARCHAR) || ':' ||
       |      CAST(CASE WHEN s0 IS NOT NULL THEN s1 ELSE doc_id END AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS side
       |  FROM sig4
       |), strad AS (
       |  SELECT DISTINCT CASE WHEN sa.side = 0 THEN p.doc_a ELSE p.doc_b END AS doc_id
       |  FROM ($q99Sql) p
       |  JOIN sides sa ON sa.doc_id = p.doc_a
       |  JOIN sides sb ON sb.doc_id = p.doc_b
       |  WHERE sa.side <> sb.side
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_train_docs,
       |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(SUM(CASE WHEN f.doc_id IS NOT NULL THEN d.doc_id END), 0) AS BIGINT) AS contaminated_checksum
       |FROM sides s
       |JOIN documents d ON d.doc_id = s.doc_id
       |LEFT JOIN strad f ON f.doc_id = s.doc_id
       |WHERE s.side = 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q174 MinHash banding calibration — the estimate-vs-truth audit of the
    * dedup detector itself: banded candidate pairs binned by how many of
    * the 8 permuted minima agree (the MinHash estimate: matches/8 ≈
    * Jaccard), each bin carrying the count and the exact verified Jaccard's
    * mean/min/max. A healthy banding shows the mean exact Jaccard rising
    * monotonically with agreement (spec-asserted end-to-end); a flat curve
    * means the permutation family is too small to discriminate, and mass
    * in low-agreement bins prices the banding's false-candidate overhead.
    * Fully portable algebra — the oracle replays signatures, banding,
    * agreement count, and exact verification. Scale shape: candidates ∝
    * band collisions, two slim signature fetch joins, one 9-cell rollup. */
  def q174(spark: SparkSession, dir: String): DataFrame =
    Dedup.portableCalibrationPairs(spark, dir)
      .groupBy("n_sig_match")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jaccard_x1e6) div count(1)").as("avg_jaccard_x1e6"),
        min("jaccard_x1e6").as("min_jaccard_x1e6"),
        max("jaccard_x1e6").as("max_jaccard_x1e6"))
      .orderBy("n_sig_match")

  val q174Sql: String =
    """WITH toks3 AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh3 AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT))) AS hs
      |  FROM toks3 WHERE len(w) >= 3
      |), sig3 AS (
      |  SELECT doc_id, hs,
      |    list_min(list_transform(hs, h -> (1299709 * (h % 2147483647) + 7) % 2147483647)) AS s0,
      |    list_min(list_transform(hs, h -> (15485863 * (h % 2147483647) + 101) % 2147483647)) AS s1,
      |    list_min(list_transform(hs, h -> (32452843 * (h % 2147483647) + 1009) % 2147483647)) AS s2,
      |    list_min(list_transform(hs, h -> (49979687 * (h % 2147483647) + 10007) % 2147483647)) AS s3,
      |    list_min(list_transform(hs, h -> (67867967 * (h % 2147483647) + 100003) % 2147483647)) AS s4,
      |    list_min(list_transform(hs, h -> (86028121 * (h % 2147483647) + 1000003) % 2147483647)) AS s5,
      |    list_min(list_transform(hs, h -> (104395301 * (h % 2147483647) + 9999991) % 2147483647)) AS s6,
      |    list_min(list_transform(hs, h -> (122949823 * (h % 2147483647) + 999983) % 2147483647)) AS s7
      |  FROM sh3
      |), cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hs AS hs_a, b.hs AS hs_b,
      |    (CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END + CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END +
      |     CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END + CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END +
      |     CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END + CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END +
      |     CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END + CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END) AS m
      |  FROM sig3 a JOIN sig3 b ON a.doc_id < b.doc_id AND (
      |    (a.s0 = b.s0 AND a.s1 = b.s1) OR (a.s2 = b.s2 AND a.s3 = b.s3) OR
      |    (a.s4 = b.s4 AND a.s5 = b.s5) OR (a.s6 = b.s6 AND a.s7 = b.s7))
      |), j3 AS (
      |  SELECT m, CAST(FLOOR(1000000.0 * len(list_intersect(hs_a, hs_b)) /
      |    (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)))) AS BIGINT) AS jac
      |  FROM cand
      |)
      |SELECT CAST(m AS BIGINT) AS n_sig_match, COUNT(*) AS n_pairs,
      |  CAST(SUM(jac) // COUNT(*) AS BIGINT) AS avg_jaccard_x1e6,
      |  CAST(MIN(jac) AS BIGINT) AS min_jaccard_x1e6,
      |  CAST(MAX(jac) AS BIGINT) AS max_jaccard_x1e6
      |FROM j3 GROUP BY m ORDER BY n_sig_match""".stripMargin

  /** q205 heuristic quality-rule sweep — the C4-family rule filter (Raffel
    * et al. 2020 §2.2's "we removed any page…" rule list) as a per-source
    * audit, the rule-based complement of q111's model-based gate and
    * q202's threshold sweep: three literal, interpretable rules
    * (calibration knobs, SURVEY §2.13) evaluated per document —
    * R1 too-short (< 30 tokens; fixture fires on 106/500),
    * R2 no-stopword (neither 'the' nor 'a' present — the C4 "contains no
    * terminal-punctuation sentence" analog on the fixture's unpunctuated
    * token stream; 118/500),
    * R3 low type-token ratio (distinct·1e6 div tokens < 400,000 — global
    * token reuse, the boilerplate signal q203's LOCAL top-bigram gate
    * complements; fixture median TTR is 462k, so the rule separates).
    * Per source: docs, per-rule failure counts, docs failing ANY rule, and
    * the surviving share in ppm — the table a curation team reads to see
    * WHICH rule is destroying WHICH source before turning the gate on.
    *
    * Scale shape: one corpus pass, one narrow codegen'd map (split /
    * array_distinct / array_contains — no explode: per-doc flags only),
    * ONE ≤\|sources\| map-combined aggregate. No window, no join. */
  def q205(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), size(col("w")).cast(LongType).as("nt"),
        size(array_distinct(col("w"))).cast(LongType).as("nd"),
        (array_contains(col("w"), "the") || array_contains(col("w"), "a"))
          .as("has_stop"))
      .select(col("source"),
        (col("nt") < Retrieval.RuleMinTokens).as("r_short"),
        (!col("has_stop")).as("r_nostop"),
        // `div` = exact integral division matching the oracle's `//` — `/`
        // on longs is double division and rounds near the threshold
        expr(s"nd * 1000000 div nt < ${Retrieval.RuleMinDistinctPpm}")
          .as("r_lowttr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r_short"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("r_nostop"), 1L).otherwise(0L)).as("n_nostop"),
        sum(when(col("r_lowttr"), 1L).otherwise(0L)).as("n_lowttr"),
        sum(when(col("r_short") || col("r_nostop") || col("r_lowttr"), 1L)
          .otherwise(0L)).as("n_fail_any"))
      .withColumn("pass_ppm",
        expr("(n_docs - n_fail_any) * 1000000 div n_docs"))
      .orderBy("source")

  val q205Sql: String =
    s"""WITH d AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents
      |), f AS (
      |  SELECT source,
      |    len(w) < ${Retrieval.RuleMinTokens} AS r_short,
      |    NOT (list_contains(w, 'the') OR list_contains(w, 'a')) AS r_nostop,
      |    len(list_distinct(w)) * 1000000 // len(w)
      |      < ${Retrieval.RuleMinDistinctPpm} AS r_lowttr
      |  FROM d
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(SUM(CASE WHEN r_nostop THEN 1 ELSE 0 END) AS BIGINT) AS n_nostop,
      |  CAST(SUM(CASE WHEN r_lowttr THEN 1 ELSE 0 END) AS BIGINT) AS n_lowttr,
      |  CAST(SUM(CASE WHEN r_short OR r_nostop OR r_lowttr THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_fail_any,
      |  CAST((COUNT(*) - SUM(CASE WHEN r_short OR r_nostop OR r_lowttr
      |    THEN 1 ELSE 0 END)) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // ---- q279 randomized-response local-DP aggregate ------------------------

  /** q279 randomized-response local-DP estimate (Warner, JASA 1965 — the
    * original local-differential-privacy mechanism): each document reports
    * whether it contains a digit THROUGH a noisy channel — with probability
    * p = 3/4 the true bit, otherwise a fair coin — so no individual report
    * reveals its true bit beyond ε = ln(P(1|yes)/P(1|no)) = ln(7/8 ÷ 1/8)
    * = ln 7 ≈ 1.95, yet the population rate debiases exactly:
    * E[reported] = p·π + (1−p)/2 ⟹ π = (8·reported − 1)/6 at p = 3/4.
    * Every random bit is a PORTABLE md5 coin keyed by salt:doc_id (the
    * PortableAnn discipline — the mechanism is deterministic replay-for-
    * replay, which is what puts a *randomized* mechanism under the hash
    * gate; a production deployment swaps the salt per release). Per source:
    * exact truth beside the debiased estimate (the q91/q211 exact-gate
    * discipline) and the residual error in ppm. The debias clamps to
    * [0, 10⁶] BEFORE the truncating division — Spark `div` truncates toward
    * zero while DuckDB `//` floors, so negative intermediates are never
    * divided. Scale shape: one scan + one |sources| rollup; the coins are
    * per-row expressions, nothing shuffles but the rollup. */
  def q279(spark: SparkSession, dir: String): DataFrame = {
    val coin1 =
      T.portableHash60(concat(lit("rr1:"), col("doc_id").cast(StringType)))
    val coin2 =
      T.portableHash60(concat(lit("rr2:"), col("doc_id").cast(StringType)))
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        coalesce(col("text"), lit("")).rlike("[0-9]").as("truth"),
        (coin1 % 4 < 3).as("tell"),
        (coin2 % 2 === 1).as("noise"))
      .withColumn("reported", when(col("tell"), col("truth"))
        .otherwise(col("noise")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("true_yes"),
        sum(when(col("reported"), 1L).otherwise(0L)).as("reported_yes"))
      .withColumn("true_ppm", expr("true_yes * 1000000 div n_docs"))
      .withColumn("est_ppm",
        expr("least(1000000, greatest(0, " +
          "8 * (reported_yes * 1000000 div n_docs) - 1000000) div 6)"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("true_ppm")))
      .orderBy("source")
  }

  val q279Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    regexp_matches(COALESCE(text, ''), '[0-9]') AS truth,
      |    CAST('0x' || substr(md5('rr1:' || CAST(doc_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) % 4 < 3 AS tell,
      |    CAST('0x' || substr(md5('rr2:' || CAST(doc_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) % 2 = 1 AS noise
      |  FROM documents
      |), r AS (
      |  SELECT source, truth,
      |    CASE WHEN tell THEN truth ELSE noise END AS reported
      |  FROM f
      |), g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS true_yes,
      |    CAST(SUM(CASE WHEN reported THEN 1 ELSE 0 END) AS BIGINT)
      |      AS reported_yes
      |  FROM r GROUP BY source
      |)
      |SELECT source, n_docs, true_yes, reported_yes,
      |  CAST(true_yes * 1000000 // n_docs AS BIGINT) AS true_ppm,
      |  CAST(LEAST(1000000, GREATEST(0,
      |    8 * (reported_yes * 1000000 // n_docs) - 1000000) // 6) AS BIGINT)
      |    AS est_ppm,
      |  CAST(ABS(LEAST(1000000, GREATEST(0,
      |    8 * (reported_yes * 1000000 // n_docs) - 1000000) // 6)
      |    - true_yes * 1000000 // n_docs) AS BIGINT) AS err_ppm
      |FROM g ORDER BY source""".stripMargin

  // ---- q285 readability profile --------------------------------------------

  /** q285 integer Flesch reading-ease profile (Flesch, J. Applied Psych.
    * 1948; the Kincaid 1975 recalibration keeps the same three statistics)
    * — the readability leg of the quality family: q33/q205 gate on
    * lexical shape, q249 on LM fit; this reads the classic
    * words-per-sentence × syllables-per-word difficulty surface. FRE =
    * 206.835 − 1.015·(W/S) − 84.6·(Y/W), computed POOLED per source in
    * exact milli-units: every ratio is a truncating integer division on
    * non-negative integers, so the gate never sees a float. Syllables are
    * VOWEL-GROUP COUNTS (maximal [aeiouy]+ runs — the standard portable
    * approximation; vowel-less tokens contribute 0, declared) and
    * sentences are [.!?]+ terminator groups floored at 1 per document, both
    * counted by the replace-with-sentinel length trick so engine and oracle
    * run the identical regex algebra (DuckDB regexp_replace needs the
    * explicit 'g' flag Spark applies by default). One scan + a |sources|
    * rollup; FRE can legitimately go negative on dense text — nothing
    * divides after the subtraction. */
  def q285(spark: SparkSession, dir: String): DataFrame = {
    def groups(c: org.apache.spark.sql.Column, pat: String)
        : org.apache.spark.sql.Column =
      (length(regexp_replace(c, pat, "#")) -
        length(regexp_replace(c, pat, ""))).cast(LongType)
    val t = lower(coalesce(col("text"), lit("")))
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        size(T.tokens(coalesce(col("text"), lit("")))).cast(LongType).as("w"),
        greatest(lit(1L), groups(t, "[.!?]+")).as("s"),
        groups(t, "[aeiouy]+").as("y"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("w").as("words"),
        sum("s").as("sentences"),
        sum("y").as("syllable_groups"))
      .withColumn("wps_milli", expr("words * 1000 div sentences"))
      .withColumn("spw_milli", expr("syllable_groups * 1000 div words"))
      .withColumn("fre_milli", expr(
        "206835 - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000"))
      .orderBy("source")
  }

  val q285Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS w,
      |    GREATEST(1, CAST(
      |      length(regexp_replace(lower(COALESCE(text, '')), '[.!?]+', '#', 'g'))
      |      - length(regexp_replace(lower(COALESCE(text, '')), '[.!?]+', '', 'g'))
      |      AS BIGINT)) AS s,
      |    CAST(
      |      length(regexp_replace(lower(COALESCE(text, '')), '[aeiouy]+', '#', 'g'))
      |      - length(regexp_replace(lower(COALESCE(text, '')), '[aeiouy]+', '', 'g'))
      |      AS BIGINT) AS y
      |  FROM documents
      |), g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(w) AS BIGINT) AS words,
      |    CAST(SUM(s) AS BIGINT) AS sentences,
      |    CAST(SUM(y) AS BIGINT) AS syllable_groups
      |  FROM d GROUP BY source
      |)
      |SELECT source, n_docs, words, sentences, syllable_groups,
      |  CAST(words * 1000 // sentences AS BIGINT) AS wps_milli,
      |  CAST(syllable_groups * 1000 // words AS BIGINT) AS spw_milli,
      |  CAST(206835 - (1015 * (words * 1000 // sentences)) // 1000
      |    - (84600 * (syllable_groups * 1000 // words)) // 1000 AS BIGINT)
      |    AS fre_milli
      |FROM g ORDER BY source""".stripMargin

  // ---- q289 central-DP release via the geometric mechanism ----------------

  /** q289 ε = ln 2 central-DP release (the geometric mechanism — Ghosh,
    * Roughgarden & Sundararajan, SICOMP 2012: the UNIVERSALLY optimal
    * discrete analogue of Laplace): the curator releases each per-source
    * count and token sum through two-sided geometric noise
    * P(k) = (1/3)·2^(−|k|) — the one DP noise distribution with EXACT
    * dyadic sampling, so the portable-coin discipline covers a CENTRAL
    * mechanism (q279 is the LOCAL leg; there every respondent randomizes,
    * here one draw protects each released statistic). The inverse-CDF
    * ladder runs on u = md5(salt:source) mod 3·2²⁰: u < 2²⁰ → 0; else the
    * low bit signs and the remaining 2²⁰-range bits pick magnitude j with
    * probability 2^(−j), TRUNCATED at 8 (declared: the 2^(−7) tail lumps
    * into j = 8 — standard bounded-noise practice; ε accounting then holds
    * against the truncated distribution). The token sum clips each
    * document's contribution at 256 tokens FIRST (sensitivity bound — an
    * unbounded per-doc contribution has no finite sensitivity and no DP
    * scale), and its noise is magnitude × 256. Exact truth beside the
    * release (the q91/q211 audit discipline — the artifact shows exactly
    * what privacy cost in utility). One scan + |sources| rollup; the noise
    * is |sources| CASE expressions. */
  def q289(spark: SparkSession, dir: String): DataFrame = {
    val u = T.portableHash60(concat(lit("dp1:"), col("source"))) %
      lit(3L * 1048576L)
    val u2 = T.portableHash60(concat(lit("dp2:"), col("source"))) %
      lit(3L * 1048576L)
    def geom(uu: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val v = uu - lit(1048576L)           // in [0, 2^21) when uu >= 2^20
      val sign = when(v % 2 === 0, lit(1L)).otherwise(lit(-1L))
      val t = shiftright(v, 1)             // v div 2, exact (v >= 0 here)
      val mag = when(t < 524288L, 1L).when(t < 786432L, 2L)
        .when(t < 917504L, 3L).when(t < 983040L, 4L)
        .when(t < 1015808L, 5L).when(t < 1032192L, 6L)
        .when(t < 1040384L, 7L).otherwise(8L)
      when(uu < 1048576L, 0L).otherwise(sign * mag)
    }
    Tables.parallelized(Tables.load(spark, dir, "documents"))
      .select(col("source"),
        least(lit(256L),
          size(T.tokens(coalesce(col("text"), lit(""))))
            .cast(LongType)).as("tok_clip"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("tok_clip").as("clipped_tokens"))
      .withColumn("noise_docs", geom(u))
      .withColumn("noise_tokens", geom(u2) * lit(256L))
      .withColumn("dp_docs", greatest(lit(0L), col("n_docs") + col("noise_docs")))
      .withColumn("dp_tokens",
        greatest(lit(0L), col("clipped_tokens") + col("noise_tokens")))
      .select("source", "n_docs", "dp_docs", "clipped_tokens", "dp_tokens",
        "noise_docs", "noise_tokens")
      .orderBy("source")
  }

  val q289Sql: String = {
    def geom(salt: String): String = {
      val u = s"CAST('0x' || substr(md5('$salt:' || source), 1, 15) AS BIGINT) % 3145728"
      s"""CASE WHEN $u < 1048576 THEN 0
        |    ELSE (CASE WHEN ($u - 1048576) % 2 = 0 THEN 1 ELSE -1 END) *
        |      (CASE WHEN ($u - 1048576) // 2 < 524288 THEN 1
        |            WHEN ($u - 1048576) // 2 < 786432 THEN 2
        |            WHEN ($u - 1048576) // 2 < 917504 THEN 3
        |            WHEN ($u - 1048576) // 2 < 983040 THEN 4
        |            WHEN ($u - 1048576) // 2 < 1015808 THEN 5
        |            WHEN ($u - 1048576) // 2 < 1032192 THEN 6
        |            WHEN ($u - 1048576) // 2 < 1040384 THEN 7
        |            ELSE 8 END) END""".stripMargin
    }
    s"""WITH g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(LEAST(256,
      |      len(string_split(COALESCE(text, ''), ' ')))) AS BIGINT)
      |      AS clipped_tokens
      |  FROM documents GROUP BY source
      |), n AS (
      |  SELECT source, n_docs, clipped_tokens,
      |    CAST(${geom("dp1")} AS BIGINT) AS noise_docs,
      |    CAST((${geom("dp2")}) * 256 AS BIGINT) AS noise_tokens
      |  FROM g
      |)
      |SELECT source, n_docs,
      |  CAST(GREATEST(0, n_docs + noise_docs) AS BIGINT) AS dp_docs,
      |  clipped_tokens,
      |  CAST(GREATEST(0, clipped_tokens + noise_tokens) AS BIGINT) AS dp_tokens,
      |  noise_docs, noise_tokens
      |FROM n ORDER BY source""".stripMargin
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q289_dp_release", q289 _, Some(q289Sql)),
    ("q285_readability", q285 _, Some(q285Sql)),
    ("q279_randomized_response", q279 _, Some(q279Sql)),
    ("q26_dedup_exact", q26 _, Some(q26Sql)),
    ("q205_quality_rules", q205 _, Some(q205Sql)),
    ("q212_t_closeness", q212 _, Some(q212Sql)),
    ("q213_peak_frame", q213 _, Some(q213Sql)),
    ("q214_top_purchases", q214 _, Some(q214Sql)),
    ("q222_cost_eval", q222 _, Some(q222Sql)),
    ("q170_source_dup_matrix", q170 _, Some(q170Sql)),
    ("q172_split_leakage", q172 _, Some(q172Sql)),
    ("q174_minhash_calibration", q174 _, Some(q174Sql)),
    ("q176_fuzzy_decontamination", q176 _, Some(q176Sql)),
    ("q184_class_prf1", q184 _, Some(q184Sql)),
    ("q188_dup_inflation", q188 _, Some(q188Sql)),
    ("q27_dedup_minhash_lsh", q27 _, Some(q27Sql)),
    ("q28_dedup_simhash", q28 _, Some(q28Sql)),
    ("q252_containment_dedup", q252 _, Some(q252Sql)),
    ("q255_sigstore_probe", q255 _, Some(q255Sql)),
    ("q269_containment_recall", q269 _, Some(q269Sql)),
    ("q29_ngram_jaccard", q29 _, Some(q29Sql)),
    ("q30_embed_neardup_lsh", q30 _, Some(q30Sql)),
    ("q31_knn_cosine_brute", q31 _, Some(q31Sql)),
    ("q32_knn_lsh", q32 _, Some(q32Sql)),
    ("q33_text_quality", q33 _, Some(q33Sql)),
    ("q34_langid", q34 _, Some(q34Sql)),
    ("q35_fingerprint", q35 _, Some(q35Sql)),
    ("q36_token_count", q36 _, Some(q36Sql)),
    ("q37_multimodal_features", q37 _, Some(q37Sql)),
    ("q208_thumbnail_resize", q208 _, Some(q208Sql)),
    ("q263_image_neardup", q263 _, Some(q263Sql)),
    ("q274_perceptual_gate", q274 _, Some(q274Sql)),
    ("q264_vad_segments", q264 _, Some(q264Sql)),
    ("q38_sessionize", q38 _, Some(q38Sql)),
    ("q187_ewma_anomaly", q187 _, Some(q187Sql)),
    ("q196_time_to_convert", q196 _, Some(q196Sql)),
    ("q49_knn_ivf", q49 _, Some(q49Sql)),
    ("q54_corpus_prepare", q54 _, Some(q54Sql)),
    ("q80_knn_pq", q80 _, Some(q80Sql)),
    ("q86_conversions", q86 _, Some(q86Sql)),
    ("q96_pii_mask", q96 _, Some(q96Sql)),
    ("q148_k_anonymity", q148 _, Some(q148Sql)),
    ("q161_l_diversity", q161 _, Some(q161Sql)),
    ("q154_cohens_kappa", q154 _, Some(q154Sql)),
    ("q97_dedup_replay", q97 _, Some(q97Sql)),
    ("q99_minhash_portable", q99 _, Some(q99Sql)),
    ("q100_frame_sample", q100 _, Some(q100Sql)),
    ("q103_knn_ivfpq", q103 _, Some(q103Sql)),
    ("q247_index_ingest", q247 _, Some(q247Sql)),
    ("q248_index_delete", q248 _, Some(q248Sql)),
    ("q249_lm_quality", q249 _, Some(q249Sql)),
    ("q250_index_upsert", q250 _, Some(q250Sql)),
    ("q117_byte_histogram", q117 _, Some(q117Sql)),
    ("q120_abandoned_views", q120 _, Some(q120Sql)),
    ("q121_langid_confusion", q121 _, Some(q121Sql)))
}
