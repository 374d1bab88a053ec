package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for the LLM-data-pipeline operators (SURVEY
  * §2.11): tokenization, shingling, hashing, language heuristics, quality
  * stats. Built from codegen'd native functions only — no UDFs — so every
  * operator scales as a narrow per-row map over the corpus.
  *
  * The implementations deliberately stick to arithmetic the DuckDB oracle
  * evaluates identically: every hash is md5-derived ([[hashBucket]],
  * [[portableHash60]], [[portableShingleHashes]]), token counts use
  * length/replace counting instead of regex token classes, and outputs are
  * FLOOR'd integers instead of double ROUND.
  */
object TextFunctions {

  /** Whitespace tokens (fixture text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count via space counting — expressible identically in any engine:
    * spaces = len(t) - len(replace(t,' ','')); tokens = spaces + 1. */
  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", ""))) + 1

  /** Deterministic hash bucket in [0, mod): md5 of the key's string form,
    * first 8 hex digits as an integer. Engine-portable (identical arithmetic
    * exists in DuckDB: `CAST('0x'||substr(md5(..),1,8) AS BIGINT) % mod`) —
    * the one shared primitive behind reproducible sampling (q44) and
    * train/val splits (q54 / CorpusPipeline). */
  def hashBucket(key: Column, mod: Int): Column =
    hashBucket(key, lit(mod))

  /** [[hashBucket]] with a COLUMN modulus — for per-group bucket counts
    * computed in the plan (the q257 mega-cluster sub-split rule, where the
    * sub-block fan-out follows each cluster's own member count). */
  def hashBucket(key: Column, mod: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType) % mod

  /** BPE-ish subword-count estimate: words plus extra units for long words
    * (a word of length L costs ceil(L/6) units) — a deterministic stand-in
    * for a real tokenizer's compression curve. */
  def subwordCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + ceil(length(w).cast(DoubleType) / 6.0).cast(LongType))

  /** Word n-gram shingles (space-joined); empty array when too few tokens.
    * Computed by the native [[graft.plans.WordShingles]] one-loop expression;
    * bit-identical to the HOF composition [[wordShinglesHof]] (asserted in
    * DedupSpec), kept as the parity reference. */
  def wordShingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  /** The composed higher-order-function reference for [[wordShingles]] —
    * parity oracle only; not used in query paths. */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val w = tokens(text)
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Non-overlapping occurrence count of `word` as a whole token. Matches
    * the SQL formula (len(t)-len(replace(t,w,'')))/len(w) on both engines. */
  def occurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $word "
    ((length(padded) - length(regexp_replace(padded,
      java.util.regex.Pattern.quote(needle), ""))) / needle.length)
      .cast(LongType)
  }

  /** Marker words per language for the n-gram/stopword language heuristic.
    * Tiny by design: the operator shape (score per language → argmax) is what
    * matters; swap in real stopword tables for production. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "nicht"),
    "fr" -> Seq("le", "et", "les"))

  /** Per-language marker score. */
  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(occurrences(text, _)).reduce(_ + _)

  /** Predicted language = argmax of marker scores, deterministic tiebreak by
    * declaration order; "und" (undetermined) when all scores are 0. */
  def langId(text: Column): Column = {
    val scored = langMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Winnowing-style min-hash fingerprint: min over shingle hashes. */
  def minShingleHash(shingleHashes: Column): Column =
    array_min(shingleHashes)

  /** Engine-portable 60-bit hash: first 15 hex digits of md5, as a long.
    * Identical arithmetic in DuckDB (`CAST('0x'||substr(md5(x),1,15) AS
    * BIGINT)`) — 60 bits so it can never overflow a signed 64-bit int in
    * either engine. The fingerprint twin of [[hashBucket]]; use where a
    * fingerprint must hash-match the oracle (xxhash64 is Spark-only). */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Per-shingle portable 60-bit hashes, document order, duplicates kept —
    * the order-sensitive feed for [[portableRollingFp]]. Computed by the
    * native [[graft.plans.PortableShingleHashes]] one-loop expression
    * (per-shingle MD5 without the hex-format/base-16-reparse round trip);
    * bit-identical to the HOF composition [[portableShingleHashesHof]]
    * (asserted in DedupSpec), which stays as the parity reference. */
  def portableShingleHashes(text: Column, n: Int): Column =
    call_function("portable_shingle_hashes", text, lit(n))

  /** The composed higher-order-function reference for
    * [[portableShingleHashes]] — parity oracle only; not used in query
    * paths. */
  def portableShingleHashesHof(text: Column, n: Int): Column =
    transform(wordShinglesHof(text, n), s => portableHash60(s))

  private val RollMod = 1000000007L

  /** Order-sensitive polynomial rolling fingerprint over a hash stream:
    * fp' = (fp·31 + h mod M) mod M, M = 1e9+7 — plain 64-bit-safe modular
    * arithmetic both engines fold identically (DuckDB:
    * `list_reduce(list_prepend(0, hs), (acc,h) -> ...)`). */
  def portableRollingFp(hashes: Column): Column =
    aggregate(hashes, lit(0L),
      (acc, h) => (acc * lit(31L) + h % lit(RollMod)) % lit(RollMod))
}
