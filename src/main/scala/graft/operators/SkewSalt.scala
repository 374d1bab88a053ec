package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew-salting for hot join keys.
  *
  * AQE's skew-join splitting (enabled in Engine) covers sort-merge joins at
  * runtime; this operator is the explicit tool for the cases AQE can't help:
  * a skewed key feeding an aggregation-like self-join, or a build side too
  * big to broadcast but small enough to replicate `salts` times.
  *
  * Shape: each left row gets a deterministic salt in [0, salts) hashed from
  * its content (any distribution is correct — the salt only spreads a hot
  * key's rows across reducers); the right side is replicated once per salt
  * value. The join key becomes (key, salt), so a key holding S% of the data
  * lands on `salts` reducers instead of one. Right-side cost is |right| ×
  * salts — choose salts ≈ (hot-key rows / target partition rows).
  */
object SkewSalt {

  /** Inner equi-join with a salted key; result equals the unsalted join
    * (salt columns are internal and dropped). */
  def saltedEquiJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val l = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.toSeq.map(col): _*)), lit(salts.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"), "inner")
      .drop("__salt")
  }
}
