package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense-vector math over `ArrayType(FloatType)` columns.
  *
  * The production entry point ([[cosine]]) compiles to the native
  * `cosine_sim` Catalyst expression ([[graft.plans.CosineSimilarityFloat]])
  * — one fused primitive loop per row inside whole-stage codegen. The
  * higher-order-function form ([[cosineHof]]) is kept as the
  * independently-derived reference implementation: it evaluates
  * per-element lambdas (interpreted, boxed) and exists so property tests
  * can assert bit-parity between the two paths.
  *
  * All accumulation is double-precision and strictly left-to-right over the
  * array in BOTH paths, which makes results bit-deterministic for a given row
  * (needed for the oracle hash checks).
  */
object VectorFunctions {

  /** cos(a,b) — native codegen'd expression; null when lengths differ, any
    * element is null, or either norm is 0. Resolved through the session
    * function registry ([[graft.plans.GraftExtensions]]). */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  // ------------------------------------------------------------ HOF forms

  /** Σ aᵢ·bᵢ with double accumulation (HOF reference path). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast(ArrayType(DoubleType)), b.cast(ArrayType(DoubleType)),
        (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v)

  /** ‖a‖₂ (HOF reference path). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cos(a,b) via higher-order functions — reference implementation for
    * parity tests. */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(null).cast(DoubleType))
      .otherwise(d / (na * nb))
  }
}
