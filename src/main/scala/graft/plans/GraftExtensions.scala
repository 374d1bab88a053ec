package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions hook: registers the native expressions with
  * the function registry, making them first-class on the SQL surface
  * (`SELECT cosine_sim(a, b) ...`) and reachable from the Column API via
  * `call_function`. Installed by [[graft.Engine.session]] via
  * `.withExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarityFloat].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(arrayA, arrayB)")
        CosineSimilarityFloat(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[DotProductLong].getName, "dot_i64"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_i64(arrayA, arrayB)")
        DotProductLong(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("winnow_select"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "winnow_select"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "winnow_select(gram_hashes)")
        WinnowSelect(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("intersect_count_i64"),
      new ExpressionInfo(classOf[IntersectCountLong].getName,
        "intersect_count_i64"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "intersect_count_i64(arrayA, arrayB)")
        IntersectCountLong(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("portable_hyperplane_sig"),
      new ExpressionInfo(classOf[PortableHyperplaneSig].getName,
        "portable_hyperplane_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "portable_hyperplane_sig(arr_i64)")
        PortableHyperplaneSig(children.head)
      }))

    // word_shingles(text, n): n must be a literal — the window width is a
    // plan-time constant baked into the compiled loop.
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, IntegerType)) =>
          WordShingles(text, n)
        case _ => throw new IllegalArgumentException(
          "word_shingles(text, n: int literal)")
      }))

    ext.injectFunction((
      FunctionIdentifier("portable_shingle_hashes"),
      new ExpressionInfo(classOf[PortableShingleHashes].getName,
        "portable_shingle_hashes"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, IntegerType)) =>
          PortableShingleHashes(text, n)
        case _ => throw new IllegalArgumentException(
          "portable_shingle_hashes(text, n: int literal)")
      }))

    ext.injectFunction((
      FunctionIdentifier("semdedup_closure"),
      new ExpressionInfo(classOf[SemDedupClosure].getName, "semdedup_closure"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "semdedup_closure(members, pairs)")
        SemDedupClosure(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("portable_simhash60"),
      new ExpressionInfo(classOf[PortableSimHash60].getName,
        "portable_simhash60"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "portable_simhash60(shingle_hashes)")
        PortableSimHash60(children.head)
      }))

    // pq_encode(vec, codebooks) / adc_dist(codes, tables): the trained
    // parameter must be a foldable nested-double-array literal — it is a
    // model parameter shipped with the plan, extracted once at first eval.
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncodeCodes].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "pq_encode(vec, codebooks literal)")
        PqEncodeCodes(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("adc_dist"),
      new ExpressionInfo(classOf[AdcDistance].getName, "adc_dist"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "adc_dist(codes, tables literal)")
        AdcDistance(children.head, children(1))
      }))
  }
}

