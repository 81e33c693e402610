package graft.plans

import graft.functions.{ByteHistogram, CosineSim, MinHashSigs, ShingleSet, SimHash64, SubwordCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers graft's native functions
  * for any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectFunction(
      (
        FunctionIdentifier("simhash64"),
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        exprs => SimHash64(exprs.head)))
    ext.injectFunction(
      (
        FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
        exprs => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction(
      (
        FunctionIdentifier("minhash_sigs"),
        new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
        exprs => MinHashSigs(exprs(0), exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction(
      (
        FunctionIdentifier("shingle_set"),
        new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
        exprs => ShingleSet(exprs.head)))
    ext.injectFunction(
      (
        FunctionIdentifier("byte_histogram"),
        new ExpressionInfo(classOf[ByteHistogram].getName, "byte_histogram"),
        exprs => ByteHistogram(exprs.head)))
    ext.injectFunction(
      (
        FunctionIdentifier("subword_count"),
        new ExpressionInfo(classOf[SubwordCount].getName, "subword_count"),
        exprs => SubwordCount(exprs.head)))
  }
}
