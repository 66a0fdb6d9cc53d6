package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{BloomMightContainLong, DotProductF32, HilbertIndex}

/** The one way graft's native expressions, optimizer rules and planner
  * strategy enter a session: `spark.sql.extensions=graft.GraftExtensions`,
  * which [[GraftSession.builder]] sets for every session the library
  * builds. There is no runtime registration path; a session built without
  * the extension fails to resolve `dot_f32` and has no plan for
  * [[graft.plans.CoresetPlan]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotF32)
    ext.injectFunction(GraftFunctions.bloomMightContain)
    ext.injectFunction(GraftFunctions.hilbertD)
    ext.injectFunction(GraftFunctions.rplshSigs)
    ext.injectFunction(GraftFunctions.rplshDots)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.CoresetStrategy)
  }
}

object GraftFunctions {
  private[graft] val dotF32 = (
    FunctionIdentifier("dot_f32"),
    DotProductF32.info,
    (children: Seq[Expression]) => DotProductF32(children(0), children(1)): Expression)

  private[graft] val bloomMightContain = (
    FunctionIdentifier("bloom_might_contain"),
    BloomMightContainLong.info,
    (children: Seq[Expression]) => BloomMightContainLong(children(0), children(1)): Expression)

  private[graft] val hilbertD = (
    FunctionIdentifier("hilbert_d"),
    HilbertIndex.info,
    (children: Seq[Expression]) => HilbertIndex(children(0), children(1)): Expression)

  private[graft] val rplshSigs = (
    FunctionIdentifier("rplsh_sigs"),
    graft.functions.RplshSigs.info,
    (children: Seq[Expression]) => {
      // These kernels evaluate args 2-3 at PLAN time (the plane matrix is
      // one literal object); a column reference there would otherwise
      // surface as an opaque ClassCastException at execution. Guard with a
      // clear builder-time error instead (r16, ADVICE) — the same caveat
      // DotProductF32 documents.
      require(children.length == 3,
        "rplsh_sigs(embedding, planes, b) takes exactly 3 arguments")
      require(children(1).foldable,
        "rplsh_sigs: argument 2 (planes) must be a foldable array<array<float>> literal")
      require(children(2).foldable,
        "rplsh_sigs: argument 3 (b, bits per signature) must be a foldable INT literal")
      graft.functions.RplshSigs(children(0), children(1), children(2)): Expression
    })

  private[graft] val rplshDots = (
    FunctionIdentifier("rplsh_dots"),
    graft.functions.RplshDots.info,
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "rplsh_dots(embedding, planes) takes exactly 2 arguments")
      require(children(1).foldable,
        "rplsh_dots: argument 2 (planes) must be a foldable array<array<float>> literal")
      graft.functions.RplshDots(children(0), children(1)): Expression
    })
}
