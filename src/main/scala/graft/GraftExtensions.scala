package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CmsSketch, CoPairs, CosineSim, Fnv1a32, HashExprs, KmvSketch, ShingleArray, SignBands, SketchAggs, TextExprs, TokCats, TopKAgg, VectorExprs}

/** The one wiring path for graft's native functions: injects each
  * builder into the session's function registry when the session state
  * is built, so the column handles (`HashExprs.fnv1a32`, …) and plain
  * `spark.sql(...)` resolve them with no registration call.
  *
  * Every graft session comes from [[Session.local]], which installs this
  * extension. A session built elsewhere needs it configured, or the
  * native functions fail with `UNRESOLVED_ROUTINE` —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      VectorExprs.cosineSimBuilder))
    ext.injectFunction((
      FunctionIdentifier("lsh_bands"),
      new ExpressionInfo(classOf[SignBands].getName, "lsh_bands"),
      VectorExprs.lshBandsBuilder))
    ext.injectFunction((
      FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ShingleArray].getName, "shingles"),
      TextExprs.shinglesBuilder))
    ext.injectFunction((
      FunctionIdentifier("fnv1a32"),
      new ExpressionInfo(classOf[Fnv1a32].getName, "fnv1a32"),
      HashExprs.fnv1a32Builder))
    ext.injectFunction((
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketch].getName, "cms_sketch"),
      SketchAggs.cmsSketchBuilder))
    ext.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
      SketchAggs.kmvSketchBuilder))
    ext.injectFunction((
      FunctionIdentifier("topk_rows"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk_rows"),
      TopKAgg.topkRowsBuilder))
    ext.injectFunction((
      FunctionIdentifier("tok_cats"),
      new ExpressionInfo(classOf[TokCats].getName, "tok_cats"),
      TextExprs.tokCatsBuilder))
    ext.injectFunction((
      FunctionIdentifier("co_pairs"),
      new ExpressionInfo(classOf[CoPairs].getName, "co_pairs"),
      TextExprs.coPairsBuilder))
  }
}
