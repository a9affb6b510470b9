package graft

import graft.functions.{ArrayDotProduct, BloomFunctions, ByteValues, CosineSimilarity, NfcNormalize, TokenNgrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Library extension point: `spark.sql.extensions=graft.GraftExtensions`
  * registers the engine's native functions in any SparkSession — the
  * standard way a user adopts this library on an existing cluster
  * ([[SparkEnv]] sets it for all our own entry points). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(CosineSimilarity.Name),
      CosineSimilarity.info, CosineSimilarity.builder))
    ext.injectFunction((FunctionIdentifier(ArrayDotProduct.Name),
      ArrayDotProduct.info, ArrayDotProduct.builder))
    ext.injectFunction((FunctionIdentifier(TokenNgrams.Name),
      TokenNgrams.info, TokenNgrams.builder))
    ext.injectFunction((FunctionIdentifier(ByteValues.Name),
      ByteValues.info, ByteValues.builder))
    ext.injectFunction((FunctionIdentifier(NfcNormalize.Name),
      NfcNormalize.info, NfcNormalize.builder))
    // Spark's own runtime-bloom-filter expressions, surfaced as callable
    // functions (scan-time membership gate — see BloomFunctions)
    ext.injectFunction((FunctionIdentifier(BloomFunctions.AggName),
      BloomFunctions.aggInfo, BloomFunctions.aggBuilder))
    ext.injectFunction((FunctionIdentifier(BloomFunctions.MightContainName),
      BloomFunctions.mightContainInfo, BloomFunctions.mightContainBuilder))
  }
}
