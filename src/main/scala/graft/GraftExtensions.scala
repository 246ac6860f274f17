package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions._

/** Session extension registering graft's native Catalyst expressions,
  * its SQL commands and the `format("graft")` scan rule. Required:
  * activate with
  * .config("spark.sql.extensions", "graft.GraftExtensions"). Without it
  * the text, LSH, top-k and digest paths fail at analysis with Spark's
  * unresolved-routine error naming the missing function, and a
  * `format("graft")` read fails at planning naming this class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_],
        builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    inject("fixed_dot", classOf[FixedDot], e => FixedDot(e(0), e(1)))
    inject("token_ids", classOf[TokenIds], e => TokenIds(e.head))
    inject("shingle_ids", classOf[ShingleIds], e => ShingleIds(e.head))
    inject("ngram_sids", classOf[NgramSids], NgramSids.fromArgs)
    inject("minhash_sig", classOf[MinHashSig], e => MinHashSig(e.head))
    inject("simhash16", classOf[SimHash16], e => SimHash16(e.head))
    inject("multiset_digest", classOf[MultisetDigest],
      e => MultisetDigest(e.head))
    inject("lsh_bucket", classOf[LshBucket], LshBucket.fromArgs)
    inject("nfc_normalize", classOf[NfcNormalize],
      e => NfcNormalize(e.head))
    inject("fixed_log2", classOf[FixedLog2], e => FixedLog2(e.head))
    inject("lm_feature_ids", classOf[LmFeatureIds], LmFeatureIds.fromArgs)
    inject("winnow_fps", classOf[WinnowFps], WinnowFps.fromArgs)
    inject("heavy_hitters", classOf[HeavyHitters],
      e => HeavyHitters(e(0), e(1)))
    inject("topk_by", classOf[TopKBy],
      e => TopKBy(e(0), e(1), e(2)))
    inject("kmv_hashes", classOf[KmvHashes],
      e => KmvHashes(e(0), e(1)))
    // Spark's own runtime-filter probe expression (codegen'd), exposed
    // as a SQL function so scan-stage Bloom prefilters can be written
    // declaratively (ext/Decontaminate): might_contain(<serialized
    // bloom binary>, <long value>). The same expression/bloom pairing
    // InjectRuntimeFilter uses internally, so semantics match Spark's
    // shuffle-pruning filters exactly.
    inject("might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain],
      e => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(e(0), e(1)))
    // SQL maintenance commands (GRAFT OPTIMIZE / VACUUM / HISTORY);
    // everything else delegates to Spark's parser untouched
    ext.injectParser((_, delegate) =>
      new graft.sqlext.GraftSqlParser(delegate))
    // format("graft") reads: splice the manifest-pruned frame's plan
    ext.injectOptimizerRule(_ => graft.sources.GraftScanRule)
  }
}
