package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions._

/** The engine's native SQL functions, in one table. Two readers install
  * it: [[GraftExtensions]] for sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`, and [[ensure]] for
  * sessions the engine does not construct (the driver's, the specs').
  */
object Functions {

  /** One registry entry: the SQL name, its `ExpressionInfo` (derived from
    * the expression class and the name) and an arity-checked builder. */
  final case class Fn(name: String, info: ExpressionInfo,
                      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
  }

  private def fn[E <: Expression](name: String, n: Int)(
      build: Seq[Expression] => E)(implicit ct: ClassTag[E]): Fn =
    Fn(name, new ExpressionInfo(ct.runtimeClass.getName, name),
      Builders.arity(name, n)(build))

  val all: Seq[Fn] = Seq(
    fn("simhash64", 1)(c => SimHash64(c.head)),
    fn("rolling_hash64", 1)(c => RollingHash64(c.head)),
    fn("word_shingles", 2)(c =>
      WordShingles(c.head, MinHash.intArg(c(1), "shingle size k"))),
    fn("minhash_sig", 2)(c =>
      MinHashSig(c.head, MinHash.intArg(c(1), "signature size m"))),
    fn("minhash_union", 1)(c => MinHashUnion(c.head)),
    fn("hash_embed", 2)(c =>
      HashEmbed(c.head, MinHash.intArg(c(1), "embedding dims d"))),
    fn("hyperplane_sig64", 1)(c => HyperplaneSig64(c.head)),
    fn("vec_mean", 1)(c => VecMean(c.head)),
    fn("zorder62", 2)(c => ZOrder62(c.head, c(1))),
    fn("hilbert62", 2)(c => Hilbert62(c.head, c(1))),
    fn("lang_id", 1)(c => LangId(c.head)),
    fn("quality_score", 1)(c => QualityScore(c.head)),
    fn("hashed_logit", 2)(c => HashedLogit(c.head, c(1))),
    fn("nfc_norm", 1)(c => NfcNorm(c.head)),
    fn("nfkc_norm", 1)(c => NfkcNorm(c.head)),
    fn("strip_accents", 1)(c => StripAccents(c.head)),
    fn("strip_invisible", 1)(c => StripInvisible(c.head)),
    fn("winnow_fingerprints", 3)(c => WinnowFingerprints(c(0), c(1), c(2))),
    fn("winnow_fingerprint_pos", 3)(c =>
      WinnowFingerprintPos(c(0), c(1), c(2))),
    fn("multi_match_count", 2)(c => MultiMatchCount(c.head, c(1))),
    fn("bpe_token_count", 2)(c => BpeTokenCount(c.head, c(1))),
    fn("bpe_encode", 3)(c => BpeEncode(c(0), c(1), c(2))),
    fn("bpe_encode_ls", 3)(c =>
      BpeEncode(c(0), c(1), c(2), spaceAware = true)),
    fn("max_match_encode", 2)(c => MaxMatchEncode(c.head, c(1))),
    fn("max_match_count", 2)(c => MaxMatchCount(c.head, c(1))),
    fn("unigram_encode", 2)(c => UnigramEncode(c.head, c(1))),
    fn("unigram_cost", 2)(c => UnigramCost(c.head, c(1))))

  /** Register every function `spark`'s registry does not already hold.
    * Check and add happen under the registry's own lock, so concurrent
    * callers neither race nor replace a function another caller (or
    * [[GraftExtensions]]) installed: an existing entry is left as is. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      all.foreach { f =>
        if (!registry.functionExists(f.id))
          registry.registerFunction(f.id, f.info, f.builder)
      }
    }
  }
}
