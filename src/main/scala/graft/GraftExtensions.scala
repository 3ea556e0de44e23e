package graft

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{TextHashes, TokenStats, VectorDotProduct}

/** Session extensions for the engine — install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`. They register the native
  * functions and give Spark's generated-class cache room for the
  * engine's working set ([[GraftExtensions.CodegenCacheEntries]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    // extensions run once the SparkContext exists and before the session
    // and its shared state are built, so the session's static conf reads
    // the value; one the user set stays as set
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    extensions.injectFunction(VectorDotProduct.descriptor)
    extensions.injectFunction(TextHashes.minhashDescriptor)
    extensions.injectFunction(TextHashes.simhashDescriptor)
    extensions.injectFunction(TextHashes.xxShinglesDescriptor)
    extensions.injectFunction(TextHashes.xxNgramsDescriptor)
    extensions.injectFunction(TokenStats.descriptor)
  }
}

object GraftExtensions {

  /** Entries of Spark's JVM-wide cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). One
    * log's report set and both charts need 221 distinct classes, a
    * curation pass ~140 and a shelf write-back 45, so under the default
    * the LRU cache evicts each job-history and curation class before it
    * comes round again, and every log compiles all of them anew and JITs
    * the new classes. 1000 holds the largest of these working sets four
    * times over. A whole registry pass compiles ~2,700 distinct classes,
    * but runs each query once, so only a query's own classes need to stay
    * between its repeats.
    *
    * Spark reads the size once per JVM, when the code generator first
    * initializes: it applies only if no query generated code earlier in
    * the JVM, through a session built with these extensions. */
  val CodegenCacheEntries: Int = 1000

  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Set the cache size in `conf` unless it already holds one. */
  private[graft] def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing(CodegenCacheKey, CodegenCacheEntries.toString)
}
