package graft.functions

import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.internal.StaticSQLConf

/** SQL registration for the graft expressions, so `spark.sql` users get
  * the same kernels as the Column API:
  *
  *   SELECT iceberg_bucket(o_orderkey, 16), simhash64(text), ...
  *
  * Two paths: `GraftExtensions` for session construction
  * (`.withExtensions(new GraftExtensions)` or the
  * spark.sql.extensions conf), `Registry.register` for an existing
  * session.
  */
object Registry {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal, got $other")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "iceberg_bucket" -> (args => IcebergBucket(args(0), intArg(args(1), "iceberg_bucket"))),
    "simhash64" -> (args => SimHash64(args(0))),
    "nfc_normalize" -> (args => NfcNormalize(args(0))),
    "doc_fingerprint" -> (args => DocFingerprint(args(0))),
    "cosine_sim" -> (args => CosineSim(args(0), args(1))),
    "jaccard_sim" -> (args => JaccardSim(args(0), args(1))),
    "minhash_bands" -> (args => MinHashBands(args(0),
      intArg(args(1), "minhash_bands"), intArg(args(2), "minhash_bands"))),
    "zorder2" -> (args => ZOrder2(args(0), args(1))),
    "zorder" -> (args => ZOrderBytes(args)),
    // the SQL surface honors the same session recall dial as the
    // DataFrame operators (graft.ann.lshPreset) — mixed SQL/DataFrame
    // bucket keys in one session must agree or joins between them
    // silently match nothing.
    // PERSISTENCE HAZARD: the dial binds at ANALYSIS time, so bucket
    // keys MATERIALIZED to a table embed the preset they were computed
    // under; a later session joining stored keys under a different
    // preset gets empty results, not an error. Use the stamped pair
    // Similarity.persistBucketKeys / loadBucketKeys / appendBucketKeys
    // (the table property `graft.ann.lshPreset` is written at create
    // and ASSERTED on every load/append); hand-materialized key tables
    // must stamp the same property — see README "ANN recall dial"
    "lsh_bucket_keys" -> (args => {
      val (t, p) = LshKernel.presetOf(SparkSession.active)
      LshBucketKeys(args(0), t, p)
    }))

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Session-extension registration: SQL functions (injectFunction),
  * the automatic range-join rewrite (injectOptimizerRule) — interval
  * overlap joins become bucket equi-joins instead of nested loops —
  * and the V2 view SQL surface (injectParser rewrites view DDL aimed
  * at graft catalogs; injectResolutionRule inlines view reads), since
  * Spark 4.1 ships the ViewCatalog SPI with no built-in wiring. It
  * also sizes Spark's generated-class cache to graft's working set
  * (`GraftExtensions.sizeCodegenCache`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    Registry.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(session => graft.plans.RangeJoinRewrite(session))
    ext.injectParser((session, delegate) =>
      new graft.spark.GraftSqlParser(session, delegate))
    ext.injectResolutionRule(session => graft.spark.GraftViewRead(session))
  }
}

object GraftExtensions {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Entries of Spark's generated-class cache in a graft session.
    *
    * Spark compiles every whole-stage and expression class through one
    * JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries` entries
    * (default 100). Measured at local[4] with AQE:
    *  - the six `llm_pipeline` keys (dd_minhash_dedup, dd_ngram_jaccard,
    *    dd_semantic, ann_ivf_topk, ta_bm25, pipeline_decontaminate) use
    *    189 distinct classes at sf0.001. At 100 entries each is evicted
    *    before its next use, so every call recompiles 17-43 of them
    *    (186 per pass of the chain); at 1,000 a repeated pass compiles
    *    none.
    *  - one pass of all 134 `SparkEntry.queries` keys at sf0.01 (the
    *    oracle check) uses 1,537 distinct classes: 2,084 compiles at
    *    100 entries, 1,536 at 1,000, since no class is evicted before
    *    a later key reuses it.
    *  - each resident class keeps about 28 KB of live heap (143.7 MB at
    *    1,000 against 118.2 MB at 100 after the same pass), so a full
    *    cache costs about 25 MB over Spark's default.
    * 1,000 holds the chain five times over and stays bounded. */
  val CodegenCacheEntries = 1000

  /** Sets `spark.sql.codegen.cache.maxEntries` on the running
    * SparkContext's conf unless the deployer set it. Spark reads this
    * static conf once per JVM, when `CodeGenerator` first initialises,
    * which in a fresh JVM happens after the session's extensions are
    * applied; if code was already compiled in this JVM the cache keeps
    * the size it was built with, and this says so once. */
  private[graft] def sizeCodegenCache(): Unit = Option(SparkEnv.get).foreach { env =>
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!env.conf.contains(key)) {
      if (CodegenMetrics.METRIC_COMPILATION_TIME.getCount == 0)
        env.conf.set(key, CodegenCacheEntries.toString)
      else if (warned.compareAndSet(false, true))
        log.warn(s"code was generated in this JVM before graft's session extension " +
          s"applied, so Spark's generated-class cache keeps its default size; set " +
          s"$key=$CodegenCacheEntries on the first session to size it for graft")
    }
  }
}
