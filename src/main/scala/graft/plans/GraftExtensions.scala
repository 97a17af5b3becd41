package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.IntegerType

/** `spark.sql.extensions=graft.plans.GraftExtensions` (which
  * `graft.GraftSession` sets) registers every graft planner
  * extension; on a live session the
  * runtime equivalents are `spark.experimental.extraOptimizations`
  * (the rule) and `spark.experimental.extraStrategies` (the
  * hypercube strategy).
  *
  * Applying the extension also sizes Spark's codegen cache for the JVM
  * ([[GraftExtensions.codegenCacheEntries]]) and lets equal generated
  * code share one cache entry across stage ids
  * ([[GraftExtensions.shareStageClasses]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.codegenCacheEntries
    GraftExtensions.shareStageClasses()
    ext.injectOptimizerRule(_ => RangeJoinRule)
    ext.injectPlannerStrategy(_ => HypercubeStrategy)
  }
}

object GraftExtensions {

  /** The fewest entries Spark's codegen cache gets. Spark's default,
    * 100, is below one warm perfbench pass (about 170 classes on
    * sql_analytics, 230 on doc_pipeline), so the LRU evicted every class
    * before the next pass asked for it and each pass compiled its classes
    * again. 300 holds a warm pass of either workload for about 5-6% more
    * live heap. */
  val MinCodegenCacheEntries = 300

  /** The static conf Spark sizes its codegen cache from. */
  val codegenCacheKey: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** The session conf that puts the codegen stage id into the name of
    * each generated class (Spark's default: true). */
  val stageIdInClassNameKey: String = SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key

  /** Sets [[stageIdInClassNameKey]] to false in the SparkContext's conf,
    * unless it is set there already, so the session about to be built
    * reads it. The class name is part of the code, and so of the cache
    * key: with the id in it, a pipeline that AQE numbers differently in
    * another pass, or that another query runs under another id, compiles
    * again. Without it, perfbench doc_pipeline (seed 831, traced)
    * compiles 168 classes in its cold pass instead of 201 and 8 in its
    * warm pass instead of 20. EXPLAIN and the SQL UI still show the id. */
  def shareStageClasses(): Unit =
    Option(SparkEnv.get).foreach(_.conf.setIfMissing(stageIdInClassNameKey, "false"))

  /** The size Spark's codegen cache gets in this JVM: the larger of
    * [[MinCodegenCacheEntries]] and an explicit
    * `spark.sql.codegen.cache.maxEntries` in the SparkContext's conf.
    *
    * `CodeGenerator.cache` is a static LRU that Spark sizes once, when
    * the `CodeGenerator` object initializes, from `SQLConf.get`. Every
    * session that loads this extension (`graft.GraftSession`, the test
    * `SparkSpec`, perfbench's own builder) forces that initialization
    * here, under a conf that carries the size. It has to be a real call:
    * scalac inlines `final val` members such as
    * `MAX_JVM_METHOD_PARAMS_LENGTH`, which then initialize nothing.
    *
    * Ordering: this only works if it runs before the JVM's first
    * codegen. A JVM that compiled generated code before it built a
    * session with this extension keeps the size it had then, and this
    * value no longer describes it.
    *
    * Cache keys are (context classloader, code). What still compiled
    * in a warm pass before [[shareStageClasses]], from a DEBUG
    * `CodeGenerator` log of perfbench doc_pipeline (seed 831, 4-core
    * box): 20 classes, dd10 8, dd15 4, dp13 8 and the index ops none
    * (other seeds: idx_probe up to 8).
    *  - (a) AQE picks a different plan shape between passes, so a
    *    different fused stage compiles (4 of the 20);
    *  - (b) the same code renumbered under a new `codegenStageId`; AQE
    *    numbers stages in the order it creates them, which depends on
    *    which shuffle finishes first (5 of the 20).
    *    [[shareStageClasses]] removes this kind;
    *  - (c) exact repeats under a second key: a class compiles once on
    *    a driver thread and again in an executor task, whose context
    *    classloader differs (11 of the 20, mostly the task-side copy of
    *    an (a) or (b) class). Before the warm pass 87 of 155 distinct
    *    classes had compiled exactly twice, once on each side, so the
    *    working set is about 1.6 times the distinct class count.
    * (a) and (c) come from Spark's adaptive planner and its cache key,
    * so they stay: after [[shareStageClasses]] the warm pass compiles
    * 8 classes, about 0.1 s of Janino time in a 5 s pass. */
  lazy val codegenCacheEntries: Int = {
    val explicit = Option(SparkEnv.get).flatMap(_.conf.getOption(codegenCacheKey)).map(_.toInt)
    val size = explicit.getOrElse(0) max MinCodegenCacheEntries
    val conf = new SQLConf
    conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, size)
    SQLConf.withExistingConf(conf)(CodeGenerator.isPrimitiveType(IntegerType))
    size
  }
}
