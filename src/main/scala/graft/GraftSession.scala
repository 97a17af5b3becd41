package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs on (Bench, Verify,
  * RunBenchmark, RunMLBenchmark and the dev tools), so the plans Verify
  * checks are the plans Bench times:
  *
  *  - `local[SPARK_GRAFT_CPUS]` (default 4), shuffle partitions equal
  *    to that core count, UTC, no UI, `graft.plans.GraftExtensions`;
  *  - the plan-shaping confs in [[planConfs]], each read from its env
  *    var with a local default so the boards stay comparable.
  */
object GraftSession {

  /** One plan-shaping conf: the Spark key, the label Bench's `"conf"`
    * JSON reports it under, and the env var and default it reads. */
  final case class PlanConf(key: String, label: String, envVar: String,
      default: String)

  /** In the order Bench's `"conf"` JSON and Verify's
    * `verify_config.json` report them.
    *
    * - Runtime bloom-filter injection is OFF by default: at bench scale
    *   every injected filter is DEFAULT-sized (1M items / 8.4M bits —
    *   the optimizer has no stats to size it) and rides on joins whose
    *   small side already broadcasts, so it is pure build+broadcast
    *   overhead (measured −4% warm across the LSH probe family, −0.3 s
    *   on tpcds_q14a; OPTIMIZATION_r17.md). At 100 TB re-enable
    *   (SPARK_GRAFT_RUNTIME_BLOOM=true) and size
    *   ...bloomFilter.creationSideThreshold/expectedNumItems to the real
    *   dimension cardinalities.
    * - Sort-merge stays the PLANNER default: SHJ's build-side hash map
    *   cannot spill, and a static flip rides on size ESTIMATES,
    *   absent/unreliable at scale — a misestimate at 100 TB is an
    *   executor OOM. The SHJ win is taken through AQE's runtime rewrite
    *   instead: maxShuffledHashJoinLocalMapThreshold converts SMJ→SHJ
    *   only when every post-shuffle partition's MEASURED map output is
    *   under the threshold, so the build map is bounded by a known
    *   constant at any scale. Measured plan-neutral at sf0.1 (JoinAudit
    *   receipt in OPTIMIZATION_r18.md): every un-hinted equi-join on the
    *   board broadcasts at this scale, and the operators' deliberate SHJ
    *   sites carry explicit shuffle_hash hints, which a planner default
    *   never overrides.
    */
  val planConfs: Seq[PlanConf] = Seq(
    PlanConf("spark.sql.join.preferSortMergeJoin", "preferSMJ",
      "SPARK_GRAFT_PREFER_SMJ", "true"),
    PlanConf("spark.sql.optimizer.runtime.bloomFilter.enabled", "runtimeBloom",
      "SPARK_GRAFT_RUNTIME_BLOOM", "false"),
    PlanConf("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      "shjLocalMap", "SPARK_GRAFT_SHJ_LOCAL_MAP", "128m"))

  /** The session's confs under `env`, master included. */
  def conf(env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions") ++
      planConfs.map(p => p.key -> env.getOrElse(p.envVar, p.default))
  }

  def create(): SparkSession =
    conf(sys.env).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
}
