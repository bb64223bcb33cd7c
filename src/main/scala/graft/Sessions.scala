package graft

import org.apache.spark.sql.SparkSession

/** The one session setup of the local mains (Bench, Verify, JobProfile,
  * AbBench, Probe, PlanDump, Plans, ScaleBench), so their confs cannot
  * drift apart.
  */
object Sessions {

  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cores]` builder with the graft extensions, one shuffle
    * partition per core, UTC, no UI, Kryo, and uncompressed shuffle and
    * spill — compression is pure CPU overhead without a network hop (a
    * real cluster keeps it on). Ad-hoc experiments ride on
    * `SPARK_GRAFT_CONF="k=v;k=v"`. Returned unbuilt: Bench's fresh mode
    * rebuilds its session from it.
    */
  def builder(cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    b
  }
}
