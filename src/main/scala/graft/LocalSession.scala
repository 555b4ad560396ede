package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains (Verify, Bench, PlanDump, ScaleGen,
  * Probe): `local[cpus]` with `cpus` shuffle partitions, a UTC session time
  * zone (q78's calendar binning asserts it) and no UI. `cpus` is
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors, as in the
  * perfbench harness. */
object LocalSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared builder, for a main that adds confs of its own. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  def apply(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
