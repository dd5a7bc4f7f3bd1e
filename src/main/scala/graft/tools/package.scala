package graft

import org.apache.spark.sql.SparkSession

package object tools {

  /** Local parallelism for a tool run: `SPARK_GRAFT_CPUS`, else
    * min(32, available processors), the rule graft.Bench and graft.Verify follow. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** A local session with graft.Bench's settings: shuffle partitions =
    * cores, AQE on, UTC, no UI. */
  def benchSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
