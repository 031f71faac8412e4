package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main (Bench, Verify, Profile, Plans,
  * ScaleProbe, StreamYardstick) runs on, so their timings, plans and dumps
  * come from one configuration: local[cpus] with as many shuffle partitions
  * as cores, UTC, AQE with partition coalescing, no UI.
  */
object Harness {

  /** SPARK_GRAFT_CPUS, else the host's core count capped at 32:
    * oversubscribing local[N] skews the steady-state timings Bench measures.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
