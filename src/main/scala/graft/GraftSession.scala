package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every entry point (Bench, Verify,
  * the tools, ScaleSmoke): one set of settings, so a number measured by
  * one tool is comparable with the same gate measured by another.
  */
object GraftSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else every available core. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with shuffle partitions = cpus, UTC session time,
    * AQE on, and the legacy nanos-as-long parquet read: events.parquet
    * `ts` arrives as INT64 TIMESTAMP(NANOS) in some fixture generations
    * (read as long under this conf) and TIMESTAMP(MICROS, NTZ) in
    * others — gates.Fixtures.events normalizes both to a UTC instant.
    */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
