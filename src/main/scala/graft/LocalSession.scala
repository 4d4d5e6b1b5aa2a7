package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main runs in (`Bench`, `BenchOne`,
  * `Verify`), so their timings and results come from one configuration:
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  * partitions, AQE on, and small-file split tuning.
  */
object LocalSession {
  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Bench-scale inputs are single-digit-MB files; 1 MB splits spread
      // the scans across local threads. A production cluster reading
      // TB-scale tables keeps the 128 MB default.
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
