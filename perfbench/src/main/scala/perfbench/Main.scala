package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** What a workload hands back: attempts and failed checks, end-to-end
  * timings (always measured, tracing on or off), per-layer values
  * (traced runs only), diagnostics, and oracle checks left for the
  * Python side to run in DuckDB.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Map[String, Double],
    diagnostics: Seq[(String, Double)],
    oracleChecks: Seq[(String, String, String)] = Nil) // (name, result dir, sql)

/** The benchmark's JVM side: one workload, one seed, one process.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> [--spans <spans.jsonl>]
  *
  * Every path it writes sits under `--work` (data, indexes, the Spark
  * warehouse and scratch dirs); the caller deletes that directory.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    // The query mix runs with graft.Bench's session: its inputs are a
    // few MB, and 1 MB splits spread the scans over the local cores.
    // The ingest and index workloads keep Spark's file-split defaults,
    // as a deployment reading many small hourly files would.
    if (workload == "query_mix") builder
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.files.openCostInBytes", "262144")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.enable(spark)

    val outcome = workload match {
      case "hourly_cycle" => HourlyCycle.run(spark, seed, seconds, work)
      case "query_mix" => QueryMix.run(spark, seed, seconds, work)
      case "index_maint" => IndexMaint.run(spark, seed, seconds, work)
      case other => sys.error(s"unknown workload $other")
    }
    Trace.drainBus()
    opts.get("spans").filter(_ => traced)
      .foreach(p => Trace.writeSpans(Paths.get(p)))
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    Files.write(Paths.get(opts("out")), Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "nproc" -> cpus.toString,
      "load_avg" -> Json.num(load),
      "traced" -> traced.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "end_to_end" -> Json.obj(outcome.endToEnd.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "per_layer" -> Json.obj(outcome.perLayer.toSeq.sortBy(_._1)
        .map { case (n, v) => n -> Json.num(v) }),
      "diagnostics" -> Json.obj(outcome.diagnostics
        .map { case (n, v) => n -> Json.num(v) }),
      "oracle_checks" -> outcome.oracleChecks.map { case (n, dir, sql) =>
        Json.obj(Seq("name" -> Json.str(n), "dir" -> Json.str(dir),
          "sql" -> Json.str(sql)))
      }.mkString("[", ",", "]"))).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Progress lines on stderr (the harness keeps them in a log file). */
object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest of p50/p90/p99 that has at least ten samples beyond
    * it, reported with the sample count (diagnostic, never gated).
    */
  def tail(name: String, xs: Seq[Double]): Seq[(String, Double)] = {
    val q = Seq(0.99 -> "p99", 0.9 -> "p90")
      .find { case (p, _) => xs.size * (1 - p) >= 10 }
    Seq(s"$name.n" -> xs.size.toDouble) ++
      q.map { case (p, n) => s"$name.$n" -> quantile(xs, p) }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Recursive on-disk size in bytes, Hadoop checksum sidecars
    * excluded.
    */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".crc"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

}
