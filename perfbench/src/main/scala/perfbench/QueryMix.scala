package perfbench

import graft.{QuerySpec, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** `query_mix`: a fixed, ordered mix of registered `SparkEntry` specs,
  * run back to back by one caller (closed loop), each materialized
  * through the `noop` sink the way `graft.Bench` does.
  *
  * Set-up copies the generated tables into a fresh directory and
  * constructs every query once, which builds each index fixture the mix
  * serves from (the `ensure*` builders run while a query is constructed
  * and key their fixtures by table directory, so a fresh directory is a
  * fresh build). The first full pass is untimed warm-up and writes each
  * result for the DuckDB oracle check; then passes are timed until the
  * window closes.
  */
object QueryMix {

  /** The mix, in run order, with the family each spec belongs to. The
    * ROADMAP's perf targets ride beside untouched controls from every
    * family.
    */
  val Mix: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational",
    "q_tpch3_shipping" -> "relational",
    "q_snapshot_latest" -> "relational",
    "doc_sample_stratified" -> "curation",
    "dedup_canonical" -> "dedup",
    "sim_topk" -> "similarity",
    "text_bm25_indexed" -> "retrieval",
    "text_tokens" -> "text",
    "q_table_history" -> "timetravel",
    "multimodal_dedup" -> "multimodal",
    "q_profile_approx" -> "profiling",
    "q_checksum" -> "profiling")

  val Families: Seq[String] = Mix.map(_._2).distinct

  val Setups = 1

  def run(spark: SparkSession, seed: Long, seconds: Double,
      work: Path): Outcome = {
    val byName = SparkEntry.specs.map(sp => sp.name -> sp).toMap
    val mix: Seq[(QuerySpec, String)] = Mix.map { case (n, f) => byName(n) -> f }

    // Set-up: a fresh table dir, then every query constructed once.
    val setupTimes = (1 to Setups).map { i =>
      val dir = work.resolve(s"tables-$i")
      copyTables(work.resolve("data"), dir)
      val t0 = System.nanoTime()
      mix.foreach { case (sp, _) =>
        val q0 = System.nanoTime()
        sp.fn(spark, dir.toString)
        Log(f"  construct ${sp.name}: ${Stats.seconds(q0)}%.3f s")
      }
      spark.catalog.clearCache()
      Log(f"setup $i: ${Stats.seconds(t0)}%.3f s")
      Stats.seconds(t0)
    }
    val dir = work.resolve(s"tables-$Setups").toString

    // Untimed pass whose results the DuckDB oracle checks.
    val checks = mix.map { case (sp, _) =>
      val out = work.resolve("check").resolve(sp.name).toString
      sp.fn(spark, dir).write.mode("overwrite").parquet(out)
      spark.catalog.clearCache()
      (sp.name, out, sp.oracle.get)
    }

    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val layerSums = mutable.Map.empty[String, Double]
    val window0 = System.nanoTime()
    while (passTimes.isEmpty || Stats.seconds(window0) < seconds) {
      Trace.drainCounters()
      val construct = mutable.Map.empty[String, Double]
      val p0 = System.nanoTime()
      mix.foreach { case (sp, fam) =>
        val t0 = System.nanoTime()
        val df = Trace.span(s"$fam.construct")(sp.fn(spark, dir))
        val tc = Stats.seconds(t0)
        Trace.span(fam)(df.write.format("noop").mode("overwrite").save())
        val total = Stats.seconds(t0)
        spark.catalog.clearCache()
        perQuery.getOrElseUpdate(sp.name, mutable.ArrayBuffer.empty) += total
        Log(f"  ${sp.name}: $total%.3f s")
        construct(fam) = construct.getOrElse(fam, 0.0) + tc
      }
      passTimes += Stats.seconds(p0)
      Log(f"pass ${passTimes.size}: ${passTimes.last}%.3f s")
      if (Trace.enabled) {
        val c = Trace.drainCounters()
        Families.foreach { f =>
          def g(k: String) = c.getOrElse(k, 0.0)
          val add = Seq(
            s"$f.construct_s" -> construct.getOrElse(f, 0.0),
            s"$f.plan_s" -> g(s"$f.plan_s"),
            s"$f.exec_s" -> g(s"$f.exec_s"),
            s"$f.jobs" -> (g(s"$f.jobs") + g(s"$f.construct.jobs")),
            s"$f.shuffle_bytes" ->
              (g(s"$f.shuffle_bytes") + g(s"$f.construct.shuffle_bytes")),
            s"$f.task_skew" ->
              math.max(g(s"$f.task_skew"), g(s"$f.construct.task_skew")))
          add.foreach { case (k, v) => layerSums(k) = layerSums.getOrElse(k, 0.0) + v }
        }
        Seq("spark.tasks", "spark.executor_cpu_s", "spark.gc_s").foreach { k =>
          layerSums(k) = layerSums.getOrElse(k, 0.0) + c.getOrElse(k, 0.0)
        }
      }
    }

    // Persisted state per input row: the tables plus the index
    // fixtures built from them (fixture names end in the table dir).
    val suffix = dir.replaceAll("\\W", "_")
    val fixtures = Files.list(work.resolve("warehouse"))
    val fixtureBytes = try fixtures.filter(_.getFileName.toString.endsWith(suffix))
      .mapToLong(Stats.du(_)).sum() finally fixtures.close()
    val bytes = Stats.du(Paths.get(dir)) + fixtureBytes
    val rows = Tables.all.map(t => Tables.load(spark, dir, t).count()).sum
    val medians = mix.map { case (sp, _) => Stats.median(perQuery(sp.name).toSeq) }
    Outcome(
      attempted = mix.size.toLong * (Setups + 1 + passTimes.size),
      failed = 0L,
      endToEnd = Seq(
        ("setup_s", Stats.median(setupTimes), "s"),
        ("cycle_s", Stats.median(passTimes.toSeq), "s"),
        ("op_geomean_s", Stats.geomean(medians), "s"),
        ("bytes_per_row", bytes.toDouble / rows, "bytes")),
      perLayer = layerSums.map { case (k, v) => k -> v / passTimes.size }.toMap,
      diagnostics = Seq("passes" -> passTimes.size.toDouble) ++
        Stats.tail("query_s", perQuery.values.flatten.toSeq) ++
        mix.zip(medians).map { case ((sp, _), m) => s"query.${sp.name}_s" -> m },
      oracleChecks = checks)
  }

  private def copyTables(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
  }
}
