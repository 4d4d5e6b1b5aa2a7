package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory tracing for the benchmark: spans around the calls the
  * benchmark makes into each layer, plus per-layer counters fed by a
  * `SparkListener` and a `QueryExecutionListener`.
  *
  * Listener events arrive asynchronously on Spark's listener bus, so
  * every span boundary drains the bus before the label changes: each
  * job, task and query execution is then attributed to the span that
  * was open when it ran. When a workload calls one program function
  * that runs several layers (`IngestPipeline.run`), a `classify`
  * function assigns each query execution to a layer from its output
  * path and plan instead.
  *
  * Tracing is off unless `enable` is called; the end-to-end run never
  * installs the listeners and `span` is then a plain call.
  */
object Trace {
  final case class Span(name: String, start: Long, end: Long,
      parent: Int, id: Int)

  @volatile var enabled = false
  private var spark: SparkSession = _
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var label = "other"

  /** Assigns a query execution to a layer; `None` keeps the open
    * span's label.
    */
  @volatile var classify: org.apache.spark.sql.execution.QueryExecution =>
    Option[String] = _ => None

  private val counters = mutable.Map.empty[String, Double]
  def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  /** Take and reset every counter (one workload unit's worth). */
  def drainCounters(): Map[String, Double] = {
    drainBus()
    counters.synchronized {
      val m = counters.toMap; counters.clear(); m
    }
  }

  def enable(s: SparkSession): Unit = {
    spark = s
    enabled = true
    s.sparkContext.addSparkListener(EngineListener)
    s.listenerManager.register(QeListener)
  }

  def drainBus(): Unit =
    if (enabled) org.apache.spark.BusAccess.drain(spark.sparkContext)

  /** Run `body` inside a span named `name`; its Spark work counts
    * under `name` unless `classify` says otherwise.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drainBus()
      val prevLabel = label
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(name, System.nanoTime(), 0L, parent, id)
      stack.push(id)
      label = name
      try body
      finally {
        drainBus()
        stack.pop()
        spans(id) = spans(id).copy(end = System.nanoTime())
        label = prevLabel
      }
    }

  /** Record a finished span under the open one without draining the
    * listener bus (for high-rate calls that launch no Spark work).
    */
  def leaf(name: String, start: Long, end: Long): Unit =
    if (enabled) spans += Span(name, start, end,
      stack.headOption.getOrElse(-1), spans.size)

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Scan and write counters read off an executed physical plan,
    * looking through adaptive stages, reused exchanges and cached
    * relations.
    */
  def planStats(p: SparkPlan): (Long, Long, Long, Long, Long) = {
    var fr, br, rr, fw, bw = 0L
    def m(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
      case f: FileSourceScanExec =>
        fr += m(f, "numFiles"); br += m(f, "filesSize")
        rr += m(f, "numOutputRows")
      case w: DataWritingCommandExec =>
        fw += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        bw += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        walk(w.child)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    (fr, br, rr, fw, bw)
  }

  /** Output path of a file write, if the execution is one. */
  def outputPath(qe: org.apache.spark.sql.execution.QueryExecution)
      : Option[String] =
    qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
      c.outputPath.toString }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = {
      val layer = classify(qe).getOrElse(label)
      val plan = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      val (fr, br, rr, fw, bw) = planStats(qe.executedPlan)
      add(s"$layer.plan_s", plan)
      add(s"$layer.exec_s", durationNs / 1e9)
      add(s"$layer.files_read", fr.toDouble)
      add(s"$layer.bytes_read", br.toDouble)
      add(s"$layer.rows_read", rr.toDouble)
      add(s"$layer.files_written", fw.toDouble)
      add(s"$layer.bytes_written", bw.toDouble)
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Jobs, tasks, executor CPU, GC, shuffle bytes and task skew, both
    * per open label and engine-wide (`spark.*`).
    */
  private object EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(s"$label.jobs", 1)

    private val stageTaskTimes = mutable.Map.empty[(Int, Int), List[Long]]

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("spark.tasks", 1)
      if (m != null) {
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add(s"$label.shuffle_bytes",
          (m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead).toDouble)
        val k = (e.stageId, e.stageAttemptId)
        stageTaskTimes(k) = m.executorRunTime :: stageTaskTimes.getOrElse(k, Nil)
      }
    }

    /** Skew of a stage = slowest task ÷ mean task; a label keeps its
      * worst stage.
      */
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageTaskTimes.remove(k).filter(_.size >= 2).foreach { ts =>
        val mean = ts.sum.toDouble / ts.size
        if (mean > 0) {
          val skew = ts.max / mean
          counters.synchronized {
            val key = s"$label.task_skew"
            counters(key) = math.max(counters.getOrElse(key, 0.0), skew)
          }
        }
      }
    }
  }
}
