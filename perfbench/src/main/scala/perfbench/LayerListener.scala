package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes every Spark job to one engine layer and keeps the job's busy
  * interval and task metrics, so the traced run can report per-layer busy
  * time (the union of a layer's job intervals — commit-span jobs run
  * concurrently, so a sum would count overlap twice) and Spark runtime
  * counters.
  *
  * A job belongs to the layer module named by the outermost `graft.*` frame
  * of its call site that is not the wave loop or a query registry (those
  * frames wrap every job). A job whose call site shows only the wave loop is
  * the wave loop's own work; its physical plan then tells a page parse (a
  * UDF over `html`) from the loop's other jobs.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageLayer = mutable.HashMap.empty[Int, String]
  val tasksByLayer = mutable.HashMap.empty[String, TaskAgg]
  /** Task durations (ms) per stage, for the skew of politeness stages. */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** SQL execution id → (call site of the action, physical plan). */
  private val executions = mutable.HashMap.empty[Long, (String, String)]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      executions(e.executionId) = (e.details, e.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (execSite, plan) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong)).getOrElse(("", ""))
    // adaptive execution submits its stage jobs from a pool thread, whose
    // own call site shows no caller: the execution's call site names it
    val jobSite = e.stageInfos.headOption.map(_.details).getOrElse("")
    val callSite = if (jobSite.contains("graft.")) jobSite else execSite
    val query = Option(e.properties).flatMap(p => Option(p.getProperty(QueryProperty)))
    val layer = layerOf(callSite, plan) match {
      case Other if query.isDefined => "queries" // the harness ran the query's action
      case l => l
    }
    jobs(e.jobId) = Job(layer, e.time, -1L)
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = tasksByLayer.getOrElseUpdate(
        stageLayer.getOrElse(e.stageId, Other), new TaskAgg)
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime; a.tasks += 1
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Jobs that started inside [from, to] (wall ms) and have ended. */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start <= to && j.end >= 0).toVector
  }
}

object LayerListener {
  val Other = "other"
  /** Local property naming the query whose jobs the harness is running. */
  val QueryProperty = "perfbench.query"

  final case class Job(layer: String, start: Long, var end: Long)
  final class TaskAgg {
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var tasks = 0L
  }

  /** Layer module per class-name prefix, most specific first. Frames that
    * match none (the pages generator, shared utilities) name no layer.
    */
  private val modules: Seq[(String, String)] = Seq(
    "graft.functions." -> "functions",
    "graft.util.Html" -> "functions",
    "graft.util.PyText" -> "functions",
    "graft.operators.SeenSet" -> "seenset",
    "graft.util.Cuckoo" -> "seenset",
    "graft.util.ShardState" -> "seenset",
    "graft.operators.Politeness" -> "politeness",
    "graft.operators.Frontier" -> "frontier",
    "graft.plans." -> "snapshot",
    // the remaining operators are the query-side ones (Dedup, Similarity,
    // BatchSink, Restructure, Enrichment, ...)
    "graft.operators." -> "queries")

  /** Frames that wrap jobs of every layer: the wave loop and the query
    * registries. They name a layer only when no other graft frame does.
    */
  private val wrappers: Seq[(String, String)] = Seq(
    "graft.CrawlEngine" -> "engine",
    "graft.Queries" -> "queries",
    "graft.SparkEntry" -> "queries")

  def layerOf(callSite: String, plan: String): String = {
    // call sites list the innermost frame first: scan from the outside in
    val outsideIn = callSite.split("\n").toVector.map(_.trim)
      .filter(_.startsWith("graft.")).reverse
    def first(table: Seq[(String, String)]): Option[String] =
      outsideIn.iterator.flatMap(f => table.find(m => f.startsWith(m._1))).nextOption()
        .map(_._2)
    (first(modules), first(wrappers)) match {
      case (Some(l), _) => l
      case (None, Some("engine")) if plan.contains("UDF(html") => "functions"
      case (None, Some(l)) => l
      case (None, None) => Other
    }
  }

  /** Total length of the union of [start, end] intervals (ms). */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
