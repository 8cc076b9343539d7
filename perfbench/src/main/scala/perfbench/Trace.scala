package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.odata.ODataInputPartition

/** One timed interval: an op, a wrapped public call, or a Spark job.
  * `parent` is 0 for a root span. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** A finished Spark job, parented through the span local property. */
final case class JobRec(
    jobId: Int, span: Long, startNs: Long, endNs: Long, callSite: String,
    sqlExec: Long, stages: Int)

/** A finished SQL execution with its scan/write metrics. */
final case class SqlRec(
    execId: Long, startNs: Long, execNs: Long, planNs: Long,
    sourceRows: Long, sourceBytes: Long, pages: Seq[String], filesWritten: Long, jdbcRows: Long)

/** Task metrics summed per job. */
final class TaskSums {
  var tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
}

object Spans {

  /** Length of the union of `ivs`, each clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover (overlapping children count once). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(s.startNs, s.endNs, ch))
    }.toMap
  }

  /** Module a Spark job belongs to, from its call site
    * (`"<method> at <File>.scala:<line>"`): the repo module whose
    * source file called the action. Modules without a per-layer job
    * metric fall under "other". */
  def moduleOf(callSite: String): String =
    """at ([A-Za-z0-9_$]+)\.scala:""".r.findFirstMatchIn(callSite).map(_.group(1)) match {
      case Some("CorpusPrepJob")                       => "prep"
      case Some("Dedup")                               => "ext.dedup"
      case Some("TextStats")                           => "ext.textstats"
      case Some("Assemble")                            => "ext.assemble"
      case Some("StagingWriter" | "JdbcStagingWriter") => "sink"
      case _                                           => "other"
    }

  /** True when the job was issued by `Dataset.localCheckpoint`. */
  def isCheckpoint(callSite: String): Boolean = callSite.startsWith("localCheckpoint at")
}

/** In-memory trace of one benchmark run: spans recorded around the
  * calls the benchmark makes into each layer, plus one record per Spark
  * job (SparkListener) and SQL execution (QueryExecutionListener).
  * Nothing is written until the run ends. Listeners are registered only
  * when `recording`; spans are opened only while `on`. */
final class Tracer(spark: SparkSession, sourceRoot: String, recording: Boolean) {
  import Tracer._

  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val sc = spark.sparkContext
  // epoch-ns = nanoTime + offset: spans use nanoTime, listener events
  // carry epoch milliseconds
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String, Long, Int)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val sqlSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var lastEventNs = System.nanoTime()

  /** Run `body` inside a span named `name`, parented to the span
    * current on this thread. Spark jobs submitted inside inherit the
    * span id through the `perfbench.span` local property (pool threads
    * created inside inherit it too). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parentProp = sc.getLocalProperty(SpanKey)
      val parent = Option(parentProp).map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parent, name, t0, nowNs))
        sc.setLocalProperty(SpanKey, parentProp)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      // jobs an adaptive plan submits from its own threads carry a JDK
      // call site; the SQL execution that owns them has the caller's
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val site = if (own.contains(".scala:")) own else Option(sqlSite.get(exec)).getOrElse(own)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, (e.time * 1000000L, span, site, exec, e.stageIds.size))
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, span, site, exec, nStages) =>
        jobs.add(JobRec(e.jobId, span, t0, e.time * 1000000L, site, exec, nStages))
      }
      lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId)
      if (job != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val s = taskSums.computeIfAbsent(job, _ => new TaskSums)
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
        }
      }
      lastEventNs = System.nanoTime()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, s.time * 1000000L)
        sqlSite.put(s.executionId, s.description)
        lastEventNs = System.nanoTime()
      case _ =>
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planNs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs * 1000000L).sum
    var rows, bytes, files, jdbc = 0L
    val pages = Seq.newBuilder[String]
    allNodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(sourceRoot)) =>
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      case b: BatchScanExec if b.scan.description().startsWith("ODataScan") =>
        rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        b.inputRDD.partitions.foreach {
          case p: DataSourceRDDPartition => p.inputPartitions.foreach {
            case o: ODataInputPartition =>
              val f = new java.io.File(new org.apache.hadoop.fs.Path(o.pageFile).toUri.getPath)
              pages += s"${f.getParentFile.getName}/${f.getName}"
              bytes += f.length()
            case _ =>
          }
          case _ =>
        }
      case j: RowDataSourceScanExec =>
        jdbc += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case w: DataWritingCommandExec =>
        files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
    val start = Option(sqlStart.remove(qe.id)).map(_.longValue).getOrElse(nowNs - durationNs)
    sqls.add(SqlRec(qe.id, start, durationNs, planNs, rows, bytes, pages.result(), files, jdbc))
    lastEventNs = System.nanoTime()
  }

  if (recording) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  /** Write every recorded span (with its self time), job and SQL
    * execution as one JSON document. */
  def write(path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val self = Spans.selfNs(all)
    val sa = root.putArray("spans")
    all.foreach { s =>
      sa.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ns", s.startNs).put("dur_ns", s.durNs).put("self_ns", self(s.id))
    }
    val ja = root.putArray("jobs")
    jobs.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val o = ja.addObject().put("job", j.jobId).put("span", j.span).put("start_ns", j.startNs)
        .put("dur_ns", j.endNs - j.startNs).put("call_site", j.callSite)
        .put("module", Spans.moduleOf(j.callSite)).put("sql_execution", j.sqlExec).put("stages", j.stages)
      Option(taskSums.get(j.jobId)).foreach { t =>
        o.put("tasks", t.tasks).put("task_cpu_ns", t.cpuNs).put("gc_ms", t.gcMs)
          .put("shuffle_read_bytes", t.shuffleRead).put("shuffle_write_bytes", t.shuffleWrite)
          .put("spill_bytes", t.spill)
      }
    }
    val qa = root.putArray("sql_executions")
    sqls.asScala.toSeq.sortBy(_.execId).foreach { q =>
      val o = qa.addObject().put("id", q.execId).put("start_ns", q.startNs).put("exec_ns", q.execNs)
        .put("plan_ns", q.planNs).put("source_rows", q.sourceRows).put("source_bytes", q.sourceBytes)
        .put("files_written", q.filesWritten).put("jdbc_rows", q.jdbcRows)
      val pa = o.putArray("pages")
      q.pages.foreach(pa.add)
    }
    m.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }

  /** Block until the asynchronous listener buses have been quiet for
    * `quietMs` (bounded by `maxMs`), so every event of the traced ops
    * has been recorded. */
  def drain(quietMs: Long = 400, maxMs: Long = 10000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1000000L < quietMs &&
      (System.nanoTime() - t0) / 1000000L < maxMs) Thread.sleep(50)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec        => allNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(allNodes)
  }
}

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Percentiles the tail helper considers, highest first. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 80, 75, 50)

  /** The highest percentile of [[TailLadder]] that has at least
    * `minBeyond` samples strictly above its rank, with its value; None
    * when not even the median qualifies. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Int, Double)] =
    TailLadder.find(p => xs.size - math.ceil(p / 100.0 * xs.size).toInt >= minBeyond)
      .map(p => p -> quantile(xs, p / 100.0))
}
