package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A benchmark workload: builds its state through the program's API,
  * warms up, then runs a fixed number of timed ops sized to the run's
  * seconds. */
abstract class Workload {
  def run(c: Ctx): Result
}

/** The closed loop of one run: timing, failure accounting and, in a
  * traced run, which ops carry spans. In a traced run ops alternate
  * untraced/traced, so tracing overhead is the ratio of the two
  * medians on the same stretch of the run. */
final class Loop(c: Ctx) {
  val walls = ArrayBuffer.empty[Double]       // untraced ops
  val tracedWalls = ArrayBuffer.empty[Double]
  val sideWalls = ArrayBuffer.empty[Double]   // untraced side steps (promote)
  var attempted = 0
  var failed = 0
  var rows = 0L
  private val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Time `body` as one measured step named `name` ("op", or a side
    * step such as "promote"). In a traced run every second call of each
    * name is traced. */
  def timed[T](name: String)(body: => T): T = {
    val traced = c.trace && calls(name) % 2 == 1
    calls(name) += 1
    c.tracer.on = traced
    val t0 = System.nanoTime()
    try c.tracer.span(name)(body)
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      c.tracer.on = false
      name match {
        case "op" => if (traced) tracedWalls += s else walls += s
        case _    => if (!traced) sideWalls += s
      }
    }
  }

  /** Untimed warm-up ops: run through the same code, charged to set-up. */
  def warm(n: Int)(op: Int => Boolean): Unit =
    (0 until n).foreach { i =>
      val t0 = System.nanoTime()
      if (!op(i)) throw new IllegalStateException(s"warm-up op $i failed its output check")
      System.err.println(f"warm-up op $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  /** Timed phase: `opsFor(nominalOpS)` ops, the same sequence in every
    * run with the same `--seconds`. An op that throws or fails its
    * output check counts as failed. A run slower than 4x the nominal
    * pace stops early, so it still ends in time. */
  def timedPhase(nominalOpS: Double)(op: Int => Boolean): Unit = {
    val n = opsFor(nominalOpS)
    val deadline = System.nanoTime() + 4L * c.seconds * 1000000000L
    var i = 0
    while (i < n && System.nanoTime() < deadline) {
      attempted += 1
      val ok = try op(i) catch {
        case NonFatal(e) =>
          System.err.println(s"op $i failed: $e")
          false
      }
      if (!ok) failed += 1
      i += 1
    }
    if (walls.isEmpty) throw new IllegalStateException("no untraced op completed in the timed phase")
    System.err.println(walls.map(w => f"$w%.3f").mkString("op walls (s): ", " ", ""))
  }

  /** Ops in the timed phase: enough to fill `--seconds` at the
    * workload's nominal op time on a 4-core box (at least 2). */
  def opsFor(nominalOpS: Double): Int = math.max(2, math.ceil(c.seconds / nominalOpS).toInt)

  def opWallTotal: Double = walls.sum + tracedWalls.sum
}

/** Per-layer numbers from a traced run: each traced root span (an op or
  * a promote) with the wrapped calls, Spark jobs and SQL executions
  * under it; values are means per root span. */
object Layers {

  /** Traced root spans named `rootName`, in start order. */
  def roots(t: Tracer, rootName: String): Seq[Span] =
    t.spans.asScala.toSeq.filter(s => s.parent == 0 && s.name == rootName).sortBy(_.startNs)

  /** SQL executions that started inside `root`. */
  def sqlsIn(t: Tracer, root: Span): Seq[SqlRec] =
    t.sqls.asScala.toSeq.filter(q => q.startNs >= root.startNs && q.startNs <= root.endNs)

  def perRoot(t: Tracer, rootName: String): Map[String, Double] = {
    val spans = t.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val rootMemo = scala.collection.mutable.Map.empty[Long, Long]
    def rootOf(id: Long): Long = rootMemo.getOrElseUpdate(id,
      byId.get(id) match {
        case Some(s) if s.parent != 0 => rootOf(s.parent)
        case _ => id
      })
    val roots = Layers.roots(t, rootName)
    if (roots.isEmpty) return Map.empty
    val rootIds = roots.map(_.id).toSet
    val spansBy = spans.filter(s => s.parent != 0).groupBy(s => rootOf(s.id))
    val jobsBy = t.jobs.asScala.toSeq.filter(_.span != 0).groupBy(j => rootOf(j.span))
      .filter { case (r, _) => rootIds(r) }
    val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach { r =>
      val sub = spansBy.getOrElse(r.id, Nil)
      def spanS(n: String): Double = sub.filter(_.name == n).map(_.durNs).sum / 1e9
      Seq("catalog.register" -> "catalog.register_s", "ddl.deploy" -> "ddl.deploy_s",
        "source.fetch" -> "source.plan_s", "sink.write" -> "sink.write_s",
        "sink.promote" -> "sink.promote_s", "run.refresh" -> "run.refresh_s",
        "config.save" -> "config.save_s").foreach { case (n, m) => sums(m) += spanS(n) }
      val js = jobsBy.getOrElse(r.id, Nil)
      val ivs = js.map(j => (j.startNs, j.endNs))
      sums("run.driver_s") += (r.durNs - Spans.covered(r.startNs, r.endNs, ivs)) / 1e9
      sums("spark.jobs") += js.size
      sums("spark.stages") += js.map(_.stages).sum
      js.foreach { j =>
        val wall = (j.endNs - j.startNs) / 1e9
        Spans.moduleOf(j.callSite) match {
          case "prep"          => sums("prep.job_s") += wall
          case "ext.dedup"     => sums("ext.dedup.job_s") += wall
          case "ext.textstats" => sums("ext.textstats.job_s") += wall
          case "ext.assemble"  => sums("ext.assemble.job_s") += wall
          case "sink"          => sums("sink.slice_s") += wall
          case _ =>
        }
        if (Spans.isCheckpoint(j.callSite)) sums("prep.checkpoint_jobs") += 1
        Option(t.taskSums.get(j.jobId)).foreach { s =>
          sums("spark.tasks") += s.tasks
          sums("spark.task_cpu_s") += s.cpuNs / 1e9
          sums("spark.gc_s") += s.gcMs / 1e3
          sums("spark.shuffle_read_bytes") += s.shuffleRead
          sums("spark.shuffle_write_bytes") += s.shuffleWrite
          sums("spark.spill_bytes") += s.spill
        }
      }
      sqlsIn(t, r).foreach { q =>
        sums("spark.sql_executions") += 1
        sums("spark.exec_s") += q.execNs / 1e9
        sums("spark.plan_s") += q.planNs / 1e9
        sums("source.rows_read") += q.sourceRows
        sums("source.bytes_read") += q.sourceBytes
        sums("source.pages_read") += q.pages.size
        sums("sink.files_written") += q.filesWritten
        sums("sink.promote_rows_read") += q.jdbcRows
      }
    }
    sums.map { case (k, v) => k -> v / roots.size }.toMap
  }

  /** Tracing overhead: traced op median over untraced op median, minus 1. */
  def overhead(loop: Loop): Double =
    if (loop.tracedWalls.isEmpty) 0.0
    else Stats.median(loop.tracedWalls.toSeq) / Stats.median(loop.walls.toSeq) - 1.0
}
