package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints the result object as the last line of stdout. A traced run
  * also writes its spans, jobs and SQL executions next to `--work`.
  * Every workload is closed-loop with one client: the next op starts
  * when the previous one has returned. */
object Main {

  /** Directory under the work dir that holds a workload's parquet
    * source tables: scans under it count as source reads. */
  val SourceDir = "source"

  /** The workloads, by name, in `BENCHMARK.json` order. */
  val Workloads: Seq[(String, () => Workload)] = Seq(
    "erp_bulk_load" -> (() => new BulkLoad),
    "erp_refresh" -> (() => new Refresh),
    "corpus_increment" -> (() => new CorpusIncrement))

  /** End-to-end metrics and their units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "1/s",
    "stored_bytes_per_row" -> "bytes", "peak_rss_mb" -> "MB")

  /** Per-layer metrics and their units, in output order. A traced run
    * prints all of them; a layer a workload does not use reports 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "catalog.register_s" -> "s", "catalog.entities" -> "count", "ddl.deploy_s" -> "s",
    "source.plan_s" -> "s", "source.rows_read" -> "count", "source.bytes_read" -> "bytes",
    "source.pages_read" -> "count", "source.page_hit_ratio" -> "ratio",
    "sink.write_s" -> "s", "sink.rows_written" -> "count", "sink.files_written" -> "count",
    "sink.promote_s" -> "s", "sink.promote_rows_read" -> "count", "sink.promote_p50_s" -> "s",
    "sink.slice_s" -> "s", "sink.index_files" -> "count",
    "run.refresh_s" -> "s", "run.driver_s" -> "s", "run.op_tail_s" -> "s", "config.save_s" -> "s",
    "prep.job_s" -> "s", "prep.checkpoint_jobs" -> "count",
    "ext.dedup.job_s" -> "s", "ext.textstats.job_s" -> "s", "ext.assemble.job_s" -> "s",
    "spark.sql_executions" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.plan_s" -> "s", "spark.exec_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "trace.overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = req("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val secs = req("seconds").toInt
    require(secs >= 1, "--seconds must be >= 1")
    Args(req("workload"), req("seed").toLong, secs, trace, Paths.get(req("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.toMap.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))()
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result =
      try {
        val tracer = new Tracer(spark, a.work.resolve(SourceDir).toString, recording = a.trace)
        val r = workload.run(Ctx(spark, tracer, a.seed, a.seconds, a.trace, a.work, nproc, sessionS))
        if (a.trace) {
          val out = a.work.resolveSibling(s"trace-${a.workload}-seed${a.seed}.json")
          tracer.write(out)
          System.err.println(s"trace written to $out")
        }
        r
      } finally spark.stop()
    deleteTree(a.work)
    println(result.json(a.trace))
    System.exit(0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Everything a workload gets from the harness. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int, trace: Boolean,
    work: Path, nproc: Int, sessionS: Double)

/** What a run reports. */
final case class Result(
    correct: Boolean, attempted: Int, failed: Int,
    endToEnd: Map[String, Double], layers: Map[String, Double]) {

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  def json(trace: Boolean): String = {
    val ms =
      if (!trace) Main.EndToEnd.map { case (m, u) => (m, u, endToEnd(m)) }
      else Main.LayerMetrics.map { case (m, u) => (m, u, layers.getOrElse(m, 0.0)) }
    val body = ms.map { case (k, u, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
