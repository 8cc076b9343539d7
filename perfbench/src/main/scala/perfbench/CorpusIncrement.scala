package perfbench

import graft.run.CorpusPrepJob
import graft.run.CorpusPrepJob.{PrepConfig, PrepReport}
import graft.sinks.StagingWriter

/** `corpus_increment`: one op is one `CorpusPrepJob.increment` with a
  * `batchId` (slice appends plus commit marker) against a standing
  * corpus built by `CorpusPrepJob.run` (exports off) during set-up.
  * Each batch carries new documents plus planted exact copies, near
  * copies and contaminated documents (see [[Gen.corpus]]), so every
  * funnel stage has work and the expected counts are known. */
final class CorpusIncrement extends Workload {

  val WarmBatches = 1
  val NominalOpS = 6.0

  def run(c: Ctx): Result = {
    val tg = System.nanoTime()
    val loop = new Loop(c)
    val plan = Gen.corpus(c.seed, WarmBatches + loop.opsFor(NominalOpS))
    val standing = Gen.docFrame(c.spark, plan.standing)
    val evalDocs = {
      import c.spark.implicits._
      plan.evalTexts.toDF("text")
    }
    System.err.println(f"corpus_increment: inputs generated in ${(System.nanoTime() - tg) / 1e9}%.2f s")

    val t0 = System.nanoTime()
    val wh = c.work.resolve("corpus")
    val writer = new StagingWriter(c.spark, wh.toString)
    val cfg = PrepConfig(exports = false)
    val initial = CorpusPrepJob.run(standing, evalDocs, writer, cfg)
    System.err.println(f"corpus_increment: initial prep ${(System.nanoTime() - t0) / 1e9}%.2f s")
    if (initial.stageCounts.get("5_clean").contains(plan.standing.size.toLong)) ()
    else throw new IllegalStateException(s"initial prep funnel ${initial.stageCounts}")
    var corpusRows = plan.standing.size.toLong

    def check(b: Gen.Batch, r: PrepReport): Boolean = {
      val splits = r.stageCounts.collect { case (k, v) if k.startsWith("6_split_") => v }.sum
      val ok = b.expected.forall { case (k, v) => r.stageCounts.get(k).contains(v) } &&
        splits == b.expected("5_clean") && writer.batchCommitted(CorpusPrepJob.CorpusTable, b.id)
      if (!ok) System.err.println(s"corpus_increment batch ${b.id}: funnel ${r.stageCounts} want ${b.expected}")
      ok
    }
    def increment(b: Gen.Batch, timed: Boolean): Boolean = {
      val docs = Gen.docFrame(c.spark, b.docs)
      def body() = c.tracer.span("prep.increment")(
        CorpusPrepJob.increment(docs, evalDocs, writer, cfg, batchId = Some(b.id)))
      val r = if (timed) loop.timed("op")(body()) else body()
      corpusRows += r.stageCounts.getOrElse("5_clean", 0L)
      if (timed) loop.rows += r.stageCounts.getOrElse("1_raw", 0L)
      check(b, r)
    }
    loop.warm(WarmBatches)(i => increment(plan.batches(i), timed = false))
    val setupS = c.sessionS + (System.nanoTime() - t0) / 1e9

    def sinkBytes(): Long = writer.tables.filter(_.startsWith("corpus_"))
      .map(tb => Main.treeBytes(wh.resolve(tb))).sum
    val bytes0 = sinkBytes()
    val rows0 = corpusRows
    loop.timedPhase(NominalOpS)(i => increment(plan.batches(WarmBatches + i), timed = true))
    val stored = (sinkBytes() - bytes0).toDouble / math.max(1L, corpusRows - rows0)

    val committedOk = (1 to WarmBatches + loop.attempted).forall(b =>
      writer.batchCommitted(CorpusPrepJob.CorpusTable, b.toLong))
    val rowsOk = writer.read(CorpusPrepJob.CorpusTable).count() == corpusRows
    val endOk = committedOk && rowsOk
    if (!endOk) System.err.println(s"corpus_increment: committed=$committedOk corpus rows match=$rowsOk")
    val indexFiles = writer.tables.filter(_.startsWith(CorpusPrepJob.IndexTable)).map { tb =>
      val s = java.nio.file.Files.walk(wh.resolve(tb))
      try s.filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }.sum

    c.tracer.drain()
    val layers = Layers.perRoot(c.tracer, "op") ++ Map(
      "sink.rows_written" -> (corpusRows - rows0).toDouble / loop.attempted,
      "sink.index_files" -> indexFiles.toDouble,
      "trace.overhead_frac" -> Layers.overhead(loop))
    Result(loop.failed == 0 && endOk, loop.attempted, loop.failed + (if (endOk) 0 else 1), Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(loop.walls.toSeq),
      "rows_per_s" -> loop.rows / loop.opWallTotal,
      "stored_bytes_per_row" -> stored,
      "peak_rss_mb" -> Main.peakRssMb()), layers)
  }
}
