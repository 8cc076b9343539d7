package perfbench

import java.sql.Timestamp

import graft.catalog.SchemaRegistry
import graft.config.ConfigStore
import graft.model.{EntityConfig, ExtractionConfig, RunReport}
import graft.run.RefreshJob
import graft.sinks.JdbcStagingWriter
import graft.sources.odata.ODataEntitySource
import graft.types.TypeMapper

/** `erp_refresh`: one op is one incremental `RefreshJob.run` plus
  * `ConfigStore.saveWatermarks` — what `Platform.refreshData` composes.
  * ORDERS (nested ORDERITEMS_SUBFORM) is read through the `graft-odata`
  * connector from a static page directory; a simulated clock reveals
  * the next slice each cycle. CTYPE (5 rows, unfiltered) is replaced
  * every cycle. The sink is `JdbcStagingWriter` into in-memory Derby.
  * Every 10th cycle also promotes stg→final, timed on its own. */
final class Refresh extends Workload {

  val WarmCycles = 15
  val NominalCycleS = 0.4
  val PromoteEvery = 10

  def run(c: Ctx): Result = {
    val t = c.tracer
    val tg = System.nanoTime()
    val loop = new Loop(c)
    val server = Gen.odataServer(c.seed, c.work.resolve("odata"), WarmCycles + loop.opsFor(NominalCycleS))
    val xml = Gen.metadataXml(c.seed, Gen.RefreshEntities, total = Gen.RefreshEntities.size)
    System.err.println(f"erp_refresh: inputs generated in ${(System.nanoTime() - tg) / 1e9}%.2f s")

    val t0 = System.nanoTime()
    System.setProperty("derby.stream.error.file", c.work.resolve("derby.log").toString)
    val url = s"jdbc:derby:memory:perfbench${c.seed.abs};create=true"
    val registry = new SchemaRegistry()
    registry.putAll(SchemaRegistry.parseMetadataXml(xml, "priority").map(TypeMapper.default.resolve))
    val source = new BenchSource(new ODataEntitySource(c.spark, server.root), t, "ORDERS", "CURDATE")
    val jdbc = new JdbcStagingWriter(c.spark, url, maxConnections = c.nproc, registry = Some(registry))
    val writer = new BenchWriter(jdbc, t)
    val job = new RefreshJob(c.spark, source, writer, parallelism = c.nproc, registry = Some(registry))
    val store = new ConfigStore(c.work.resolve("config.json").toString)
    var config = store.insert(ExtractionConfig("bench", "bench", "refresh", entities = Seq(
      EntityConfig("ORDERS", filterFlag = true, filterField = "CURDATE",
        expand = Seq("ORDERITEMS"), dataStartDate = "2023-01-01 00:00:00"),
      EntityConfig("CTYPE"))))
    val conn = java.sql.DriverManager.getConnection(url)

    def reveal(k: Int): Unit =
      source.clock = Some(Timestamp.from(java.time.Instant.ofEpochSecond(server.clockSec(k))))

    def check(k: Int, report: RunReport, updated: ExtractionConfig): Boolean = {
      val got = report.tables.map(r => r.tableName -> r.recordsWritten).toMap
      val want = Map("stg_orders" -> server.sliceOrders(k).toLong,
        "stg_orderitems" -> server.sliceItems(k).toLong, "stg_ctype" -> Gen.CtypeRows.toLong)
      val wm = updated.entities.find(_.entityId == "ORDERS").flatMap(_.lastRun)
      val wantWm = RefreshJob.formatTs(
        Timestamp.from(java.time.Instant.ofEpochSecond(server.maxTsSec(k))), java.time.ZoneOffset.UTC)
      val ok = report.errors.isEmpty && got == want && wm.contains(wantWm)
      if (!ok) System.err.println(s"erp_refresh cycle $k check failed: ${report.errors} $got != $want, $wm != $wantWm")
      ok
    }

    def scalar(sql: String): Long = {
      val rs = conn.createStatement().executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }

    /** Final ORDERS after a promote: one row per PK, every revealed order. */
    def checkFinal(k: Int): Boolean = {
      val revealed = server.sliceOrders.take(k + 1).map(_.toLong).sum
      val n = scalar("SELECT COUNT(*) FROM ORDERS")
      val pks = scalar("SELECT COUNT(DISTINCT \"ordname\") FROM ORDERS")
      val ok = n == revealed && pks == revealed
      if (!ok) System.err.println(s"erp_refresh promote after cycle $k: $n rows, $pks keys, want $revealed")
      ok
    }

    def promote(): Unit = {
      writer.promote("ORDERS", Seq("ordname"))
      writer.promote("ORDERITEMS", Seq("ordname", "kline"))
    }

    val stgTables = Seq("STG_ORDERS", "STG_ORDERITEMS")
    /** Bytes of the pages the staging tables occupy (allocated minus free). */
    def stgBytes(): Long = stgTables.map(tb => scalar(
      "SELECT SUM((NUMALLOCATEDPAGES - NUMFREEPAGES) * PAGESIZE) " +
        s"FROM TABLE(SYSCS_DIAG.SPACE_TABLE('APP', '$tb')) T")).sum

    // initial load of the history slice, then warm-up cycles
    reveal(0)
    val ti = System.nanoTime()
    val (r0, u0) = job.run(config, incremental = false)
    System.err.println(f"erp_refresh: initial load ${(System.nanoTime() - ti) / 1e9}%.2f s")
    store.saveWatermarks(u0)
    config = u0
    if (!check(0, r0, u0)) throw new IllegalStateException("initial load failed its output check")
    def cycle(k: Int, timed: Boolean): Boolean = {
      reveal(k)
      def body() = {
        val (report, updated) = t.span("run.refresh")(job.run(config, incremental = true))
        t.span("config.save")(store.saveWatermarks(updated))
        (report, updated)
      }
      val (report, updated) = if (timed) loop.timed("op")(body()) else body()
      config = updated
      var ok = check(k, report, updated)
      if (timed) loop.rows += report.tables.map(_.recordsWritten).sum
      if (k % PromoteEvery == 0) {
        if (timed) loop.timed("promote")(promote()) else promote()
        ok = checkFinal(k) && ok
      }
      ok
    }
    loop.warm(WarmCycles)(i => cycle(i + 1, timed = false))
    val setupS = c.sessionS + (System.nanoTime() - t0) / 1e9

    val tracedCycles = Seq.newBuilder[Int]
    loop.timedPhase(NominalCycleS) { i =>
      val k = WarmCycles + 1 + i
      if (c.trace && i % 2 == 1) tracedCycles += k
      cycle(k, timed = true)
    }
    val revealed = server.sliceOrders.take(WarmCycles + 1 + loop.attempted).map(_.toLong).sum
    val stgOk = scalar("SELECT COUNT(*) FROM STG_ORDERS") == revealed
    if (!stgOk) System.err.println("erp_refresh: stg_orders does not hold exactly the revealed slices")
    val stored = stgBytes().toDouble / stgTables.map(tb => scalar(s"SELECT COUNT(*) FROM $tb")).sum
    conn.close()

    t.drain()
    val ops = Layers.perRoot(t, "op")
    val pagesRead = Layers.roots(t, "op").zip(tracedCycles.result()).map { case (r, k) =>
      val pages = Layers.sqlsIn(t, r).flatMap(_.pages)
      (pages.count(server.hitPages(k)), pages.size)
    }
    val promotes = Layers.perRoot(t, "promote")
    val layers = ops ++ Map(
      "sink.promote_s" -> promotes.getOrElse("sink.promote_s", 0.0),
      "sink.promote_rows_read" -> promotes.getOrElse("sink.promote_rows_read", 0.0),
      "sink.promote_p50_s" -> (if (loop.sideWalls.isEmpty) 0.0 else Stats.median(loop.sideWalls.toSeq)),
      "sink.rows_written" -> loop.rows.toDouble / loop.attempted,
      "source.page_hit_ratio" -> pagesRead.map(_._1).sum.toDouble / math.max(1, pagesRead.map(_._2).sum),
      "run.op_tail_s" -> Stats.tail(loop.walls.toSeq).map(_._2).getOrElse(0.0),
      "trace.overhead_frac" -> Layers.overhead(loop))
    Result(loop.failed == 0 && stgOk, loop.attempted, loop.failed + (if (stgOk) 0 else 1), Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(loop.walls.toSeq),
      "rows_per_s" -> loop.rows / loop.opWallTotal,
      "stored_bytes_per_row" -> stored,
      "peak_rss_mb" -> Main.peakRssMb()), layers)
  }
}
