package perfbench

import graft.catalog.SchemaRegistry
import graft.model.{EntityConfig, ExtractionConfig, RunReport}
import graft.run.RefreshJob
import graft.sinks.{Ddl, StagingWriter}
import graft.sources.ParquetSimSource
import graft.types.TypeMapper

/** `erp_bulk_load`: one op is one `/initialDataLoad` — register the
  * 3,755-entity `$metadata` document, deploy the typed DDL, then a full
  * refresh of ORDERS (+ flat ORDERITEMS), CUSTOMER and REGION from
  * parquet into the parquet staging sink, every table overwritten. The
  * composition is `Platform.initialDataLoad`'s, spelled out so each
  * step can carry a span. */
final class BulkLoad extends Workload {

  private val expected = Map(
    "stg_orders" -> Gen.Orders.toLong,
    "stg_orderitems" -> Gen.Orders.toLong * Gen.ItemsPerOrder,
    "stg_customer" -> Gen.Customers.toLong,
    "stg_region" -> Gen.Regions.toLong)

  def run(c: Ctx): Result = {
    val t = c.tracer
    val src = c.work.resolve(Main.SourceDir)
    val tg = System.nanoTime()
    Gen.erpTables(c.spark, c.seed, src.toString, c.nproc)
    val xml = Gen.metadataXml(c.seed, Gen.ErpEntities)
    System.err.println(f"erp_bulk_load: inputs generated in ${(System.nanoTime() - tg) / 1e9}%.2f s")

    val t0 = System.nanoTime()
    val wh = c.work.resolve("staging")
    val registry = new SchemaRegistry()
    val ddl = new Ddl(c.spark, registry)
    val source = new BenchSource(new ParquetSimSource(c.spark, src.toString), t)
    val writer = new BenchWriter(new StagingWriter(c.spark, wh.toString), t)
    val job = new RefreshJob(c.spark, source, writer, parallelism = c.nproc, registry = Some(registry))
    val config = ExtractionConfig("bench", "bench", s"bulk${c.seed.abs}", entities = Seq(
      EntityConfig("ORDERS", filterFlag = true, filterField = "O_ORDERDATE",
        expand = Seq("ORDERITEMS"), dataStartDate = "1990-01-01 00:00:00"),
      EntityConfig("CUSTOMER"),
      EntityConfig("REGION")))

    def initialLoad(): (Ddl.DeployReport, RunReport) = {
      t.span("catalog.register") {
        registry.putAll(SchemaRegistry.parseMetadataXml(xml, "priority").map(TypeMapper.default.resolve))
      }
      val deploy = t.span("ddl.deploy")(ddl.deployConfig(ddl.createDatabase(config.accountId), config))
      val (report, _) = t.span("run.refresh")(job.run(config, incremental = false))
      (deploy, report)
    }

    def check(deploy: Ddl.DeployReport, report: RunReport): Boolean = {
      val got = report.tables.map(r => r.tableName -> r.recordsWritten).toMap
      val ok = deploy.failed.isEmpty && report.errors.isEmpty && got == expected &&
        registry.list.size == Gen.MetadataEntities
      if (!ok) System.err.println(s"erp_bulk_load check failed: ${deploy.failed} ${report.errors} $got")
      ok
    }

    val loop = new Loop(c)
    loop.warm(2) { _ => val (d, r) = initialLoad(); check(d, r) }
    val setupS = c.sessionS + (System.nanoTime() - t0) / 1e9

    loop.timedPhase(nominalOpS = 2.5) { _ =>
      val (d, r) = loop.timed("op")(initialLoad())
      loop.rows += r.tables.map(_.recordsWritten).sum
      check(d, r)
    }
    val stored = expected.keys.toSeq.map(tb => Main.treeBytes(wh.resolve(tb))).sum.toDouble /
      expected.values.sum
    c.tracer.drain()
    val layers = Layers.perRoot(t, "op") ++ Map(
      "catalog.entities" -> registry.list.size.toDouble,
      "sink.rows_written" -> expected.values.sum.toDouble,
      "trace.overhead_frac" -> Layers.overhead(loop))
    Result(loop.failed == 0, loop.attempted, loop.failed, Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(loop.walls.toSeq),
      "rows_per_s" -> loop.rows / loop.opWallTotal,
      "stored_bytes_per_row" -> stored,
      "peak_rss_mb" -> Main.peakRssMb()), layers)
  }
}
