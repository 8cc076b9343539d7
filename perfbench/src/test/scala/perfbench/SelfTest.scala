package perfbench

import java.nio.file.Files

/** Tests of the benchmark itself (no Spark session needed):
  *
  *   - generators are deterministic per seed, and differ across seeds;
  *   - the clock slices partition the rendered OData source exactly;
  *   - the tail helper picks the highest percentile with >= 10 samples
  *     beyond it;
  *   - span self time subtracts the union of child intervals;
  *   - job call sites map to module names;
  *   - the metrics the harness prints are the ones `BENCHMARK.json`
  *     declares, with the same units.
  *
  * Run: `python3 perfbench/run.py --selftest` from the repository root.
  * Exits non-zero on the first failed check. */
object SelfTest {

  private var checks = 0

  private def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  private def tree(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def generators(): Unit = {
    check(Gen.metadataXml(7, Gen.ErpEntities) == Gen.metadataXml(7, Gen.ErpEntities),
      "metadata XML is deterministic")
    check(Gen.metadataXml(7, Gen.ErpEntities) != Gen.metadataXml(8, Gen.ErpEntities),
      "metadata XML depends on the seed")
    val metas = graft.catalog.SchemaRegistry.parseMetadataXml(Gen.metadataXml(7, Gen.ErpEntities), "priority")
    check(metas.size == Gen.MetadataEntities, s"metadata has ${metas.size} entities")
    check(metas.map(_.id).distinct.size == metas.size, "entity names are unique")

    check(Gen.corpus(7, 3) == Gen.corpus(7, 3), "corpus batches are deterministic")
    check(Gen.corpus(7, 3) != Gen.corpus(8, 3), "corpus batches depend on the seed")
    val c = Gen.corpus(7, 3)
    val ids = (c.standing ++ c.batches.flatMap(_.docs)).map(_.id)
    check(ids.distinct.size == ids.size, "document ids are unique")
    c.batches.foreach { b =>
      check(b.expected("1_raw") == b.docs.size, s"batch ${b.id} raw count")
      check(b.expected("5_clean") == Gen.BatchNew, s"batch ${b.id} clean count")
    }
    val texts = c.standing.map(_.text)
    check(texts.forall(t => t.split(" ").length >= 50), "every document passes the word-count gate")

    val d1 = Files.createTempDirectory("pb_odata")
    val d2 = Files.createTempDirectory("pb_odata")
    try {
      val s1 = Gen.odataServer(7, d1, 20)
      val s2 = Gen.odataServer(7, d2, 20)
      check(tree(d1) == tree(d2), "OData pages are deterministic")
      check(s1.sliceOrders.toSeq == s2.sliceOrders.toSeq && s1.clockSec.toSeq == s2.clockSec.toSeq,
        "clock slices are deterministic")
    } finally { Main.deleteTree(d1); Main.deleteTree(d2) }
  }

  /** Every rendered order falls in exactly one clock slice, and each
    * slice's orders and items are what the generator reports. */
  def clockSlices(): Unit = {
    val dir = Files.createTempDirectory("pb_odata")
    try {
      val s = Gen.odataServer(11, dir, 30)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val pages = Files.list(dir.resolve("ORDERS")).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".json")).sortBy(_.toString)
      val rows = pages.flatMap { p =>
        val it = m.readTree(p.toFile).get("value").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      }
      def sec(n: com.fasterxml.jackson.databind.JsonNode) =
        java.time.LocalDateTime.parse(n.get("CURDATE").asText).toEpochSecond(java.time.ZoneOffset.UTC)
      val bounds = Long.MinValue +: s.clockSec.toSeq
      val perSlice = (1 until bounds.size).map { k =>
        rows.filter(r => sec(r) > bounds(k - 1) && sec(r) <= bounds(k))
      }
      check(perSlice.map(_.size).sum == rows.size, "slices cover every order exactly once")
      check(perSlice.map(_.size) == s.sliceOrders.toSeq, "slice order counts match")
      check(perSlice.map(_.map(_.get("ORDERITEMS_SUBFORM").size).sum) == s.sliceItems.toSeq,
        "slice item counts match")
      check(perSlice.map(_.map(sec).max) == s.maxTsSec.toSeq, "slice watermarks match")
      check(s.sliceOrders.tail.forall(n => n >= 80 && n <= 108), "cycle slices are 80-108 orders")
      val pageOf = pages.flatMap { p =>
        val it = m.readTree(p.toFile).get("value").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(r => r.next().get("ORDNAME").asText -> s"ORDERS/${p.getFileName}")
      }.toMap
      perSlice.zipWithIndex.foreach { case (rs, k) =>
        check(rs.map(r => pageOf(r.get("ORDNAME").asText)).toSet + "CTYPE/page_00000.json" == s.hitPages(k),
          s"slice $k hit pages")
      }
    } finally Main.deleteTree(dir)
  }

  def percentiles(): Unit = {
    val xs = (1 to 200).map(_.toDouble)
    check(Stats.tail(xs).map(_._1).contains(95), s"200 samples -> p95, got ${Stats.tail(xs)}")
    check(Stats.tail(xs.take(100)).map(_._1).contains(90), "100 samples -> p90")
    check(Stats.tail(xs.take(99)).map(_._1).contains(80), "99 samples -> p80")
    check(Stats.tail(xs.take(20)).map(_._1).contains(50), "20 samples -> p50")
    check(Stats.tail(xs.take(19)).isEmpty, "19 samples -> no tail")
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of odd count")
    check(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median of even count")
  }

  def selfTime(): Unit = {
    val spans = Seq(
      Span(1, 0, "op", 0, 100),
      Span(2, 1, "a", 10, 40),
      Span(3, 1, "b", 30, 60),   // overlaps a: union of children is [10, 60)
      Span(4, 2, "a.x", 15, 20),
      Span(5, 1, "c", 90, 130))  // runs past its parent: clipped to [90, 100)
    val self = Spans.selfNs(spans)
    check(self(1) == 100 - 50 - 10, s"op self time ${self(1)}")
    check(self(2) == 30 - 5, s"a self time ${self(2)}")
    check(self(3) == 30 && self(4) == 5 && self(5) == 40, "leaf self time is its duration")
    check(Spans.covered(0, 10, Nil) == 0, "no children cover nothing")
  }

  def callSites(): Unit = {
    val cases = Seq(
      "localCheckpoint at CorpusPrepJob.scala:417" -> "prep",
      "collect at Dedup.scala:1301" -> "ext.dedup",
      "count at TextStats.scala:640" -> "ext.textstats",
      "parquet at StagingWriter.scala:43" -> "sink",
      "jdbc at JdbcStagingWriter.scala:97" -> "sink",
      "save at Assemble.scala:88" -> "ext.assemble",
      "run at RefreshJob.scala:120" -> "other",
      "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768" -> "other",
      "" -> "other")
    cases.foreach { case (site, mod) =>
      check(Spans.moduleOf(site) == mod, s"'$site' -> ${Spans.moduleOf(site)}, want $mod")
    }
    check(Spans.isCheckpoint("localCheckpoint at CorpusPrepJob.scala:417"), "checkpoint call site")
    check(!Spans.isCheckpoint("count at CorpusPrepJob.scala:417"), "non-checkpoint call site")
  }

  def declarations(root: String): Unit = {
    val decl = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(root, "BENCHMARK.json"))
    def named(key: String): Seq[(String, String)] = {
      val it = decl.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText -> Option(m.get("unit")).map(_.asText).getOrElse("")).toSeq
    }
    check(named("end_to_end") == Main.EndToEnd, s"end-to-end metrics ${named("end_to_end")}")
    check(named("per_layer") == Main.LayerMetrics, s"per-layer metrics ${named("per_layer")}")
    check(named("workloads").map(_._1) == Main.Workloads.map(_._1), s"workloads ${named("workloads")}")
  }

  def main(args: Array[String]): Unit = {
    declarations(args.headOption.getOrElse("."))
    generators()
    clockSlices()
    percentiles()
    selfTime()
    callSites()
    println(s"selftest: $checks checks passed")
  }
}
