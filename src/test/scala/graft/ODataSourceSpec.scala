package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The DSv2 OData connector: pushdown contract (filter/limit/column),
  * paged partition planning, schema inference, and row-side filter
  * correctness over canned `{"value": [...]}` pages. */
class ODataSourceSpec extends SparkSpec {

  private def writePages(dir: String, pages: Seq[String]): Unit =
    pages.zipWithIndex.foreach { case (body, i) =>
      Files.write(Paths.get(s"$dir/page-$i.json"), body.getBytes("UTF-8"))
    }

  private val schema = StructType(Seq(
    StructField("ordname", StringType),
    StructField("qty", LongType),
    StructField("curdate", TimestampType)))

  private def fixture: String = {
    val dir = tmpDir("odata")
    writePages(dir, Seq(
      """{"value": [
        |  {"ordname": "SO1", "qty": 5, "curdate": "2024-01-01T00:00:00"},
        |  {"ordname": "SO2", "qty": 7, "curdate": "2024-02-01T00:00:00"}]}""".stripMargin,
      """{"value": [
        |  {"ordname": "SO3", "qty": 2, "curdate": "2024-03-01T00:00:00"},
        |  {"ordname": "SO4", "qty": 9, "curdate": "2024-04-01T00:00:00"}]}""".stripMargin))
    dir
  }

  test("reads all pages as partitions; schema inference types columns") {
    val dir = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    assert(df.count() == 4)
    assert(df.rdd.getNumPartitions == 2) // one partition per page

    val inferred = spark.read.format("graft-odata").option("path", dir).load()
    assert(inferred.schema("qty").dataType == LongType)
    assert(inferred.schema("curdate").dataType == TimestampType)
    assert(inferred.schema("ordname").dataType == StringType)
    assert(inferred.count() == 4)
  }

  test("filter + limit + column pushdown land in the scan, results correct") {
    val dir = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()

    val q = df.filter(col("qty") >= 5).select("ordname", "qty")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("qty ge 5"), s"filter not compiled into scan:\n$plan")
    assert(plan.contains("$select=ordname,qty"), s"columns not pruned:\n$plan")
    assert(q.collect().map(_.getString(0)).toSet == Set("SO1", "SO2", "SO4"))

    val lim = df.limit(1)
    assert(lim.queryExecution.executedPlan.toString.contains("$top=1"))
    assert(lim.count() == 1)

    // timestamp predicate pushes and evaluates row-side
    val ts = df.filter(col("curdate") >= lit("2024-02-15 00:00:00").cast("timestamp"))
    assert(ts.queryExecution.executedPlan.toString.contains("curdate ge datetime"))
    assert(ts.collect().map(_.getString(0)).toSet == Set("SO3", "SO4"))
  }

  test("RefreshJob runs end-to-end over the DSv2 connector source") {
    import graft.model._
    val root = tmpDir("odata_root")
    Files.createDirectories(Paths.get(s"$root/ITEMS"))
    writePages(s"$root/ITEMS", Seq(
      """{"value": [
        |  {"itemid": 1, "moddate": "2024-01-01T00:00:00", "price": 10.5},
        |  {"itemid": 2, "moddate": "2024-03-01T00:00:00", "price": 20.0}]}""".stripMargin,
      """{"value": [
        |  {"itemid": 3, "moddate": "2024-05-01T00:00:00", "price": 30.0}]}""".stripMargin))

    val writer = new graft.sinks.StagingWriter(spark, tmpDir("odata_wh"))
    val job = new graft.run.RefreshJob(spark,
      new graft.sources.odata.ODataEntitySource(spark, root), writer)
    val cfg = ExtractionConfig("ds1", "n", "a1", systemTimezone = "UTC",
      entities = Seq(EntityConfig("ITEMS", filterFlag = true,
        filterField = "moddate", dataStartDate = "2024-02-01 00:00:00")))

    val (report, updated) = job.run(cfg, incremental = false)
    assert(report.errors.isEmpty)
    // dataStartDate filter pushed through the connector: row 1 excluded
    assert(report.tables.head.recordsWritten == 2)
    assert(writer.read("stg_items").count() == 2)
    // watermark observed from the filtered fetch
    assert(updated.entities.head.lastRun.contains("2024-05-01 00:00:00"))

    // incremental resume: strict > on the watermark, no new rows
    val (r2, _) = job.run(updated, incremental = true)
    assert(r2.tables.head.recordsWritten == 0)
  }

  test("RefreshJob runs end-to-end over a LINKED (nextLink) page server") {
    // the reference's actual transport is the continuation-token walk —
    // the full refresh lifecycle (filter pushdown, watermark, strict->
    // incremental resume) must compose with token paging unchanged,
    // and the unlinked decoy must stay invisible to the pipeline
    import graft.model._
    val root = tmpDir("odata_lroot")
    val items = s"$root/ITEMS"
    Files.createDirectories(Paths.get(items))
    Files.write(Paths.get(s"$items/_head.meta"), """{"head":"t9.json"}""".getBytes("UTF-8"))
    writeNamed(items, "t9.json",
      """{"value":[
        |  {"itemid": 1, "moddate": "2024-01-01T00:00:00", "price": 10.5},
        |  {"itemid": 2, "moddate": "2024-03-01T00:00:00", "price": 20.0}],
        |"@odata.nextLink":"t1.json"}""".stripMargin)
    writeNamed(items, "t1.json",
      """{"value":[{"itemid": 3, "moddate": "2024-05-01T00:00:00", "price": 30.0}]}""")
    writeNamed(items, "t5_decoy.json",
      """{"value":[{"itemid": 99, "moddate": "2024-06-01T00:00:00", "price": 99.0}]}""")

    val writer = new graft.sinks.StagingWriter(spark, tmpDir("odata_lwh"))
    val job = new graft.run.RefreshJob(spark,
      new graft.sources.odata.ODataEntitySource(spark, root), writer)
    val cfg = ExtractionConfig("ds1", "n", "a1", systemTimezone = "UTC",
      entities = Seq(EntityConfig("ITEMS", filterFlag = true,
        filterField = "moddate", dataStartDate = "2024-02-01 00:00:00")))
    val (report, updated) = job.run(cfg, incremental = false)
    assert(report.errors.isEmpty)
    // chain rows 2+3 pass the filter; decoy's 99 must NOT have landed
    assert(report.tables.head.recordsWritten == 2)
    assert(writer.read("stg_items").filter(col("itemid") === 99L).count() == 0)
    // watermark from the CHAIN's max, not the decoy's later date
    assert(updated.entities.head.lastRun.contains("2024-05-01 00:00:00"))
    val (r2, _) = job.run(updated, incremental = true)
    assert(r2.tables.head.recordsWritten == 0)
  }

  test("nested $expand subforms: inferred array<struct>, normalized parent/child") {
    val root = tmpDir("odata_nested")
    Files.createDirectories(Paths.get(s"$root/ORDERS"))
    writePages(s"$root/ORDERS", Seq(
      """{"value": [
        |  {"ORDNAME": "SO1", "QPRICE": 12.5,
        |   "ORDERITEMS_SUBFORM": [
        |     {"LINE": 1, "PARTNAME": "P-100"},
        |     {"LINE": 2, "PARTNAME": "P-200"}]},
        |  {"ORDNAME": "SO2", "QPRICE": 7.0, "ORDERITEMS_SUBFORM": []}]}""".stripMargin))

    val src = new graft.sources.odata.ODataEntitySource(spark, root)
    val raw = src.fetch(graft.sources.FetchRequest("ORDERS",
      expand = Seq("ORDERITEMS")))
    assert(raw.schema("ORDERITEMS_SUBFORM").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])

    val n = graft.xform.Normalizer.normalize("ORDERS", raw, Seq("ORDNAME"),
      "r", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(n.parent.count() == 2)
    assert(!n.parent.columns.exists(_.endsWith("_subform")))
    val child = n.children("orderitems")
    assert(child.count() == 2) // SO2's empty subform contributes nothing
    assert(child.select("ordname").distinct().collect().map(_.getString(0)).toSet == Set("SO1"))
    assert(child.columns.toSeq.take(3) == Seq("ordname", "line", "partname"))

    // no expand requested -> subform pruned from the request itself
    val flatFetch = src.fetch(graft.sources.FetchRequest("ORDERS"))
    assert(!flatFetch.columns.exists(_.endsWith("_SUBFORM")))
    val scan = flatFetch.queryExecution.executedPlan.toString
    assert(scan.contains("$select=ORDNAME,QPRICE"), s"subform not pruned:\n$scan")
  }

  test("one page listing per fetch: a page added after fetch is read by " +
    "the next fetch, not by that fetch's frames") {
    val root = tmpDir("odata_listing")
    Files.createDirectories(Paths.get(s"$root/ORDERS"))
    def order(o: Int): String =
      s"""{"ORDNAME": "SO$o", "ORDERITEMS_SUBFORM": [{"LINE": 1}, {"LINE": 2}]}"""
    writePages(s"$root/ORDERS", Seq(
      s"""{"value": [${order(1)}, ${order(2)}]}""",
      s"""{"value": [${order(3)}]}"""))
    val src = new graft.sources.odata.ODataEntitySource(spark, root)
    val req = graft.sources.FetchRequest("ORDERS", expand = Seq("ORDERITEMS"))
    def frames(df: org.apache.spark.sql.DataFrame) = {
      val n = graft.xform.Normalizer.normalize("ORDERS", df, Seq("ORDNAME"),
        "r", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      (n.parent.count(), n.children("orderitems").count())
    }
    val fetched = src.fetch(req)
    Files.write(Paths.get(s"$root/ORDERS/page-2.json"),
      s"""{"value": [${order(4)}]}""".getBytes("UTF-8"))
    // parent and child of the earlier fetch both plan from its listing
    assert(frames(fetched) == (3L, 6L))
    assert(frames(src.fetch(req)) == (4L, 8L))
  }

  test("string literals escape embedded quotes OData-style (doubled)") {
    import org.apache.spark.sql.sources.EqualTo
    // the documented HTTP swap point sends this string verbatim — an
    // unescaped ' would make the $filter malformed (or injectable)
    assert(graft.sources.odata.ODataFilters.compile(EqualTo("name", "O'Brien")) ==
      "name eq 'O''Brien'")
    assert(graft.sources.odata.ODataFilters.compile(EqualTo("name", "plain")) ==
      "name eq 'plain'")
  }

  test("timezone-suffixed timestamps parse with the offset APPLIED") {
    import graft.sources.odata.ODataFilters.toMicros
    val base = toMicros("2024-01-01T12:00:00")
    assert(toMicros("2024-01-01T12:00:00Z") == base)
    assert(toMicros("2024-01-01T14:00:00+02:00") == base)
    assert(toMicros("2024-01-01T07:00:00-05:00") == base)
    assert(toMicros("2024-01-01 12:00:00") == base)
  }

  test("filters with unevaluable literal types stay residual, not crash") {
    val dir = tmpDir("odata_bool")
    writePages(dir, Seq(
      """{"value": [
        |  {"name": "a", "flag": true}, {"name": "b", "flag": false}]}""".stripMargin))
    val df = spark.read.format("graft-odata").option("path", dir).load()
    // boolean EqualTo is not reader-evaluable: must NOT be accepted into
    // the scan (which would crash every task) — Spark evaluates it
    val q = df.filter(col("flag") === true)
    assert(!q.queryExecution.executedPlan.toString.contains("flag eq"))
    assert(q.collect().map(_.getAs[String]("name")).toSeq == Seq("a"))
  }

  test("unsupported predicates stay as Spark residuals and still apply") {
    val dir = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    val q = df.filter(col("ordname").rlike("4$")) // regex: not OData-pushable
    val plan = q.queryExecution.executedPlan.toString
    // the IsNotNull guard still pushes, but the regex itself must stay
    // a Spark-side Filter, never a compiled request fragment
    assert(plan.contains("RLIKE"), "regex residual missing from the plan")
    assert(!plan.contains("4$'"), "a regex predicate must not reach $filter")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("SO4"))
  }

  test("s9 gate: startswith/endswith/contains/in compile into $filter; " +
    "rows equal the parquet slice") {
    val q = graft.queries.Queries.s9ODataStrings(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    for (frag <- Seq("startswith(o_orderpriority,'1')",
        "endswith(o_orderpriority,'GENT')",
        "contains(o_orderpriority,'-URG')",
        "o_orderstatus in ('F','P')"))
      assert(plan.contains(frag),
        s"string predicate `$frag` not compiled into the scan request:\n$plan")
    // residual-free: no Filter node should survive above the scan for
    // the pushed predicates (IsNotNull guards are accepted too)
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0 &&
        col("o_orderpriority").startsWith("1") &&
        col("o_orderpriority").endsWith("GENT") &&
        col("o_orderpriority").contains("-URG") &&
        col("o_orderstatus").isin("F", "P"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    assert(q.count() > 0, "gate slice is empty — predicate plant regressed")
    assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty,
      "connector rows differ from the parquet slice")
  }

  test("IN with a NULL member is declined (three-valued IN stays with Spark)") {
    val dir = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    val q = df.filter(col("ordname").isin("SO4", null))
    assert(!q.queryExecution.executedPlan.toString.contains(" in ("),
      "a NULL-membered IN must not be pushed")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("SO4"))
  }

  test("s1_odata_scan gate: pushed filter + limit land in the scan; " +
    "rows equal the parquet slice") {
    val q = graft.queries.Queries.s1ODataScan(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("o_custkey ge 50"),
      s"gate filter not compiled into the scan request:\n$plan")
    assert(plan.contains("$top=2000000"),
      s"gate limit not pushed into the scan request:\n$plan")
    // the connector's rows must equal the direct parquet slice — the
    // same rows the DuckDB oracle computes at the driver's gate
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0 && col("o_custkey") >= 50)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    assert(q.count() > 0, "gate slice is empty — threshold regressed")
    assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty,
      "connector rows differ from the parquet slice")
  }

  test("s5 gate: ORDER BY + LIMIT push $orderby/$top into the scan; " +
    "rows equal the sorted parquet slice") {
    val q = graft.queries.Queries.s5ODataTopN(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("$orderby=o_custkey desc,o_orderkey asc"),
      s"TopN ordering not compiled into the scan request:\n$plan")
    assert(plan.contains("$top=20"),
      s"TopN limit not pushed into the scan request:\n$plan")
    // partial pushdown: Spark's own global TopN must still be there
    assert(plan.contains("TakeOrderedAndProject"),
      s"partial-pushdown contract broken — Spark's merge TopN missing:\n$plan")
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .orderBy(col("o_custkey").desc, col("o_orderkey"))
      .limit(20)
    assert(q.collect().toSeq == expect.collect().toSeq,
      "TopN rows differ from the sorted parquet slice")
  }

  test("TopN on a descending NULLS-placement ordering keeps every globally-top row") {
    val dir = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    // local per-page top-2 must be a superset-consistent cut: the
    // global top-2 by qty desc survives whatever page they sit on
    val q = df.orderBy(col("qty").desc, col("ordname")).limit(2)
    val got = q.collect().map(r => r.getAs[String]("ordname")).toSeq
    val all = df.collect()
      .map(r => (r.getAs[String]("ordname"), Option(r.getAs[Any]("qty"))
        .map(_.toString.toLong).getOrElse(Long.MinValue)))
      .sortBy { case (n, v) => (-v, n) }.map(_._1).take(2).toSeq
    assert(got == all, s"got $got want $all")
  }

  private def countsSidecar(dir: String, counts: (String, Long)*): Unit =
    Files.write(Paths.get(s"$dir/_counts.meta"),
      counts.map { case (f, n) => s""""$f": $n""" }
        .mkString("{", ", ", "}").getBytes("UTF-8"))

  test("offset pushdown: $skip lands in the scan, skipped pages pruned at plan time") {
    val dir = fixture
    countsSidecar(dir, "page-0.json" -> 2L, "page-1.json" -> 2L)
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    val q = df.offset(3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("$skip=3"), s"offset not pushed:\n$plan")
    // page-0 (2 rows) is fully skipped -> pruned; only page-1 plans
    assert(q.rdd.getNumPartitions == 1, s"skipped page not pruned")
    assert(q.collect().map(_.getAs[String]("ordname")).toSeq == Seq("SO4"))
    // offset spanning into a page mid-way: in-page remainder applied
    val q1 = df.offset(1)
    assert(q1.collect().map(_.getAs[String]("ordname")).toSeq ==
      Seq("SO2", "SO3", "SO4"))
    // offset beyond all rows: zero partitions, empty result
    assert(df.offset(9).collect().isEmpty)
  }

  test("offset + limit: Spark fuses to a pushed $top=limit+offset and its own CollectLimit") {
    val dir = fixture
    countsSidecar(dir, "page-0.json" -> 2L, "page-1.json" -> 2L)
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    // Limit-over-Offset plans reach the source as pushLimit(limit +
    // offset) FIRST (the per-page prefix is superset-consistent with
    // the global one), then pushOffset — which must DECLINE under a
    // pushed limit (the reader would skip before capping, the wrong
    // order); Spark's CollectLimit(3, 1) re-applies both exactly.
    val q = df.offset(1).limit(2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("$top=3"), s"fused limit+offset not pushed:\n$plan")
    assert(!plan.contains("$skip="),
      s"offset must decline under a pushed limit:\n$plan")
    assert(plan.contains("CollectLimit 3, 1"),
      s"Spark's own limit+offset must stay above:\n$plan")
    assert(q.collect().map(_.getAs[String]("ordname")).toSeq ==
      Seq("SO2", "SO3"))
  }

  test("offset declines without a counts sidecar or under a filter; results still exact") {
    val noSidecar = fixture
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", noSidecar).load()
    val q = df.offset(2)
    assert(!q.queryExecution.executedPlan.toString.contains("$skip="),
      "offset must not push without _counts.meta")
    assert(q.collect().map(_.getAs[String]("ordname")).toSet.size == 2)

    val withSidecar = fixture
    countsSidecar(withSidecar, "page-0.json" -> 2L, "page-1.json" -> 2L)
    val df2 = spark.read.format("graft-odata").schema(schema)
      .option("path", withSidecar).load()
    val qf = df2.filter(col("qty") >= 5).offset(1)
    assert(!qf.queryExecution.executedPlan.toString.contains("$skip="),
      "offset must not push over a pushed filter (per-page counts lie)")
    assert(qf.collect().length == 2) // 3 rows qty>=5 minus offset 1
  }

  test("s7 gate shape: pushed $skip over the rendered pages matches the ordered parquet slice") {
    import graft.sources.odata.ODataPages
    val pages = ODataPages.ordersPages(spark, sf)
    val df = spark.read.format("graft-odata").schema(ODataPages.ordersSchema)
      .option("path", pages).load()
    val q = df.offset(4)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("$skip=4"),
      s"gate offset not pushed into the scan request:\n$plan")
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .orderBy("o_orderkey").collect().drop(4).toSeq
    assert(q.collect().sortBy(_.getLong(0)).toSeq == expect,
      "offset slice differs from the ordered parquet slice")
  }

  test("nextLink walk: token chain served in order, decoy page invisible, cycles/dangles loud") {
    import graft.sources.odata.ODataTableProvider
    val dir = tmpDir("odata_chain")
    // three pages whose FILE NAMES reverse the chain order (a sorted
    // directory listing would serve z→m→a; the chain says a→m→z),
    // plus an unlinked decoy a listing would also serve
    Files.write(Paths.get(s"$dir/_head.meta"), """{"head":"z_first.json"}""".getBytes("UTF-8"))
    writeNamed(dir, "z_first.json",
      """{"value":[{"ordname":"SO1","qty":1,"curdate":"2024-01-01T00:00:00"}],
        |"@odata.nextLink":"m_mid.json"}""".stripMargin)
    writeNamed(dir, "m_mid.json",
      """{"value":[{"ordname":"SO2","qty":2,"curdate":"2024-02-01T00:00:00"}],
        |"@odata.nextLink":"a_last.json"}""".stripMargin)
    writeNamed(dir, "a_last.json",
      """{"value":[{"ordname":"SO3","qty":3,"curdate":"2024-03-01T00:00:00"}]}""")
    writeNamed(dir, "b_decoy.json",
      """{"value":[{"ordname":"POISON","qty":99,"curdate":"2024-04-01T00:00:00"}]}""")
    // planning follows the chain, not the listing
    assert(ODataTableProvider.pageFiles(dir).map(p => p.substring(p.lastIndexOf('/') + 1))
      == Seq("z_first.json", "m_mid.json", "a_last.json"))
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    assert(df.rdd.getNumPartitions == 3) // one partition per chain page
    val got = df.select("ordname").collect().map(_.getString(0)).toSet
    assert(got == Set("SO1", "SO2", "SO3"), s"decoy leaked or rows lost: $got")
    // schema inference anchors on the CHAIN head, not the listing head
    assert(spark.read.format("graft-odata").option("path", dir).load()
      .columns.toSeq == Seq("ordname", "qty", "curdate"))
    // pushed filter still applies row-side across the chain
    assert(spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load().filter(col("qty") >= 2).count() == 2)
    // OFFSET pushdown self-declines (no counts sidecar in token mode):
    // Spark keeps its own global Offset and the slice is still exact
    val off = df.offset(1)
    assert(!off.queryExecution.executedPlan.toString.contains("$skip"),
      "offset must not push against a token server")
    assert(off.count() == 2)
    // a dangling token fails loudly
    writeNamed(dir, "a_last.json",
      """{"value":[],"@odata.nextLink":"missing.json"}""")
    val dangle = intercept[IllegalStateException](ODataTableProvider.pageFiles(dir))
    assert(dangle.getMessage.contains("missing.json"))
    // a cycle fails loudly
    writeNamed(dir, "a_last.json",
      """{"value":[],"@odata.nextLink":"z_first.json"}""")
    val cycle = intercept[IllegalStateException](ODataTableProvider.pageFiles(dir))
    assert(cycle.getMessage.contains("cycle"))
  }

  test("s8 gate shape: linked pages equal the parquet slice; a listing would serve the decoy") {
    import graft.sources.odata.{ODataPages, ODataTableProvider}
    val dir = ODataPages.ordersLinkedPages(spark, sf)
    // the decoy and the head sidecar are really there
    assert(Files.exists(Paths.get(s"$dir/tok_decoy.json")))
    assert(Files.exists(Paths.get(s"$dir/_head.meta")))
    // chain pages exclude the decoy a directory listing would include
    val chain = ODataTableProvider.pageFiles(dir)
    assert(!chain.exists(_.endsWith("tok_decoy.json")))
    val got = spark.read.format("graft-odata").schema(ODataPages.ordersSchema)
      .option("path", dir).load()
      .filter(col("o_custkey") >= 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(ODataPages.LinkedModulus)) === 0 &&
        col("o_custkey") >= 25)
      .select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && !got.exists(_._1 == -1L),
      s"linked read drifted from the parquet slice (got ${got.size}, want ${expect.size})")
  }

  private def writeNamed(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(s"$dir/$name"), body.getBytes("UTF-8"))

  test("GraftCatalog: entities list as tables, SQL resolves with pushdown, writes refused") {
    val root = graft.sources.odata.ODataPages.ordersExpandRoot(spark, sf)
    val cat = s"spec_cat_${math.abs(root.hashCode).toString}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.odata.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // catalog listing sees the entity
    val tables = spark.sql(s"SHOW TABLES IN $cat")
      .collect().map(_.getAs[String]("tableName")).toSet
    assert(tables == Set("ORDERS"), s"tables: $tables")
    // SQL through the catalog = the direct format read
    val q = spark.sql(
      s"SELECT o_orderkey, o_orderstatus FROM $cat.ORDERS " +
        "WHERE o_orderkey >= 1000")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("o_orderkey ge 1000"),
      s"catalog-table filter not pushed:\n$plan")
    val direct = spark.read.format("graft-odata")
      .option("path", s"$root/ORDERS").load()
      .filter(col("o_orderkey") >= 1000)
      .select("o_orderkey", "o_orderstatus")
    assert(q.exceptAll(direct).isEmpty && direct.exceptAll(q).isEmpty,
      "catalog rows differ from the direct format read")
    // aggregate pushdown rides the catalog table too
    val agg = spark.sql(
      s"SELECT o_orderstatus, count(*) AS n FROM $cat.ORDERS GROUP BY 1")
    assert(agg.queryExecution.executedPlan.toString.contains(
      "$apply=groupby((o_orderstatus),aggregate($count as agg_count_star))"),
      "aggregate not pushed through the catalog")
    assert(agg.collect().map(_.getLong(1)).sum ==
      direct.count() + spark.sql(
        s"SELECT count(*) FROM $cat.ORDERS WHERE o_orderkey < 1000")
        .collect().head.getLong(0))
    // read-only contract: DDL through the catalog fails loudly
    intercept[UnsupportedOperationException] {
      spark.sql(s"DROP TABLE $cat.ORDERS")
    }
    // unknown table is a NoSuchTableException, not a silent empty
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.NOPE").collect()
    }
    assert(err.getMessage.toUpperCase.contains("NOPE"), s"err: $err")
  }

  test("DSv2 statistics: a small entity BROADCASTS in a catalog join; " +
    "stats report sidecar rows and scale under a pushed limit") {
    // hand-rendered two-entity root: a five-row REGION (the dimension)
    // and a multi-page ORDERS (the fact) — the join a 1000-executor
    // catalog query wants broadcast; before SupportsReportStatistics
    // every DSv2 relation planned as "unknown = huge" and this fell to
    // sort-merge (VERDICT r12 task 4)
    val root = tmpDir("odata_stats_root")
    val rdir = Paths.get(root, "REGION"); Files.createDirectory(rdir)
    Files.write(rdir.resolve("page-0.json"),
      ("""{"value": [""" + (0 until 5).map(i =>
        s"""{"r_regionkey": $i, "r_name": "R$i"}""").mkString(",") +
        "]}").getBytes("UTF-8"))
    Files.write(rdir.resolve("_counts.meta"),
      """{"page-0.json": 5}""".getBytes("UTF-8"))
    val odir = Paths.get(root, "ORDERS"); Files.createDirectory(odir)
    (0 until 4).foreach { p =>
      val rows = (0 until 250).map { i =>
        val k = p * 250 + i
        s"""{"o_orderkey": $k, "o_rkey": ${k % 5}, "o_status": "S${k % 3}"}"""
      }
      Files.write(odir.resolve(f"page-$p%03d.json"),
        s"""{"value": [${rows.mkString(",")}]}""".getBytes("UTF-8"))
    }
    Files.write(odir.resolve("_counts.meta"),
      (0 until 4).map(p => s""""page-${f"$p%03d"}.json": 250""")
        .mkString("{", ",", "}").getBytes("UTF-8"))
    val cat = s"stats_cat_${math.abs(root.hashCode).toString}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.odata.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // relation-level stats: rows from the sidecar, size from page bytes
    val rStats = spark.sql(s"SELECT * FROM $cat.REGION")
      .queryExecution.optimizedPlan.stats
    assert(rStats.rowCount.contains(BigInt(5)), s"rowCount: ${rStats.rowCount}")
    assert(rStats.sizeInBytes > 0 && rStats.sizeInBytes < 1000000,
      s"sizeInBytes: ${rStats.sizeInBytes}")
    // the join plans as BroadcastHashJoin with no broadcast hint
    val q = spark.sql(
      s"SELECT o.o_orderkey, r.r_name FROM $cat.ORDERS o " +
        s"JOIN $cat.REGION r ON o.o_rkey = r.r_regionkey")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small-entity catalog join did not broadcast:\n$plan")
    assert(q.count() == 1000, "join result wrong")
    // a pushed $top caps the row estimate (and scales bytes), so a
    // limit probe of a big entity reads as small too
    val probe = spark.read.format("graft-odata")
      .option("path", s"$root/ORDERS").load().limit(3)
    val pStats = probe.queryExecution.optimizedPlan.stats
    assert(pStats.rowCount.contains(BigInt(3)), s"probe rows: ${pStats.rowCount}")
    // a pushed filter keeps the byte upper bound and DROPS the exact
    // row count (selectivity unknown — never a fabricated estimate)
    val filtered = spark.read.format("graft-odata")
      .option("path", s"$root/ORDERS").load().filter(col("o_rkey") === 0)
    assert(filtered.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
      "filtered scan must not claim an exact row count")
  }

  test("s6 gate: GROUP BY pushes $apply into the scan; cells, not rows, cross the exchange") {
    val q = graft.queries.Queries.s6ODataAgg(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("$apply=groupby((o_orderstatus)," +
      "aggregate($count as agg_count_star," +
      "o_custkey with sum as agg_sum_o_custkey," +
      "o_orderkey with min as agg_min_o_orderkey," +
      "o_orderkey with max as agg_max_o_orderkey))"),
      s"aggregate not compiled into the scan request:\n$plan")
    assert(plan.contains("o_custkey ge 50"),
      s"filter must still ride the aggregated scan:\n$plan")
    // partial-pushdown contract: Spark's FINAL merge aggregate remains
    assert(plan.contains("HashAggregate"),
      s"final merge aggregate missing:\n$plan")
    // the scan's own output is per-page GROUP cells, not rows: with
    // |status| = 3, a page of 200 rows collapses to <= 3 cells (AQE
    // off for this probe — its query-stage wrappers hide the scan's
    // metrics behind leaf stage nodes)
    val rows = q.collect()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val scanRows =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val q2 = graft.queries.Queries.s6ODataAgg(spark, sf)
        q2.collect()
        q2.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics("numOutputRows").value
        }.get
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val pageDir = graft.sources.odata.ODataPages.ordersPages(spark, sf)
    val pages = new java.io.File(pageDir.stripPrefix("file:"))
      .listFiles.count(_.getName.endsWith(".json"))
    assert(scanRows <= pages.toLong * rows.length,
      s"scan emitted $scanRows rows for $pages pages x ${rows.length} groups " +
        "— per-page aggregation is not happening")
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(100)) === 0 && col("o_custkey") >= 50)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_custkey")).as("sum_custkey"),
        min(col("o_orderkey")).as("min_orderkey"),
        max(col("o_orderkey")).as("max_orderkey"))
    assert(q.exceptAll(direct).isEmpty && direct.exceptAll(q).isEmpty,
      "pushed-aggregate result differs from the direct parquet aggregate")
  }

  test("aggregate pushdown rejects what OData cannot serve; all-NULL page cells merge") {
    // duplicate ordnames ARE the groups; B's qty is null on BOTH pages
    val dir = tmpDir("odata_agg")
    writePages(dir, Seq(
      """{"value": [
        |  {"ordname": "A", "qty": 5, "curdate": "2024-01-01T00:00:00"},
        |  {"ordname": "B", "qty": null, "curdate": "2024-01-02T00:00:00"},
        |  {"ordname": "A", "qty": 2, "curdate": "2024-01-03T00:00:00"}]}""".stripMargin,
      """{"value": [
        |  {"ordname": "B", "qty": null, "curdate": "2024-01-04T00:00:00"},
        |  {"ordname": "A", "qty": 9, "curdate": "2024-01-05T00:00:00"}]}""".stripMargin))
    val df = spark.read.format("graft-odata").schema(schema)
      .option("path", dir).load()
    // count(col) has no $apply spelling; distinct sums aren't
    // mergeable — both must stay with Spark (all-or-nothing)
    for ((frame, n) <- Seq(
        (df.groupBy(col("ordname")).agg(count(col("qty")).as("c")), 2),
        (df.groupBy(col("ordname")).agg(sum_distinct(col("qty")).as("s")), 2))) {
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("$apply"),
        s"unservable aggregate was pushed:\n$plan")
      assert(frame.count() == n, "rejected-pushdown frame must still compute")
    }
    // pushed min: A's page cells are (2, 9) -> 2; B's are (NULL, NULL)
    // and the merge must keep NULL, not invent a zero
    val m = df.groupBy(col("ordname")).agg(min(col("qty")).as("m"))
    assert(m.queryExecution.executedPlan.toString.contains(
      "$apply=groupby((ordname),aggregate(qty with min as agg_min_qty))"),
      "min aggregate not pushed")
    val got = m.collect().map(r =>
      (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map("A" -> Some(2L), "B" -> None), s"got $got")
    // global (no group-by) pushed aggregate over the same pages
    val g = df.agg(count(lit(1)).as("n"), max(col("qty")).as("mx"))
    assert(g.queryExecution.executedPlan.toString.contains(
      "$apply=aggregate($count as agg_count_star,qty with max as agg_max_qty)"),
      "global aggregate not pushed")
    assert(g.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((5L, 9L)), "global aggregate wrong")
  }

  // ---- runtime filtering (VERDICT r13 task 6) -------------------------

  /** Render a 4-page ORDERS directory (250 rows/page, o_orderkey
    * 0..999 in page order) with `_counts.meta` + `_ranges.meta`. */
  private def rtfFixture(): (String, StructType) = {
    val dir = tmpDir("odata_rtf")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val counts = m.createObjectNode()
    val ranges = m.createObjectNode()
    (0 until 4).foreach { p =>
      val rows = (0 until 250).map { i =>
        val k = p * 250 + i
        s"""{"o_orderkey": $k, "o_custkey": ${k % 7}, "o_status": "S${k % 3}"}"""
      }
      val name = f"page_$p%05d.json"
      Files.write(Paths.get(dir, name),
        s"""{"value": [${rows.mkString(",")}]}""".getBytes("UTF-8"))
      counts.put(name, 250L)
      val pr = ranges.putObject(name)
      val lo = p * 250L; val hi = p * 250L + 249L
      val ak = pr.putArray("o_orderkey"); ak.add(lo); ak.add(hi)
    }
    Files.write(Paths.get(dir, "_counts.meta"), m.writeValueAsBytes(counts))
    Files.write(Paths.get(dir, "_ranges.meta"), m.writeValueAsBytes(ranges))
    (dir, StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_status", StringType))))
  }

  /** Delegates to the ONE shared AQE-reaching traversal (the gate
    * uses the same one — a second copy would silently diverge when a
    * new wrapper node type needs handling). */
  private def odataScans(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[graft.sources.odata.ODataScan] =
    graft.sources.odata.ODataScan.scansIn(p)

  test("runtime filtering: dim-join build keys prune fact pages at execution") {
    val (dir, sch) = rtfFixture()
    val fact = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
    // selective dim: two keys, both inside page 0's [0, 249] range.
    // FILE-backed (not a LocalRelation): the optimizer constant-folds
    // a filtered in-memory relation before PartitionPruning can see
    // the selective predicate it requires
    import spark.implicits._
    val dimPath = tmpDir("rtf_dim")
    Seq((10L, 1), (20L, 1), (30L, 0)).toDF("k", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(dim.filter(col("flag") === 1),
      fact("o_orderkey") === dim("k"))
    val rows = q.collect()
    assert(rows.map(_.getAs[Long]("o_orderkey")).sorted.toSeq == Seq(10L, 20L),
      s"join rows wrong: ${rows.mkString(",")}")
    val scans = odataScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no ODataScan in the executed plan")
    val scan = scans.head
    assert(scan.runtimeFilterCount > 0,
      "no runtime filter reached the scan (DPP not planned?)")
    // the plan-pinned claim: post-filter page count < directory pages
    assert(scan.lastPlannedPages == 1,
      s"expected 1 surviving page of 4, got ${scan.lastPlannedPages}")
    // and the dynamic pruning expression is visible in the plan
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning expression in plan:\n$planStr")
  }

  test("runtime filtering declines on shaped scans and missing sidecars; " +
    "pruning never changes results") {
    val (dir, sch) = rtfFixture()
    val fact = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
    // a pushed limit/topN/offset withholds filter attributes entirely
    // (pruning pages under a pushed $top would change WHICH rows the
    // scan emits)
    def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.odata.ODataScan = {
      df.collect()
      odataScans(df.queryExecution.executedPlan).head
    }
    assert(scanOf(fact.limit(3)).filterAttributes().isEmpty,
      "limit scan must not advertise runtime-filter attributes")
    assert(scanOf(fact.orderBy(col("o_orderkey")).limit(3))
      .filterAttributes().isEmpty,
      "topN scan must not advertise runtime-filter attributes")
    assert(scanOf(fact.offset(5)).filterAttributes().isEmpty,
      "offset scan must not advertise runtime-filter attributes")
    // bare scan advertises exactly the ranged column
    assert(scanOf(fact).filterAttributes().map(_.describe()).toSeq ==
      Seq("o_orderkey"))
    // no _ranges.meta -> no attributes -> joins still correct
    val bare = tmpDir("odata_rtf_bare")
    Files.write(Paths.get(bare, "page-0.json"),
      """{"value": [{"o_orderkey": 1, "o_custkey": 1, "o_status": "S"}]}"""
        .getBytes("UTF-8"))
    val noSidecar = spark.read.format("graft-odata").schema(sch)
      .option("path", bare).load()
    assert(scanOf(noSidecar).filterAttributes().isEmpty,
      "sidecar-less scan must not advertise runtime-filter attributes")
    // pruning correctness cross-proof: same join with pruning possible
    // vs a plain in-memory frame of the same rows
    import spark.implicits._
    val dimPath2 = tmpDir("rtf_dim2")
    Seq(900L, 50L).toDF("k").write.mode("overwrite").parquet(dimPath2)
    val dim = spark.read.parquet(dimPath2)
    val viaOData = fact.join(dim, fact("o_orderkey") === dim("k"))
      .select("o_orderkey", "o_custkey").collect().map(_.toSeq).toSet
    val expected = (0 until 1000).map(_.toLong)
      .filter(k => k == 900L || k == 50L).map(k => Seq[Any](k, k % 7)).toSet
    assert(viaOData == expected, s"pruned join diverged: $viaOData")
  }

  test("static page pruning: pushed range/equality/In filters prune at " +
    "plan time; And/Or compose; string predicates never prune") {
    val (dir, sch) = rtfFixture()
    val fact = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
    def planned(df: org.apache.spark.sql.DataFrame): (Int, Long) = {
      val n = df.count()
      val scan = odataScans(df.queryExecution.executedPlan).head
      (scan.lastPlannedPages, n)
    }
    // count() builds its own plan; execute the frame itself
    def plannedRows(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val rows = df.collect().length
      val scan = odataScans(df.queryExecution.executedPlan).head
      (scan.lastPlannedPages, rows)
    }
    // page p holds keys [p*250, p*250+249] across 4 pages
    assert(plannedRows(fact.filter(col("o_orderkey") < 250)) == ((1, 250)))
    assert(plannedRows(fact.filter(col("o_orderkey") >= 750)) == ((1, 250)))
    assert(plannedRows(fact.filter(col("o_orderkey") === 500L)) == ((1, 1)))
    assert(plannedRows(fact.filter(
      col("o_orderkey").isin(10L, 260L))) == ((2, 2)))
    // conjunction narrows to the overlap; disjunction unions the bands
    assert(plannedRows(fact.filter(
      col("o_orderkey") >= 200 && col("o_orderkey") <= 300)) == ((2, 101)))
    assert(plannedRows(fact.filter(
      col("o_orderkey") < 100 || col("o_orderkey") >= 900)) == ((2, 200)))
    // boundary: >= page max must keep that page
    assert(plannedRows(fact.filter(col("o_orderkey") >= 249)) == ((4, 751)))
    // the disjunction COMPILES into the $filter request (first-class
    // OData grammar), not just into pruning arithmetic
    val orPlan = fact.filter(
      col("o_orderkey") < 100 || col("o_orderkey") >= 900)
      .queryExecution.executedPlan.toString
    assert(orPlan.contains("(o_orderkey lt 100 or o_orderkey ge 900)"),
      "disjunction not compiled into the filter request:\n" + orPlan)
    // a predicate on an unranged column prunes nothing
    assert(plannedRows(fact.filter(col("o_status") === "S0"))._1 == 4)
    // all-out-of-range prunes everything, result still correct (empty)
    assert(plannedRows(fact.filter(col("o_orderkey") > 5000)) == ((0, 0)))
    // fractional literals are conservative keeps (longValue truncation
    // would flip strict comparisons at the boundary)
    assert(plannedRows(fact.filter(
      col("o_orderkey") > -0.5))._1 == 4)
  }

  /** Render a 4-page EVENTS directory with a timestamp column: page p
    * holds ids [p*100, p*100+99] and ts spanning day p (hours 0..23,
    * cycling), with `_ranges.meta` carrying `event_id` as plain long
    * bounds AND `ts` as tagged epoch-micros bounds — the mixed-shape
    * sidecar [[graft.sources.odata.ODataPages.eventsPages]] renders. */
  private def tsFixture(): (String, StructType) = {
    val dir = tmpDir("odata_ts")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val counts = m.createObjectNode()
    val ranges = m.createObjectNode()
    def micros(day: Int, hour: Int): Long =
      java.time.LocalDateTime.of(2024, 3, 1 + day, hour, 0, 0)
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    (0 until 4).foreach { p =>
      val rows = (0 until 100).map { i =>
        val k = p * 100 + i
        val ts = java.time.LocalDateTime.of(2024, 3, 1 + p, i % 24, 0, 0)
        s"""{"event_id": $k, "ts": "$ts:00.000000", "etype": "t${k % 3}"}"""
      }
      val name = f"page_$p%05d.json"
      Files.write(Paths.get(dir, name),
        s"""{"value": [${rows.mkString(",")}]}""".getBytes("UTF-8"))
      counts.put(name, 100L)
      val pr = ranges.putObject(name)
      val ak = pr.putArray("event_id")
      ak.add(p * 100L); ak.add(p * 100L + 99L)
      val tr = pr.putObject("ts")
      tr.put("t", "ts")
      tr.put("lo", micros(p, 0)); tr.put("hi", micros(p, 23))
    }
    Files.write(Paths.get(dir, "_counts.meta"), m.writeValueAsBytes(counts))
    Files.write(Paths.get(dir, "_ranges.meta"), m.writeValueAsBytes(ranges))
    (dir, StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("etype", StringType))))
  }

  test("timestamp page pruning: a pushed ts watermark plans only the " +
    "tail pages; boundaries keep; long bounds still prune beside it") {
    val (dir, sch) = tsFixture()
    val fact = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
    def plannedRows(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val rows = df.collect().length
      val scan = graft.sources.odata.ODataScan
        .scansIn(df.queryExecution.executedPlan).head
      (scan.lastPlannedPages, rows)
    }
    def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    // watermark at day 2's midnight: days 0-1 prune, 2-3 plan
    assert(plannedRows(fact.filter(
      col("ts") >= lit(ts("2024-03-03 00:00:00")))) == ((2, 200)))
    // strictly-after the last page's hi prunes everything, rows empty
    assert(plannedRows(fact.filter(
      col("ts") > lit(ts("2024-03-04 23:00:00")))) == ((0, 0)))
    // boundary: >= page hi keeps that page (inclusive bounds)
    assert(plannedRows(fact.filter(
      col("ts") >= lit(ts("2024-03-01 23:00:00"))))._1 == 4)
    // equality inside one page's range plans just that page (hours
    // cycle i % 24, so hour 5 hits rows i = 5, 29, 53, 77)
    assert(plannedRows(fact.filter(
      col("ts") === lit(ts("2024-03-02 05:00:00")))) == ((1, 4)))
    // upper bound prunes the tail
    assert(plannedRows(fact.filter(
      col("ts") < lit(ts("2024-03-02 00:00:00")))) == ((1, 100)))
    // conjunction with the LONG-ranged key narrows to the overlap —
    // both sidecar shapes judge in one conjunction
    assert(plannedRows(fact.filter(
      col("ts") >= lit(ts("2024-03-02 00:00:00")) &&
        col("event_id") < 300)) == ((2, 200)))
    // an unranged column never prunes
    assert(plannedRows(fact.filter(col("etype") === "t0"))._1 == 4)
  }

  test("timestamp page pruning: NON-NUMERIC sidecar bounds (ISO strings " +
    "from a drifted writer) drop the column — Jackson's asLong() must " +
    "never coerce them to a [0,0] range that prunes live pages") {
    val (dir, sch) = tsFixture()
    // rewrite the sidecar: ts bounds as ISO STRINGS on every page
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val ranges = m.createObjectNode()
    (0 until 4).foreach { p =>
      val pr = ranges.putObject(f"page_$p%05d.json")
      val tr = pr.putObject("ts")
      tr.put("t", "ts")
      tr.put("lo", s"2024-03-0${1 + p}T00:00:00")
      tr.put("hi", s"2024-03-0${1 + p}T23:00:00")
    }
    // fresh fixture dir: no pageRanges memo exists yet, so this write
    // is what the first (and only) sidecar read sees
    Files.write(Paths.get(dir, "_ranges.meta"), m.writeValueAsBytes(ranges))
    val fact = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
      .filter(col("ts") >=
        lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00")))
    // a coerced [0,0] range would judge hi(0) >= watermark false and
    // prune EVERYTHING; the contract is keep-all + correct rows
    val rows = fact.collect()
    assert(rows.length == 200, s"rows wrong: ${rows.length}")
    val scan = graft.sources.odata.ODataScan
      .scansIn(fact.queryExecution.executedPlan).head
    assert(scan.lastPlannedPages == 4,
      s"string-bounds sidecar must keep all pages, " +
        s"planned ${scan.lastPlannedPages}")
  }

  test("timestamp page pruning: kind mismatches and unknown sidecar " +
    "shapes are conservative keeps, results unchanged") {
    // sidecar/schema drift: the sidecar tags ts bounds on a column the
    // schema types as LONG — a long literal must NOT judge the
    // epoch-micros range (silent conflation would prune live pages)
    val dir = tmpDir("odata_ts_drift")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val ranges = m.createObjectNode()
    (0 until 2).foreach { p =>
      val rows = (0 until 10).map { i =>
        s"""{"k": ${p * 10 + i}}"""
      }
      val name = f"page_$p%05d.json"
      Files.write(Paths.get(dir, name),
        s"""{"value": [${rows.mkString(",")}]}""".getBytes("UTF-8"))
      val pr = ranges.putObject(name)
      if (p == 0) { // ts-tagged bounds under a long-typed column
        val tr = pr.putObject("k")
        tr.put("t", "ts"); tr.put("lo", 0L); tr.put("hi", 9L)
      } else { // unknown shape: dropped at parse, prunes nothing
        val tr = pr.putObject("k")
        tr.put("t", "weird"); tr.put("lo", 10L); tr.put("hi", 19L)
      }
    }
    Files.write(Paths.get(dir, "_ranges.meta"), m.writeValueAsBytes(ranges))
    val sch = StructType(Seq(StructField("k", LongType)))
    val df = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load().filter(col("k") >= 15)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (15L to 19L),
      "rows wrong under sidecar kind drift")
    val scan = graft.sources.odata.ODataScan
      .scansIn(df.queryExecution.executedPlan).head
    assert(scan.lastPlannedPages == 2,
      s"kind-mismatched/unknown ranges must keep all pages, " +
        s"planned ${scan.lastPlannedPages}")
  }

  test("catalog-routed DPP: a spark.sql dim join against <cat>.ORDERS " +
    "prunes pages, rows unchanged") {
    // the s10 gate proves DPP on the format reader; this pins the SAME
    // ODataTable pruning when the scan is planned through GraftCatalog
    val root = tmpDir("odata_cat_dpp")
    val (pages, _) = rtfFixture()
    val entityDir = Paths.get(root, "ORDERS")
    Files.createDirectories(entityDir)
    Files.list(Paths.get(pages)).forEach { p =>
      Files.copy(p, entityDir.resolve(p.getFileName))
    }
    // catalog name derived from the root: CatalogManager caches
    // plugins by name (the q16 gotcha)
    val cat = "cat_dpp_" + Integer.toHexString(root.hashCode).takeRight(6)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.odata.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    import spark.implicits._
    val dimPath = tmpDir("cat_dpp_dim")
    // the selective flag predicate is load-bearing: PartitionPruning
    // only plans DPP when the build side carries one (the s10 fixture
    // convention)
    Seq((10L, 1), (20L, 1), (30L, 0)).toDF("k", "flag")
      .write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("cat_dpp_dim")
    val q = spark.sql(
      s"""SELECT /*+ BROADCAST(d) */ f.o_orderkey, f.o_custkey
         |FROM $cat.ORDERS f
         |JOIN cat_dpp_dim d ON f.o_orderkey = d.k AND d.flag = 1
         |""".stripMargin)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L),
      s"catalog join rows wrong: ${rows.mkString(",")}")
    val scan = graft.sources.odata.ODataScan
      .scansIn(q.queryExecution.executedPlan).head
    assert(scan.runtimeFilterCount > 0,
      "no runtime filter reached the catalog-routed scan")
    assert(scan.lastPlannedPages < 4,
      s"catalog-routed scan pruned nothing: ${scan.lastPlannedPages} of 4")
  }

  test("stats probes degrade on IO/parse failure, propagate fatal errors") {
    import graft.sources.odata.ODataScan
    // NonFatal -> None (the degrade-to-empty contract)
    assert(ODataScan.statsProbe[Long] {
      throw new java.io.IOException("sidecar unreadable") }.isEmpty)
    // fatal errors must PROPAGATE, never read as "no stats"
    intercept[OutOfMemoryError] {
      ODataScan.statsProbe[Long] { throw new OutOfMemoryError("boom") }
    }
    intercept[InterruptedException] {
      ODataScan.statsProbe[Long] { throw new InterruptedException() }
    }
    // a corrupt sidecar must DECLINE offset pushdown (Spark keeps its
    // own Offset and the query still answers), never crash planning
    val (odir, osch) = rtfFixture()
    Files.write(Paths.get(odir, "_counts.meta"),
      "{not json either".getBytes("UTF-8"))
    val off = spark.read.format("graft-odata").schema(osch)
      .option("path", odir).load()
      .orderBy(col("o_orderkey")).offset(995)
    assert(off.collect().map(_.getLong(0)).toSeq ==
      (995L to 999L), "offset result wrong under a corrupt sidecar")
    assert(!off.queryExecution.executedPlan.toString.contains("$skip"),
      "offset must not push through a corrupt _counts.meta")
    // e2e: a CORRUPT _counts.meta degrades to byte-only statistics
    // (no row count, no crash) and the scan itself still reads
    val (dir, sch) = rtfFixture()
    Files.write(Paths.get(dir, "_counts.meta"),
      "{this is not json".getBytes("UTF-8"))
    val df = spark.read.format("graft-odata").schema(sch)
      .option("path", dir).load()
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0, "byte estimate must survive")
    assert(stats.rowCount.isEmpty,
      "corrupt sidecar must drop the row estimate, not crash planning")
    assert(df.count() == 1000L)
  }
}
