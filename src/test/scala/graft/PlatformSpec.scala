package graft

import graft.catalog.SchemaRegistry
import graft.config.ConfigStore
import graft.model._
import graft.run.Platform
import graft.sinks.{Ddl, EntityWriter, JdbcStagingWriter, StagingWriter}
import graft.sources.ParquetSimSource
import org.apache.spark.sql.DataFrame

/** D-family (DDL/catalog), JDBC sink, durable config store, and
  * control-plane coverage — the §2.7 rows plus the reference's lifecycle
  * endpoints. */
class DdlSpec extends SparkSpec {

  private def registryWith(metas: EntityMeta*): SchemaRegistry = {
    val r = new SchemaRegistry()
    r.putAll(metas)
    r
  }

  private val orders = EntityMeta("ORDERS", "priority", fields = Seq(
    FieldMeta("ORDNAME", "Edm.String", keyFlag = true),
    FieldMeta("QPRICE", "Edm.Decimal"),
    FieldMeta("CURDATE", "Edm.DateTimeOffset"),
    FieldMeta("ORDERITEMS_SUBFORM", "Edm.String")),
    entityPk = Seq("ORDNAME"))
  private val items = EntityMeta("ORDERITEMS", "priority", fields = Seq(
    FieldMeta("LINE", "Edm.Int64", keyFlag = true),
    FieldMeta("PARTNAME", "Edm.String")),
    entityPk = Seq("LINE"))

  test("restarted platform deploys DDL from the PERSISTED catalog, no $metadata re-parse") {
    val path = s"${tmpDir("cat_boot")}/catalog.json"
    new SchemaRegistry(persistPath = Some(path)).putAll(Seq(orders, items))

    // process restart: a brand-new registry instance boots from disk
    val reg2 = new SchemaRegistry(persistPath = Some(path))
    val ddl = new Ddl(spark, reg2)
    val db = ddl.createDatabase("Acct-77")
    try {
      val config = ExtractionConfig("ds1", "n", "Acct-77", entities = Seq(
        EntityConfig("ORDERS", expand = Seq("ORDERITEMS"))))
      val rep = ddl.deployConfig(db, config)
      assert(rep.success.toSet == Set(s"$db.orders", s"$db.orderitems"))
      assert(rep.failed.isEmpty)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("D1/D2/T3: config deploy list creates parent AND child typed tables") {
    val reg = registryWith(orders, items)
    val ddl = new Ddl(spark, reg)
    val db = ddl.createDatabase("Acct-42")
    assert(db == "acc_acct_42")
    try {
      val config = ExtractionConfig("ds1", "n", "Acct-42", entities = Seq(
        EntityConfig("ORDERS", expand = Seq("ORDERITEMS"))))
      val rep = ddl.deployConfig(db, config)
      assert(rep.success.toSet == Set(s"$db.orders", s"$db.orderitems"))
      assert(rep.failed.isEmpty)

      // parent drops the subform col; PK is string; audit cols typed
      val pcols = ddl.describe(s"$db.orders")
      assert(!pcols.contains("orderitems_subform"))
      assert(pcols("ordname") == "STRING")
      assert(pcols("qprice") == "DECIMAL(38,18)")
      assert(pcols("extractiontimestamputc") == "TIMESTAMP")

      // child carries the propagated parent PK as string
      val ccols = ddl.describe(s"$db.orderitems")
      assert(ccols("ordname") == "STRING" && ccols("line") == "STRING")
      assert(ccols("partname") == "STRING")

      // idempotence: second deploy reports exists, no failures
      val rep2 = ddl.deployConfig(db, config)
      assert(rep2.exists.toSet == Set(s"$db.orders", s"$db.orderitems"))

      // missing catalog entry lands in failed, not thrown
      val rep3 = ddl.deployConfig(db,
        config.copy(entities = Seq(EntityConfig("NOPE"))))
      assert(rep3.failed.map(_._1) == Seq(s"$db.nope"))

      // D3: drop-all returns names + count; D5 covered by describe above
      val (dropped, n) = ddl.dropAll(db)
      assert(dropped.toSet == Set("orders", "orderitems") && n == 2)
      assert(spark.catalog.listTables(db).collect().filterNot(_.isTemporary).isEmpty)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}

class JdbcStagingWriterSpec extends SparkSpec {

  private val meta = EntityMeta("ORDERS", "priority", fields = Seq(
    FieldMeta("ORDNAME", "Edm.String", keyFlag = true,
      targetDataType = Some("VARCHAR")),
    FieldMeta("QTY", "Edm.Int64", targetDataType = Some("BIGINT")),
    FieldMeta("CURDATE", "Edm.DateTimeOffset", targetDataType = Some("TIMESTAMP"))),
    entityPk = Seq("ORDNAME"))

  test("typed DDL fragment: PK→VARCHAR(255), catalog types, audit columns") {
    import spark.implicits._
    val w = new JdbcStagingWriter(spark, "jdbc:derby:memory:ddlonly;create=true")
    val df = Seq(("SO1", 2L)).toDF("ordname", "qty")
      .withColumn("extractionid", org.apache.spark.sql.functions.lit("r1"))
    val ddl = w.columnTypes(meta, df)
    assert(ddl == "ordname VARCHAR(255), qty BIGINT, extractionid VARCHAR(255)")
  }

  test("RefreshJob runs end-to-end against the JDBC sink") {
    val url = s"jdbc:derby:memory:rj${System.nanoTime()};create=true"
    val reg = new SchemaRegistry()
    val w = new JdbcStagingWriter(spark, url, registry = Some(reg))
    val job = new graft.run.RefreshJob(spark, new ParquetSimSource(spark, sf), w)
    val cfg = ExtractionConfig("ds1", "n", "a1", systemTimezone = "UTC",
      entities = Seq(EntityConfig("REGION")))
    val (report, _) = job.run(cfg, incremental = false)
    assert(report.errors.isEmpty)
    assert(report.tables.head.recordsWritten == 5)
    assert(w.read("REGION").count() == 5)
  }

  test("derby round-trip: typed create, append vs replace semantics") {
    import spark.implicits._
    val url = s"jdbc:derby:memory:stg${System.nanoTime()};create=true"
    val w = new JdbcStagingWriter(spark, url)
    val df = Seq(("SO1", 1L), ("SO2", 2L)).toDF("ordname", "qty")

    assert(w.writeEntity(df, meta, append = false) == 2L)
    assert(w.read("ORDERS").count() == 2)
    assert(w.writeEntity(df, meta, append = true) == 2L)
    assert(w.read("ORDERS").count() == 4)
    // replace truncates back to one batch
    assert(w.writeEntity(df, meta, append = false) == 2L)
    assert(w.read("ORDERS").count() == 2)
    // typed creation: PK column came out as VARCHAR, not CLOB
    val schema = w.read("ORDERS").schema
    assert(schema("ordname").dataType.typeName == "string")
    assert(schema("qty").dataType.typeName == "long")
  }

  test("JDBC stg→final promotion and compaction: latest per PK, rename swap, repeatable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val url = s"jdbc:derby:memory:promo${System.nanoTime()};create=true"
    val w = new JdbcStagingWriter(spark, url)
    def batch(runId: String, ts: String, rows: (String, Long)*) =
      rows.toDF("ordname", "qty")
        .withColumn("extractionid", lit(runId))
        .withColumn("extractiontimestamputc", lit(java.sql.Timestamp.valueOf(ts)))

    w.writeEntity(batch("r1", "2024-01-01 00:00:00", "a" -> 1L, "b" -> 2L),
      meta, append = false)
    w.writeEntity(batch("r2", "2024-01-02 00:00:00", "a" -> 9L),
      meta, append = true)

    def finalRows() = spark.read.jdbc(url, "orders", new java.util.Properties)
      .collect().map(r => r.getAs[String]("ordname") -> r.getAs[Long]("qty")).toMap
    assert(w.promote("ORDERS", Seq("ordname")) == 2) // first promote: no live table yet
    assert(finalRows() == Map("a" -> 9L, "b" -> 2L))
    assert(w.read("ORDERS").count() == 3) // staging history untouched

    // re-promote with a live final table present: exercises the rename swap
    w.writeEntity(batch("r3", "2024-01-03 00:00:00", "b" -> 7L, "c" -> 5L),
      meta, append = true)
    assert(w.promote("ORDERS", Seq("ordname")) == 3)
    assert(finalRows() == Map("a" -> 9L, "b" -> 7L, "c" -> 5L))

    // compaction trims staging itself down to the latest extraction per PK
    assert(w.compact(w.stagingName("ORDERS"), Seq("ordname")) == 3)
    assert(w.read("ORDERS").count() == 3)

    // no swap debris left behind in the warehouse
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toList
      assert(!names.exists(_.toLowerCase.contains("swap")), s"swap debris: $names")
    } finally conn.close()
  }

  /** A crash between the two swap renames leaves the live table gone
    * and the ONLY full copy of its history at `<table>__swap_bak`;
    * every mutating call must restore it first. */
  private def assertSwapCrashRecovery(
      w: EntityWriter, write: (DataFrame, Boolean) => Long,
      read: () => DataFrame, compact: () => Long,
      crash: String => Unit): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    def batch(runId: String, ts: String, rows: (String, Long)*) =
      rows.toDF("ordname", "qty")
        .withColumn("extractionid", lit(runId))
        .withColumn("extractiontimestamputc", lit(java.sql.Timestamp.valueOf(ts)))
    write(batch("r1", "2024-01-01 00:00:00", "a" -> 1L, "b" -> 2L), false)
    crash(w.stagingName("ORDERS"))

    // an incremental append must restore the history first, NOT
    // re-create the table from one batch over the orphaned backup
    write(batch("r2", "2024-01-02 00:00:00", "c" -> 3L), true)
    assert(read().count() == 3, "pre-crash staging history lost")

    // compacting a crashed table restores it before reading
    crash(w.stagingName("ORDERS"))
    assert(compact() == 3)
    assert(read().collect().map(r =>
      r.getAs[String]("ordname") -> r.getAs[Long]("qty")).toMap ==
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L))

    // promoting a crashed staging table restores it before reading
    crash(w.stagingName("ORDERS"))
    assert(w.promote("ORDERS", Seq("ordname")) == 3)
    assert(read().count() == 3)
  }

  test("JDBC swap crash recovery: an orphaned backup is restored, never dropped") {
    val url = s"jdbc:derby:memory:crash${System.nanoTime()};create=true"
    val w = new JdbcStagingWriter(spark, url)
    assertSwapCrashRecovery(w,
      (df, append) => w.writeEntity(df, meta, append),
      () => w.read("ORDERS"),
      () => w.compact(w.stagingName("ORDERS"), Seq("ordname")),
      table => {
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement()
          .executeUpdate(s"RENAME TABLE $table TO ${table}__swap_bak")
        finally conn.close()
      })
  }

  test("parquet swap crash recovery: an orphaned backup is restored, never dropped") {
    val w = new StagingWriter(spark, tmpDir("crash_wh"))
    assertSwapCrashRecovery(w,
      (df, append) => w.writeEntity(df, "ORDERS", append),
      () => w.read(w.stagingName("ORDERS")),
      () => w.compact(w.stagingName("ORDERS"), Seq("ordname")),
      table => {
        val live = new org.apache.hadoop.fs.Path(w.path(table))
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.rename(live, new org.apache.hadoop.fs.Path(w.path(table) + "__swap_bak")))
      })
  }
}

class ConfigStoreSpec extends SparkSpec {

  private def config(id: String) = ExtractionConfig(
    id, "priority_companyA", "acc1", systemTimezone = "UTC",
    entities = Seq(
      EntityConfig("ORDERS", filterFlag = true, filterField = "o_orderdate",
        expand = Seq("ORDERITEMS"), dataStartDate = "1990-01-01 00:00:00"),
      EntityConfig("REGION")))

  test("insert stamps submitTimestampUTC; latest returns newest version") {
    val store = new ConfigStore(tmpDir("cfg") + "/store.json")
    val v1 = store.insert(config("ds1"))
    assert(v1.submitTimestampUtc.isDefined)
    store.insert(config("other"))
    val v2 = store.insert(config("ds1").copy(datasourceName = "v2"))
    assert(store.latest("ds1").get.datasourceName == "v2")
    assert(store.loadAll().size == 3)
    assert(v2.submitTimestampUtc.get.getTime >= v1.submitTimestampUtc.get.getTime)
  }

  test("crash-safe resume: watermarks survive a store reload") {
    val path = tmpDir("cfg") + "/store.json"
    val store = new ConfigStore(path)
    store.insert(config("ds1"))

    val wh = tmpDir("wh")
    val writer = new StagingWriter(spark, wh)
    val platform = new Platform(spark, new ParquetSimSource(spark, sf),
      new SchemaRegistry(), writer, Some(store))

    val (r1, updated) = platform.refreshData(store.latest("ds1").get, incremental = false)
    assert(r1.errors.isEmpty)
    val wm = updated.entities.head.lastRun
    assert(wm.isDefined)

    // "restart": a fresh store instance on the same file
    val reloaded = new ConfigStore(path).latest("ds1").get
    assert(reloaded.entities.head.lastRun == wm)

    // incremental resume from the persisted watermark is a no-op
    val (r2, _) = platform.refreshData(reloaded, incremental = true)
    assert(r2.tables.find(_.tableName == "stg_orders").get.recordsWritten == 0)
  }

  test("updateLastRun modifies one entity inside the latest version only") {
    val store = new ConfigStore(tmpDir("cfg") + "/store.json")
    store.insert(config("ds1"))
    store.insert(config("ds1").copy(datasourceName = "v2"))
    store.updateLastRun("ds1", "ORDERS", "2026-01-01 00:00:00")
    val latest = store.latest("ds1").get
    assert(latest.datasourceName == "v2")
    assert(latest.entities.find(_.entityId == "ORDERS").get.lastRun
      .contains("2026-01-01 00:00:00"))
    assert(latest.entities.find(_.entityId == "REGION").get.lastRun.isEmpty)
    // older version untouched
    assert(store.loadAll().head.entities.head.lastRun.isEmpty)
  }
}

class PlatformSpec extends SparkSpec {

  /** An OData page directory: ORDERS (three pages, a nested
    * ORDERITEMS_SUBFORM, filtered on CURDATE) and CTYPE (one page,
    * unfiltered). */
  private def odataRoot(): String = {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("odata_jdbc")
    def pages(entity: String, bodies: Seq[String]): Unit = {
      Files.createDirectories(Paths.get(s"$root/$entity"))
      bodies.zipWithIndex.foreach { case (b, i) =>
        Files.write(Paths.get(s"$root/$entity/page-$i.json"), b.getBytes("UTF-8"))
      }
    }
    pages("ORDERS", (0 until 3).map { p =>
      (1 to 2).map { k =>
        val o = p * 2 + k
        s"""{"ORDNAME": "SO$o", "QTY": $o, "CURDATE": "2024-0${p + 1}-0${k}T00:00:00",
           | "ORDERITEMS_SUBFORM": [{"KLINE": 1, "PARTNAME": "P$o"},
           |   {"KLINE": 2, "PARTNAME": "Q$o"}]}""".stripMargin
      }.mkString("""{"value": [""", ",", "]}")
    })
    pages("CTYPE", Seq("""{"value": [{"TYPECODE": "A"}, {"TYPECODE": "B"}]}"""))
    root
  }

  private val refreshConfig = ExtractionConfig("ds1", "n", "a1", systemTimezone = "UTC",
    entities = Seq(
      EntityConfig("ORDERS", filterFlag = true, filterField = "CURDATE",
        expand = Seq("ORDERITEMS"), dataStartDate = "2023-01-01 00:00:00"),
      EntityConfig("CTYPE")))

  test("RefreshJob over JDBC: one job per staged frame, an entity's frames " +
    "written concurrently") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val url = s"jdbc:derby:memory:frames${System.nanoTime()};create=true"
    // two connections for three pages: the cap narrows, and still
    // costs no shuffle
    val jdbc = new JdbcStagingWriter(spark, url, maxConnections = 2)
    val childStarted = new CountDownLatch(1)
    @volatile var overlapped = false
    val writer = new EntityWriter {
      override def writeEntity(df: DataFrame, entity: String, append: Boolean): Long = {
        // the parent's write waits for the child's to start: a serial
        // runEntity times out here and fails the assert below
        if (entity == "orders") overlapped = childStarted.await(20, TimeUnit.SECONDS)
        else childStarted.countDown()
        jdbc.writeEntity(df, entity, append)
      }
      override def promote(entity: String, pk: Seq[String]): Long = jdbc.promote(entity, pk)
    }
    val job = new graft.run.RefreshJob(spark,
      new graft.sources.odata.ODataEntitySource(spark, odataRoot()), writer)
    val cfg = refreshConfig.copy(entities = refreshConfig.entities.take(1))

    val tag = s"frames-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          jobs.incrementAndGet()
          sites.add(e.stageInfos.maxBy(_.stageId).name)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val (report, updated) =
      try {
        val r = job.run(cfg, incremental = false)
        // the listener bus is async — poll until the count is stable
        var last = -1
        var spins = 0
        while (jobs.get() != last && spins < 50) {
          last = jobs.get(); Thread.sleep(100); spins += 1
        }
        r
      } finally {
        sc.removeJobTag(tag)
        sc.removeSparkListener(listener)
      }
    assert(report.errors.isEmpty, report.errors)
    // parent first, then children by name
    assert(report.tables.map(t => (t.tableName, t.recordsWritten)) ==
      Seq("stg_orders" -> 6L, "stg_orderitems" -> 12L))
    assert(overlapped, "the child write did not start while the parent's was waiting")
    import scala.jdk.CollectionConverters._
    assert(jobs.get() == report.tables.size,
      s"${jobs.get()} jobs for ${report.tables.size} staged frames: ${sites.asScala}")
    // the watermark still comes from the parent's observation
    assert(updated.entities.head.lastRun.contains("2024-03-02 00:00:00"))
    assert(jdbc.read("ORDERITEMS").count() == 12)
  }

  test("RefreshJob over JDBC: a failed child frame cancels the parent's " +
    "write, keeps the watermark, and spares the other entities") {
    import org.apache.spark.sql.functions.{col, udf}
    val url = s"jdbc:derby:memory:framefail${System.nanoTime()};create=true"
    val jdbc = new JdbcStagingWriter(spark, url)
    val sc = spark.sparkContext
    val parentTag = s"slow-parent-${java.util.UUID.randomUUID()}"
    def parentRunning: Boolean = sc.statusTracker.getJobIdsForTag(parentTag).exists(id =>
      sc.statusTracker.getJobInfo(id).exists(
        _.status == org.apache.spark.JobExecutionStatus.RUNNING))
    val nap = udf { (q: Long) => Thread.sleep(60000L); q }
    val writer = new EntityWriter {
      override def writeEntity(df: DataFrame, entity: String, append: Boolean): Long =
        entity match {
          case "orders" =>
            // a parent write that holds its job until it is cancelled
            sc.addJobTag(parentTag)
            jdbc.writeEntity(df.withColumn("qty", nap(col("qty"))), entity, append)
          case "orderitems" =>
            val deadline = System.nanoTime() + 30000000000L
            while (!parentRunning && System.nanoTime() < deadline) Thread.sleep(20)
            throw new IllegalStateException("planted child write failure")
          case _ => jdbc.writeEntity(df, entity, append)
        }
      override def promote(entity: String, pk: Seq[String]): Long = jdbc.promote(entity, pk)
    }
    val job = new graft.run.RefreshJob(spark,
      new graft.sources.odata.ODataEntitySource(spark, odataRoot()), writer)
    val cfg = refreshConfig.copy(entities = refreshConfig.entities.map(e =>
      if (e.entityId == "ORDERS") e.copy(lastRun = Some("2023-06-01 00:00:00")) else e))

    val t0 = System.nanoTime()
    val (report, updated) = job.run(cfg, incremental = true)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      s"jobs still running: ${sc.statusTracker.getActiveJobIds().toSeq}")
    assert(sec < 30, s"run waited $sec s for the sleeping parent write")
    assert(report.errors.map(_.entityId) == Seq("ORDERS"), report.errors)
    assert(report.errors.head.message.contains("planted child write failure"))
    assert(updated.entities.find(_.entityId == "ORDERS").get.lastRun
      .contains("2023-06-01 00:00:00"), "a failed entity advanced its watermark")
    assert(report.tables.map(_.tableName) == Seq("stg_ctype"))
    assert(jdbc.read("CTYPE").count() == 2)
  }

  private def config = ExtractionConfig(
    "ds1", "priority_companyA", "acct9", systemTimezone = "UTC",
    uri = "sim://priority/",
    entities = Seq(
      EntityConfig("ORDERS", filterFlag = true, filterField = "o_orderdate",
        expand = Seq("ORDERITEMS"), dataStartDate = "1990-01-01 00:00:00"),
      EntityConfig("REGION")))

  test("initialDataLoad merges deploy + run reports; probes report per entity") {
    val writer = new StagingWriter(spark, tmpDir("wh"))
    val platform = new Platform(spark, new ParquetSimSource(spark, sf),
      new SchemaRegistry(), writer)
    try {
      val resp = platform.initialDataLoad(config)
      assert(resp.database == "acc_acct9")
      assert(resp.report.errors.isEmpty)
      assert(resp.report.tables.map(_.tableName).toSet ==
        Set("stg_orders", "stg_orderitems", "stg_region"))
      // no metadata registered: deploy reports failures rather than throwing
      assert(resp.deploy.failed.nonEmpty && resp.deploy.success.isEmpty)

      val probes = platform.testEntities(config)
      assert(probes.map(_.result).forall(_ == "200 OK"))
      assert(probes.head.url == "sim://priority/ORDERS?$top=1")

      assert(platform.ping(Some("REGION")).values.forall(identity))
      assert(platform.info("engine") == "graft")
    } finally spark.sql("DROP DATABASE IF EXISTS acc_acct9 CASCADE")
  }

  test("k8: partition pruning — the filtered scan reads ONLY the matching partition's files") {
    import org.apache.spark.sql.functions.col
    val out = s"${tmpDir("part_pin")}/orders_by_status"
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val df = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    // collect() executes THIS queryExecution's plan (count() would build
    // a separate aggregate plan whose metrics this scan never sees)
    assert(df.collect().nonEmpty)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString.take(1500))
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("o_orderstatus"),
      s"no partition filter pushed: ${scan.metadata("PartitionFilters")}")
    def parquetFiles(p: java.io.File): Int =
      Option(p.listFiles).toSeq.flatten.map {
        case d if d.isDirectory => parquetFiles(d)
        case f if f.getName.endsWith(".parquet") => 1
        case _ => 0
      }.sum
    val fFiles = parquetFiles(new java.io.File(s"$out/o_orderstatus=F"))
    val allFiles = parquetFiles(new java.io.File(out))
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles == fFiles && numFiles < allFiles,
      s"scan read $numFiles files; F partition has $fFiles of $allFiles total")
  }

  test("k9: bucketed co-located join runs with ZERO shuffle exchanges (control join has them)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    graft.queries.Queries.k9WriteBucketedTables(spark, sf)
    // broadcast would hide the proof: a tiny dimension side gets
    // broadcast regardless of layout — disable it so the shuffle-free
    // plan can only come from the bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.count()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      }
      val bucketed = finalPlan(
        spark.table("k9_orders_b").join(spark.table("k9_customer_b"),
          col("o_custkey") === col("c_custkey")))
      val nBucketed = bucketed.collect { case e: ShuffleExchangeLike => e }.size
      assert(nBucketed == 0,
        s"bucketed join shuffled ($nBucketed exchanges):\n${bucketed.toString.take(1500)}")
      assert(bucketed.toString.contains("SortMergeJoin"), bucketed.toString.take(1500))
      // control: the SAME join over plain parquet must shuffle both sides
      val plain = finalPlan(
        spark.read.parquet(s"$sf/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .join(spark.read.parquet(s"$sf/customer.parquet")
            .select("c_custkey", "c_mktsegment"),
            col("o_custkey") === col("c_custkey")))
      val nPlain = plain.collect { case e: ShuffleExchangeLike => e }.size
      assert(nPlain == 2,
        s"control join should shuffle both sides, got $nPlain:\n${plain.toString.take(1500)}")
      // and the bucketed join's VALUES equal the plain join's
      assert(graft.queries.Queries.k9BucketedJoin(spark, sf).collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ==
        spark.read.parquet(s"$sf/orders.parquet")
          .join(spark.read.parquet(s"$sf/customer.parquet"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS k9_orders_b")
      spark.sql("DROP TABLE IF EXISTS k9_customer_b")
    }
  }
}
