package graft.sources.odata

import org.apache.spark.sql.functions.{col, pmod, lit}
import org.apache.spark.sql.types._

import graft.util.Artifact

/** Offline OData "server" materializer: renders a bounded, deterministic
  * slice of the `orders` parquet fixture as page files in the response
  * shape one paged GET returns — `{"value": [ {...}, ... ]}`
  * (reference `resources/priorityDataSource.py:717-721` unwraps the
  * same `value` array) — so the DSv2 connector's pushdown path can be
  * ORACLE-gated end-to-end (`s1_odata_scan`): the gate reads these
  * pages through `spark.read.format("graft-odata")` with a pushed
  * filter + limit and must hash-match DuckDB over the same parquet
  * rows.
  *
  * The slice is every (`o_orderkey` % [[Modulus]] == 0) order — 1/100
  * of the table, so the driver-side render stays bounded (1,500 rows at
  * sf0.1) while still spanning many pages. Rows are sorted by
  * `o_orderkey` and chunked [[PageSize]] per page: page content is a
  * pure function of the fixture, so every Verify/Bench rep regenerates
  * byte-identical pages. Longs and strings only — JSON round-trips them
  * exactly; doubles/timestamps would re-open the float-format and
  * timezone hazards the connector's unit tests cover separately.
  *
  * Each render is a shared [[graft.util.Artifact]]: page files are
  * immutable once written, so bench reps and repeated Verify calls
  * reuse one render per fixture state. Renders are NOT tracked by
  * Scratch — the bench sweeps Scratch dirs between queries, which
  * would orphan a render mid-run.
  */
object ODataPages {

  val Modulus = 100
  val PageSize = 200

  /** The gate's explicit read schema (schema inference is covered by
    * ODataSourceSpec; the gate pins the pushdown path, not inference). */
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_orderpriority", StringType)))

  /** Element schema of the nested `ORDERITEMS_SUBFORM` array in the
    * expand pages — longs + a string only, like [[ordersSchema]]. */
  val orderitemsElement: StructType = StructType(Seq(
    StructField("l_linenumber", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_returnflag", StringType)))

  /** Render (once) the `$expand` response shape: a ROOT directory with
    * `ORDERS/page_*.json`, each order row carrying its lineitems
    * inline as `ORDERITEMS_SUBFORM: [...]` — the nested shape the
    * reference requests with `$expand=ORDERITEMS_SUBFORM`
    * (`resources/priorityDataSource.py:680-690`) and the connector
    * infers as array<struct>. Same bounded `o_orderkey % 100` slice;
    * orders with no lineitems are not served (the first page's first
    * row anchors array-element schema inference, and the child-side
    * oracle is an inner join — itemless parents contribute nothing
    * either way). Items are sorted by `l_linenumber` inside each
    * order and orders by key: byte-identical pages every render. */
  val ordersExpandRoot: Artifact[String] = Artifact("odata_expand") { (spark, sfDir) =>
    import org.apache.spark.sql.functions.{collect_list, sort_array, struct}
    val items = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(pmod(col("l_orderkey"), lit(Modulus)) === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_returnflag"))))
        .as("its"))
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(Modulus)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .join(items, col("o_orderkey") === col("l_orderkey"))
      .orderBy("o_orderkey")
      .select("o_orderkey", "o_orderstatus", "its")
      .collect() // bounded: 1/Modulus of orders — see Scaladoc
    val root = java.nio.file.Files.createTempDirectory("odata_root")
    val dir = root.resolve("ORDERS")
    java.nio.file.Files.createDirectory(dir)
    val m = ODataTableProvider.mapper
    rows.grouped(PageSize).zipWithIndex.foreach { case (page, i) =>
      val rootNode = m.createObjectNode()
      val arr = rootNode.putArray("value")
      page.foreach { r =>
        val o = arr.addObject()
        o.put("o_orderkey", r.getLong(0))
        o.put("o_orderstatus", r.getString(1))
        val sub = o.putArray("ORDERITEMS_SUBFORM")
        r.getSeq[org.apache.spark.sql.Row](2).foreach { it =>
          val e = sub.addObject()
          e.put("l_linenumber", it.getLong(0))
          e.put("l_partkey", it.getLong(1))
          e.put("l_suppkey", it.getLong(2))
          e.put("l_returnflag", it.getString(3))
        }
      }
      java.nio.file.Files.write(
        dir.resolve(f"page_$i%05d.json"),
        m.writeValueAsBytes(rootNode))
    }
    root.toString
  }

  val EventsModulus = 40
  val EventsPageSize = 60

  /** The watermark-server gate's explicit read schema (s12): the
    * timestamp column is the point — the reference's ONE production
    * incremental predicate is `filterField ge <ISO timestamp>`
    * (`resources/priorityDataSource.py:646-675`). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** Render (once) the TIMESTAMP-ordered events page server: the
    * `event_id % 40 = 0` slice sorted by (ts, event_id) and chunked
    * [[EventsPageSize]] per page — the layout a server that serves
    * rows in arrival order produces, where a watermark predicate
    * should read only the TAIL pages. `ts` serializes as a naive ISO
    * string with exact microseconds (OData's Edm.DateTimeOffset wire
    * shape; [[ODataFilters.toMicros]] parses naive as UTC — the
    * session convention — so the round trip is exact at micro
    * precision, none of the float/timezone hazards the orders pages'
    * scaladoc avoids). The `_ranges.meta` sidecar carries `event_id`
    * as plain long bounds AND `ts` as tagged epoch-micros bounds
    * (`{"t":"ts","lo":…,"hi":…}`) — both sidecar shapes in one
    * directory, exercising the mixed-shape reader. */
  val eventsPages: Artifact[String] = Artifact("odata_events") { (spark, sfDir) =>
    val rows = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(pmod(col("event_id"), lit(EventsModulus)) === 0)
      // the fixture's physical ts is TIMESTAMP_NTZ (or raw nanos on
      // old renders) — cast through TimestampType under the session
      // UTC zone, the ParquetSimSource convention
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
      .orderBy("ts", "event_id")
      .collect() // bounded: 1/EventsModulus of events — see Scaladoc
    val dir = java.nio.file.Files.createTempDirectory("odata_events")
    val m = ODataTableProvider.mapper
    val counts = m.createObjectNode()
    val ranges = m.createObjectNode()
    // the ONE shared Timestamp→micros conversion (ODataFilters):
    // sidecar bounds and row-side eval must agree bit-for-bit
    def micros(t: java.sql.Timestamp): Long = ODataFilters.micros(t)
    def iso(us: Long): String = {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      java.time.format.DateTimeFormatter
        .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC).format(inst)
    }
    rows.grouped(EventsPageSize).zipWithIndex.foreach { case (page, i) =>
      val root = m.createObjectNode()
      val arr = root.putArray("value")
      page.foreach { r =>
        val o = arr.addObject()
        o.put("event_id", r.getLong(0))
        o.put("ts", iso(micros(r.getTimestamp(1))))
        o.put("user_id", r.getLong(2))
        o.put("event_type", r.getString(3))
      }
      java.nio.file.Files.write(
        dir.resolve(f"page_$i%05d.json"), m.writeValueAsBytes(root))
      counts.put(f"page_$i%05d.json", page.length.toLong)
      val pr = ranges.putObject(f"page_$i%05d.json")
      val ids = page.map(_.getLong(0))
      val ar = pr.putArray("event_id")
      ar.add(ids.min); ar.add(ids.max)
      val tss = page.map(r => micros(r.getTimestamp(1)))
      val tr = pr.putObject("ts")
      tr.put("t", "ts"); tr.put("lo", tss.min); tr.put("hi", tss.max)
    }
    java.nio.file.Files.write(
      dir.resolve("_counts.meta"), m.writeValueAsBytes(counts))
    java.nio.file.Files.write(
      dir.resolve("_ranges.meta"), m.writeValueAsBytes(ranges))
    dir.toString
  }

  val LinkedModulus = 97
  val LinkedPageSize = 60

  /** Render (once) the CONTINUATION-TOKEN page "server": the
    * `o_orderkey % 97 = 0` orders slice chunked into pages whose file
    * names are opaque md5 tokens, each page carrying the next page's
    * token as `@odata.nextLink` (the last page carries none) and a
    * `_head.meta` sidecar declaring the entry token — the offline
    * stand-in for a server that reveals page N+1 only with page N
    * (the reference's `@odata.nextLink` walk,
    * `resources/priorityDataSource.py:629-736`). Token names are NOT
    * name-ordered like the `$skip` server's `page_%05d` files, and a
    * DECOY page (valid JSON, one poisoned row, no inbound link) sits
    * in the same directory: a connector that LISTED the directory
    * instead of walking the chain would read pages out of chain
    * shape AND serve the decoy row — the s8 hash gate and the
    * ODataSourceSpec e2e both catch it. No `_counts.meta` is
    * rendered: a token server cannot support plan-time OFFSET
    * conversion, so `pushOffset` declines by construction. */
  val ordersLinkedPages: Artifact[String] = Artifact("odata_linked") { (spark, sfDir) =>
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(LinkedModulus)) === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .orderBy("o_orderkey")
      .collect() // bounded: 1/LinkedModulus of orders — see Scaladoc
    val dir = java.nio.file.Files.createTempDirectory("odata_linked")
    val m = ODataTableProvider.mapper
    def token(i: Int): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-odata-page-$i".getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
      s"tok_$h.json"
    }
    // an empty slice still serves ONE (empty) head page — the chain
    // walk needs a resolvable head, and an empty `value` array is
    // exactly what a real server returns for an empty entity
    val pages =
      if (rows.isEmpty) Seq(Array.empty[org.apache.spark.sql.Row])
      else rows.grouped(LinkedPageSize).toSeq
    pages.zipWithIndex.foreach { case (page, i) =>
      val root = m.createObjectNode()
      val arr = root.putArray("value")
      page.foreach { r =>
        val o = arr.addObject()
        o.put("o_orderkey", r.getLong(0))
        o.put("o_custkey", r.getLong(1))
        o.put("o_orderstatus", r.getString(2))
        o.put("o_orderpriority", r.getString(3))
      }
      if (i + 1 < pages.size)
        root.put(ODataTableProvider.NextLink, token(i + 1))
      java.nio.file.Files.write(
        dir.resolve(token(i)), m.writeValueAsBytes(root))
    }
    // the decoy: listed by a directory scan, unreachable by the chain
    val decoy = m.createObjectNode()
    val darr = decoy.putArray("value")
    val drow = darr.addObject()
    drow.put("o_orderkey", -1L)
    drow.put("o_custkey", -1L)
    drow.put("o_orderstatus", "X")
    drow.put("o_orderpriority", "0-DECOY")
    java.nio.file.Files.write(
      dir.resolve("tok_decoy.json"), m.writeValueAsBytes(decoy))
    val headMeta = m.createObjectNode()
    headMeta.put("head", token(0))
    java.nio.file.Files.write(
      dir.resolve(ODataTableProvider.HeadMeta),
      m.writeValueAsBytes(headMeta))
    dir.toString
  }

  /** Render (once) and return the page directory for `sfDir`'s orders. */
  val ordersPages: Artifact[String] = Artifact("odata_pages") { (spark, sfDir) =>
    val rows = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(Modulus)) === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .orderBy("o_orderkey")
      .collect() // bounded: 1/Modulus of orders, sorted — see Scaladoc
    val dir = java.nio.file.Files.createTempDirectory("odata_pages")
    val m = ODataTableProvider.mapper
    val counts = m.createObjectNode()
    val ranges = m.createObjectNode()
    rows.grouped(PageSize).zipWithIndex.foreach { case (page, i) =>
      val root = m.createObjectNode()
      val arr = root.putArray("value")
      page.foreach { r =>
        val o = arr.addObject()
        o.put("o_orderkey", r.getLong(0))
        o.put("o_custkey", r.getLong(1))
        o.put("o_orderstatus", r.getString(2))
        o.put("o_orderpriority", r.getString(3))
      }
      java.nio.file.Files.write(
        dir.resolve(f"page_$i%05d.json"),
        m.writeValueAsBytes(root))
      counts.put(f"page_$i%05d.json", page.length.toLong)
      // per-page [min, max] of the long key columns — what a paged
      // server ordered by key knows for free about each page slice
      // (the runtime-filtering analogue of a parquet footer's
      // column range): page pruning metadata, never row data
      val pr = ranges.putObject(f"page_$i%05d.json")
      Seq("o_orderkey" -> 0, "o_custkey" -> 1).foreach { case (c, idx) =>
        val vs = page.map(_.getLong(idx))
        val ar = pr.putArray(c)
        ar.add(vs.min); ar.add(vs.max)
      }
    }
    // per-page row counts — the metadata that lets a pushed global
    // OFFSET ($skip) convert into (start page, in-page skip) at PLAN
    // time without reading any page. The production server publishes
    // the same knowledge through $count/$skiptoken paging.
    java.nio.file.Files.write(
      dir.resolve("_counts.meta"), m.writeValueAsBytes(counts))
    // per-page key ranges — feeds SupportsRuntimeFiltering page
    // pruning (dim-join build keys pruning fact pages at EXECUTION
    // time, the DSv2 dynamic-partition-pruning rung)
    java.nio.file.Files.write(
      dir.resolve("_ranges.meta"), m.writeValueAsBytes(ranges))
    dir.toString
  }
}
