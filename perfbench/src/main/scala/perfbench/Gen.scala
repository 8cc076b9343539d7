package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input a workload hands the program is
  * rendered here from `--seed`; the same seed gives byte-identical
  * inputs. */
object Gen {

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  // ---------------------------------------------------------------- ERP

  /** Row counts of the bulk-load entities (TPC-H sf0.1 shape). */
  val Orders = 150000
  val ItemsPerOrder = 4
  val Customers = 15000
  val Regions = 5

  /** Fields of the four loaded entities: (name, Edm type, key). */
  val ErpEntities: Seq[(String, Seq[(String, String, Boolean)])] = Seq(
    "ORDERS" -> Seq(("O_ORDERKEY", "Edm.Int64", true), ("O_CUSTKEY", "Edm.Int64", false),
      ("O_ORDERSTATUS", "Edm.String", false), ("O_TOTALPRICE", "Edm.Decimal", false),
      ("O_ORDERDATE", "Edm.DateTimeOffset", false), ("O_ORDERPRIORITY", "Edm.String", false),
      ("O_COMMENT", "Edm.String", false)),
    "ORDERITEMS" -> Seq(("L_ORDERKEY", "Edm.Int64", true), ("L_LINENUMBER", "Edm.Int64", true),
      ("L_PARTKEY", "Edm.Int64", false), ("L_SUPPKEY", "Edm.Int64", false),
      ("L_QUANTITY", "Edm.Decimal", false), ("L_EXTENDEDPRICE", "Edm.Decimal", false),
      ("L_DISCOUNT", "Edm.Decimal", false), ("L_RETURNFLAG", "Edm.String", false),
      ("L_SHIPDATE", "Edm.DateTimeOffset", false)),
    "CUSTOMER" -> Seq(("C_CUSTKEY", "Edm.Int64", true), ("C_NAME", "Edm.String", false),
      ("C_NATIONKEY", "Edm.Int64", false), ("C_ACCTBAL", "Edm.Decimal", false),
      ("C_MKTSEGMENT", "Edm.String", false)),
    "REGION" -> Seq(("R_REGIONKEY", "Edm.Int64", true), ("R_NAME", "Edm.String", false),
      ("R_COMMENT", "Edm.String", false)))

  /** Entity count of the reference's published `$metadata` document. */
  val MetadataEntities = 3755

  private val EdmTypes = Array("Edm.String", "Edm.Decimal", "Edm.DateTimeOffset", "Edm.Int64")

  /** A `$metadata` document: the `fixed` entities first, then seeded
    * filler entities (4-14 fields, one or two keys, some described) up
    * to `total` EntityTypes. */
  def metadataXml(seed: Long, fixed: Seq[(String, Seq[(String, String, Boolean)])],
      total: Int = MetadataEntities): String = {
    val r = rng(seed, 1)
    val sb = new StringBuilder("""<edmx:Edmx><edmx:DataServices><Schema Namespace="Priority">""")
    def entity(name: String, fields: Seq[(String, String, Boolean)], desc: String): Unit = {
      sb.append(s"""<EntityType Name="$name"><Key>""")
      fields.filter(_._3).foreach(f => sb.append(s"""<PropertyRef Name="${f._1}"/>"""))
      sb.append("</Key>")
      fields.foreach { case (n, t, _) => sb.append(s"""<Property Name="$n" Type="$t"/>""") }
      if (desc.nonEmpty)
        sb.append(s"""<Annotation Term="Core.Description" String="$desc"/>""")
      sb.append("</EntityType>")
    }
    fixed.foreach { case (n, fs) => entity(n, fs, n.toLowerCase) }
    var i = fixed.size
    while (i < total) {
      val nf = 4 + r.nextInt(11)
      val nk = 1 + r.nextInt(2)
      val fields = (0 until nf).map { j =>
        (f"F$j%02d_${r.nextInt(1 << 16)}%04X", if (j < nk) "Edm.String" else EdmTypes(r.nextInt(4)), j < nk)
      }
      entity(f"E$i%05d", fields, if (r.nextInt(3) == 0) s"entity $i" else "")
      i += 1
    }
    sb.append("</Schema></edmx:DataServices></edmx:Edmx>").toString
  }

  /** Deterministic per-row hash stream: independent of partitioning. */
  private def h(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def pick(seed: Long, k: Int, n: Int): Column = pmod(h(seed, k), lit(n.toLong))
  private def day(seed: Long, k: Int): Column =
    timestamp_seconds(lit(694224000L) + pick(seed, k, 2400) * 86400L) // from 1992-01-01
  private def word(seed: Long, k: Int): Column =
    concat(lit("w"), conv(pmod(h(seed, k), lit(1L << 30)).cast("string"), 10, 36))

  /** Write the bulk-load source tables as parquet under `dir`
    * (`orders`, `lineitem`, `customer`, `region`), the layout
    * `ParquetSimSource` reads. */
  def erpTables(spark: SparkSession, seed: Long, dir: String, parts: Int): Unit = {
    def range(n: Long): DataFrame = spark.range(0, n, 1, parts).toDF()
    val statuses = array(lit("O"), lit("F"), lit("P"))
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    range(Orders).select(
      (col("id") + 1).as("o_orderkey"),
      (pick(seed, 1, Customers) + 1).as("o_custkey"),
      element_at(statuses, (pick(seed, 2, 3) + 1).cast("int")).as("o_orderstatus"),
      (pick(seed, 3, 50000000) / 100.0).as("o_totalprice"),
      day(seed, 4).as("o_orderdate"),
      element_at(prios, (pick(seed, 5, 5) + 1).cast("int")).as("o_orderpriority"),
      concat_ws(" ", word(seed, 6), word(seed, 7), word(seed, 8)).as("o_comment"))
      .write.parquet(s"$dir/orders.parquet")
    range(Orders.toLong * ItemsPerOrder).select(
      (col("id") / ItemsPerOrder + 1).cast("long").as("l_orderkey"),
      (pmod(col("id"), lit(ItemsPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 11, 20000) + 1).as("l_partkey"),
      (pick(seed, 12, 1000) + 1).as("l_suppkey"),
      (pick(seed, 13, 50) + 1).cast("double").as("l_quantity"),
      (pick(seed, 14, 10000000) / 100.0).as("l_extendedprice"),
      (pick(seed, 15, 11) / 100.0).as("l_discount"),
      element_at(array(lit("R"), lit("A"), lit("N")), (pick(seed, 16, 3) + 1).cast("int"))
        .as("l_returnflag"),
      day(seed, 17).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
    range(Customers).select(
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      pick(seed, 21, 25).cast("int").as("c_nationkey"),
      (pick(seed, 22, 1100000) / 100.0 - 999.99).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .map(lit): _*), (pick(seed, 23, 5) + 1).cast("int")).as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    spark.range(0, Regions, 1, 1).toDF().select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"),
      concat_ws(" ", word(seed, 31), word(seed, 32)).as("r_comment"))
      .write.parquet(s"$dir/region.parquet")
  }

  // ------------------------------------------------------------ OData

  /** Fields of the refresh entities as served in the OData pages. */
  val RefreshEntities: Seq[(String, Seq[(String, String, Boolean)])] = Seq(
    "ORDERS" -> Seq(("ORDNAME", "Edm.String", true), ("CUSTNAME", "Edm.String", false),
      ("QPRICE", "Edm.Decimal", false), ("CURDATE", "Edm.DateTimeOffset", false),
      ("ORDSTATUSDES", "Edm.String", false)),
    "ORDERITEMS" -> Seq(("KLINE", "Edm.Int64", false), ("PARTNAME", "Edm.String", false),
      ("TQUANT", "Edm.Int64", false), ("PRICE", "Edm.Decimal", false),
      ("DUEDATE", "Edm.DateTimeOffset", false)),
    "CTYPE" -> Seq(("TYPECODE", "Edm.String", true), ("TYPEDES", "Edm.String", false)))

  val OrdersPerPage = 40
  val HistoryOrders = 2000
  val CtypeRows = 5
  private val BaseEpochSec = 1704067200L // 2024-01-01 00:00:00 UTC
  private val OrderGapSec = 10L

  /** The rendered OData server and what each clock step reveals.
    * Slice 0 is the history the initial load sees; slice k >= 1 is what
    * refresh cycle k reveals. `clockSec(k)` is the inclusive upper
    * bound of slice k; `maxTsSec(k)` its last order's CURDATE. */
  final case class ODataServer(
      root: String,
      sliceOrders: Array[Int],
      sliceItems: Array[Int],
      maxTsSec: Array[Long],
      clockSec: Array[Long],
      slicePages: Array[Range]) {

    /** Page files (as `<ENTITY>/<file>`) holding at least one row slice
      * `k` reveals: its ORDERS pages and the CTYPE page. */
    def hitPages(k: Int): Set[String] =
      slicePages(k).map(p => f"ORDERS/page_$p%05d.json").toSet + "CTYPE/page_00000.json"
  }

  /** Render a static page directory: `ORDERS/` (orders with nested
    * `ORDERITEMS_SUBFORM`, CURDATE ascending, [[OrdersPerPage]] per
    * page, with `_counts.meta` and a timestamp `_ranges.meta`) and
    * `CTYPE/` (one page). Slices after the history are 80-108 orders. */
  def odataServer(seed: Long, root: Path, cycles: Int): ODataServer = {
    val r = rng(seed, 2)
    val sizes = HistoryOrders +: Array.fill(cycles)(80 + r.nextInt(29))
    val total = sizes.sum
    val ends = sizes.scanLeft(0)(_ + _).tail // exclusive end order index of each slice
    def tsOf(i: Int): Long = BaseEpochSec + i * OrderGapSec
    val items = Array.fill(total)(1 + r.nextInt(7))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val ordersDir = Files.createDirectories(root.resolve("ORDERS"))
    val counts = m.createObjectNode()
    val ranges = m.createObjectNode()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def iso(sec: Long): String = fmt.format(java.time.Instant.ofEpochSecond(sec))
    val statuses = Array("Open", "Closed", "Draft", "Sent")
    (0 until total).grouped(OrdersPerPage).zipWithIndex.foreach { case (page, p) =>
      val name = f"page_$p%05d.json"
      val node = m.createObjectNode()
      val arr = node.putArray("value")
      page.foreach { i =>
        val o = arr.addObject()
        o.put("ORDNAME", f"SO$i%08d")
        o.put("CUSTNAME", f"C${r.nextInt(5000)}%05d")
        o.put("QPRICE", r.nextInt(10000000) / 100.0)
        o.put("CURDATE", iso(tsOf(i)))
        o.put("ORDSTATUSDES", statuses(r.nextInt(statuses.length)))
        val sub = o.putArray("ORDERITEMS_SUBFORM")
        (1 to items(i)).foreach { k =>
          val it = sub.addObject()
          it.put("KLINE", k.toLong)
          it.put("PARTNAME", f"P${r.nextInt(20000)}%06d")
          it.put("TQUANT", (1 + r.nextInt(50)).toLong)
          it.put("PRICE", r.nextInt(1000000) / 100.0)
          it.put("DUEDATE", iso(tsOf(i) + 86400L * (1 + r.nextInt(30))))
        }
      }
      Files.write(ordersDir.resolve(name), m.writeValueAsBytes(node))
      counts.put(name, page.size.toLong)
      val tr = ranges.putObject(name).putObject("CURDATE")
      tr.put("t", "ts"); tr.put("lo", tsOf(page.head) * 1000000L); tr.put("hi", tsOf(page.last) * 1000000L)
    }
    Files.write(ordersDir.resolve("_counts.meta"), m.writeValueAsBytes(counts))
    Files.write(ordersDir.resolve("_ranges.meta"), m.writeValueAsBytes(ranges))

    val ctypeDir = Files.createDirectories(root.resolve("CTYPE"))
    val cnode = m.createObjectNode()
    val carr = cnode.putArray("value")
    (0 until CtypeRows).foreach { i =>
      val o = carr.addObject()
      o.put("TYPECODE", s"T$i")
      o.put("TYPEDES", s"type ${r.nextInt(1000)}")
    }
    Files.write(ctypeDir.resolve("page_00000.json"), m.writeValueAsBytes(cnode))

    val starts = 0 +: ends.init
    ODataServer(
      root.toString,
      sizes,
      sizes.indices.map(k => (starts(k) until ends(k)).map(items(_)).sum).toArray,
      ends.map(e => tsOf(e - 1)),
      ends.map(e => tsOf(e - 1) + OrderGapSec / 2),
      sizes.indices.map(k => starts(k) / OrdersPerPage to (ends(k) - 1) / OrdersPerPage).toArray)
  }

  // ----------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String)

  /** One increment batch and the funnel counts its construction implies. */
  final case class Batch(id: Long, docs: Seq[Doc], expected: Map[String, Long])

  final case class Corpus(standing: Seq[Doc], evalTexts: Seq[String], batches: IndexedSeq[Batch])

  val StandingDocs = 1250
  val BatchNew = 200
  val BatchContaminated = 10
  val BatchExactOfHistory = 20
  val BatchNearOfHistory = 20
  val BatchTwins = 15
  private val Stop = Array("the", "a", "of", "and", "to", "in")

  /** Standing corpus, eval texts and `batches` increment batches (the
    * x68 construction). Every document passes the Gopher gate; each
    * batch holds new documents plus planted exact copies of standing
    * documents, near copies of standing documents (3-word suffix),
    * within-batch near twins of its own new documents, and new
    * documents that embed an eval text (contaminated). */
  def corpus(seed: Long, batches: Int): Corpus = {
    val r = rng(seed, 3)
    val vocab = Array.fill(4000) {
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
    def words(n: Int): Seq[String] =
      Seq.fill(n)(if (r.nextInt(100) < 18) Stop(r.nextInt(Stop.length)) else vocab(r.nextInt(vocab.length)))
    def text(): String = words(60 + r.nextInt(50)).mkString(" ")
    val standing = (1 to StandingDocs).map(i => Doc(i.toLong, text()))
    val evalTexts = IndexedSeq.fill(64)(Seq.fill(21)(vocab(r.nextInt(vocab.length))).mkString(" "))
    val bs = (1 to batches).map { b =>
      val base = b.toLong * 1000000L
      val fresh = (0 until BatchNew).map(j => Doc(base + j, text()))
      val contaminated = (0 until BatchContaminated).map { j =>
        Doc(base + 100000 + j, (words(30) ++ Seq(evalTexts(r.nextInt(evalTexts.size))) ++ words(30)).mkString(" "))
      }
      def sample(n: Int, from: Int): Seq[Int] =
        Iterator.continually(r.nextInt(from)).distinct.take(n).toSeq
      val exact = sample(BatchExactOfHistory, standing.size).zipWithIndex
        .map { case (s, j) => Doc(base + 200000 + j, standing(s).text) }
      val near = sample(BatchNearOfHistory, standing.size).zipWithIndex
        .map { case (s, j) => Doc(base + 300000 + j, standing(s).text + " zz incr suffix") }
      val twins = sample(BatchTwins, fresh.size).zipWithIndex
        .map { case (s, j) => Doc(base + 400000 + j, fresh(s).text + " qq batch twin") }
      val docs = fresh ++ contaminated ++ exact ++ near ++ twins
      val raw = docs.size.toLong
      Batch(b.toLong, docs, Map(
        "1_raw" -> raw,
        "2_gate_passed" -> raw,
        "3_exact_unique" -> (raw - exact.size),
        "4_neardup_kept" -> (fresh.size + contaminated.size).toLong,
        "5_clean" -> fresh.size.toLong))
    }
    Corpus(standing, evalTexts, bs)
  }

  /** Documents as the `doc_id, text, lang, source` frame the prep job reads. */
  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, "en", if (d.id % 2 == 0) "web" else "news"))
      .toDF("doc_id", "text", "lang", "source")
  }
}
