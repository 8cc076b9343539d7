package graft.sources.odata

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, NamedReference, NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 OData connector (SURVEY.md §2.1 S1 production design):
  * the real pushdown contract — `SupportsPushDownFilters`,
  * `SupportsPushDownLimit`, `SupportsPushDownTopN`,
  * `SupportsPushDownRequiredColumns` — with paged, executor-side
  * reads.
  *
  * Offline (zero egress), the "server" is a directory of page files,
  * each the OData response shape `{"value": [ {...}, ... ]}` — exactly
  * what one paged GET returns (priorityDataSource.py:717-721 unwraps the
  * same `value` array). The production transport swaps the page-file
  * read in [[ODataPartitionReader]] for an HTTP GET of
  * `uri + entity + $filter/$top/$select + $skiptoken`; every planning
  * and pushdown decision stays.
  *
  * Scale design: one InputPartition per page means a 1000-executor
  * cluster fetches pages in parallel instead of the reference's serial
  * driver loop (priorityDataSource.py:161). Pushed filters are compiled
  * to the `$filter` string (visible in the scan description / explain)
  * AND applied row-side, so correctness never depends on the server
  * honoring the predicate. A pushed limit caps every page reader.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-odata")
  *     .schema(s).option("path", dir).load()
  * }}}
  */
final class ODataTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-odata"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ODataTableProvider.inferSchema(listingOf(options.get("path")))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ODataTable(schema, listingOf(properties.get("path")))

  // one provider instance serves one load(): the listing inferSchema
  // made is the one the table plans from
  private var listed: Option[ODataListing] = None

  private def listingOf(path: String): ODataListing =
    listed.filter(_.path == path).getOrElse {
      val l = new ODataListing(path)
      listed = Some(l)
      l
    }
}

object ODataTableProvider {
  private[odata] val mapper = new ObjectMapper()

  /** Schema inference: peek at the first row of the first listed page
    * — JSON longs/doubles/booleans map directly, ISO-ish timestamp
    * strings to TimestampType, arrays of objects (the `$expand` subform
    * shape) to ArrayType(StructType(...)), everything else to
    * StringType. */
  private[odata] def inferSchema(listing: ODataListing): StructType = {
    require(listing.files.nonEmpty, s"graft-odata: no page files under ${listing.path}")
    val first = readPage(listing.files.head, listing.conf)
    val row = first.get("value").elements().asScala.toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("graft-odata: empty first page"))
    inferStruct(row)
  }

  private[odata] val TsPattern =
    "\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}:\\d{2}.*".r

  private[odata] def inferType(v: JsonNode): DataType = v match {
    case n if n.isIntegralNumber => LongType
    case n if n.isFloatingPointNumber => DoubleType
    case n if n.isBoolean => BooleanType
    case n if n.isTextual && TsPattern.matches(n.asText) => TimestampType
    case n if n.isArray =>
      // $expand subform: array of records, element schema from the
      // first element (empty arrays on the first row cannot be typed —
      // supply a user schema in that case)
      n.elements().asScala.toSeq.headOption match {
        case Some(el) if el.isObject => ArrayType(inferStruct(el))
        case _ => throw new IllegalArgumentException(
          "graft-odata: cannot infer element type of an empty/scalar " +
            "array on the first row; pass an explicit schema")
      }
    case _ => StringType
  }

  private[odata] def inferStruct(row: JsonNode): StructType =
    StructType(row.properties().asScala.toSeq.map { e =>
      StructField(e.getKey, inferType(e.getValue))
    })

  /** Hadoop conf for path resolution: the active session's (so
    * catalogs rooted on filesystems needing session conf — s3a
    * credentials, custom schemes — resolve) when a session exists,
    * else a fresh default (executor-side readers, where no session
    * is active and the scheme is already resolved). */
  private[odata] def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Name of the head-page sidecar that switches a page directory
    * into CONTINUATION-TOKEN mode (`{"head": "<page file>"}`). */
  private[odata] val HeadMeta = "_head.meta"
  /** The OData v4 continuation link property each non-final page
    * carries in token mode (the reference's client walks the same
    * property, `resources/priorityDataSource.py:629-736`). */
  private[odata] val NextLink = "@odata.nextLink"

  /** Page files in page order. Two server shapes (VERDICT r11 task 4):
    *
    *  - LISTED (no `_head.meta`): every `*.json` under the directory,
    *    name-sorted — the offline stand-in for a server whose page set
    *    is known up front (`$skip`/`$count` style; this is also the
    *    shape whose `_counts.meta` sidecar enables OFFSET pushdown).
    *  - LINKED (`_head.meta` present): the server drives paging via
    *    `@odata.nextLink` continuation tokens — the walk starts at the
    *    declared head page and follows each page's link until a page
    *    carries none. ONLY chain-reachable pages are served (a file
    *    sitting in the directory without an inbound link is invisible,
    *    exactly as an unissued server token would be); cycles and
    *    dangling links fail loudly. The walk is inherently SERIAL —
    *    the protocol reveals page N+1's token only with page N, which
    *    is why the reference's client is a serial driver loop. Here
    *    the driver walks the chain at PLAN time (offline pages make
    *    the re-read by executors cheap); a production transport
    *    either streams rows during the walk (the reference's
    *    behavior) or prefers the `$skip` planner when the server
    *    publishes counts — parallelism across a cluster comes from
    *    many entities, not from one entity's token chain.
    *
    * Hadoop FileSystem API (same as the reader), so page directories
    * on HDFS/S3 plan correctly too. */
  private[graft] def pageFiles(dir: String, conf: Configuration = hadoopConf()): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Nil
    else if (fs.exists(new Path(p, HeadMeta))) walkChain(dir, conf)
    else fs.listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".json")).toSeq.sorted
  }

  /** Follow the `@odata.nextLink` chain from the `_head.meta` head
    * page; returns full paths in chain order. */
  private[graft] def walkChain(dir: String, conf: Configuration = hadoopConf()): Seq[String] = {
    val head = {
      val node = readPage(new Path(dir, HeadMeta).toString, conf)
      val h = node.get("head")
      require(h != null && h.isTextual,
        s"graft-odata: $dir/$HeadMeta carries no textual 'head'")
      h.asText
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    var token: String = head
    while (token != null) {
      if (!seen.add(token)) throw new IllegalStateException(
        s"graft-odata: $NextLink cycle at token '$token' under $dir")
      val path = new Path(dir, token)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) throw new IllegalStateException(
        s"graft-odata: $NextLink token '$token' resolves to no page under $dir")
      out += path.toString
      val next = readPage(path.toString, conf).get(NextLink)
      token = if (next == null || next.isNull) null else next.asText
    }
    out.toSeq
  }

  /** Read + parse one page through the Hadoop FileSystem (paths may
    * carry any scheme: file:, hdfs:, s3a:). */
  private[odata] def readPage(pathStr: String, conf: Configuration = hadoopConf()): JsonNode = {
    val p = new Path(pathStr)
    val in = p.getFileSystem(conf).open(p)
    try mapper.readTree(in) finally in.close()
  }

  /** Per-page row counts from the render-time `_counts.meta` sidecar
    * (page-file name → rows). None when the directory carries no
    * sidecar — offset pushdown is then declined and Spark keeps the
    * OFFSET operator. */
  private[odata] def pageCounts(
      dir: String, conf: Configuration = hadoopConf()): Option[Map[String, Long]] = {
    val p = new Path(dir, "_counts.meta")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val node = try mapper.readTree(in) finally in.close()
      Some(node.properties().iterator().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap)
    }
  }

  // path-keyed memo for the ranges sidecar: one planning pass reads it
  // from filterAttributes AND planInputPartitions (twice under AQE's
  // runtime-filter re-plan) — on a remote FS each read is a network
  // round trip. Sound because page directories are IMMUTABLE once
  // rendered (new renders create new paths); a mutable server must
  // version its path. Absent sidecars memoize as None too — a dir
  // never gains one after the fact.
  private val rangesCache =
    new graft.util.OnceCache[String, Option[Map[String, Map[String, ODataPageRange]]]](64)

  /** Per-page [min, max] key ranges from the render-time
    * `_ranges.meta` sidecar (page-file name → column → inclusive
    * bounds) — the page-pruning metadata behind
    * `SupportsRuntimeFiltering`. Two value shapes per column: a bare
    * `[lo, hi]` array is a LONG range; a tagged object
    * `{"t":"ts","lo":µs,"hi":µs}` is a TIMESTAMP range in
    * epoch-micros — the watermark (`filterField ge <ISO ts>`,
    * reference priorityDataSource.py:646-675) is a timestamp, and a
    * sidecar that can only bound longs can never prune the one
    * incremental predicate every production refresh pushes. An
    * unrecognized shape drops just that column (it prunes nothing —
    * conservative). None when the directory carries no sidecar:
    * runtime filters are then accepted but prune nothing
    * (correctness never depends on pruning — Spark re-applies the
    * join above the scan). */
  private[odata] def pageRanges(
      dir: String): Option[Map[String, Map[String, ODataPageRange]]] =
    rangesCache.getOrCompute(dir) {
      val p = new Path(dir, "_ranges.meta")
      val fs = p.getFileSystem(hadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val node = try mapper.readTree(in) finally in.close()
        Some(node.properties().iterator().asScala.map { e =>
          e.getKey -> e.getValue.properties().iterator().asScala.flatMap { c =>
            val v = c.getValue
            // NUMERIC bounds only: Jackson's asLong() coerces a
            // non-numeric node to 0, and a silently-minted [0, 0]
            // range would PRUNE live pages — the one failure mode the
            // conservative-keep contract forbids. Anything not
            // exactly the expected shape drops the column.
            def longs(ns: JsonNode*): Boolean =
              ns.forall(n => n != null && n.isIntegralNumber)
            if (v.isArray && v.size() == 2 && longs(v.get(0), v.get(1)))
              Some(c.getKey -> ODataPageRange(isTs = false,
                v.get(0).asLong(), v.get(1).asLong()))
            else if (v.isObject && v.has("t") && v.get("t").asText == "ts" &&
              longs(v.get("lo"), v.get("hi")))
              Some(c.getKey -> ODataPageRange(isTs = true,
                v.get("lo").asLong(), v.get("hi").asLong()))
            else None
          }.toMap
        }.toMap)
      }
    }
}

/** One column's per-page value range from the `_ranges.meta` sidecar:
  * inclusive [lo, hi] — plain long bounds, or epoch-micros timestamp
  * bounds when `isTs` (the tagged-object sidecar shape). The kind
  * gates which literal types may be judged against it: a long
  * literal never prunes a timestamp range and vice versa
  * (conservative keeps, never a silent epoch/number conflation). */
final case class ODataPageRange(isTs: Boolean, lo: Long, hi: Long)

/** One load's view of a page directory: its page files, listed ONCE
  * when the table is loaded (as Spark's file sources keep one file
  * index per relation), and the Hadoop conf that listed them. Every
  * scan planned from the load reuses both, so the parent and child
  * frames of one fetch read the same page set, and a page the server
  * adds later is served by the next load, not by a re-plan. */
final class ODataListing(val path: String) {
  val conf: Configuration = ODataTableProvider.hadoopConf()
  val files: Seq[String] = ODataTableProvider.pageFiles(path, conf)

  /** Byte total of the listed pages, stat-ed once (planner statistics). */
  lazy val bytes: Long = files.map { f =>
    val p = new Path(f)
    p.getFileSystem(conf).getFileStatus(p).getLen
  }.sum

  def counts: Option[Map[String, Long]] = ODataTableProvider.pageCounts(path, conf)
}

final class ODataTable(tableSchema: StructType, listing: ODataListing)
  extends Table with SupportsRead {
  override def name(): String = s"odata:${listing.path}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ODataScanBuilder(tableSchema, listing)
}

/** One pushed aggregate: `func` ∈ count_star | count | min | max |
  * sum, `col` absent only for count_star. */
final case class ODataAggFunc(func: String, col: Option[String])

/** A pushed GROUP BY: grouping columns + aggregate list, both
  * validated against the table schema at push time. */
final case class ODataAggregation(
    groupCols: Seq[String], funcs: Seq[ODataAggFunc])

/** Accumulates the five pushdowns, then emits the scan. */
final class ODataScanBuilder(fullSchema: StructType, listing: ODataListing)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates
  with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None
  private var agg: Option[ODataAggregation] = None
  private var required: StructType = fullSchema

  /** OFFSET pushdown — OData `$skip`, the sixth rung. Unlike every
    * other rung this one is COMPLETE by contract (Spark removes its
    * Offset operator entirely when accepted), so acceptance must
    * guarantee GLOBAL exactness: only over the raw page stream (no
    * pushed filter/TopN/aggregate reshaping per-page cardinality, no
    * limit already below the offset) and only when the render-time
    * `_counts.meta` sidecar is present — the planner converts the
    * global skip into (first page, in-page skip) from page counts
    * alone, reading zero data at plan time. The production transport
    * would send `$skip=n` and let the server do the same walk over
    * its `$skiptoken` index. */
  override def pushOffset(n: Int): Boolean =
    // the sidecar read is a plan-time PROBE: a corrupt/unreadable
    // _counts.meta must DECLINE the pushdown (Spark keeps its own
    // Offset operator and the query still runs), never crash the
    // optimizer — the statsProbe contract (VERDICT r13 task 5; the
    // execution-time read in planInputPartitions stays fail-loud,
    // because there the offset is already accepted and silently
    // mis-skipping rows would be wrong, not slow)
    if (n <= 0 || pushed.nonEmpty || limit.isDefined || topN.isDefined ||
      agg.isDefined ||
      ODataScan.statsProbe(listing.counts).flatten.isEmpty) false
    else { offset = Some(n); true }

  /** Accept the filter shapes OData `$filter` can express on scalar
    * columns AND whose literal the reader can evaluate row-side;
    * everything else stays with Spark as a residual (accepting a filter
    * removes it from Spark's plan, so acceptance must guarantee
    * evaluation). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def evaluable(v: Any): Boolean = v match {
      case _: Long | _: Int | _: Double | _: String |
           _: java.sql.Timestamp | _: java.time.Instant => true
      case _ => false
    }
    def pushable(f: Filter): Boolean = f match {
      case GreaterThanOrEqual(_, v) => evaluable(v)
      case GreaterThan(_, v)        => evaluable(v)
      case LessThan(_, v)           => evaluable(v)
      case LessThanOrEqual(_, v)    => evaluable(v)
      case EqualTo(_, v)            => evaluable(v)
      // Spark emits an IsNotNull guard next to every comparison; if it
      // stays residual it blocks limit pushdown past the filter node.
      // OData spells both null predicates (`ne null`/`eq null`) and the
      // reader evaluates them trivially, so accept them always.
      case IsNotNull(_) | IsNull(_) => true
      // OData string functions (v4 §5.1.1.5): startswith/endswith/
      // contains compile to $filter function calls; the literal is
      // always a String by Spark's translation contract.
      case StringStartsWith(_, _)   => true
      case StringEndsWith(_, _)     => true
      case StringContains(_, _)     => true
      // OData 4.01 `in` operator — accepted only when EVERY member is
      // row-side evaluable (a NULL member would make the residual-free
      // contract unsound: SQL IN with NULL is three-valued).
      case In(_, vs)                => vs.nonEmpty && vs.forall(evaluable)
      // `and`/`or` are first-class $filter grammar — accepted when
      // both legs are (an unsound leg poisons the whole tree). The
      // row-side eval contract stays exact: eval(f) means "f is TRUE",
      // and TRUE-propagation through and/or matches SQL three-valued
      // logic at the kept/dropped boundary (NULL legs read false,
      // `null or true` still evaluates true through the other leg).
      // `not` is NOT pushable: eval can't express "is FALSE" (a NULL
      // comparison under `not` must stay dropped, but eval(leg)=false
      // would flip to kept).
      case And(l, r)                => pushable(l) && pushable(r)
      case Or(l, r)                 => pushable(l) && pushable(r)
      case _ => false
    }
    val (accepted, residual) = filters.partition(pushable)
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  // When an offset is already pushed the plan shape is
  // Limit(Offset(scan)): a per-page limit cap would have to apply
  // AFTER the global skip — declinable for free since the per-page
  // limit is only an optimization (Spark keeps its own Limit above a
  // partially-pushed scan). Decline and keep the offset exact.
  override def pushLimit(n: Int): Boolean =
    if (offset.isDefined) false else { limit = Some(n); true }

  /** ORDER BY + LIMIT fuse into the OData `$orderby`/`$top` pair —
    * the fourth rung of the pushdown ladder. PARTIAL pushdown by
    * contract (`isPartiallyPushed = true`): each page reader returns
    * its LOCAL top-n under the exact requested ordering (direction +
    * null placement — the comparator must match Spark's semantics or
    * a partition could drop a globally-top row), and Spark's own
    * TakeOrderedAndProject merges the per-page survivors. Accepted
    * only for top-level columns of the schema; anything else stays
    * with Spark untouched. */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean = {
    val cols = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            fullSchema.fieldNames.contains(nr.fieldNames()(0)) =>
          Some((nr.fieldNames()(0),
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (cols.nonEmpty && cols.forall(_.isDefined)) {
      topN = Some((cols.map(_.get), n))
      true
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  /** GROUP BY + aggregate pushdown — the fifth rung, OData's
    * `$apply=groupby((cols),aggregate(...))`. PARTIAL by contract
    * ([[supportCompletePushDown]] = false): each page reader returns
    * its page's per-group (count, min, max, sum) cells and Spark's
    * final aggregate merges them (counts re-SUM, mins re-MIN, maxes
    * re-MAX, sums re-SUM — exactly the decomposable-aggregate set, so
    * DISTINCT and anything non-mergeable is rejected and stays with
    * Spark). Accepted only when every grouping expression is a
    * top-level schema column and every aggregate targets one (sums
    * over Long/Double only; min/max over the scalar types the TopN
    * comparator already orders). The win at scale is the same as the
    * reference server's `$apply`: pages ship GROUPS, not rows — a
    * 1000-page entity whose group count is small moves O(pages ·
    * groups) cells instead of every row. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def colOf(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
          fullSchema.fieldNames.contains(nr.fieldNames()(0)) =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def orderable(c: String): Boolean = fullSchema(c).dataType match {
      case LongType | IntegerType | DoubleType | BooleanType |
           TimestampType | StringType => true
      case _ => false
    }
    def summable(c: String): Boolean = fullSchema(c).dataType match {
      case LongType | DoubleType => true
      case _ => false
    }
    val groups = aggregation.groupByExpressions().toSeq.map(colOf)
    val funcs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(ODataAggFunc("count_star", None))
      // Count(col) — the NON-NULL count — has no OData `$apply`
      // spelling (aggregate() offers $count and countdistinct only),
      // so the production transport could not serve it: rejected,
      // Spark keeps it. Count is all-or-nothing per Aggregation.
      case _: Count => None
      case m: Min =>
        colOf(m.column).filter(orderable).map(n => ODataAggFunc("min", Some(n)))
      case m: Max =>
        colOf(m.column).filter(orderable).map(n => ODataAggFunc("max", Some(n)))
      case s: Sum if !s.isDistinct =>
        colOf(s.column).filter(summable).map(n => ODataAggFunc("sum", Some(n)))
      case _ => None
    }
    if (groups.forall(_.isDefined) && funcs.forall(_.isDefined) &&
        funcs.nonEmpty) {
      agg = Some(ODataAggregation(groups.map(_.get), funcs.map(_.get)))
      true
    } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ODataScan(
      agg.map(a => ODataScan.aggSchema(fullSchema, a)).getOrElse(required),
      listing, pushed, limit, topN, agg, offset)
}

object ODataScan {
  /** One guarded stats-probe evaluation: IO/parse failures degrade to
    * None (planning must never crash because a sidecar is corrupt or a
    * directory listing raced a writer), but FATAL errors propagate —
    * `NonFatal` per Spark convention, so an OutOfMemoryError or an
    * interrupt during planning kills the query instead of silently
    * degrading to "no stats" and a wrong join strategy (VERDICT r13
    * task 5 / ADVICE r13: the k17 typed-catch lesson applied to the
    * plan-time probes). Spec-driven directly with an injected OOM and
    * an injected IOException. */
  private[graft] def statsProbe[T](body: => T): Option[T] =
    try Some(body)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Every [[ODataScan]] in an executed plan, reaching through AQE
    * wrappers and materialized query stages (both are leaf nodes to
    * `children`-based traversal) — how the runtime-filtering gate and
    * spec observe post-filter page counts without reaching into
    * BatchScanExec internals. */
  private[graft] def scansIn(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[ODataScan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val here = p match {
      case b: BatchScanExec => b.scan match {
        case o: ODataScan => Seq(o)
        case _ => Nil
      }
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(scansIn)
  }

  /** The read schema a pushed aggregation produces: grouping columns
    * first (their table types), then one column per aggregate — the
    * positional contract Spark's pushdown rewrite expects. Counts are
    * LongType; min/max/sum keep the column's type (a page-local Long
    * sum has the same wrap/ANSI semantics as Spark's own partial
    * sum). */
  def aggSchema(full: StructType, a: ODataAggregation): StructType =
    StructType(
      a.groupCols.map(full(_)) ++
        a.funcs.map {
          case ODataAggFunc("count_star", _) =>
            StructField("agg_count_star", LongType, nullable = false)
          case ODataAggFunc(f, Some(c)) =>
            StructField(s"agg_${f}_$c", full(c).dataType)
          case bad => throw new IllegalStateException(s"bad agg: $bad")
        })
}

final class ODataScan(
    schema: StructType,
    listing: ODataListing,
    filters: Array[Filter],
    limit: Option[Int],
    topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None,
    agg: Option[ODataAggregation] = None,
    offset: Option[Int] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  private val path = listing.path

  override def readSchema(): StructType = schema

  /** RUNTIME FILTERING (VERDICT r13 task 6 — the rung above planner
    * statistics): on a dim⋈fact join where the dim side broadcasts,
    * Spark feeds the build-side join keys back into this scan at
    * EXECUTION time (dynamic partition pruning for DSv2), and
    * [[planInputPartitions]] drops every page whose render-time
    * `_ranges.meta` key range can't contain any build key — the scan
    * reads only the pages the join can actually hit, which is the
    * join shape a 100 TB catalog query needs. Pruning is a pure
    * optimization: Spark re-applies the join above the scan, so a
    * missing/corrupt sidecar or an untranslatable filter degrades to
    * "no pruning", never to wrong rows.
    *
    * Attributes are advertised ONLY for a bare scan (no pushed
    * limit/topN/agg/offset): those operators fold row-shaping into
    * the scan itself, and pruning pages UNDER a pushed `$top`/`$skip`
    * would change which rows the scan emits — e.g. a pushed top-5
    * must rank the five smallest keys of the WHOLE slice, not of the
    * pages that survive pruning. Pushed `$filter` predicates compose
    * fine (conjunction). */
  override def filterAttributes(): Array[NamedReference] =
    if (limit.isDefined || topN.isDefined || agg.isDefined ||
      offset.isDefined) Array.empty
    else ODataScan.statsProbe(ODataTableProvider.pageRanges(path)).flatten
      .fold(Array.empty[NamedReference]) { r =>
        val ranged = r.values.flatMap(_.keySet).toSet
        schema.fieldNames.filter(ranged.contains).map(Expressions.column)
      }

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filter(rf: Array[Filter]): Unit = { runtimeFilters = rf }

  /** Page count of the last [[planInputPartitions]] — how the spec
    * and gate pin "post-filter pages < directory pages" without
    * reaching into BatchScanExec internals. */
  @volatile private[graft] var lastPlannedPages: Int = -1

  private[graft] def runtimeFilterCount: Int = runtimeFilters.length

  /** Drop pages no surviving row can come from, judged against the
    * render-time per-page key ranges: PUSHED filters prune at PLAN
    * time (S4j — the parquet-footer analogue: `$filter` semantics put
    * the predicate BEFORE any pushed `$skip`/`$top`/`$apply`, so a
    * page with zero matching rows contributes nothing to any of them
    * and skipping it is always sound), runtime filters prune at
    * EXECUTION time (S4i). A page keeps its partition unless a
    * conjunct rules its whole range out — untranslatable conjuncts,
    * kind-mismatched or non-integral/non-timestamp literals, and
    * pages absent from the sidecar are all conservative keeps. */
  private def prunePages(
      files: Seq[String], preds: Array[Filter]): Seq[String] =
    if (preds.isEmpty) files
    else ODataScan.statsProbe(ODataTableProvider.pageRanges(path)).flatten
      .fold(files) { ranges =>
        // INTEGRAL literals only against long ranges: longValue on a
        // fractional literal truncates toward zero and flips strict
        // comparisons at the boundary (GreaterThan(c, -0.5) vs a page
        // with hi = 0 — truncation says prune, the true predicate
        // says keep). Fractional/decimal literals are conservative
        // keeps.
        def long(v: Any): Option[Long] = v match {
          case l: java.lang.Long    => Some(l)
          case i: java.lang.Integer => Some(i.longValue)
          case s: java.lang.Short   => Some(s.longValue)
          case b: java.lang.Byte    => Some(b.longValue)
          case _ => None
        }
        // TIMESTAMP literals against timestamp ranges, in the exact
        // epoch-micros the sidecar carries (both Spark DSv2 literal
        // spellings, via the ONE shared ODataFilters.micros — the
        // renderer and the row-side eval use the same conversion;
        // micro precision is exact, no truncation hazard like the
        // fractional-long case). A year-out-of-long-micros Instant
        // overflows → conservative keep, never a wrap.
        def tsMicros(v: Any): Option[Long] = v match {
          case t: java.sql.Timestamp => Some(ODataFilters.micros(t))
          case i: java.time.Instant =>
            try Some(ODataFilters.micros(i))
            catch { case _: ArithmeticException => None }
          case _ => None
        }
        // the range's KIND picks the conversion: a long literal never
        // judges a timestamp range (and vice versa) — None is the
        // conservative keep
        def bound(v: Any, r: ODataPageRange): Option[Long] =
          if (r.isTs) tsMicros(v) else long(v)
        def inRange(v: Any, r: ODataPageRange): Boolean = v match {
          case null => false // equality/membership: NULL never matches
          case _ => bound(v, r).forall(l => l >= r.lo && l <= r.hi)
        }
        def mayMatch(pr: Map[String, ODataPageRange], f: Filter): Boolean =
          f match {
            case In(c, vs) =>
              pr.get(c).forall(r => vs.exists(inRange(_, r)))
            case EqualTo(c, v) =>
              pr.get(c).forall(r => inRange(v, r))
            case GreaterThan(c, v) =>
              pr.get(c).forall(r => bound(v, r).forall(r.hi > _))
            case GreaterThanOrEqual(c, v) =>
              pr.get(c).forall(r => bound(v, r).forall(r.hi >= _))
            case LessThan(c, v) =>
              pr.get(c).forall(r => bound(v, r).forall(r.lo < _))
            case LessThanOrEqual(c, v) =>
              pr.get(c).forall(r => bound(v, r).forall(r.lo <= _))
            case And(l, r) => mayMatch(pr, l) && mayMatch(pr, r)
            case Or(l, r) => mayMatch(pr, l) || mayMatch(pr, r)
            case _ => true // Not/IsNull/strings/…: ranges can't rule out
          }
        files.filter { f =>
          val name = new Path(f).getName
          ranges.get(name)
            .forall(pr => preds.forall(mayMatch(pr, _)))
        }
      }

  /** Planner statistics (VERDICT r12 task 4): without them EVERY DSv2
    * relation planned as "unknown = huge" and a catalog join of a
    * five-row REGION against ORDERS fell to sort-merge above the
    * advisory threshold — the exact join a 1000-executor catalog
    * query wants broadcast. Size is the page files' byte total (an
    * upper bound on row data — JSON framing included; over-estimating
    * never breaks correctness), rows come from the render-time
    * `_counts.meta` sidecar when the scan's shape preserves
    * cardinality: a pushed filter or aggregate drops the row count
    * (selectivity unknown) and keeps the byte upper bound; a pushed
    * limit/topN/offset caps rows — and scales bytes proportionally so
    * a `$top` probe of a huge entity still broadcasts. Listing/stat
    * failures degrade to empty estimates (planning must never crash
    * on a stats probe); the scan itself still fails loudly. */
  override def estimateStatistics(): Statistics = {
    val bytes: Option[Long] = ODataScan.statsProbe(listing.bytes)
    // ONE guarded sidecar read serves both the row estimate and the
    // byte scaling: a corrupt _counts.meta degrades to empty estimates
    // (the documented contract — the scan itself still fails loudly),
    // never a plan-time crash
    val counts: Option[Map[String, Long]] =
      ODataScan.statsProbe(listing.counts).flatten
    val total = counts.map(_.values.sum)
    val exactRows: Option[Long] =
      if (filters.nonEmpty || agg.isDefined) None
      else total.map { t =>
        val afterOffset =
          math.max(0L, t - offset.map(_.toLong).getOrElse(0L))
        topN.map(_._2.toLong).orElse(limit.map(_.toLong))
          .fold(afterOffset)(math.min(afterOffset, _))
      }
    // scale through BigInt: b·r overflows Long at ~10 GB × 10⁹ rows,
    // and a wrapped-negative size would advertise a huge scan as
    // broadcastable
    val scaledBytes = (bytes, exactRows, total) match {
      case (Some(b), Some(r), Some(t)) if t > 0 && r < t =>
        Some((BigInt(b) * r / t).max(1).toLong)
      case _ => bytes
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        scaledBytes.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        exactRows.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  }

  /** The compiled OData request — what the production transport would
    * GET. Surfaced in explain so pushdown is observable. */
  def requestString: String = {
    val parts =
      (if (filters.nonEmpty) Seq(s"$$filter=${filters.map(ODataFilters.compile).mkString(" and ")}")
       else Nil) ++
        agg.map { a =>
          val aggs = a.funcs.map {
            case ODataAggFunc("count_star", _) => "$count as agg_count_star"
            case ODataAggFunc(f, Some(c)) => s"$c with $f as agg_${f}_$c"
            case bad => throw new IllegalStateException(s"bad agg: $bad")
          }.mkString(",")
          if (a.groupCols.isEmpty) s"$$apply=aggregate($aggs)"
          else s"$$apply=groupby((${a.groupCols.mkString(",")}),aggregate($aggs))"
        } ++
        topN.map { case (cols, _) =>
          s"$$orderby=" + cols.map { case (c, asc, _) =>
            s"$c ${if (asc) "asc" else "desc"}" }.mkString(",")
        } ++
        offset.map(n => s"$$skip=$n") ++
        (topN.map(t => s"$$top=${t._2}") orElse limit.map(n => s"$$top=$n")) ++
        (if (agg.isEmpty) Seq(s"$$select=${schema.fieldNames.mkString(",")}")
         else Nil)
    parts.mkString("&")
  }
  override def description(): String = s"ODataScan($path?$requestString)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // pushed-filter pruning is always sound ($filter precedes every
    // other pushed operator — and offset acceptance requires no pushed
    // filter anyway); runtime filters only ever arrive on a bare scan
    // (filter attributes are withheld otherwise), so pruning can never
    // interact with the offset page-skip arithmetic below
    val files = prunePages(listing.files, filters ++ runtimeFilters)
    lastPlannedPages = files.size
    offset match {
      case None =>
        files.map(p => ODataInputPartition(p): InputPartition).toArray
      case Some(n) =>
        // counts sidecar guaranteed by pushOffset's acceptance check;
        // fully-skipped pages are PRUNED at plan time, the first
        // surviving page carries the in-page remainder
        val counts = listing.counts.getOrElse(
          throw new IllegalStateException(
            s"offset pushed but _counts.meta vanished under $path"))
        var remaining = n.toLong
        files.flatMap { f =>
          val name = new Path(f).getName
          val c = counts.getOrElse(name, throw new IllegalStateException(
            s"page $name missing from _counts.meta under $path"))
          if (remaining >= c) { remaining -= c; None }
          else {
            val skip = remaining
            remaining = 0L
            Some(ODataInputPartition(f, skip): InputPartition)
          }
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ODataReaderFactory(schema, filters, limit, topN, agg)
}

final case class ODataInputPartition(pageFile: String, skipRows: Long = 0L)
  extends InputPartition

final class ODataReaderFactory(
    schema: StructType,
    filters: Array[Filter],
    limit: Option[Int],
    topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None,
    agg: Option[ODataAggregation] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ODataInputPartition]
    new ODataPartitionReader(
      p.pageFile, schema, filters, limit, topN, agg, p.skipRows)
  }
}

/** Reads one page (`{"value": [...]}`), applying pushed filters and the
  * per-reader limit cap. PRODUCTION SWAP POINT: replace the file read
  * with the paged HTTP GET; parsing and row construction stay. */
final class ODataPartitionReader(
    pageFile: String,
    schema: StructType,
    filters: Array[Filter],
    limit: Option[Int],
    topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None,
    agg: Option[ODataAggregation] = None,
    skipRows: Long = 0L)
  extends PartitionReader[InternalRow] {

  // skipRows is the planner's in-page remainder of a pushed global
  // OFFSET; only ever non-zero on the raw-stream path (pushOffset
  // rejects coexistence with filters/TopN/aggregates/limit)
  private val pageRows: Iterator[JsonNode] =
    ODataTableProvider.readPage(pageFile).get("value").elements().asScala
      .drop(skipRows.toInt)

  /** Per-page PARTIAL aggregation when a GROUP BY was pushed: one
    * (group key → state) cell per group seen on this page, emitted as
    * rows in the pushed aggregate schema (group values first, then
    * count/min/max/sum states — a group's count is never 0 here, a
    * min/max/sum over only-NULL values emits NULL, and Spark's final
    * merge handles both). Groups per page are bounded by page size;
    * the production `$apply` transport would receive these same cells
    * from the server. */
  private val aggRows: Option[Iterator[InternalRow]] = agg.map { a =>
    val gTypes = a.groupCols.zipWithIndex.map {
      case (c, i) => (c, schema.fields(i).dataType)
    }
    val fTypes = a.funcs.zipWithIndex.map {
      case (f, j) => (f, schema.fields(a.groupCols.length + j).dataType)
    }
    val groups = new java.util.LinkedHashMap[List[Any], Array[Any]]()
    pageRows.foreach { node =>
      if (filters.forall(ODataFilters.eval(_, node))) {
        val key = gTypes.map { case (c, dt) => convert(node.get(c), dt) }.toList
        val st = groups.computeIfAbsent(key,
          _ => new Array[Any](fTypes.length))
        var j = 0
        while (j < fTypes.length) {
          val (f, dt) = fTypes(j)
          f.func match {
            case "count_star" =>
              st(j) = java.lang.Long.valueOf(
                if (st(j) == null) 1L
                else st(j).asInstanceOf[java.lang.Long].longValue + 1L)
            case "sum" =>
              val v = convert(node.get(f.col.get), dt)
              if (v != null) st(j) =
                if (st(j) == null) v
                else dt match {
                  case LongType => java.lang.Long.valueOf(
                    st(j).asInstanceOf[java.lang.Long].longValue +
                      v.asInstanceOf[java.lang.Long].longValue)
                  case _ => java.lang.Double.valueOf(
                    st(j).asInstanceOf[java.lang.Double].doubleValue +
                      v.asInstanceOf[java.lang.Double].doubleValue)
                }
            case minmax =>
              val v = convert(node.get(f.col.get), dt)
              if (v != null) {
                if (st(j) == null) st(j) = v
                else {
                  val c = st(j).asInstanceOf[Comparable[Any]].compareTo(v)
                  if ((minmax == "min" && c > 0) ||
                      (minmax == "max" && c < 0)) st(j) = v
                }
              }
          }
          j += 1
        }
      }
    }
    groups.entrySet().asScala.iterator.map { e =>
      new GenericInternalRow(
        (e.getKey ++ e.getValue.toSeq).toArray[Any])
    }
  }

  /** Per-page LOCAL top-n when a TopN was pushed: materialize the
    * page's filtered rows (pages are size-bounded by construction —
    * the server's `$skiptoken` contract), sort under the EXACT Spark
    * ordering (direction + null placement; a looser comparator could
    * drop a globally-top row) and keep n. Spark's own
    * TakeOrderedAndProject merges pages — partial pushdown is an
    * optimization, never a correctness dependency, so a sort column
    * pruned out of the read schema simply disables the local cut. */
  private val sortedRows: Option[Iterator[InternalRow]] = topN.collect {
    case (cols, n) if cols.forall(c => schema.fieldNames.contains(c._1)) =>
      val idx = cols.map { case (c, asc, nf) =>
        (schema.fieldIndex(c), schema(c).dataType, asc, nf)
      }
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = {
          var k = 0
          while (k < idx.length) {
            val (i, dt, asc, nullsFirst) = idx(k)
            val (an, bn) = (a.isNullAt(i), b.isNullAt(i))
            val c =
              if (an && bn) 0
              else if (an) { if (nullsFirst) -1 else 1 }
              else if (bn) { if (nullsFirst) 1 else -1 }
              else {
                val raw = dt match {
                  case LongType      => java.lang.Long.compare(a.getLong(i), b.getLong(i))
                  case IntegerType   => Integer.compare(a.getInt(i), b.getInt(i))
                  // + 0.0 normalizes -0.0 to 0.0: Spark's sort treats
                  // them as equal, Double.compare orders -0.0 < 0.0 —
                  // without this a 0.0 row Spark's total order keeps
                  // could lose the page-local cut to a -0.0 row.
                  case DoubleType    => java.lang.Double.compare(
                    a.getDouble(i) + 0.0d, b.getDouble(i) + 0.0d)
                  case BooleanType   => java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
                  case TimestampType => java.lang.Long.compare(a.getLong(i), b.getLong(i))
                  case _ => a.getUTF8String(i).compareTo(b.getUTF8String(i))
                }
                if (asc) raw else -raw
              }
            if (c != 0) return c
            k += 1
          }
          0
        }
      }
      val kept = new java.util.ArrayList[InternalRow]()
      pageRows.foreach { node =>
        if (filters.forall(ODataFilters.eval(_, node))) kept.add(toRow(node))
      }
      kept.sort(cmp)
      kept.asScala.take(n).iterator
  }
  private var emitted = 0
  private var current: InternalRow = _

  override def next(): Boolean = aggRows match {
    // a pushed aggregate consumed the page up front; limit/topN never
    // co-occur (Spark pushes them only directly above the relation)
    case Some(it) =>
      if (it.hasNext) { current = it.next(); true } else false
    case None => sortedRows match {
      case Some(it) =>
        if (it.hasNext && limit.forall(emitted < _)) {
          current = it.next(); emitted += 1; true
        } else false
      case None =>
        while (pageRows.hasNext && limit.forall(emitted < _)) {
          val node = pageRows.next()
          if (filters.forall(ODataFilters.eval(_, node))) {
            current = toRow(node)
            emitted += 1
            return true
          }
        }
        false
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def convert(v: JsonNode, dt: DataType): Any =
    if (v == null || v.isNull) null
    else dt match {
      case LongType      => v.asLong()
      case IntegerType   => v.asInt()
      case DoubleType    => v.asDouble()
      case BooleanType   => v.asBoolean()
      case TimestampType => ODataFilters.toMicros(v.asText)
      case ArrayType(et, _) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          v.elements().asScala.map(convert(_, et)).toArray)
      case st: StructType =>
        new GenericInternalRow(
          st.fields.map(f => convert(v.get(f.name), f.dataType)).asInstanceOf[Array[Any]])
      case _             => UTF8String.fromString(v.asText)
    }

  private def toRow(node: JsonNode): InternalRow =
    new GenericInternalRow(
      schema.fields.map(f => convert(node.get(f.name), f.dataType))
        .asInstanceOf[Array[Any]])
}

/** Request-building helpers shared with the production transport. */
object ODataAuth {
  /** HTTP basic-auth header value (the reference's base64 encode,
    * priorityDataSource.py:243-245) — driver/executor-side request
    * concern, F8 in the operator inventory. */
  def basicAuth(user: String, password: String): String =
    "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$user:$password".getBytes(StandardCharsets.UTF_8))
}

/** Filter compilation (to the `$filter` string) and row-side evaluation
  * (so correctness never depends on the server). */
object ODataFilters {

  /** Exact epoch-micros of a java.sql.Timestamp. getTime already
    * carries the millisecond part of getNanos, so only the sub-milli
    * remainder is added — the ONE conversion the page renderer's
    * sidecar bounds, the plan-time pruning judgment, and row-side
    * filter evaluation share (three hand-copies would drift, and the
    * three MUST agree bit-for-bit or pruning silently drops rows). */
  def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000L

  /** Exact epoch-micros of an Instant; throws ArithmeticException
    * past the long-micros range (a caller that must degrade instead
    * catches it — the pruning judgment's conservative keep). */
  def micros(i: java.time.Instant): Long =
    Math.addExact(
      Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** ISO-ish timestamp → epoch micros. Handles naive ("2024-01-01
    * 00:00:00"), Zulu ("...Z"), and explicit-offset ("...+02:00")
    * forms — offsets are APPLIED, not stripped. */
  def toMicros(iso: String): Long = {
    val s = iso.replace(' ', 'T')
    val instant =
      if (s.endsWith("Z") || s.lastIndexOf('+') > 7 ||
          s.lastIndexOf('-') > 7) // '-' after the date part = offset
        java.time.OffsetDateTime.parse(s).toInstant
      else java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
    instant.getEpochSecond * 1000000L + instant.getNano / 1000
  }

  def compile(f: Filter): String = f match {
    case GreaterThanOrEqual(a, v) => s"$a ge ${lit(v)}"
    case GreaterThan(a, v)        => s"$a gt ${lit(v)}"
    case LessThan(a, v)           => s"$a lt ${lit(v)}"
    case LessThanOrEqual(a, v)    => s"$a le ${lit(v)}"
    case EqualTo(a, v)            => s"$a eq ${lit(v)}"
    case IsNotNull(a)             => s"$a ne null"
    case IsNull(a)                => s"$a eq null"
    case StringStartsWith(a, v)   => s"startswith($a,${lit(v)})"
    case StringEndsWith(a, v)     => s"endswith($a,${lit(v)})"
    case StringContains(a, v)     => s"contains($a,${lit(v)})"
    case In(a, vs)                => s"$a in (${vs.map(lit).mkString(",")})"
    case And(l, r)                => s"(${compile(l)} and ${compile(r)})"
    case Or(l, r)                 => s"(${compile(l)} or ${compile(r)})"
    case other                    => throw new IllegalArgumentException(s"not pushable: $other")
  }

  private def lit(v: Any): String = v match {
    // OData escapes an embedded quote by doubling it ('' — OData v4 ABNF
    // §7.1 string literals); without it a value containing ' produces a
    // malformed/injectable $filter once the HTTP transport sends it
    case s: String                => s"'${s.replace("'", "''")}'"
    case t: java.sql.Timestamp    => s"datetime'${t.toString.replace(' ', 'T')}'"
    case i: java.time.Instant     => s"datetime'$i'"
    case other                    => String.valueOf(other)
  }

  def eval(f: Filter, node: JsonNode): Boolean = f match {
    case GreaterThanOrEqual(a, v) => cmp(node, a, v).exists(_ >= 0)
    case GreaterThan(a, v)        => cmp(node, a, v).exists(_ > 0)
    case LessThan(a, v)           => cmp(node, a, v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(node, a, v).exists(_ <= 0)
    case EqualTo(a, v)            => cmp(node, a, v).contains(0)
    case IsNotNull(a)             => { val j = node.get(a); j != null && !j.isNull }
    case IsNull(a)                => { val j = node.get(a); j == null || j.isNull }
    // NULL field → false for all three (matches Spark's NULL-strict
    // string predicates); the literal is a String by translation.
    case StringStartsWith(a, v)   => str(node, a).exists(_.startsWith(v))
    case StringEndsWith(a, v)     => str(node, a).exists(_.endsWith(v))
    case StringContains(a, v)     => str(node, a).exists(_.contains(v))
    case In(a, vs)                => vs.exists(v => cmp(node, a, v).contains(0))
    case And(l, r)                => eval(l, node) && eval(r, node)
    case Or(l, r)                 => eval(l, node) || eval(r, node)
    case _                        => true
  }

  /** None = field null/absent. */
  private def str(node: JsonNode, field: String): Option[String] = {
    val j = node.get(field)
    if (j == null || j.isNull) None else Some(j.asText)
  }

  /** None = field null/absent (comparisons with null are false). */
  private def cmp(node: JsonNode, field: String, v: Any): Option[Int] = {
    val j = node.get(field)
    if (j == null || j.isNull) None
    else Some(v match {
      case x: Long                => java.lang.Long.compare(j.asLong, x)
      case x: Int                 => java.lang.Long.compare(j.asLong, x.toLong)
      case x: Double              => java.lang.Double.compare(j.asDouble, x)
      case x: String              => j.asText.compareTo(x)
      case x: java.sql.Timestamp  =>
        java.lang.Long.compare(toMicros(j.asText), micros(x))
      case x: java.time.Instant   =>
        java.lang.Long.compare(toMicros(j.asText), micros(x))
      case other =>
        throw new IllegalArgumentException(s"unsupported literal: $other")
    })
  }
}
