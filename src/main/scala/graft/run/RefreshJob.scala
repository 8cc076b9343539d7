package graft.run

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.sources.{EntitySource, FetchRequest}
import graft.xform.Normalizer

/** Per-entity refresh orchestration — the engine's `/refreshData`
  * (SURVEY.md §3.2), re-expressed as declarative DataFrame jobs:
  *
  * for each configured entity:
  *   1. build the incremental predicate (`filterField >= lastRun` when
  *      incremental, `>= dataStartDate` on full refresh, none when
  *      `filterFlag=false`) — priorityDataSource.py:646-682;
  *   2. fetch with expand pushdown;
  *   3. normalize into parent + child frames (explode, lowercase, audit);
  *   4. write each frame to `stg_<name>` (append when incremental,
  *      overwrite on full refresh) — priorityDataSource.py:861-866.
  *      An entity's frames land concurrently (`graft.util.FanOut`, one
  *      thread per frame; a one-frame entity writes inline): the
  *      child write no longer waits for the parent's, and a failed
  *      write cancels its siblings' jobs. Reports stay in order,
  *      parent first, then children by name;
  *   5. advance the per-entity `lastRun` watermark — unchanged: taken
  *      from the parent write's observation, and only once EVERY
  *      frame of the entity has landed.
  *
  * Fixes over the reference, documented per SURVEY.md §7.4:
  *   - watermark advances to max(filterField) OBSERVED ON THE WRITE JOB
  *     (`df.observe` + CollectMetrics), not the wall clock — one job per
  *     frame, and the watermark provably describes the batch that was
  *     written, closing both the reference's late-data race
  *     (priorityDataSource.py:595) and the double-execution a separate
  *     max() aggregation would cost at scale; if a batch is empty the
  *     watermark simply does not advance;
  *   - incremental fetches use strict `>` against the observed-max
  *     watermark, so boundary-timestamp rows are not re-appended every
  *     run (the reference's `>=` + append duplicates them);
  *   - unfiltered entities (filterFlag=false) are OVERWRITTEN on every
  *     run including incremental ones — the reference appends the whole
  *     table again each time;
  *   - timestamps parsed strictly (`yyyy-MM-dd HH:mm:ss` in the
  *     configured zone), no substring-boolean parsing (app.py:258 bug);
  *   - entities run in parallel (the reference loop is serial,
  *     priorityDataSource.py:161) — per-entity work is independent, and
  *     each entity's job is itself distributed;
  *   - flat-capable sources skip the nest→explode round-trip entirely
  *     (EntitySource.fetchFlat): parent and children are independent
  *     scans, so no collect_list shuffle ever runs.
  *
  * Error isolation matches the reference: one entity failing logs an
  * error into the run report and the rest continue
  * (priorityDataSource.py:173-184).
  */
final class RefreshJob(
    spark: SparkSession,
    source: EntitySource,
    writer: graft.sinks.EntityWriter,
    parallelism: Int = 4,
    timeout: scala.concurrent.duration.Duration = scala.concurrent.duration.Duration.Inf,
    registry: Option[graft.catalog.SchemaRegistry] = None) {

  import RefreshJob._

  /** Run one refresh over every configured entity.
    * Returns the run report and the config with advanced watermarks. */
  def run(config: ExtractionConfig, incremental: Boolean): (RunReport, ExtractionConfig) = {
    val extractionId = UUID.randomUUID().toString
    val ts = Timestamp.from(Instant.now())
    val t0 = System.nanoTime()
    val zone = ZoneId.of(zoneName(config.systemTimezone))

    // unbounded by default (a 100 TB refresh takes what it takes); on
    // a configured-timeout failure the entities' Spark jobs are
    // cancelled before run() throws, so no orphan write keeps
    // appending after it
    val results: Seq[Either[EntityError, (Seq[TableReport], EntityConfig)]] =
      graft.util.FanOut.all(spark.sparkContext, parallelism, timeout)(
        config.entities.map(e => () => runEntity(e, zone, incremental, extractionId, ts)))

    val tables = results.collect { case Right((trs, _)) => trs }.flatten
    val errors = results.collect { case Left(err) => err }
    val updatedEntities = config.entities.zip(results).map {
      case (_, Right((_, updated))) => updated
      case (orig, Left(_))          => orig // failed entity keeps its watermark
    }
    val report = RunReport(extractionId, tables, errors, (System.nanoTime() - t0) / 1e9)
    (report, config.copy(entities = updatedEntities))
  }

  private def runEntity(
      e: EntityConfig,
      zone: ZoneId,
      incremental: Boolean,
      extractionId: String,
      ts: Timestamp): Either[EntityError, (Seq[TableReport], EntityConfig)] =
    try {
      // incremental + observed-max watermark ⇒ strict `>` (the boundary
      // second was already loaded); first runs use `>=` from the start date
      val fromWatermark = incremental && e.lastRun.isDefined
      val filter: Option[(String, Timestamp)] =
        if (!e.filterFlag) None // unfiltered entity: full table every run
        else {
          val from =
            if (incremental) e.lastRun.getOrElse(e.dataStartDate) else e.dataStartDate
          Some(e.filterField -> parseTs(from, zone))
        }
      val req = FetchRequest(e.entityId, filter, e.expand, exclusive = fromWatermark)

      val n = source.fetchFlat(req) match {
        case Some(flat) => Normalizer.normalizeFlat(e.entityId, flat, pkOf(e), extractionId, ts)
        case None => Normalizer.normalize(e.entityId, source.fetch(req), pkOf(e), extractionId, ts)
      }

      // Watermark = max(filterField) observed ON the parent write job
      // itself — no second execution of the fetch. The column may be
      // TIMESTAMP or TIMESTAMP_NTZ (Spark 4 infers NTZ from parquet
      // isAdjustedToUTC=false); formatAny normalizes the metric value.
      val obs = if (e.filterFlag) Some(Observation()) else None
      val parent = obs.fold(n.parent)(o =>
        n.parent.observe(o, max(col(e.filterField.toLowerCase)).as("wm")))

      // unfiltered entities are replaced every run (append would
      // duplicate the full table each incremental cycle)
      val append = incremental && e.filterFlag
      val frames = (n.entityName -> parent) +: n.children.toSeq.sortBy(_._1)
      val writes = frames.map { case (name, df) =>
        () => TableReport(name, writer.stagingName(name), writer.writeEntity(df, name, append))
      }
      // the frames land concurrently; a failed write cancels its
      // siblings' jobs and fails the entity before its watermark moves
      val reports =
        if (writes.size == 1) writes.map(_())
        else graft.util.FanOut.all(spark.sparkContext, writes.size)(writes)

      val maxSeen = obs.flatMap(_.get.get("wm")).filter(_ != null)
        .map(formatAny(_, zone))
      // Filtered entities: empty batch ⇒ watermark unchanged — an empty
      // FIRST run stays at None so the next run still fetches from
      // dataStartDate (never advance past unseen data). Unfiltered
      // entities are full-replaced every run; their lastRun is purely
      // informational wall clock.
      val newLastRun =
        if (e.filterFlag) maxSeen.orElse(e.lastRun)
        else Some(formatTs(ts, zone))
      Right((reports, e.copy(lastRun = newLastRun)))
    } catch {
      case NonFatal(ex) => Left(EntityError(e.entityId, String.valueOf(ex.getMessage)))
    }

  /** PK columns used for propagation/casting — from the metadata catalog
    * when registered (the reference reads EntityPk from its metadata
    * collection, priorityDataSource.py:752-754), falling back to the
    * simulator's relation PKs for uncataloged entities. */
  private def pkOf(e: EntityConfig): Seq[String] =
    registry.flatMap(_.get(e.entityId.toUpperCase)).map(_.entityPk)
      .filter(_.nonEmpty)
      .getOrElse(source match {
        case p: graft.sources.ParquetSimSource => p.relationOf(e.entityId).pk
        case _                                 => Nil
      })
}

object RefreshJob {

  /** Watermark format: second granularity (the reference's contract)
    * PLUS an optional fractional part — sub-second event times must
    * round-trip exactly, or a strict-`>` incremental fetch re-appends
    * the truncated boundary row every run. Zero-fraction values format
    * identically to the reference's `yyyy-MM-dd HH:mm:ss`. */
  private val fmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
    .optionalEnd()
    .toFormatter

  /** Legacy tz aliases the reference config uses (e.g. "Israel"). */
  def zoneName(tz: String): String = tz match {
    case "Israel" => "Asia/Jerusalem"
    case other    => other
  }

  /** Strict `yyyy-MM-dd HH:mm:ss` parse in the configured zone
    * (priorityDataSource.py:667-669). */
  def parseTs(s: String, zone: ZoneId): Timestamp =
    Timestamp.from(LocalDateTime.parse(s, fmt).atZone(zone).toInstant)

  def formatTs(t: Timestamp, zone: ZoneId): String =
    fmt.format(LocalDateTime.ofInstant(t.toInstant, zone))

  /** Format a collected timestamp value of any of Spark's external
    * timestamp representations. */
  def formatAny(v: Any, zone: ZoneId): String = v match {
    case t: Timestamp              => formatTs(t, zone)
    case i: java.time.Instant      => fmt.format(LocalDateTime.ofInstant(i, zone))
    case l: LocalDateTime          => fmt.format(l) // NTZ: zoneless wall clock
    case other =>
      throw new IllegalArgumentException(s"not a timestamp value: $other")
  }
}
