package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Staging-layer sink: `stg_<entity>` tables in append (incremental) or
  * overwrite (full-refresh) mode — the Spark analog of the reference's
  * `df.to_sql('stg_'+name, if_exists='append'|'replace')`
  * (priorityDataSource.py:847-889, SURVEY.md §2.1 K1).
  *
  * The harness backs tables with parquet paths under `warehouseDir`; in
  * production the same frames go through [[JdbcStagingWriter]] (typed
  * JDBC DDL). All filesystem access uses the Hadoop `FileSystem` API, so
  * the same writer works against HDFS/S3 paths on a real cluster.
  *
  * Scale notes: records-written is observed ON the write job itself
  * (`df.observe` + `CollectMetrics` — zero extra jobs, zero re-reads).
  * Appends land as new files, so incremental batches are O(batch)
  * regardless of standing-table size — nothing ever re-lists or
  * re-counts the standing table.
  */
class StagingWriter(spark: SparkSession, warehouseDir: String) extends EntityWriter {

  private val whPath = new Path(warehouseDir)
  private def fs = whPath.getFileSystem(spark.sessionState.newHadoopConf())

  def path(table: String): String = s"$warehouseDir/$table"

  /** Write one frame; returns records written in THIS batch, observed on
    * the write job itself. `append=false` replaces the standing table
    * (full refresh). */
  def write(df: DataFrame, table: String, append: Boolean): Long = {
    recoverSwap(table)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(if (append) SaveMode.Append else SaveMode.Overwrite)
      .parquet(path(table))
    obs.get("rows").asInstanceOf[Long]
  }

  override def writeEntity(df: DataFrame, entity: String, append: Boolean): Long =
    write(df, stagingName(entity), append)

  def read(table: String): DataFrame = spark.read.parquet(path(table))

  /** [[read]] under a declared schema: no schema-inference job. */
  def read(table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path(table))

  def exists(table: String): Boolean = fs.exists(new Path(path(table)))

  /** Drop one table; a no-op when it does not exist. */
  def drop(table: String): Unit = fs.delete(new Path(path(table)), true): Unit

  def tables: Seq[String] =
    if (!fs.exists(whPath)) Nil
    else fs.listStatus(whPath).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted

  /** Drop every staging table — the platform-reset path
    * (sqlDwh.py:85-123, SURVEY.md §2.7 D3). Returns dropped names. */
  def dropAll(): Seq[String] = {
    val names = tables
    names.foreach(drop)
    names
  }

  /** K2: the reference's debug CSV dump of a staged frame
    * (priorityDataSource.py:879) — optional, off the hot path. */
  def debugCsv(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", true)
      .csv(s"${path(table)}__debug_csv")

  /** Late-data compaction (§2.9): incremental re-fetch overlap can land
    * the same business row twice in staging — keep only the LATEST
    * extraction per PK (max extractiontimestamputc, extractionid as the
    * deterministic tiebreak). One window pass over the standing table.
    *
    * Swap protocol: write tmp → rename live→backup → rename tmp→live →
    * delete backup, checking every rename. A crash between the two
    * renames leaves the full table at the backup path (recoverable by
    * one rename), never a half-written or missing table. */
  def compact(table: String, pk: Seq[String]): Long = {
    recoverSwap(table)
    writeAndSwap(latestPerPk(read(table), pk), table)
  }

  /** stg→final promotion (the reference's roadmap step,
    * readme.md:723-731): materialize the latest-extraction-per-PK view
    * of `stg_<entity>` as the queryable final table `<entity>`, with the
    * same crash-safe swap protocol as [[compact]]. Staging keeps its
    * full append history, so promotion is repeatable after every
    * incremental batch and the final table is always one row per PK.
    * Returns the rows in the promoted table. */
  override def promote(entity: String, pk: Seq[String]): Long = {
    recoverSwap(stagingName(entity))
    writeAndSwap(latestPerPk(read(stagingName(entity)), pk), entity.toLowerCase)
  }

  /** Write `df` at `table` with the crash-safe swap: write tmp, then
    * [[swapIn]] (rename live→backup → rename tmp→live → delete backup,
    * checking every rename). A crash between the two renames leaves the full table at
    * the backup path (recoverable by one rename), never a half-written
    * or missing table. Row count observed on the write job itself. */
  private[graft] def writeAndSwap(
      df: DataFrame, table: String, partCol: Option[String] = None,
      appliedBatch: Option[Long] = None): Long = {
    val obs = Observation()
    val tmpTable = s"${table}__swap_tmp"
    val tmp = new Path(path(tmpTable))
    val w = df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
    partCol.fold(w)(c => w.partitionBy(c)).parquet(tmp.toString)
    // the applied-batch marker is written INTO tmp so it swaps in
    // atomically with the data — a marker written after the swap would
    // leave a crash window where the state is applied but unmarked
    // (and a replay would double-apply a non-idempotent op)
    appliedBatch.foreach { id =>
      fs.create(new Path(tmp, s"_graft_applied_b$id"), true).close()
    }
    val kept = obs.get("rows").asInstanceOf[Long]
    swapIn(tmpTable, table)
    kept
  }

  /** Crash recovery for the [[writeAndSwap]] protocol: a death between
    * rename(live→backup) and rename(tmp→live) leaves the standing
    * table at `<table>__swap_bak` and NOTHING live. Restore it with
    * the one rename the protocol prescribes; returns true when a
    * backup was restored. Every entry point that writes into a table
    * calls this first — an append over the stranded backup would
    * re-create the table from one batch, and the next [[swapIn]]'s
    * `delete(bak)` would destroy the history. The non-idempotent
    * apply ticks ([[graft.streaming.EventsStream.scd2ApplyBatch]]/
    * `cdcApplyBatch`) also call it BEFORE their `exists()` check —
    * without it a tick replayed into that crash window would take
    * the seed-fresh branch and silently discard the standing history
    * (ADVICE r12). `read` does not restore: it only reads. A stale
    * backup NEXT TO a live table (crash after the activate rename,
    * before the backup delete) is not restored — the live table is
    * newer; the next swap's leading `delete(bak)` reaps it. */
  def recoverSwap(table: String): Boolean = {
    val dst = new Path(path(table))
    val bak = new Path(path(table) + "__swap_bak")
    if (!fs.exists(dst) && fs.exists(bak)) {
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"recoverSwap: cannot restore $bak to $dst")
      true
    } else false
  }

  /** Write a table partitioned by a (low-cardinality) column — the
    * other half of the 100 TB layout story next to [[writeBucketed]]:
    * a predicate on the partition column prunes whole directories at
    * PLANNING time (`PartitionFilters` in the scan), so an incremental
    * consumer of a date-partitioned table reads only the days it asks
    * for, never listing or opening the rest. */
  def writePartitioned(df: DataFrame, table: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .parquet(path(table))

  /** Append into an existing partitioned table — new files land inside
    * the matching partition directories, so planning-time partition
    * pruning keeps working across appends (the growing-index write). */
  def appendPartitioned(df: DataFrame, table: String, partCol: String): Unit = {
    recoverSwap(table)
    df.write.mode(SaveMode.Append)
      .partitionBy(partCol)
      .parquet(path(table))
  }

  /** IDEMPOTENT per-batch write: the frame lands as partition
    * `ingest_batch=<batchId>` under DYNAMIC partition overwrite, so an
    * at-least-once replay of the same batch (foreachBatch after a
    * crash between write and checkpoint commit) REPLACES its own
    * partition instead of appending a duplicate — the write other
    * partitions never notice. Readers see `ingest_batch` as an extra
    * column; a first write creates the table in partitioned layout
    * (never mix with flat writes to the same path). An empty frame
    * writes its partition as one schema-only file, so the table reads
    * as zero rows under the frame's schema, never as a directory
    * without a file whose schema cannot be inferred. */
  def writeBatchPartition(df: DataFrame, table: String, batchId: Long): Unit = {
    recoverSwap(table)
    val obs = Observation()
    df.withColumn("ingest_batch", org.apache.spark.sql.functions.lit(batchId))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(path(table))
    if (obs.get("rows") == 0L)
      df.limit(0).write.mode(SaveMode.Overwrite).parquet(s"${path(table)}/ingest_batch=$batchId")
  }

  /** Replace `table` with the already-written `tmpTable` under the
    * [[compact]] backup protocol (rename live→backup, tmp→live, drop
    * backup) — the swap half of a MULTI-ARTIFACT rebuild, where the
    * caller stages every new artifact first and then swaps them in.
    * Single-table swaps are atomic-with-recovery as in [[compact]];
    * atomicity ACROSS artifacts is the caller's contract to document
    * (two renames cannot be one). */
  def swapIn(tmpTable: String, table: String): Unit = {
    recoverSwap(table)
    val tmp = new Path(path(tmpTable))
    require(fs.exists(tmp), s"swapIn: staged table $tmpTable does not exist")
    val dst = new Path(path(table))
    val bak = new Path(path(table) + "__swap_bak")
    fs.delete(bak, true)
    val hadDst = fs.exists(dst) // a first swap has no live table yet
    if (hadDst && !fs.rename(dst, bak))
      throw new java.io.IOException(s"swapIn: cannot move $dst aside")
    if (!fs.rename(tmp, dst)) {
      if (hadDst) fs.rename(bak, dst) // restore; table untouched
      throw new java.io.IOException(s"swapIn: cannot activate $tmp")
    }
    fs.delete(bak, true)
  }

  /** Compact a batch-partitioned table (the growing-index / streaming-
    * ingest small-files problem: every micro-batch leaves its own
    * `ingest_batch=N` directory with per-task files, and a month of
    * ticks turns the probe's scan into a file-listing stall): fold ALL
    * partitions into `ingest_batch=-1` with `files` output files, under
    * the same crash-safe swap as [[compact]]. The partitioned LAYOUT is
    * preserved — readers and the appending writers rely on directory-
    * partition discovery, and a flat rewrite would poison the path for
    * the next [[writeBatchPartition]] (mixed flat + partitioned files
    * fail discovery). History lands in `ingest_batch=-1`: foreachBatch
    * ids are never negative, so no future tick's dynamic overwrite can
    * ever REPLACE compacted history by reusing its partition (batch ids
    * restart at 0 after a checkpoint reset — 0 would collide). Returns
    * the row count (unchanged by compaction — the caller's spec
    * asserts it cheaply). */
  def compactBatchPartitions(table: String, files: Int = 1): Long = {
    require(files > 0, s"files must be positive, got $files")
    recoverSwap(table)
    val df = read(table)
      .drop("ingest_batch")
      .repartition(files)
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L))
    writeAndSwap(df, table, partCol = Some("ingest_batch"))
  }

  /** IDEMPOTENT append into a FLAT table under a batch discriminator —
    * the replay-safety protocol for batch-cadence appends
    * ([[graft.run.CorpusPrepJob.increment]]), where the standing table
    * was created by a flat write and the partitioned
    * [[writeBatchPartition]] layout is not an option (mixed flat +
    * partitioned files fail discovery). The batch's rows are staged to
    * a scratch table first (mode=Overwrite — a replay overwrites a
    * crashed staging attempt), then its data files are RENAMED into the
    * live directory with a `b<batchId>_` name prefix. The prefix is the
    * discriminator: [[deleteBatchSlice]] removes exactly this batch's
    * files and nothing else, so rollback-then-recompute replay is
    * possible on a flat table. Returns rows written (observed on the
    * staging write job). */
  def appendBatchSlice(df: DataFrame, table: String, batchId: Long): Long = {
    val obs = Observation()
    val stage = new Path(path(s"${table}__slice_b$batchId"))
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val rows = obs.get("rows").asInstanceOf[Long]
    recoverSwap(table)
    val dst = new Path(path(table))
    if (!fs.exists(dst)) fs.mkdirs(dst)
    // defensive: a crashed earlier move of THIS batch left a partial
    // slice — replace it wholesale, never mix two attempts' files
    deleteBatchSlice(table, batchId)
    fs.listStatus(stage)
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .foreach { s =>
        val to = new Path(dst, s"b${batchId}_${s.getPath.getName}")
        if (!fs.rename(s.getPath, to))
          throw new java.io.IOException(s"appendBatchSlice: cannot move ${s.getPath} to $to")
      }
    fs.delete(stage, true)
    rows
  }

  /** Remove one batch's [[appendBatchSlice]] files from a flat table —
    * the rollback half of the replay protocol. No-op when the table or
    * the slice does not exist. */
  def deleteBatchSlice(table: String, batchId: Long): Unit = {
    val dst = new Path(path(table))
    if (fs.exists(dst))
      fs.listStatus(dst)
        .filter(_.getPath.getName.startsWith(s"b${batchId}_"))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** Batch ids with [[appendBatchSlice]] files present in `table` —
    * the discriminator scan a maintenance job uses to find ticks that
    * appended but may not have committed. */
  def batchSliceIds(table: String): Set[Long] = {
    val dst = new Path(path(table))
    if (!fs.exists(dst)) Set.empty
    else fs.listStatus(dst).flatMap { s =>
      val n = s.getPath.getName
      val digits = if (n.startsWith("b")) n.drop(1).takeWhile(_.isDigit) else ""
      if (digits.nonEmpty && n.startsWith(s"b${digits}_")) Some(digits.toLong)
      else None
    }.toSet
  }

  /** Batch ids whose [[commitBatch]] marker exists on `table`. */
  def committedBatchIds(table: String): Set[Long] = {
    val dst = new Path(path(table))
    val prefix = "_graft_commit_b"
    if (!fs.exists(dst)) Set.empty
    else fs.listStatus(dst).flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit) &&
        n.length > prefix.length) Some(n.drop(prefix.length).toLong)
      else None
    }.toSet
  }

  private def commitMarker(table: String, batchId: Long): Path =
    new Path(path(table), s"_graft_commit_b$batchId")

  /** Whether `batchId` fully committed against `table` ([[commitBatch]]
    * ran after every one of the tick's slice appends). */
  def batchCommitted(table: String, batchId: Long): Boolean =
    fs.exists(commitMarker(table, batchId))

  /** Whether the LIVE table was produced by a [[writeAndSwap]] carrying
    * `appliedBatch = batchId` — the replay guard for swap-replacing
    * (non-idempotent) ticks: the marker lives inside the table
    * directory and swaps with it, so it can never disagree with the
    * data. Only the LAST applied batch is knowable (each swap replaces
    * the directory, markers included) — exactly what foreachBatch
    * replay needs, since only the last uncommitted batch replays. */
  def batchApplied(table: String, batchId: Long): Boolean =
    fs.exists(new Path(path(table), s"_graft_applied_b$batchId"))

  /** The COMMIT POINT of a multi-table batch tick: an underscore-
    * prefixed marker file (invisible to Spark's readers) created after
    * every slice of the batch has landed. A replay that finds the
    * marker skips the batch; one that doesn't rolls every slice back
    * and recomputes. */
  def commitBatch(table: String, batchId: Long): Unit = {
    val m = commitMarker(table, batchId)
    val out = fs.create(m, true)
    out.close()
  }

  /** Write a CATALOG table bucketed (and sorted) on the join key.
    *
    * The 100 TB co-location path: parent and child staging tables
    * bucketed on the same key with the same bucket count join with NO
    * exchange — the per-bucket files are already hash-distributed, so
    * the engine's hottest repeated join (entity ⋈ subform) skips
    * shuffling both tables every query (the in-task sort of pre-sorted
    * single-file buckets is a cheap nearly-sorted pass; fully sorted
    * scans sit behind a legacy flag since Spark 3.0). Bucketing
    * requires the session catalog (`saveAsTable`); the path-based
    * writes above stay for the plain landing layer. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    // one file per bucket (repartition on the bucket key): the scan can
    // then use the per-file sort order and the join elides its Sort too
    df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path(table))
      .saveAsTable(table)
}
