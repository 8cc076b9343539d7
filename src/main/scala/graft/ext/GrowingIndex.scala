package graft.ext

import graft.sinks.StagingWriter
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** The lifecycle every growing near-dup index shares — MinHash bands
  * ([[Dedup.MinhashIndex]]), sign-LSH buckets
  * ([[Similarity.SignLshIndex]]), IVF cells ([[Similarity.IvfIndex]])
  * and dHash bands ([[Multimodal.DhashIndex]]). A family supplies only
  * what is its own: its artifact suffixes (existence gate LAST), an
  * optional geometry sidecar, and [[frames]] — a batch's artifact
  * frames, keyed under the geometry from one signing of the batch
  * (a [[NeardupIndex]] family's `sign`). Probes stay in the family
  * files. This class owns every write.
  *
  * Layouts, one per growth cadence:
  *   - [[build]]: overwrite, the index of a whole corpus;
  *   - [[append]]: plain appends to the standing artifacts;
  *   - [[appendBatchSlice]]: appends under the flat-table batch
  *     discriminator ([[StagingWriter.appendBatchSlice]]), so a
  *     replayed batch-cadence tick first rolls its own slice back;
  *   - [[NeardupIndex.ingestBatch]]: idempotent `ingest_batch=<id>`
  *     partitions, the streaming layout — an at-least-once replay
  *     replaces its own partition. Never mix it with the flat layouts
  *     on one table.
  *
  * Write order is the crash contract: the sidecar first, then the
  * artifacts in order, the gate last. A build or bootstrap that dies
  * part-way therefore leaves [[exists]] false, never a passing gate
  * over a missing artifact. The sidecar is written only by a build, a
  * bootstrap (the first non-empty batch partition of a fresh index) or
  * a rebuild; growth keys the batch under the STORED geometry and
  * never appends to, compacts or rewrites it.
  *
  * Maintenance: [[compact]] folds the per-tick partitions of every
  * artifact (gate last) and leaves the sidecar alone; [[rebuild]]
  * stages a fresh build under `<table>__rebuild` and swaps each table
  * in through [[StagingWriter.swapIn]], sidecar first and gate last —
  * a crash before the first swap changes nothing, and rerunning the
  * rebuild repairs a half-swapped state. */
abstract class GrowingIndex {
  import GrowingIndex.Frames

  /** Driver-side keying state the sidecar stores (`Unit` without one). */
  type Geometry

  /** Artifact suffixes in write order; the LAST is the existence gate. */
  def artifacts: Seq[String]

  /** Suffixes of an older layout of this family's artifacts, which
    * [[rebuild]] drops once the current layout is swapped in. */
  def retired: Seq[String] = Nil

  /** Suffix of the geometry sidecar, for families that keep one. */
  def sidecar: Option[String] = None

  /** Partition column of the artifacts' own layout (IVF cells); such an
    * index grows only by [[append]]. */
  def partitionCol: Option[String] = None

  /** The geometry a build, bootstrap or rebuild derives from its input;
    * None when the input holds nothing to derive it from. */
  protected def fit(input: DataFrame): Option[Geometry]

  protected def readGeometry(writer: StagingWriter, table: String): Geometry

  protected def geometryFrame(input: DataFrame, g: Geometry): DataFrame

  /** Hand the batch's artifact frames to `emit`, one per suffix in
    * [[artifacts]] order, from one signing of the batch. */
  protected def frames(batch: DataFrame, g: Geometry)(emit: DataFrame => Unit): Unit

  /** The existence gate: the last artifact is on storage. */
  def exists(writer: StagingWriter, table: String): Boolean =
    writer.exists(table + artifacts.last)

  /** Fails with [[GrowingIndex.StaleLayout]] when the gate passes over a
    * missing artifact. The gate is written last, so no crash leaves
    * that state: the index was written in an older layout, and reading
    * it as this one would probe the wrong tables. Every probe and every
    * growth of an existing index checks first. */
  def requireLayout(writer: StagingWriter, table: String): Unit =
    if (exists(writer, table)) {
      val missing = artifacts.init.filterNot(a => writer.exists(table + a))
      if (missing.nonEmpty) throw new GrowingIndex.StaleLayout(table, missing)
    }

  def build(input: DataFrame, writer: StagingWriter, table: String): Unit = {
    val g = fit(input).getOrElse(throw new IllegalArgumentException(
      s"build($table): empty input — nothing to index"))
    writeSidecar(input, writer, table, g)
    emit(frames(input, g), table)(put(writer, append = false))
  }

  /** Grow the index with a batch. Append the KEPT (post-dedup) rows only
    * — a dropped duplicate's keys would pair every future copy twice —
    * and keep id spaces disjoint across batches. */
  def append(batch: DataFrame, writer: StagingWriter, table: String): Unit =
    append(frames(batch, readGeometry(writer, table)) _, writer, table)

  /** [[append]] of a batch whose frames the caller computed already
    * (keyed under the stored geometry). */
  def append(fs: Frames, writer: StagingWriter, table: String): Unit = {
    requireLayout(writer, table)
    emit(fs, table)(put(writer, append = true))
  }

  def appendBatchSlice(
      batch: DataFrame, writer: StagingWriter, table: String, batchId: Long): Unit =
    appendBatchSlice(frames(batch, readGeometry(writer, table)) _, writer, table, batchId)

  def appendBatchSlice(fs: Frames, writer: StagingWriter, table: String, batchId: Long): Unit = {
    flatOnly("appendBatchSlice")
    requireLayout(writer, table)
    emit(fs, table)(writer.appendBatchSlice(_, _, batchId))
  }

  /** Fold every artifact's `ingest_batch` partitions into one partition
    * of `files` files ([[StagingWriter.compactBatchPartitions]]) — a
    * month of 1-minute ticks is ~43k directories per artifact, and the
    * probe's file listing, not its join, becomes the bottleneck. Probe
    * results are byte-identical before and after: rows move between
    * files, never change. Returns each artifact's row count. */
  def compact(writer: StagingWriter, table: String, files: Int = 1): Map[String, Long] = {
    flatOnly("compact")
    artifacts.map(s => s -> writer.compactBatchPartitions(table + s, files)).toMap
  }

  /** Crash-safe full rebuild from `input` (see the class doc). Between
    * two swaps the index mixes generations; that stays probe-consistent
    * when the rebuild derives from the same rows the old index covers.
    * It converts an index of an older layout: the [[retired]] tables are
    * dropped after the gate is swapped in. */
  def rebuild(input: DataFrame, writer: StagingWriter, table: String): Unit = {
    val staged = stage(input, writer, table)
    (sidecar.toSeq ++ artifacts).foreach(s => writer.swapIn(staged + s, table + s))
    retired.foreach(s => writer.drop(table + s))
  }

  /** The staging half of [[rebuild]]: a build under `<table>__rebuild`,
    * live tables untouched. Leftovers of a crashed rebuild are
    * overwritten by the next one. */
  private[graft] def stage(input: DataFrame, writer: StagingWriter, table: String): String = {
    val staged = s"${table}__rebuild"
    build(input, writer, staged)
    staged
  }

  protected def writeSidecar(
      input: DataFrame, writer: StagingWriter, table: String, g: Geometry): Unit =
    sidecar.foreach(s => writer.write(geometryFrame(input, g), table + s, append = false))

  protected def emit(fs: Frames, table: String)(put: (DataFrame, String) => Unit): Unit = {
    val names = artifacts.iterator
    fs(df => put(df, table + names.next()))
    require(!names.hasNext, s"$table: frames left ${names.toList} unwritten")
  }

  private def put(writer: StagingWriter, append: Boolean)(df: DataFrame, name: String): Unit =
    partitionCol match {
      case Some(c) if append => writer.appendPartitioned(df, name, c)
      case Some(c) => writer.writePartitioned(df, name, c)
      case None => writer.write(df, name, append); ()
    }

  private def flatOnly(op: String): Unit =
    require(partitionCol.isEmpty,
      s"$op needs flat artifacts; this index is partitioned by ${partitionCol.get}")
}

object GrowingIndex {

  /** An index whose gate passes over a missing artifact: written in an
    * older layout of its family, which `rebuild` (for the corpus index,
    * `CorpusPrepJob.refreshArtifacts`) converts. */
  final class StaleLayout(table: String, missing: Seq[String])
      extends IllegalStateException(s"index $table was written in an older layout: " +
        s"it has no ${missing.map(table + _).mkString(", ")}; run " +
        "CorpusPrepJob.refreshArtifacts (or the index's rebuild) to convert it")

  /** One batch's artifact frames, handed to a writer in
    * [[GrowingIndex.artifacts]] order: a family's `frames` of the batch,
    * or a signed batch's ([[NeardupIndex.Signed.frames]]). */
  type Frames = (DataFrame => Unit) => Unit

  /** A family whose keying needs no stored state (MinHash, dHash). */
  trait NoSidecar extends GrowingIndex {
    type Geometry = Unit
    protected def fit(input: DataFrame): Option[Unit] = Some(())
    protected def readGeometry(writer: StagingWriter, table: String): Unit = ()
    protected def geometryFrame(input: DataFrame, g: Unit): DataFrame =
      throw new UnsupportedOperationException("no sidecar")
  }
}

/** A [[GrowingIndex]] that near-dups each ingest batch against itself
  * and its own history, then grows with the survivors — the continuous
  * ingest loop a production corpus runs. A family adds its id column
  * and ONE signing step, [[sign]]: the batch's signature under a
  * geometry, which serves the within-batch pairs, the probe of the
  * standing index and the artifact frames ([[NeardupIndex.Signed]]),
  * so a family's banding and verify code exists once and a tick signs
  * its batch once. `threshold` is the family's match bound (Jaccard or
  * cosine floor, hamming ceiling). */
abstract class NeardupIndex[T] extends GrowingIndex {
  import NeardupIndex.Signed

  def idCol: String

  def defaultThreshold: T

  /** Sign `batch` under `g`; the caller owns [[Signed.release]]. */
  protected def sign(batch: DataFrame, g: Geometry): Signed[T]

  protected final def frames(batch: DataFrame, g: Geometry)(emit: DataFrame => Unit): Unit =
    NeardupIndex.using(sign(batch, g))(_.frames(None)(emit))

  /** [[ingestBatch]] as the `foreachBatch` of a streaming query. */
  def ingestQuery(
      stream: DataFrame,
      writer: StagingWriter,
      table: String,
      checkpoint: String,
      threshold: T = defaultThreshold): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), writer, table, threshold, batchId)
        ()
      }
      .start()

  /** One tick: within-batch pairs, plus the probe of the standing index
    * once its gate passes; the pair evidence lands in `<table>_pairs`,
    * the survivors (every row that is not the b-side of a pair) in
    * `<table>_docs`, and the survivors' keys grow the index as this
    * tick's batch partition — so the next tick sees this one as
    * history. The batch is signed ONCE, under the stored geometry or,
    * on a fresh index, under the one fitted from the batch (whose
    * sidecar the partition write bootstraps), and that signature feeds
    * the pairs, the probe and the partition. The first tick of a fresh
    * index has no probe, and an empty one writes no artifact (a batch
    * with nothing to fit, e.g. no non-zero vector, has no pairs). State
    * lives in the index parquet, not the state store.
    *
    * `foreachBatch` is at-least-once: a crash between these writes and
    * the checkpoint commit replays the tick. Every write is therefore a
    * batch-partition overwrite, and the pair set drops self-matches (a
    * replayed row meeting its own indexed copy) and double-finds (a
    * within-batch pair the replayed probe finds again). Keeper
    * semantics are pairwise b-side drop; run [[Dedup.dupComponentsStar]]
    * over `<table>_pairs` for transitive clusters. Ids must be unique
    * across batches. */
  def ingestBatch(
      batch: DataFrame,
      writer: StagingWriter,
      table: String,
      threshold: T,
      batchId: Long): Unit = {
    requireLayout(writer, table)
    val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val hasIndex = exists(writer, table)
      val stored = sidecar.forall(s => writer.exists(table + s))
      val g = if (stored) Some(readGeometry(writer, table)) else fit(b)
      val signed = g.map(sign(b, _))
      try {
        // nothing to fit (no non-zero vector) is nothing to pair
        val found = signed.fold(b.select(col(idCol).as("a_id"), col(idCol).as("b_id")).limit(0)) {
          s =>
            if (hasIndex) s.pairs(threshold).union(s.against(writer, table, threshold))
            else s.pairs(threshold)
        }
        val pairs = found.filter(col("a_id") =!= col("b_id")).distinct().localCheckpoint(true)
        writer.writeBatchPartition(pairs, s"${table}_pairs", batchId)
        val kept = b.join(pairs.select(col("b_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
          .localCheckpoint(true)
        writer.writeBatchPartition(kept, s"${table}_docs", batchId)
        // an empty first tick writes no artifact: a gate must never pass
        // over an empty index
        for (geo <- g; s <- signed if hasIndex || !kept.isEmpty) {
          if (!stored) writeSidecar(b, writer, table, geo)
          emit(s.frames(Some(kept)), table)(writer.writeBatchPartition(_, _, batchId))
        }
      } finally signed.foreach(_.release())
    } finally b.unpersist(blocking = false)
  }
}

object NeardupIndex {

  /** One batch signed under an index geometry — the only place a family
    * signs, bands and verifies. Its results are materialized before
    * they return (a caller may release the signature right after), and
    * pairs are (`a_id`, `b_id`, evidence) with `a_id` the standing or
    * earlier id, so the later id is the drop candidate on both legs. */
  trait Signed[T] {

    /** Within-batch pairs, `a_id < b_id`. */
    def pairs(threshold: T): DataFrame

    /** Pairs against the standing index `table` (`a_id` stored). */
    def against(writer: StagingWriter, table: String, threshold: T): DataFrame

    /** The artifact frames of the signed rows whose ids `keep` holds
      * (every signed row when None). */
    def frames(keep: Option[DataFrame]): GrowingIndex.Frames

    def release(): Unit
  }

  /** `f` over `s`, released when `f` returns. */
  def using[S <: Signed[_], A](s: S)(f: S => A): A =
    try f(s) finally s.release()
}
