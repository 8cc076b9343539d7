package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** The MinHash signature by 64 `min` aggregates — the distributed
  * formulation the engine used before the per-row kernel, kept as the
  * reference [[graft.functions.MinhashSign]] is pinned against. Each
  * text is exploded to (doc_id, h) shingle rows ([[Dedup.shingleHashes]])
  * and re-aggregated per doc_id: slot k = min over the rows of
  * xxhash64(h, k), band j = xxhash64 of slots 4j..4j+3, the distinct
  * hashes ascending with their row counts, and the row total as the
  * size. It groups by doc_id, so the ids of its input must be unique.
  *
  * Returns (doc_id, hs, cnt, sz, bands) for every document with at
  * least one shingle. */
object MinhashReference {
  def apply(docs: DataFrame): DataFrame = {
    val hs = Dedup.shingleHashes(docs)
    val mins = (0 until Dedup.numHashes).map(k => min(xxhash64(col("h"), lit(k))).as(s"m$k"))
    val bandKeys = array((0 until Dedup.bands).map { j =>
      xxhash64((0 until Dedup.rowsPerBand).map(r => col(s"m${j * Dedup.rowsPerBand + r}")): _*)
    }: _*)
    val bands = hs.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), bandKeys.as("bands"))
    hs.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).cast("int").as("c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("h"), col("c")))).as("m"), sum(col("c")).as("sz"))
      .select(col("doc_id"), col("m.h").as("hs"), col("m.c").as("cnt"), col("sz"))
      .join(bands, "doc_id")
  }
}
