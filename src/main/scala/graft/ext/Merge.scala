package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch CDC apply — the latest-row-wins MERGE that keeps a warehouse
  * dimension current from a change feed. The reference's refresh cycle
  * reaches the same end state by staging + full replace
  * (`sqlDwh.py`'s staging→promote); this is the incremental form: a
  * batch of keyed update/insert rows lands ON TOP of the current
  * snapshot, duplicate keys within the batch resolve to the highest
  * change-sequence, and untouched rows pass through. The SCD2 sibling
  * ([[Sessions.changeHistory]]) keeps every version; this keeps ONE —
  * the "type 1" half of the dimension-maintenance pair.
  */
object Merge {

  /** Apply `updates` over `current`: per key, the surviving row is the
    * one with the highest `seqCol` — current rows rank at sequence 0,
    * so any update beats the snapshot, inserts (keys absent from
    * `current`) survive trivially, and a key the batch never touched
    * keeps its snapshot row. `updates` must carry the same columns as
    * `current` plus `seqCol` with values ≥ 1, unique per key (the CDC
    * feed's change sequence — ties between two updates of one key
    * would make the survivor arbitrary, so the contract requires the
    * feed to disambiguate, exactly as a real CDC log's LSN does).
    *
    * Scale shape: ONE shuffle on `key`; the rank-1 filter rewrites to
    * a partial WindowGroupLimit below the exchange (the x56/x66
    * shape), so each map task forwards at most one candidate row per
    * key it sees — the exchange moves O(keys), not snapshot + feed.
    * The snapshot never joins against itself and the feed is streamed,
    * not collected. */
  def latestWinsMerge(
      current: DataFrame, updates: DataFrame, key: String,
      seqCol: String): DataFrame = {
    val all = current.withColumn(seqCol, lit(0L))
      .unionByName(updates.withColumn(seqCol, col(seqCol).cast("long")))
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** DELETE-AWARE CDC apply — [[latestWinsMerge]] with tombstones: the
    * full replication contract a real change feed (Debezium-style
    * op ∈ insert/update/delete) needs, which latest-wins alone cannot
    * express (an upsert merge can only ever GROW the key set).
    * `updates` carries `current`'s columns plus `seqCol` (values ≥ 1,
    * unique per key — the feed's LSN) and `opCol` ∈ {'U','D'} ('U' is
    * insert-or-update; snapshot rows rank at seq 0 op 'U'). Per key
    * the HIGHEST-seq row decides: 'U' survives with its attrs, 'D'
    * removes the key from the result entirely. The semantics fall out
    * of one rank: delete-then-reinsert resurrects (the later 'U'
    * outranks the tombstone), update-then-delete deletes, and a
    * tombstone for a never-seen key is a no-op (its own rank-1 row is
    * filtered — nothing to remove). The SCD2 sibling keeps every
    * version; [[latestWinsMerge]] keeps one per key; this keeps one
    * OR none — the three dimension-maintenance contracts.
    *
    * Scale shape: identical to [[latestWinsMerge]] — ONE shuffle on
    * `key`, rank-1 rewriting to a partial WindowGroupLimit below the
    * exchange, O(keys) moved, snapshot never self-joins. */
  def cdcApply(
      current: DataFrame, updates: DataFrame, key: String,
      seqCol: String, opCol: String = "op"): DataFrame = {
    val all = current
      .withColumn(seqCol, lit(0L)).withColumn(opCol, lit("U"))
      .unionByName(updates.withColumn(seqCol, col(seqCol).cast("long")))
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) === "U")
      .drop("__rn", opCol)
  }

  /** Point-in-time dimension lookup against an SCD2 history (the
    * [[Sessions.changeHistory]] output shape: `key`, attr columns,
    * `valid_from_us`, `valid_to_us` NULL-open) — the "what did this
    * dimension say WHEN the fact happened" join every warehouse
    * backfill needs (a latest-version join silently rewrites history;
    * this one reproduces it). A fact row matches the version whose
    * half-open validity interval `[valid_from_us, valid_to_us)`
    * contains `factTimeUs`; versions partition each key's timeline, so
    * AT MOST ONE version matches — the join can never duplicate a
    * fact. Facts BEFORE the key's first version (or with no dimension
    * key at all) survive the left join with NULL attrs: "unknown at
    * the time" is the honest answer, not the current value.
    *
    * Scale shape: ONE equi-join on `key` (SortMergeJoin with the range
    * test as a residual condition — never a theta-join); the dimension
    * side is bounded by attribute CHURN (key × versions), typically
    * orders of magnitude below the fact stream. Per-fact fan-in during
    * the merge is the key's version count, already grouped by the
    * key-sorted join. */
  def pitLookup(
      facts: DataFrame, dim: DataFrame, key: String,
      factTimeUs: String): DataFrame = {
    val f = facts.alias("f")
    val d = dim.alias("d")
    val dimCols = dim.columns.filterNot(c => c == key || c == factTimeUs)
    f.join(d,
        col(s"f.$key") === col(s"d.$key") &&
          col(s"f.$factTimeUs") >= col("d.valid_from_us") &&
          (col("d.valid_to_us").isNull ||
            col(s"f.$factTimeUs") < col("d.valid_to_us")),
        "left")
      .select((facts.columns.map(c => col(s"f.$c")) ++
        dimCols.map(c => col(s"d.$c"))).toIndexedSeq: _*)
  }

  /** Right-to-erasure rewrite — the deletion half of the privacy
    * family (k-anonymity/l-diversity/t-closeness audit what may be
    * RELEASED; this removes what may no longer be KEPT): drop every
    * row whose `keyCol` appears in the deletion list. A plain
    * broadcast-able LEFT ANTI join — and the one subtlety is NULL
    * keys: an anti join never matches a NULL key, so ownerless rows
    * are KEPT by construction (an erasure request names subjects; a
    * row with no subject cannot be one of them — spec-pinned).
    * Production writes the result through `StagingWriter.writeAndSwap`
    * (the crash-safe rewrite the compaction path already proves). */
  def eraseSubjects(df: DataFrame, subjects: DataFrame,
      keyCol: String): DataFrame =
    df.join(broadcast(subjects.select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")

  /** The erasure AUDIT row set — proof-of-processing for a deletion
    * request, per `groupCol`: rows before, rows dropped, rows after
    * (`before ≡ dropped + after` by construction — the spec identity),
    * and the DISTINCT subjects actually seen in that group (a subject
    * with no rows needs no certificate). ONE pass: the deletion list
    * broadcasts as a membership flag; no second scan of the corpus.
    * The distinct-subject count plans as the standard two-phase
    * partial-expand aggregate. */
  def erasureAudit(df: DataFrame, subjects: DataFrame, keyCol: String,
      groupCol: String): DataFrame = {
    val marked = df.join(
      broadcast(subjects.select(col(keyCol)).distinct()
        .withColumn("__erase", lit(1L))),
      Seq(keyCol), "left")
    marked.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_before"),
        coalesce(sum(when(col("__erase").isNotNull, 1L)), lit(0L))
          .as("n_dropped"),
        coalesce(sum(when(col("__erase").isNull, 1L)), lit(0L))
          .as("n_after"),
        countDistinct(when(col("__erase").isNotNull, col(keyCol)))
          .as("n_subjects_present"))
  }

  /** Bucketed table-checksum reconciliation — "is the copy equal to
    * the source" answered WITHOUT moving either table: after a 100 TB
    * migration (or between the staging and promoted legs of the
    * reference's refresh cycle), a full-row join to diff two replicas
    * costs another 100 TB shuffle; this folds each side independently
    * into `buckets` (row-count, digest-sum) cells and compares the
    * cells. Each row digests to a 60-bit integer via the shared md5
    * idiom (first 15 hex chars — Spark `conv(…,16,10)` ≡ DuckDB
    * `('0x'||…)::BIGINT`) over `rowStr`, a caller-built CANONICAL
    * string projection (integers/µs/cents spelled explicitly — never
    * raw doubles or engine-formatted timestamps, whose string forms
    * drift between engines); the bucket is md5-derived from `keyStr`
    * alone, so a row whose PAYLOAD changed stays in its bucket (the
    * mismatch localizes to the key's cell) while a dropped/added row
    * shows as a count delta there. Digest sums fold in DECIMAL(38,0)
    * ↔ HUGEINT and report modulo 2³¹−1 (digest sums pass BIGINT at
    * ~8·10⁹ rows per bucket); a sum collision is a ≤2⁻⁶⁰-ish
    * per-bucket event — this is a drift DETECTOR, the repair join
    * runs afterwards against only the mismatched buckets' keys.
    * Output: one row per populated bucket with both sides' counts,
    * checksums, and an `is_equal` verdict (empty-on-one-side buckets
    * compare 0 rows / checksum 0 via the outer-join coalesce).
    *
    * Scale shape: each side is ONE map-side-combinable groupBy to
    * `buckets` rows — the only shuffle moves O(buckets) cells, and
    * the comparison join is a broadcast of one cell set. Nothing
    * all-pairs, nothing collected; both scans stream once. */
  def tableChecksum(
      src: DataFrame, dst: DataFrame, keyStr: String, rowStr: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def cells(df: DataFrame): DataFrame =
      df.select(
          expr(s"CAST(conv(substring(md5($keyStr), 1, 4), 16, 10) " +
            s"AS BIGINT) % $buckets").as("bucket"),
          expr(s"CAST(conv(substring(md5($rowStr), 1, 15), 16, 10) " +
            "AS BIGINT)").as("__digest"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("rows"),
          expr("CAST(sum(CAST(__digest AS DECIMAL(38,0))) % 2147483647 " +
            "AS BIGINT)").as("check"))
    cells(src).as("s")
      .join(cells(dst).as("d"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("s.rows"), lit(0L)).as("src_rows"),
        coalesce(col("d.rows"), lit(0L)).as("dst_rows"),
        coalesce(col("s.check"), lit(0L)).as("src_check"),
        coalesce(col("d.check"), lit(0L)).as("dst_check"))
      .withColumn("is_equal",
        when(col("src_rows") === col("dst_rows") &&
          col("src_check") === col("dst_check"), 1L).otherwise(0L))
  }
}
