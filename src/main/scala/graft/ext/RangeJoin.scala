package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) joins — the as-of join's sibling family
  * (`AsofJoin` handles "most recent at-or-before"; this handles "all
  * rows whose value falls in an interval").
  *
  * Two shapes, because their 100 TB plans are different:
  *
  *   - [[bandJoin]] — fact × SMALL interval dimension (length bands,
  *     price tiers, IP-geo ranges, SLA buckets). The dimension
  *     broadcasts and the range predicate evaluates per fact row — no
  *     shuffle of the fact side at all. Spark plans a non-equi join as
  *     BroadcastNestedLoopJoin, which is exactly right when one side
  *     is dozens of rows: "nested loop" over a broadcast of size d is
  *     a per-row d-probe, linear in the corpus.
  *   - [[binnedPointInterval]] — points × LARGE interval table, where
  *     a broadcast no longer fits and a nested loop would be
  *     quadratic. Standard bin decomposition: every interval explodes
  *     to the fixed-width bins it overlaps, every point maps to its
  *     bin, the join becomes EQUI on the bin id (one hash shuffle,
  *     never a cross product), and the exact range predicate re-checks
  *     after the collision. Completeness: an interval overlapping a
  *     point's bin is the only way to contain the point, so bin
  *     collision is a superset of the true result — same
  *     candidates-then-verify contract as the LSH dedup family. Bin
  *     width trades replication (intervals emit ⌈len/width⌉+1 rows)
  *     against bucket density; a skewed mega-interval is bounded by
  *     its own length, not the corpus.
  */
object RangeJoin {

  /** Fact × broadcast interval dimension: rows of `fact` paired with
    * every `dim` row where `lo <= valueCol < hi` (half-open, so
    * adjacent bands never double-count a boundary value). `dim` must
    * be small — it is broadcast verbatim. */
  def bandJoin(fact: DataFrame, dim: DataFrame, valueCol: String): DataFrame =
    fact.join(broadcast(dim),
      col(valueCol) >= col("lo") && col(valueCol) < col("hi"))

  /** Points × interval table via bin decomposition: every (pointKey,
    * point) row is paired with every (key, lo, hi) interval of the
    * SAME key with `lo <= point < hi` (half-open). Both sides must
    * carry integer-comparable values (e.g. epoch micros). The join is
    * equi on (key, bin) — one shuffle — with the exact predicate
    * applied after; `binWidth` must be > 0. */
  def binnedPointInterval(
      points: DataFrame, pointKey: String, pointCol: String,
      intervals: DataFrame, intervalKey: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth $binWidth must be positive")
    // exact long floor-division (pmod is non-negative, so subtracting
    // it always rounds DOWN) — a double-division bin would misplace
    // boundary values once the domain leaves 2^53
    def binExpr(v: String): String =
      s"(($v) - pmod($v, ${binWidth}L)) DIV ${binWidth}L"
    val p = points.withColumn("__bin", expr(binExpr(pointCol)))
    // interval [lo, hi) covers bins bin(lo)..bin(hi - 1); sequence is
    // safe because lo < hi implies bin(lo) <= bin(hi - 1)
    val iv = intervals
      .filter(col("lo") < col("hi"))
      .withColumn("__bin",
        explode(sequence(expr(binExpr("lo")), expr(binExpr("hi - 1")))))
    p.join(iv,
      p(pointKey) === iv(intervalKey) &&
        p("__bin") === iv("__bin") &&
        col(pointCol) >= col("lo") && col(pointCol) < col("hi"))
      .drop(p("__bin")).drop(iv("__bin"))
  }
}
