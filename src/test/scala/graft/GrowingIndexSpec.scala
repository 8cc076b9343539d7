package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{Dedup, GrowingIndex, Multimodal, NeardupIndex, Similarity}
import graft.sinks.StagingWriter

/** The write-order contract of [[graft.ext.GrowingIndex]], checked on
  * every index family by fault injection: a writer that dies right
  * after one artifact lands. */
class GrowingIndexSpec extends SparkSpec {

  import spark.implicits._

  private final class Crash(table: String) extends RuntimeException(s"injected crash after $table")

  /** A writer that fails its write right after `table` has landed. */
  private final class CrashAfter(s: SparkSession, dir: String, table: String)
      extends StagingWriter(s, dir) {
    override def write(df: DataFrame, t: String, append: Boolean): Long = {
      val n = super.write(df, t, append)
      if (t == table) throw new Crash(t)
      n
    }
    override def writeBatchPartition(df: DataFrame, t: String, batchId: Long): Unit = {
      super.writeBatchPartition(df, t, batchId)
      if (t == table) throw new Crash(t)
    }
  }

  private def tickOf[T](ix: NeardupIndex[T])(b: DataFrame, w: StagingWriter, t: String): Unit =
    ix.ingestBatch(b, w, t, ix.defaultThreshold, batchId = 0L)

  test("every index family: a crash after any non-gate artifact fails the gate; the replay reaches the clean-run state") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base.replace("w20", "x20")),
      (3L, (1 to 30).map(i => "b" * (i % 6 + 1) + (i * i)).mkString(" ")))
      .toDF("doc_id", "text")
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val emb = Seq((1L, a), (2L, a.map(_ * 0.75)), (3L, (1 to 64).map(i => math.cos(i * 3.7))))
      .toDF("vec_id", "embedding")
    // small-integer coordinates: the k-means sums are exact in any
    // order, so a replayed build's centroids match bit for bit
    val cellVecs = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 4.0, 1.0)),
      (3L, Seq(2.0, 0.0, 1.0)), (4L, Seq(0.0, 3.0, 3.0)), (5L, Seq(1.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val media = Multimodal.mediaTable(docs)

    type Layout = (DataFrame, StagingWriter, String) => Unit
    def build(ix: GrowingIndex): Layout = ix.build(_, _, _)
    val cases: Seq[(String, GrowingIndex, DataFrame, Seq[(String, Layout)])] = Seq(
      ("minhash", Dedup.MinhashIndex, docs,
        Seq("build" -> build(Dedup.MinhashIndex), "tick" -> tickOf(Dedup.MinhashIndex) _)),
      ("signlsh", Similarity.SignLshIndex(), emb,
        Seq("build" -> build(Similarity.SignLshIndex()),
          "tick" -> tickOf(Similarity.SignLshIndex()) _)),
      ("ivf", Similarity.IvfIndex(cells = 2), cellVecs,
        Seq("build" -> build(Similarity.IvfIndex(cells = 2)))),
      ("dhash", Multimodal.DhashIndex, media,
        Seq("build" -> build(Multimodal.DhashIndex), "tick" -> tickOf(Multimodal.DhashIndex) _)))

    for ((family, ix, input, layouts) <- cases; (layout, run) <- layouts) {
      val ordered = ix.sidecar.toSeq ++ ix.artifacts
      val tables = ordered.map("t" + _) ++
        (if (layout == "tick") Seq("t_pairs", "t_docs") else Nil)
      def state(w: StagingWriter): Seq[Seq[String]] =
        tables.map(t => w.read(t).toJSON.collect().sorted.toSeq)
      val clean = new StagingWriter(spark, tmpDir(s"gi_clean_$family"))
      run(input, clean, "t")
      assert(ix.exists(clean, "t"), s"$family/$layout: clean run left no gate")
      val cleanState = state(clean)
      for (s <- ordered.init) {
        val dir = tmpDir(s"gi_crash_$family")
        intercept[Crash] { run(input, new CrashAfter(spark, dir, "t" + s), "t") }
        val w = new StagingWriter(spark, dir)
        assert(!ix.exists(w, "t"), s"$family/$layout: gate passes after a crash past $s")
        run(input, w, "t")
        assert(state(w) == cleanState, s"$family/$layout: replay after a crash past $s drifted")
      }
    }
  }
}
