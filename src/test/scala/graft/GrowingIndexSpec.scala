package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, GrowingIndex, Multimodal, NeardupIndex, Similarity}
import graft.sinks.StagingWriter

/** The write-order contract of [[graft.ext.GrowingIndex]], checked on
  * every index family by fault injection: a writer that dies right
  * after one artifact lands; and the layout check, on a MinHash index
  * written in the older three-artifact layout. */
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

  test("a MinHash index in the old three-artifact layout fails every probe and growth " +
    "with StaleLayout; rebuild converts it and drops the retired tables") {
    val all = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = all.filter($"doc_id" % 10 =!= 0)
    val batch = all.filter($"doc_id" % 10 === 0)
    val ix = Dedup.MinhashIndex
    // the old layout by hand: exploded shingle rows, their per-doc
    // counts and the exploded band keys, gate last
    val w = new StagingWriter(spark, tmpDir("gi_old"))
    val hs = Dedup.shingleHashes(corpus)
    w.write(hs, "old__shingles", append = false)
    w.write(hs.groupBy("doc_id").agg(count(lit(1)).as("sz")), "old__sizes", append = false)
    w.write(MinhashReference(corpus).select($"doc_id", posexplode($"bands").as(Seq("band", "band_hash"))),
      "old__bands", append = false)
    assert(ix.exists(w, "old") && ix.retired.forall(r => w.exists("old" + r)))
    val before = w.tables
    def stale(what: String)(f: => Any): Unit = {
      val e = intercept[GrowingIndex.StaleLayout](f)
      assert(e.getMessage.contains("refreshArtifacts") && e.getMessage.contains("old__sets"),
        s"$what: ${e.getMessage}")
    }
    for (b <- Seq(0L, Dedup.LocalMaxShingleRows))
      stale(s"probe at bound $b")(Dedup.Signatures.using(batch, b)(_.against(w, "old")))
    stale("append")(ix.append(batch, w, "old"))
    stale("appendBatchSlice")(ix.appendBatchSlice(batch, w, "old", 1L))
    stale("tick")(ix.ingestBatch(batch, w, "old", ix.defaultThreshold, 1L))
    assert(w.tables == before, s"a failed call wrote tables: ${w.tables.diff(before)}")

    ix.rebuild(corpus, w, "old")
    assert(ix.retired.forall(r => !w.exists("old" + r)), s"retired tables left: ${w.tables}")
    val fresh = new StagingWriter(spark, tmpDir("gi_fresh"))
    ix.build(corpus, fresh, "new")
    def probe(w: StagingWriter, t: String): Seq[Row] =
      Dedup.neardupAgainstIndex(batch, w, t).orderBy("a_id", "b_id").collect().toSeq
    val want = probe(fresh, "new")
    assert(want.nonEmpty, "the fixture has no cross pair — the comparison is vacuous")
    assert(probe(w, "old") == want)
  }
}
