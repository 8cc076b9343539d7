package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, NeardupIndex, Similarity}
import graft.sinks.StagingWriter

/** The streaming tick of [[graft.ext.NeardupIndex]] signs its batch once
  * and feeds that one signature to the within-batch pairs, the probe and
  * the partition write: the partitions it grows are the index a build of
  * the tick's survivors writes, an empty first tick leaves no index
  * behind (its tick tables read as zero rows), sign-LSH bands both legs
  * under the index's own geometry, and a warm MinHash tick runs one
  * batch-signature collect. */
class NeardupTickSpec extends SparkSpec {

  import spark.implicits._

  // structurally distinct texts (far apart under MinHash and dHash
  // alike), and one-token substitutions that pair with their original
  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  private val other = (1 to 30).map(i => "b" * (i % 6 + 1) + (i * i)).mkString(" ")
  private val fresh = (1 to 35).map(i => s"${i * 37}z" + "y" * (i % 5)).mkString(" ")
  private val lone = (1 to 44).map(i => "m" + "o" * (i % 3) + (i * 13)).mkString(" ")

  /** Two ticks per family: the first bootstraps with a within-batch
    * pair (1, 3); the second meets history (1, 11) and has a
    * within-batch pair (12, 13). */
  private def families: Seq[(String, NeardupIndex[_], Seq[DataFrame])] = {
    val docs0 = Seq((1L, base), (2L, other), (3L, base.replace("w20", "x20")))
    val docs1 = Seq((11L, base.replace("w30", "x30")), (12L, fresh),
      (13L, fresh.replace("37z", "37Q")), (14L, lone))
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val c = (1 to 64).map(i => math.cos(i * 3.7))
    val z = (1 to 64).map(i => math.sin(i * 2.9 + 1))
    val emb0 = Seq((1L, a), (2L, c), (3L, a.map(_ * 0.5)))
    val emb1 = Seq((11L, a.map(_ * 0.75)), (12L, z), (13L, z.map(_ * 2.0)),
      (14L, (1 to 64).map(i => math.cos(i * 1.3 + 2))))
    def media(d: Seq[(Long, String)]) = Multimodal.mediaTable(d.toDF("doc_id", "text"))
    Seq(
      ("minhash", Dedup.MinhashIndex, Seq(docs0, docs1).map(_.toDF("doc_id", "text"))),
      ("signlsh", Similarity.SignLshIndex(), Seq(emb0, emb1).map(_.toDF("vec_id", "embedding"))),
      ("dhash", Multimodal.DhashIndex, Seq(docs0, docs1).map(media)))
  }

  private def tick[T](ix: NeardupIndex[T], b: DataFrame, w: StagingWriter, id: Long): Unit =
    ix.ingestBatch(b, w, "t", ix.defaultThreshold, id)

  private def values(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  private def partition(w: StagingWriter, table: String, id: Long): DataFrame =
    w.read(table).filter(col("ingest_batch") === id).drop("ingest_batch")

  /** Each index partition of tick `id` holds what a build of that
    * tick's `_docs` partition writes (values, not bytes). */
  private def assertBuildOfDocs(family: String, ix: NeardupIndex[_], w: StagingWriter,
      id: Long): Unit = {
    val docs = partition(w, "t_docs", id)
    assert(!docs.isEmpty, s"$family tick $id kept nothing — the comparison is vacuous")
    val ref = new StagingWriter(spark, tmpDir(s"tick_ref_$family"))
    ix.build(docs, ref, "ref")
    ix.artifacts.foreach { a =>
      assert(values(partition(w, "t" + a, id)) == values(ref.read("ref" + a)),
        s"$family tick $id: the $a partition differs from a build of the kept docs")
    }
  }

  test("every family: a two-tick stream's index partitions equal a build of each " +
    "tick's kept docs") {
    for ((family, ix, ticks) <- families) {
      val w = new StagingWriter(spark, tmpDir(s"tick_$family"))
      ticks.zipWithIndex.foreach { case (b, i) => tick(ix, b, w, i.toLong) }
      val pairs = w.read("t_pairs").select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(Set((1L, 3L), (1L, 11L), (12L, 13L)).subsetOf(pairs), s"$family: pairs $pairs")
      ticks.indices.foreach(i => assertBuildOfDocs(family, ix, w, i.toLong))
    }
  }

  test("every family: an empty first tick writes no index artifact; the next tick bootstraps it") {
    for ((family, ix, ticks) <- families) {
      val w = new StagingWriter(spark, tmpDir(s"tick_empty_$family"))
      tick(ix, ticks.head.limit(0), w, 0L)
      assert(!ix.exists(w, "t"), s"$family: the gate passes over an empty index")
      (ix.sidecar.toSeq ++ ix.artifacts).foreach(a =>
        assert(!w.exists("t" + a), s"$family: the empty tick wrote t$a"))
      // the tick's tables read as zero rows under the tick's schema
      Seq("t_pairs" -> Seq("a_id", "b_id"), "t_docs" -> Seq(ix.idCol)).foreach { case (t, cols) =>
        val read = w.read(t)
        assert(read.count() == 0L && (cols :+ "ingest_batch").forall(read.columns.contains),
          s"$family: $t after the empty tick reads ${read.columns.toSeq}")
      }
      tick(ix, ticks.head, w, 1L)
      assert(ix.exists(w, "t"), s"$family: the first non-empty tick did not bootstrap the index")
      assertBuildOfDocs(family, ix, w, 1L)
    }
  }

  test("sign-LSH: a tick's within-batch pairs band under the index's planes and tables") {
    val rnd = new scala.util.Random(7)
    val batch = (1 to 60).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    def set(df: DataFrame) = df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val own = set(Similarity.embedNeardup(batch, 0.5, planes = 6, tables = 12))
    assert(own != set(Similarity.embedNeardup(batch, 0.5)),
      "the default geometry finds the same pairs — the comparison is vacuous")
    val w = new StagingWriter(spark, tmpDir("tick_geometry"))
    Similarity.SignLshIndex(planes = 6, tables = 12).ingestBatch(batch, w, "t", 0.5, 0L)
    assert(set(w.read("t_pairs")) == own)
  }

  test("sign-LSH: a mixed-dimension bootstrap batch fails on the dim guard before any write") {
    val a = (1 to 64).map(i => math.sin(i.toDouble))
    val mixed = Seq((1L, a), (2L, (1 to 128).map(i => math.cos(i.toDouble))))
      .toDF("vec_id", "embedding")
    val w = new StagingWriter(spark, tmpDir("tick_mixed"))
    val err = intercept[Exception](Similarity.SignLshIndex().ingestBatch(mixed, w, "t", 0.9, 0L))
    assert(err.getMessage.contains("dim"), s"got: ${err.getMessage}")
    assert(w.tables.isEmpty, s"the failed tick wrote ${w.tables}")
  }

  test("a warm MinHash tick runs exactly one batch-signature collect") {
    val (_, ix, ticks) = families.head
    val w = new StagingWriter(spark, tmpDir("tick_collects"))
    tick(ix, ticks.head, w, 0L)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        if (last.name.startsWith("runJob at Dedup.scala")) sites.add(last.details)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      tick(ix, ticks(1), w, 1L)
      // the listener bus is async — wait until the count is stable
      var seen = -1
      while (sites.size != seen) { seen = sites.size; Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = sites.asScala.toSeq
    // a signature's bounded collect runs on its first driver-side use
    val signing = all.count(_.contains("Signatures.local"))
    assert(signing == 1, s"$signing batch-signature collects of ${all.size} bounded collects")
    // the other bounded collects are the probe's two stored reads
    assert(all.size == 3, s"${all.size} bounded collects: ${all.map(_.split("\n").take(3))}")
  }
}
