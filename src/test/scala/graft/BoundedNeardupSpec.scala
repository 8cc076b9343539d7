package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.run.CorpusPrepJob
import graft.run.CorpusPrepJob.PrepConfig
import graft.sinks.StagingWriter

/** A MinHash signature's driver-side verify, index probe and index
  * frames ([[Dedup.Signatures]] within [[Dedup.LocalMaxShingleRows]])
  * are an optimization, never a semantic fork: every input here is
  * signed with the bound at 0 (the distributed plans) and at its
  * default (the driver path) and must give the same rows — pair sets,
  * funnels, corpus slices and index slices (the probe alone is pinned
  * under both bounds in ExtSpec's "equals the one-shot join's cross
  * pairs"). The two bounds that keep the driver path small — rows per
  * collect, counted in total, and candidate collisions — are pinned on
  * inputs over them, and the job budget pins what the driver path buys
  * an increment. */
class BoundedNeardupSpec extends SparkSpec {

  private val Bounds = Seq(0L, Dedup.LocalMaxShingleRows)

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def evalDocs = docs.filter(col("doc_id") % 50 === 0)
    .select(array_join(slice(split(col("text"), " "), 5, 26), " ").as("text"))

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq

  private def words(seed: Int, n: Int): String =
    (0 until n).map(i => s"w${(seed * 7919 + i * 104729) % 100003}").mkString(" ")

  test("minhashNeardupMaterialized: bound 0 and default give identical pairs") {
    import spark.implicits._
    // the fixture, plus a bucket over DefaultMaxBucket (5,001 copies of
    // one text: every band bucket of the group is capped away), a small
    // identical group that does pair, a near twin, docs shorter than
    // 3 tokens and a NULL text
    val capped = (0 until Dedup.DefaultMaxBucket + 1)
      .map(i => (1000000L + i, "boiler plate text", "en", "p"))
    val planted = Seq(
      (2000001L, words(1, 40), "en", "p"), (2000002L, words(1, 40), "en", "p"),
      (2000003L, words(1, 40), "en", "p"),
      (2000004L, words(2, 60), "en", "p"), (2000005L, words(2, 60) + " tail", "en", "p"),
      (2000006L, "two words", "en", "p"), (2000007L, "alone", "en", "p"),
      (2000008L, null, "en", "p"))
    val extra = (capped ++ planted).toDF("doc_id", "text", "lang", "source")
    val all = docs.select("doc_id", "text", "lang", "source").unionByName(extra)
    for (input <- Seq(docs, all)) {
      val Seq(dist, local) = Bounds.map(b => sorted(Dedup.Signatures.using(input, b)(_.pairs(0.8))))
      assert(dist.nonEmpty, "no pairs — the comparison is vacuous")
      assert(local == dist, s"driver path drifted: ${local.diff(dist)} vs ${dist.diff(local)}")
    }
    val pairs = Dedup.minhashNeardupMaterialized(all).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((2000001L, 2000002L), (2000001L, 2000003L), (2000002L, 2000003L),
      (2000004L, 2000005L)).subsetOf(pairs), s"planted pairs missing: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 1000000L && b < 2000000L },
      "the capped bucket produced pairs")
  }

  test("a repeated doc_id is one signed document per row, alike at bound 0 and the default") {
    import spark.implicits._
    // id 1 holds two texts and id 3 a text with no shingle: each row is
    // signed, banded and verified on its own, so id 1 pairs with id 2
    // once per row of id 1 — never as one merged multiset
    val t = words(3, 40)
    val dup = Seq((1L, t), (1L, t + " tail"), (2L, t), (3L, "two words"), (3L, words(4, 40)))
      .toDF("doc_id", "text")
    val Seq(dist, local) = Bounds.map(b => sorted(Dedup.Signatures.using(dup, b)(_.pairs(0.8))))
    assert(local == dist, s"driver path drifted: $local vs $dist")
    assert(dist.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((1L, 2L, 38.0 / 39.0), (1L, 2L, 1.0)))
    // the probe alike: a stored repeated id meets the batch once per row
    val w = new StagingWriter(spark, tmpDir("dupid"))
    Dedup.MinhashIndex.build(dup.filter(col("doc_id") === 1L), w, "docs")
    val batch = Seq((7L, t)).toDF("doc_id", "text")
    val Seq(d, l) = Bounds.map(b => sorted(Dedup.Signatures.using(batch, b)(_.against(w, "docs"))))
    assert(l == d && d.map(_.getDouble(2)) == Seq(38.0 / 39.0, 1.0), s"probe: $l vs $d")
  }

  /** Bytes the driver received as task results (accumulator updates
    * included) from the bounded collect's own jobs while `f` ran. */
  private def collectBytes[T](f: => T): (T, Long) = {
    val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        names.put(e.stageInfo.stageId, e.stageInfo.name)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (Option(names.get(e.stageId)).exists(_.startsWith("runJob at Dedup.scala")))
          bytes.addAndGet(Option(e.taskMetrics).fold(0L)(_.resultSize))
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try {
      val r = f
      // the listener bus is async — wait until the total is stable
      var last = -1L
      while (bytes.get() != last) { last = bytes.get(); Thread.sleep(200) }
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (r, bytes.get())
  }

  test("bounded collect: the driver receives at most the bound in total, however " +
    "many partitions; a skewed input within the bound is still collected") {
    val ids = spark.range(0, 200000, 1, 32).toDF("id")
    val (all, allBytes) = collectBytes(Dedup.collectAtMost(ids, 200000))
    assert(all.map(_.map(_.getLong(0)).toSeq) == Some(0L until 200000L))
    // 32 partitions of 6,250 rows, each within a per-task bound of
    // 50,001: only the counts may come back, never the rows
    val (over, overBytes) = collectBytes(Dedup.collectAtMost(ids, 50000))
    assert(over.isEmpty)
    assert(overBytes * 10 < allBytes, s"over-bound input shipped $overBytes of $allBytes bytes")
    // every row in one partition of eight: over its share, within the bound
    import spark.implicits._
    val skewed = spark.sparkContext.parallelize(0 until 8, 8)
      .flatMap(p => if (p == 0) 0L until 1000L else Nil).toDF("id")
    assert(skewed.rdd.getNumPartitions == 8)
    assert(Dedup.collectAtMost(skewed, 1000).map(_.map(_.getLong(0)).toSeq) ==
      Some(0L until 1000L))
    assert(Dedup.collectAtMost(skewed, 999).isEmpty)
    // end to end: an over-bound verify over many partitions falls back
    val parts = docs.repartition(32)
    val rows = Dedup.shingleHashes(parts).count()
    val Seq(dist, fellBack) = Seq(0L, rows / 4).map(Dedup.Signatures.using(parts, _)(_.pairs(0.8)))
    assert(!fellBack.isLocal, "an over-bound verify took the driver path")
    assert(sorted(fellBack) == sorted(dist))
  }

  test("candidate bound: buckets under the cap whose pairs exceed StarLocalMaxEdges " +
    "stay distributed, with the same pairs") {
    import spark.implicits._
    def same(ids: Range, text: String): DataFrame =
      ids.map(i => (i.toLong, text)).toDF("doc_id", "text")
    val text = "alpha beta gamma delta epsilon"
    // 200 copies: C(200, 2) = 19,900 pairs in each of 16 band buckets
    val twins = same(1 to 200, text)
    val Seq(dist, local) = Bounds.map(Dedup.Signatures.using(twins, _)(_.pairs(0.8)))
    assert(!local.isLocal, "the driver enumerated 318,400 candidate collisions")
    assert(sorted(local) == sorted(dist) && dist.count() == 19900L)
    assert(Dedup.minhashNeardupMaterialized(same(1 to 20, text)).isLocal,
      "a small bucket left the driver path")
    // the probe: 40 batch docs × 16 bands × a stored bucket of 200
    val w = new StagingWriter(spark, tmpDir("candbound"))
    Dedup.MinhashIndex.build(twins, w, "docs")
    for ((batch, local) <- Seq(same(1001 to 1040, text) -> false, same(1001 to 1010, text) -> true)) {
      val Seq(d, l) = Bounds.map(Dedup.Signatures.using(batch, _)(_.against(w, "docs")))
      assert(l.isLocal == local, s"${batch.count()} batch docs: local = ${l.isLocal}")
      assert(sorted(l) == sorted(d) && d.count() == 200L * batch.count())
    }
  }

  /** Three batches over a standing corpus built from the odd-id half of
    * the fixture: fresh docs, exact and near copies of standing docs,
    * near twins inside the batch and a contaminated doc. */
  private def batches: Seq[DataFrame] =
    (0 until 3).map(k => batch(k, docs.filter(col("doc_id") % 6 === 2 * k)))

  private def batch(k: Int, own: DataFrame): DataFrame = {
    import spark.implicits._
    val standing = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val evalText = evalDocs.orderBy("text").head().getString(0)
    locally {
      val ownTexts = own.orderBy("doc_id").limit(5).collect().map(_.getString(1))
      val planted = standing.slice(10 * k, 10 * k + 5).zipWithIndex.flatMap { case ((_, t), i) =>
        Seq((5000000L + 100 * k + i, t, "en", "incr"),
          (5000010L + 100 * k + i, t + " extra tail", "en", "incr"))
      } ++ ownTexts.zipWithIndex.map { case (t, i) =>
        (5000020L + 100 * k + i, t + " and more", "en", "incr")
      } :+ ((5000050L + 100 * k, words(k, 30) + " " + evalText + " " + words(k + 9, 30),
        "en", "incr"))
      own.select("doc_id", "text", "lang", "source")
        .unionByName(planted.toSeq.toDF("doc_id", "text", "lang", "source"))
    }
  }

  test("increment: bound 0 and default give identical funnels, corpus and index slices") {
    val base = tmpDir("boundbase")
    CorpusPrepJob.run(docs.filter(col("doc_id") % 2 === 1), evalDocs,
      new StagingWriter(spark, base), PrepConfig(exports = false))
    val bs = batches
    val tables = CorpusPrepJob.CorpusTable +:
      Dedup.MinhashIndex.artifacts.map(CorpusPrepJob.IndexTable + _)
    val Seq(dist, local) = Bounds.map { b =>
      val wh = tmpDir(s"bound$b")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(wh))
      val w = new StagingWriter(spark, wh)
      val funnels = bs.zipWithIndex.map { case (batch, i) =>
        val id = i + 1L
        val r = CorpusPrepJob.incrementBounded(batch, evalDocs, w, PrepConfig(), Some(id), b)
        // the index slices come from the batch's signature: they must
        // equal an append of the landed rows through a fresh text parse
        def slice(t: String) = spark.read.parquet(new java.io.File(w.path(t)).listFiles
          .filter(_.getName.startsWith(s"b${id}_")).map(_.getPath).toIndexedSeq: _*)
        val ref = s"ref_b${b}_$id"
        Dedup.MinhashIndex.append(slice(CorpusPrepJob.CorpusTable), w, ref)
        Dedup.MinhashIndex.artifacts.foreach { a =>
          assert(sorted(slice(CorpusPrepJob.IndexTable + a)) == sorted(w.read(ref + a)),
            s"bound $b, batch $id: the $a slice differs from a fresh parse of the landed rows")
        }
        (sorted(r.funnel), r.stageCounts,
          tables.map(t => t -> slice(t).schema.map(f => f.name -> f.dataType)))
      }
      (funnels, tables.map(t => t -> sorted(w.read(t))).toMap)
    }
    val (distFunnels, distTables) = dist
    val (localFunnels, localTables) = local
    assert(localFunnels == distFunnels,
      s"funnels or slice schemas drifted: $localFunnels vs $distFunnels")
    distFunnels.foreach { case (_, c, _) =>
      assert(c("3_exact_unique") > c("4_neardup_kept") && c("4_neardup_kept") > c("5_clean"),
        s"a batch left a stage without work: $c")
    }
    tables.foreach(t => assert(localTables(t) == distTables(t), s"$t slices drifted"))
  }

  test("degenerate batches report zero counts, not missing ones") {
    // each funnel count is an observe metric; a batch whose stages run
    // empty must still report every stage (AQE prunes empty subtrees)
    val w = new StagingWriter(spark, tmpDir("degenerate"))
    val standing = docs.filter(col("doc_id") % 2 === 1)
    CorpusPrepJob.run(standing, evalDocs, w, PrepConfig(exports = false))
    val fresh = docs.filter(col("doc_id") % 2 === 0).limit(20)
      .select("doc_id", "text", "lang", "source")
    val copies = standing.limit(20).select(col("doc_id") + 9000000L as "doc_id",
      col("text"), col("lang"), col("source"))
    val empty = fresh.limit(0)
    val blocked = fresh.select(col("doc_id"), concat(col("text"), lit(" zzblocked")).as("text"),
      col("lang"), col("source"))
    for (b <- Bounds; ((batch, cfg), i) <- Seq(
        (copies, PrepConfig()), (empty, PrepConfig()),
        (blocked, PrepConfig(blocklist = Seq("zzblocked")))).zipWithIndex) {
      val r = CorpusPrepJob.incrementBounded(batch, evalDocs, w, cfg, None, b)
      val want = Seq("1_raw", "2_gate_passed", "3_exact_unique", "4_neardup_kept", "5_clean") ++
        cfg.blocklist.map(_ => "2b_blocklist_passed")
      assert(want.forall(r.stageCounts.contains), s"batch $i, bound $b: ${r.stageCounts}")
      assert(r.stageCounts("3_exact_unique") == 0L && r.stageCounts("5_clean") == 0L,
        s"batch $i, bound $b: ${r.stageCounts}")
    }
  }

  test("increment job budget: a warm batch runs a bounded number of jobs, " +
    "and no Dedup call site shuffles on the driver path") {
    val wh = tmpDir("boundjobs")
    val w = new StagingWriter(spark, wh)
    // the stage chain releases every block it stored: nothing is left
    // cached or checkpointed for the context cleaner to find later
    def stored = spark.sparkContext.getPersistentRDDs.keySet
    def leavesNothing(what: String)(f: => Unit): Unit = {
      val before = stored.toSet
      f
      val left = stored.toSet -- before
      assert(left.isEmpty, s"$what left blocks behind: $left")
    }
    leavesNothing("run")(CorpusPrepJob.run(docs.filter(col("doc_id") % 2 === 1), evalDocs, w,
      PrepConfig(exports = false)))
    leavesNothing("increment")( // warm
      CorpusPrepJob.increment(batches.head, evalDocs, w, batchId = Some(1L)))
    // ~265 docs, the perfbench batch size: the other half of the sf0.01
    // fixture under fresh ids, plus the planted copies and twins
    val big = batch(1, spark.read.parquet(sf.replace("sf0.001", "sf0.01") + "/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val collects = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sqlSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val shuffleStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = e.stageInfos.maxBy(_.stageId).name
        sites.add(site)
        if (site.startsWith("runJob at Dedup.scala")) collects.incrementAndGet()
      }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageExec.put(e.stageInfo.stageId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(""))
      // a stage that wrote shuffle output is a shuffle map stage
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val w = Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics)
        if (w.exists(m => m.recordsWritten > 0 || m.bytesWritten > 0))
          shuffleStages.add((e.stageInfo.name,
            Option(stageExec.get(e.stageInfo.stageId)).getOrElse("")))
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sqlSite.put(s.executionId, s.description)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val report =
      try {
        val r = CorpusPrepJob.increment(big, evalDocs, w, batchId = Some(2L))
        // the listener bus is async — poll until the count is stable
        var last = -1
        var spins = 0
        while (jobs.get() != last && spins < 50) {
          last = jobs.get(); Thread.sleep(100); spins += 1
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(report.stageCounts("1_raw") >= 250, s"batch too small: ${report.stageCounts}")
    // job totals swing by one or two between runs of the same code (AQE
    // re-plans a stage depending on timing): the bound is the measured
    // 26 plus 2 (the per-call-site lists matched the three-artifact
    // index's 27 but for its fourth collect). The distributed plans ran
    // about 80 per batch
    assert(jobs.get() <= 28, s"${jobs.get()} jobs for one warm increment: $sites")
    // the bounded collects: the batch's one signature and the probe's
    // two stored reads
    assert(collects.get() <= 3, s"${collects.get()} bounded collects for one warm increment")
    import scala.jdk.CollectionConverters._
    val dedupShuffles = shuffleStages.asScala.filter { case (name, exec) =>
      val site = if (name.contains(".scala:")) name
        else scala.util.Try(exec.toLong).toOption.flatMap(id => Option(sqlSite.get(id))).getOrElse(name)
      site.contains("Dedup.scala")
    }
    assert(dedupShuffles.isEmpty, s"Dedup shuffled on the driver path: $dedupShuffles")
  }
}
