package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{EntityConfig, ExtractionConfig}
import graft.sources.{EntitySource, FetchRequest}
import graft.util.Artifact

class ArtifactSpec extends SparkSpec {

  /** (path, length, mtime) of every file under `dir`. */
  private def listing(dir: String): Set[(String, Long, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
    finally s.close()
  }

  private def pairs(df: DataFrame): Set[Row] =
    df.select("a_id", "b_id", "jaccard").collect().toSet

  /** A sleeping UDF over four one-row partitions: a job that holds
    * every local core until it is cancelled. */
  private def slowJob(): DataFrame = {
    val nap = udf { (x: Long) => Thread.sleep(60000L); x }
    spark.range(0, 4, 1, 4).select(nap(col("id")).as("id"))
  }

  private def activeJobs(): Seq[Int] =
    spark.sparkContext.statusTracker.getActiveJobIds().toSeq

  test("a shared pair set is rebuilt after its input is rewritten in place") {
    val dir = tmpDir("fixture_copy")
    Files.list(Paths.get(sf)).forEach(p =>
      org.apache.commons.io.FileUtils.copyToDirectory(p.toFile, new java.io.File(dir)))
    val x2 = SparkEntry.queries("x2_minhash_neardup")
    val before = listing(dir)
    val first = pairs(x2(spark, dir))
    assert(listing(dir) == before, "x2 wrote under its fixture dir")

    // plant an exact duplicate of the first doc, then swap the file
    val docsPath = s"$dir/documents.parquet"
    val docs = spark.read.parquet(docsPath)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val orig = docs.orderBy(col("doc_id")).limit(1)
    val origId = orig.head().getAs[Long]("doc_id")
    val staged = s"$dir/documents_planted.parquet"
    docs.unionByName(orig.withColumn("doc_id", lit(maxId + 1)))
      .write.parquet(staged)
    Files.delete(Paths.get(docsPath))
    Files.move(Paths.get(staged), Paths.get(docsPath))

    val second = pairs(x2(spark, dir))
    val fresh = pairs(graft.ext.Dedup.minhashNeardupMaterialized(
      spark.read.parquet(docsPath), threshold = 0.8))
    assert(fresh.exists(r => r.getLong(0) == origId && r.getLong(1) == maxId + 1),
      s"planted pair missing from the fresh build: $fresh")
    assert(second == fresh, s"stale pair set served: first=$first second=$second")
  }

  test("Artifact.warm: a failed build cancels its siblings' jobs, names " +
    "itself, and is rebuilt by a later apply") {
    val dir = tmpDir("warm_fail")
    val attempts = new AtomicInteger
    val slow = Artifact("slow_sibling")((_, _) => slowJob().collect().length)
    val failing = Artifact("failing_build") { (_, _) =>
      if (attempts.incrementAndGet() == 1) {
        // fail only once the sibling's job is running
        val deadline = System.nanoTime() + 30000000000L
        while (activeJobs().isEmpty && System.nanoTime() < deadline)
          Thread.sleep(20)
        throw new IllegalArgumentException("planted build failure")
      }
      "rebuilt"
    }
    val t0 = System.nanoTime()
    val e = intercept[Exception](Artifact.warm(spark, dir, Seq(slow, failing)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("failing_build"), s"error does not name the artifact: $e")
    assert(activeJobs().isEmpty, s"jobs still running: ${activeJobs()}")
    assert(sec < 30, s"warm waited $sec s for the sleeping sibling")
    assert(failing(spark, dir) == "rebuilt")
    assert(attempts.get == 2, "the failure was cached")
  }

  test("RefreshJob timeout cancels the entities' Spark jobs before it throws") {
    val slowSource = new EntitySource {
      def fetch(req: FetchRequest): DataFrame = slowJob()
    }
    val job = new graft.run.RefreshJob(spark, slowSource,
      new graft.sinks.StagingWriter(spark, tmpDir("refresh_timeout")),
      timeout = scala.concurrent.duration.Duration(2, "seconds"))
    val config = ExtractionConfig(id = "ds1", datasourceName = "slow",
      accountId = "a1", entities = Seq(EntityConfig("SLOW_A"), EntityConfig("SLOW_B")))
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException](job.run(config, incremental = false))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(activeJobs().isEmpty, s"jobs still running: ${activeJobs()}")
    assert(sec < 30, s"run waited $sec s for the sleeping entities")
  }
}
