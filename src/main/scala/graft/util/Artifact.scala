package graft.util

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A shared derived output of a fixture directory — a pair set, a tf
  * frame, a page render — built ONCE per (application, dir, data
  * state) and reused by every consumer. At ingest scale these are
  * standing outputs of the pipeline, not per-query work.
  *
  * `apply` goes through the one registry [[OnceCache]]: concurrent
  * callers of the same key share one build, a failed build is never
  * cached, and FIFO eviction lets the ContextCleaner reclaim an
  * evicted frame's localCheckpoint blocks. A build that calls another
  * artifact depends on it — those calls are the only dependency
  * edges, so no declared order can drift from the code.
  *
  * The key includes a cheap fingerprint of `dir` (path, length and
  * mtime of every file under it, from one listing): rewriting an
  * input in place keys a fresh build instead of serving the old one.
  */
final class Artifact[V] private (val name: String,
    build: (SparkSession, String) => V) {

  def apply(spark: SparkSession, dir: String): V =
    Artifact.registry.getOrCompute(
      (this, spark.sparkContext.applicationId, dir, Artifact.fingerprint(spark, dir))) {
      build(spark, dir)
    }.asInstanceOf[V]
}

object Artifact {

  def apply[V](name: String)(build: (SparkSession, String) => V): Artifact[V] =
    new Artifact(name, build)

  // 16 declared artifacts × a few live dirs/data states
  private val registry =
    new graft.util.OnceCache[(Artifact[_], String, String, Seq[(String, Long, Long)]), Any](64)

  /** (path, length, mtime) of every file under `dir`, sorted; empty
    * when `dir` does not exist, so the build's own read fails loudly
    * with the missing path. */
  private def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    out.result().sorted
  }

  /** Build every artifact in `artifacts` from a 4-thread [[FanOut]]
    * and return (name, seconds) in their order. A build that reaches
    * an artifact a sibling is building waits for it; seconds are each
    * build's own wall inside the overlap. On the first failure the
    * siblings' Spark jobs are cancelled and their threads joined
    * before the failure is rethrown, naming the artifact. */
  def warm(spark: SparkSession, dir: String,
      artifacts: Seq[Artifact[_]]): Seq[(String, Double)] =
    FanOut.all(spark.sparkContext, threads = 4)(artifacts.map { a => () =>
      val t0 = System.nanoTime()
      try a(spark, dir)
      catch { case NonFatal(e) =>
        throw new IllegalStateException(s"artifact ${a.name} failed: $e", e)
      }
      (a.name, (System.nanoTime() - t0) / 1e9)
    })

  /** Drop every cached build (the values are only unreferenced). */
  def clear(): Unit = registry.clear()
}
