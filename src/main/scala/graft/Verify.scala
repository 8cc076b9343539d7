package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names — the targeted
    // re-verify recipe (one new query at a big SF without re-dumping
    // the whole inventory). The dumped oracle_sql.json is restricted
    // to the same subset so tools/compare.py --no-verify sees a
    // consistent pair; the driver always passes two args and gets the
    // full inventory.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").map(_.trim).toSet))
    }
    val unknown = only.map(_ -- SparkEntry.queries.keySet).getOrElse(Set.empty)
    require(unknown.isEmpty, s"unknown query names in filter: $unknown")
    val selected = only match {
      case Some(f) => SparkEntry.queries.filter { case (k, _) => f(k) }
      case None    => SparkEntry.queries
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
        // A throwing ORACLE-BACKED query must surface as a RED row, not
        // a silently-absent key (round 7 lost six keys invisibly this
        // way): write a one-row frame whose single __verify_error
        // column carries the reason — it can never schema/hash-match
        // any oracle, so the compare shows FAIL with the why in-band.
        // Rows-only keys keep the absent-dir signal instead: a planted
        // error row would PASS their weaker rows>0 check.
        if (SparkEntry.oracleSql.contains(name))
          try {
            import spark.implicits._
            Seq(msg.take(2000)).toDF("__verify_error").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name error-row write failed: $e2")
          }
        Some(name -> msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record (the driver detects the missing
    // output dir; this preserves the WHY for the round report).
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
