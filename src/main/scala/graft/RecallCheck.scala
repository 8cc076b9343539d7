package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}

/** Empirical LSH recall/precision audit against a SPARK-side brute
  * force — the check to re-run whenever a fixture or an LSH geometry
  * (bands, planes, tables, caps) changes, since the driver's DuckDB
  * brute-force oracles are quadratic and slow at larger scale factors.
  *
  * Brute force without all-pairs:
  *   - MinHash: any pair at Jaccard ≥ t shares ≥1 shingle, so the
  *     complete candidate set is the shingle-hash equi-join (same
  *     verify arithmetic as the LSH path, no banding restriction);
  *   - embeddings: corpora are small enough (≤ thousands of vectors)
  *     that the true all-pairs cosine join is cheap.
  *
  * Prints ONE JSON line:
  * {"minhash":{"brute":N,"lsh":N,"missed":N,"extra":N},
  *  "embed":{"brute":N,"lsh":N,"missed":N,"extra":N},
  *  "caps":{"minhash":N,"simhash":N,"embed":N},"ok":bool}
  * ok = zero missed/extra pairs AND zero capped buckets on the fixture
  * (capping must never fire on the oracle fixtures — it exists for
  * 100 TB boilerplate skew).
  */
object RecallCheck {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // ---- MinHash: complete candidates = shingle-sharing pairs
    val hs = Dedup.shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bruteCand = hs.select(col("doc_id").as("a_id"), col("h"))
      .join(hs.select(col("doc_id").as("b_id"), col("h")), "h")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val bruteMinhash = bruteCand
      .join(hs.select(col("doc_id").as("a_id"), col("h")), "a_id")
      .join(hs.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), "b_id")
      .filter(col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")) >= 0.8)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshMinhash = Dedup.minhashNeardupMaterialized(docs)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hs.unpersist(blocking = false)

    // ---- embeddings (planted corpus, the x13 shape): true all-pairs
    val emb = graft.queries.ExtQueries.plantedEmb(spark, dir)
    val v = emb.select(col("vec_id"), col("embedding").as("v"))
    val bruteEmbed = v.select(col("vec_id").as("a_id"), col("v").as("va"))
      .crossJoin(v.select(col("vec_id").as("b_id"), col("v").as("vb")))
      .filter(col("a_id") < col("b_id"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= 0.9)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshEmbed = Similarity.embedNeardup(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // ---- bucket caps must not fire on oracle fixtures
    val caps = Map(
      "minhash" -> Dedup.minhashCapReport(docs).count(),
      "simhash" -> Dedup.simhashCapReport(docs).count(),
      "embed" -> Similarity.embedNeardupCapReport(emb).count())

    def cmp(brute: Set[(Long, Long)], lsh: Set[(Long, Long)]): String =
      s"""{"brute":${brute.size},"lsh":${lsh.size},""" +
        s""""missed":${(brute -- lsh).size},"extra":${(lsh -- brute).size}}"""

    val ok = bruteMinhash == lshMinhash && bruteEmbed == lshEmbed &&
      caps.values.forall(_ == 0L)
    println(s"""{"sf":"$dir","minhash":${cmp(bruteMinhash, lshMinhash)},""" +
      s""""embed":${cmp(bruteEmbed, lshEmbed)},""" +
      s""""caps":{${caps.map { case (k, n) => s""""$k":$n""" }.mkString(",")}},""" +
      s""""ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
