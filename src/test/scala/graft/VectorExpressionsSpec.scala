package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Native vec_dot/vec_norm expressions: bit-equality with the HOF
  * baseline, codegen participation, null and length-mismatch handling. */
class VectorExpressionsSpec extends SparkSpec {

  import spark.implicits._

  test("vec_dot/vec_norm match the HOF baseline bit-for-bit on the fixture") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val both = emb.select(
      GraftFunctions.vecDot($"v", $"v").as("native_dot"),
      HofReferences.dot($"v", $"v").as("hof_dot"),
      GraftFunctions.vecNorm($"v").as("native_norm"),
      HofReferences.norm($"v").as("hof_norm"))
    assert(both.filter(
      $"native_dot" =!= $"hof_dot" || $"native_norm" =!= $"hof_norm").count() == 0)
  }

  test("expressions run inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // file-backed scan (a pure literal would constant-fold at plan time)
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(GraftFunctions.vecDot($"embedding", $"embedding").as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // the Project evaluating vec_dot must carry the codegen star marker
    // (`*(n)` = inside a WholeStageCodegen stage, not a fallback project)
    val projLine = plan.linesIterator.find(_.contains("vec_dot"))
    assert(projLine.exists(l => l.contains("*(") && l.contains("Project")),
      s"vec_dot not in a codegen'd Project:\n$plan")
    assert(df.filter($"d" > 0).count() > 0)
  }

  test("sign_lsh packs the same sign bits the per-plane vec_dot composition yields") {
    GraftFunctions.register(spark)
    val planes = 3
    val dim = 4
    // family laid out [table][plane][dim]: 2 tables of 3 planes
    val family = Seq(
      1.0, 1.0, 1.0, 1.0, /* t0 p0: sum>=0 for positive vecs  */
      -1.0, -1.0, -1.0, -1.0, /* t0 p1: negated                 */
      1.0, -1.0, 1.0, -1.0, /* t0 p2: alternating               */
      -1.0, 1.0, -1.0, 1.0, /* t1 p0                            */
      1.0, 1.0, -1.0, -1.0, /* t1 p1                            */
      1.0, 1.0, 1.0, -1.0 /* t1 p2                              */ )
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, Seq(-1.0, -1.0, -1.0, -1.0)),
      (3L, Seq(4.0, -3.0, 2.0, -1.0))).toDF("vec_id", "v")
    val got = df.select($"vec_id",
      GraftFunctions.signLsh($"v", typedLit(family), lit(planes), lit(dim)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def ref(v: Seq[Double]): Seq[Int] = (0 until 2).map { t =>
      (0 until planes).map { p =>
        val row = family.slice((t * planes + p) * dim, (t * planes + p + 1) * dim)
        if (row.zip(v).map { case (a, b) => a * b }.sum >= 0) 1 << p else 0
      }.sum
    }
    for ((id, v) <- Seq(1L -> Seq(1.0, 2.0, 3.0, 4.0),
        2L -> Seq(-1.0, -1.0, -1.0, -1.0), 3L -> Seq(4.0, -3.0, 2.0, -1.0)))
      assert(got(id) == ref(v), s"vec $id")
  }

  test("interpreted eval matches codegen bit-for-bit (both paths are hand-written)") {
    GraftFunctions.register(spark)
    val family = (0 until 2 * 3 * 4).map(i => if (i % 3 == 0) 1.0 else -1.0)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .limit(50)
    def run() = emb.select($"vec_id",
      GraftFunctions.vecDot($"v", $"v").as("d"),
      GraftFunctions.vecNorm($"v").as("n"),
      GraftFunctions.signLsh(slice($"v", 1, 4), typedLit(family), lit(3), lit(4)).as("b"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getSeq[Int](3)))
      .sortBy(_._1).toSeq
    val codegen = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = run()
      assert(interpreted == codegen)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("null arrays yield null; mismatched lengths score the common prefix") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0, 5.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0)))).toDF("a", "b")
    val r = df.select(GraftFunctions.vecDot($"a", $"b").as("d")).collect()
    assert(r(0).getDouble(0) == 11.0)
    assert(r(1).isNullAt(0))
  }

  test("float arrays implicit-cast to double (embedding column direct use)") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.select(GraftFunctions.vecNorm($"embedding").as("n"))
      .filter($"n" > 0).count()
    assert(n == emb.count())
  }

  test("lang_best equals the composed HOF argmax; shared markers, und, empty text") {
    GraftFunctions.register(spark)
    import graft.ext.TextStats.langMarkers
    val langs = typedLit(langMarkers.map(_._1))
    val flat = typedLit(langMarkers.flatMap(_._2))
    val idx = typedLit(langMarkers.zipWithIndex.flatMap { case ((_, ms), i) =>
      Seq.fill(ms.size)(i)
    })
    val texts = Seq(
      "the cat sat on the mat and a dog",   // en
      "el que la los una por",              // es (also hits fr via 'la')
      "la la la",                           // es vs fr tie on shared 'la' → es (alphabetical)
      "de de de",                           // nl vs pt tie → nl
      "zz yy xx",                           // no hits → und
      "")                                   // empty → und
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = df.select($"id",
      GraftFunctions.langBest($"text", langs, flat, idx).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the composed reference form this expression replaced
    val toks = split($"text", " ")
    val composed = langMarkers.map { case (lang, ms) =>
      lang -> size(filter(toks, t => t.isin(ms.map(lit): _*)))
    }.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }._1
    val ref = df.select($"id", composed.as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native == ref, s"native $native vs composed $ref")
    assert(native(0L) == "en" && native(2L) == "es" && native(3L) == "nl")
    assert(native(4L) == "und" && native(5L) == "und")
    // interpreted path agrees with codegen
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select($"id",
        GraftFunctions.langBest($"text", langs, flat, idx).as("p"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(interp == native)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    // > 64 languages must fail loudly (Long bitmask bound)
    val many = (0 until 65).map(i => f"l$i%02d").toList
    val err = intercept[Exception] {
      df.select(GraftFunctions.langBest($"text", typedLit(many),
        typedLit(many), typedLit(many.indices.toList))).collect()
    }
    assert(err.getMessage.contains("64"), s"got: ${err.getMessage}")
  }

  test("minhash_sign equals the 64-min aggregate reference: hashes, counts, size and " +
    "band keys, under codegen and interpreted") {
    // the fixture, plus 5,001 copies of one text (the bucket
    // Dedup.DefaultMaxBucket caps away), a text whose shingles repeat
    // (set semantics: each distinct shingle counts once), texts under
    // 3 tokens and a NULL text
    val extra = ((0 to graft.ext.Dedup.DefaultMaxBucket).map(i => (1000000L + i, "boiler plate text")) ++
      Seq((2000001L, "a b c a b c a b c d"), (2000002L, "two words"), (2000003L, "alone"),
        (2000004L, ""), (2000005L, null))).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
      .unionByName(extra)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"hs", $"cnt", $"sz", $"bands").orderBy("doc_id").collect().toSeq
    val signed = graft.ext.Dedup.signedDocs(docs)
    val want = rows(MinhashReference(docs))
    assert(want.exists(_.getLong(0) == 2000001L) && want.size > 5000)
    assert(rows(signed.filter($"sz" > 0)) == want)
    val repeated = want.find(_.getLong(0) == 2000001L).get
    assert(repeated.getSeq[Int](2) == Seq(1, 1, 1, 1) && repeated.getLong(3) == 4L)
    // no shingle: size 0 and no band key; NULL text: no signature
    val edge = signed.filter($"doc_id" >= 2000002L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.getSeq[Long](4)).map(_.size)))
    assert(edge.toSeq == Seq((2000002L, Some(0L), Some(0)), (2000003L, Some(0L), Some(0)),
      (2000004L, Some(0L), Some(0)), (2000005L, None, None)))
    // one kernel call per row, inside whole-stage codegen: the struct's
    // four fields must not collapse into four calls
    val plan = signed.queryExecution.executedPlan.toString
    assert("minhash_sign\\(".r.findAllIn(plan).size == 1, s"minhash_sign not evaluated once:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("minhash_sign") && l.contains("*(")),
      s"minhash_sign left codegen:\n$plan")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(rows(graft.ext.Dedup.signedDocs(docs).filter($"sz" > 0)) == want)
    finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("minhash_meet is the multiset intersection, Σ cntA·cntB over shared hashes") {
    GraftFunctions.register(spark)
    val df = Seq((Seq(1L, 3L, 5L, 9L), Seq(1, 2, 1, 3), Seq(2L, 3L, 9L, 10L), Seq(4, 5, 2, 1)),
      (Seq(1L), Seq(1), Seq.empty[Long], Seq.empty[Int])).toDF("ha", "ca", "hb", "cb")
    val got = df.select(GraftFunctions.minhashMeet($"ha", $"ca", $"hb", $"cb")).collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(2L * 5 + 3 * 2, 0L))
    assert(graft.functions.MinhashKernel.meet(Array(1L, 3L, 5L, 9L), Array(1, 2, 1, 3),
      Array(2L, 3L, 9L, 10L), Array(4, 5, 2, 1)) == 16L)
  }

  test("config-time extension injection registers the functions") {
    // the runtime register() path is covered above; here: the extensions
    // class wires the same builders through SparkSessionExtensions
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    // SparkSessionExtensions has no public query API; absence of a throw
    // plus the SQL path working end-to-end is the observable contract
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
    assert(viaSql.head().getDouble(0) == 11.0)
  }
}
