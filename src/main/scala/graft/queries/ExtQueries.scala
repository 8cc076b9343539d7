package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{AsofJoin, Assemble, Dedup, Multimodal, RangeJoin, Sessions, Similarity, Stats, TextStats}
import graft.sources.{FetchRequest, ParquetSimSource}
import graft.util.Artifact

/** LLM-training-data-pipeline query inventory (the north star's second
  * half): dedup, similarity search, text analysis, multimodal metadata —
  * each an oracle-checked entry over the `documents` / `embeddings`
  * fixtures. See the `graft.ext` modules for operator design and the
  * 100 TB scale notes.
  */
object ExtQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Recreate `src`'s tree under `dst` with HARD LINKS for regular
    * files (copy fallback for cross-device or unsupported FS). Safe
    * here because [[graft.run.CorpusPrepJob.increment]] only ever
    * APPENDS new part files — parquet writers never modify existing
    * files, and even an overwrite only unlinks the clone's directory
    * entries, leaving the base's inodes intact. Turns the per-rep
    * base-warehouse clone into metadata-only work. */
  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    if (!dst.exists()) dst.mkdirs()
    val children = src.listFiles()
    if (children != null) children.foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) linkTree(f, t)
      else
        try java.nio.file.Files.createLink(t.toPath, f.toPath)
        catch { case _: Exception =>
          org.apache.commons.io.FileUtils.copyFile(f, t)
        }
    }
  }

  // The embeddings scan is NOT widened (r16 revert of the r15 widen,
  // on a controlled same-day A/B — see OPTIMIZATION_r16.md): at
  // fixture scale the widen's extra exchange + 32-task scheduling
  // cost 0.3–0.6 s on 9 of 11 probed consumers (x3 0.71→0.39,
  // x13 1.80→1.25, x6 1.77→1.17, x44 2.40→1.79, x41 2.12→1.56,
  // x120 1.32→0.90, x93/x203/x174 similar; x242 flat) — the r15
  // "1.5× win" compared across machine days on a contended driver
  // run. The per-row vector work here is too cheap to amortize the
  // stage break; at production scale a many-row-group table already
  // plans wide and the widen was a no-op anyway. The ×32
  // replicate-explode site (x239) KEEPS a hash repartition of its
  // scan — there the per-row fan-out genuinely multiplies scan-stage
  // work.
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The events scan through the nanos→NTZ shim — ONE place owns the
    * fetch, so a shim change can't drift between the event queries. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    new ParquetSimSource(spark, dir).fetch(FetchRequest("EVENTS"))

  /** Backward as-of join: each event picks the customer's most recent
    * order at-or-before the event time. The right side is first made
    * unique per (key, time) — keep the max o_orderkey — so tie-breaking
    * is deterministic on both engines (DuckDB's ASOF JOIN leaves
    * same-timestamp ties unspecified otherwise). */
  def asofEventOrders(spark: SparkSession, dir: String): DataFrame = {
    val evts = events(spark, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    AsofJoin.asofBackward(evts, orders,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightPayload = Seq("o_orderkey", "o_totalprice"))
  }

  // THE SHARED ARTIFACTS: every (app, dir, data-state)-keyed build the
  // query families share — a [[graft.util.Artifact]] each. At ingest
  // scale they are standing outputs of the pipeline, not per-query
  // work; recomputing one inside every consumer re-runs the most
  // expensive stage of the prep pipeline (VERDICT r2). A build's calls
  // to other artifacts are its dependencies.

  /** The MinHash (t = 0.8) and loose exact (Jaccard >= 1/2) pair sets
    * from ONE signature's persisted signed rows (the signing pass IS
    * the corpus parse; the loose join reads their exploded form). The signature is released as soon as both pair
    * sets are materialized — never held across unrelated jobs, whose
    * cached blocks it would otherwise starve. */
  private val pairSetsShared = Artifact("pair_sets_shared") { (s, d) =>
    Dedup.Signatures.using(docs(s, d), Dedup.LocalMaxShingleRows)(signed =>
      (signed.pairs(threshold = 0.8), Dedup.loosePairsFromShingles(signed.shingleRows)))
  }

  /** MinHash near-dup pairs shared by x2, x14 and the component
    * labels. */
  private val minhashPairs = Artifact("minhash_pairs")((s, d) => pairSetsShared(s, d)._1)

  // THE LOOSE EXACT PAIR FRAME (r16): every pair with Jaccard >= 1/2
  // as exact (i, un) integers, from which the t=7/10 pair set
  // (x18/x34/x216 via ngramPairs), the x217 threshold sweep and the
  // x232 tuning histogram all derive by integer filters. Before the
  // share, x217 and x232 each re-ran the identical detector per bench
  // rep (~4.2 s + ~3.4 s at sf0.1).
  private val loosePairs = Artifact("loose_pairs")((s, d) => pairSetsShared(s, d)._2)

  // the exact-Jaccard t=7/10 pair set: x18 and the x34 funnel both
  // consume it. Derived from the loose frame by one integer filter
  // (bit-identical to the direct t=7/10 join — same verified integers,
  // same single division); checkpointed so consumers keep reading a
  // stable materialized frame, not a per-use re-filter.
  private val ngramPairs = Artifact("ngram_pairs") { (s, d) =>
    // the derive is a NARROW filter, so without the repartition the
    // checkpoint would inherit the loose frame's (wider) layout — the
    // shuffle lets AQE size the standing frame by its own bytes,
    // restoring the direct build's compact fixture layout (x216's
    // per-round joins schedule tasks per cached partition) while
    // staying width-adaptive at scale
    Dedup.ngramPairsFromLoose(loosePairs(s, d))
      .repartition(col("a_id")).localCheckpoint(true)
  }

  // the BPE merge table: x33 publishes it, x37 encodes with it —
  // training twice per run would double the most expensive step of
  // the tokenizer path
  private val bpeMerges = Artifact("bpe_merges") { (s, d) =>
    graft.ext.BpeTrain.trainMerges(docs(s, d), numMerges = 10)
  }

  // the tokenized (doc, token, tf) frame + corpus size feed the WHOLE
  // lexical retrieval family (x175 sparse cosine, x189 BM25, and the
  // x247/x248/x249 capped trio) — five consumers that each
  // re-tokenized the corpus before this share (VERDICT r12 task 5);
  // the count rides along, so the proportional df ceiling costs no
  // extra action per gate run
  private val docTfStats = Artifact("tf_frame") { (s, d) =>
    val dd = docs(s, d)
    // the CHECKPOINT is laid out WIDE on doc_id (r15): every lexical
    // consumer (x175/x179/x189/x247–x249) computes its posting-join
    // fan-out in the cached frame's partitioning, and tfFrame ends in
    // an aggregate whose AQE-coalesced output is a handful of
    // byte-sized partitions — so the whole retrieval family's scoring
    // ran near-single-task (x179's sparse leg: ~3.5 s narrow, ~1.5 s
    // wide). One extra narrow-row shuffle at build time, amortized
    // over six standing consumers; the width is the deployment's own
    // shuffle sizing, never a local constant.
    val p = s.sessionState.conf.numShufflePartitions
    (TextStats.tfFrame(dd).repartition(p, col("doc_id"))
      .localCheckpoint(true), dd.count())
  }

  /** The x186 held-out NB-scored frame (doc_id, nb_ppm, passes) — the
    * planted-damage corpus, gopher labels trained on the even half,
    * scores + truth on the odd half. Four gates consume it (x186 AUC,
    * x269 Brier, x271 confusion, x272 gains); without the share each
    * rebuilt the tokenize + gopher labels + NB fit. */
  private val nbHeldOut = Artifact("nb_held_out") { (s, d) =>
    val planted = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 17 === 0, regexp_replace(col("text"), " ", ""))
        .when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" !!! ### $$$")))
        .otherwise(col("text")).as("text"))
    val trainLabels =
      TextStats.gopherRules(planted.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id"), col("passes"))
    TextStats.nbScore(planted, trainLabels)
      .filter(col("doc_id") % 2 =!= 0)
      .join(TextStats.gopherRules(planted.filter(col("doc_id") % 2 =!= 0))
        .select(col("doc_id"), col("passes")), "doc_id")
      .localCheckpoint(true)
  }

  // the CAPPED tf frame (proportional df ceiling applied) feeds both
  // capped lexical legs (x248/x249) — the drop anti-join would
  // otherwise re-run per consumer over the shared checkpoint
  private val cappedTfStats = Artifact("capped_tf") { (s, d) =>
    val (tf, n) = docTfStats(s, d)
    // same wide-checkpoint rationale as docTfStats: x248/x249 score
    // in this frame's layout
    val p = s.sessionState.conf.numShufflePartitions
    (TextStats.capTermDf(tf, Some(n * 39L / 50L))
      .repartition(p, col("doc_id"))
      .localCheckpoint(true), n)
  }

  // component labels are consumed by x24, x46, x116 and x235.
  // The LARGE-STAR/SMALL-STAR variant is the producer (VERDICT r13
  // task 2): min-label propagation needs O(component diameter) rounds,
  // so a pathological boilerplate chain would stall every consumer
  // even though the labeling is identical; star contraction converges
  // in O(log n) rounds regardless of diameter and is spec-proved to
  // emit the same (doc_id, min reachable id) labels
  private val dupComps = Artifact("dup_components") { (s, d) =>
    Dedup.dupComponentsStar(minhashPairs(s, d))
  }

  // THE SHARED CO-PURCHASE FRAMES (r16): the distinct (order, part)
  // incidence of lineitem width-pinned on the order key, and the
  // natural pair-count frame at support >= 2 derived from its
  // order-keyed self-join. Three consumers re-ran the identical
  // order-size² self-join per bench rep before the share: the
  // basket-affinity lift report (x115 — its support >= 3 cut is an
  // integer filter of the >= 2 frame), the link-prediction edge set
  // (x254 — exactly the >= 2 frame) and the planted-hub report (x264
  // — natural edges ∪ the planted hub's own pairs; the hub id -999
  // is below every l_partkey, so planting changes NO natural pair
  // count and the hub's pairs are derivable from the incidence frame
  // alone — see the x264 wiring note).
  private val copurchaseItems = Artifact("copurchase_items") { (s, d) =>
    // checkpointed WIDE on the order key (the x188 fan-out width
    // pin): the pair self-join below and x264's hub-count aggregate
    // both execute in this frame's partitioning; the width is the
    // session's shuffle sizing — a no-op at cluster scale
    s.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .repartition(s.sessionState.conf.numShufflePartitions, col("o"))
      .localCheckpoint(true)
  }

  /** Natural co-purchase pair counts at support >= 2: (p1, p2,
    * pair_cnt) with p1 < p2, counted over distinct orders containing
    * both parts. Support 1 pairs are noise for every consumer here
    * (x254/x264 gate at >= 2, x115 at >= 3), so the standing frame
    * starts at the loosest consumed threshold — the loose-pairs
    * convention. */
  private val copurchasePairs = Artifact("copurchase_pairs") { (s, d) =>
    val items = copurchaseItems(s, d)
    items.select(col("o"), col("p").as("p1"))
      .join(items.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= 2)
      // narrow derive of a wide frame: reshuffle so the standing
      // checkpoint is sized by its own bytes (the ngramPairs lesson)
      .repartition(col("p1")).localCheckpoint(true)
  }

  /** The planted eval docs of the decontamination, novelty and prep
    * keys: every 50th doc. */
  private def evalDoc: Column = col("doc_id") % 50 === 0

  /** The eval set (x19's construction): a 22-token window of each
    * [[evalDoc]], after the `keep` columns. */
  private def evalWindow(dd: DataFrame, keep: Column*): DataFrame = dd.filter(evalDoc)
    .select(keep :+ array_join(slice(split(col("text"), " "), 5, 26), " ").as("text"): _*)

  /** The incremental-funnel gate's (x68) base warehouse: the
    * deterministic initial prep run over the docs with
    * doc_id % 3 != 0, laid once and COPIED per invocation (VERDICT
    * r11 task 6: re-running the base load per rep dominated the key).
    * Exports (pack/curriculum) are deferred to compaction cadence —
    * the tick only needs corpus + index, and funnel counts are
    * identical either way. NOT Scratch-tracked: the bench sweeps
    * Scratch between queries, which would orphan the base mid-run; the
    * dir dies with /tmp like the ODataPages renders. */
  private val incrFunnelBase = Artifact("incr_funnel_base") { (s, d) =>
    val dd = docs(s, d)
    val baseDir = java.nio.file.Files
      .createTempDirectory("incr_funnel_base").toString
    graft.run.CorpusPrepJob.run(dd.filter(col("doc_id") % 3 =!= 0), evalWindow(dd),
      new graft.sinks.StagingWriter(s, baseDir),
      graft.run.CorpusPrepJob.PrepConfig(exports = false))
    baseDir
  }

  /** Every shared artifact. Roots with the longest builds come first,
    * so they start at once on the warm pool; dependents come last, so
    * a warm thread waits on an in-flight build only when nothing else
    * is left to start. */
  val sharedArtifacts: Seq[Artifact[_]] = {
    import graft.sources.odata.ODataPages
    Seq(pairSetsShared, incrFunnelBase, docTfStats, nbHeldOut, bpeMerges,
      copurchaseItems, ODataPages.ordersExpandRoot, ODataPages.ordersPages,
      ODataPages.eventsPages, ODataPages.ordersLinkedPages, cappedTfStats,
      copurchasePairs, minhashPairs, loosePairs, ngramPairs, dupComps)
  }

  /** Build every shared artifact in one DEDICATED warm-up phase,
    * returning (artifact, seconds) per build — the bench convention
    * that makes per-key clean cost SWEEP-ORDER INDEPENDENT (VERDICT r13
    * task 4): without it, whichever family member runs first pays the
    * shared build, and `SPARK_GRAFT_BENCH_ONLY=<one key>` cannot
    * reproduce the full-sweep median. Charging the builds to a named
    * phase is the `meta_refresh` convention. */
  def warmShared(spark: SparkSession, dir: String): Seq[(String, Double)] =
    Artifact.warm(spark, dir, sharedArtifacts)

  /** Composed training-data prep flow — the shape a real corpus pipeline
    * runs end-to-end: near-dup removal (MinHash keepers: the lower
    * doc_id of every near-dup pair survives) → quality filter → per-lang
    * token accounting of what remains. */
  def prepPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val dupIds = minhashPairs(spark, dir)
      .select(col("b_id").as("doc_id")).distinct()
    val kept = d.join(dupIds, Seq("doc_id"), "left_anti")
      .join(TextStats.qualityScore(d).select("doc_id", "quality_score"), "doc_id")
      .filter(col("quality_score") >= 1.0)
    kept.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("total_tokens"))
  }

  /** x13 corpus: the gaussian embeddings fixture has no pairs above
    * cos ≈ 0.6, so near-dup pairs are PLANTED deterministically — every
    * 100th vector gets a copy (vec_id + 1,000,000) with elements scaled
    * by alternating 0.75/1.25. The copies land at cos ≈ 0.97: above the
    * 0.9 near-dup threshold but far from identical, so the oracle row
    * exercises the LSH bucketing + exact-verify path non-vacuously
    * (round-2 advice: the un-planted fixture made the check vacuous).
    * The 0.75/1.25 multipliers are exact binary fractions, so the
    * perturbed elements are bit-identical across engines. */
  def plantedEmb(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val widened = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = e.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") * (lit(1.0) + lit(0.25) * ((i % 2) * 2 - 1)))
          .as("embedding"))
    widened.unionByName(planted)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x12_asof_join" -> (asofEventOrders _),
    "x13_embed_neardup" -> ((s, d) => Similarity.embedNeardup(plantedEmb(s, d))),
    "x14_prep_pipeline" -> (prepPipeline _),
    "x1_exact_dedup" -> ((s, d) => Dedup.exactDedup(docs(s, d))),
    "x2_minhash_neardup" -> ((s, d) => minhashPairs(s, d)),
    "x3_cosine_topk" -> ((s, d) => Similarity.cosTopK(emb(s, d))),
    "x4_text_stats" -> ((s, d) => TextStats.textStats(docs(s, d))),
    "x5_simhash_neardup" -> ((s, d) => Dedup.simhashNeardup(docs(s, d))),
    "x6_ann_ivf" -> ((s, d) => Similarity.ivfTopK(emb(s, d))),
    // Compressed-domain ANN: PQ codes + asymmetric-distance top-k —
    // approximate by design (rows-only); codebook-saturating exactness
    // and code geometry pinned in ExtSpec.
    "x71_pq_topk" -> ((s, d) => Similarity.pqTopK(emb(s, d))),
    "x7_lang_id" -> ((s, d) => TextStats.langId(docs(s, d))),
    "x8_quality_score" -> ((s, d) => TextStats.qualityScore(docs(s, d))),
    "x9_token_count" -> ((s, d) => TextStats.tokenCount(docs(s, d))),
    "x10_fingerprint" -> ((s, d) => TextStats.fingerprint(docs(s, d))),
    "x11_multimodal_meta" -> ((s, d) => Multimodal.mediaMeta(docs(s, d))),
    "x15_pii_scrub" -> ((s, d) => TextStats.piiScrub(docs(s, d))),
    "x17_frame_sample" -> ((s, d) => Multimodal.frameSample(Multimodal.mediaTable(docs(s, d)))),
    // Windowed byte-energy profile over the fake media payload — the
    // audio-QC row; hex-faithful so the oracle recomputes from
    // hex(encode(text)) slices (the x17 technique).
    "x124_audio_energy" -> ((s, d) =>
      Multimodal.audioEnergy(Multimodal.mediaTable(docs(s, d)))),
    // Shot-boundary detection: per-frame dHash signatures, hamming
    // between consecutive frames, cuts at >= 10 of 15 bits — the
    // video-curation row over the same hex-faithful frame plan.
    "x255_shot_boundaries" -> ((s, d) =>
      Multimodal.shotBoundaries(Multimodal.mediaTable(docs(s, d)))),
    // Perceptual media near-dup: dHash-banded pairs at hamming <= 3
    // over the deterministic payload. Planted: every 25th doc copied
    // (id + 2e6) with ONE same-length character substitution at
    // position 11 — at the fixture's ~50-550-byte payloads that flips
    // at most a couple of signature bits, so copies land as true
    // near-dup pairs while staying byte-distinct from their originals
    // (exact-md5 dedup would NOT catch them — the axis this operator
    // adds). The DuckDB oracle recomputes the signature from
    // hex(encode(text)) and brute-forces all pairs; banded ≡ brute
    // force by the 4x16 pigeonhole (spec-pinned in ExtSpec).
    "x135_media_neardup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"),
        col("lang"), col("source"))
      val copies = base
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 12)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("Q"),
            expr("substring(text, 12, length(text))")).as("text"),
          col("lang"), col("source"))
      Multimodal.mediaNeardup(Multimodal.mediaTable(base.unionByName(copies)))
    }),
    // Incremental MEDIA near-dup (the x23/x44 convention for the
    // dHash family): the corpus (%10 != 0) is signed + banded ONCE
    // into parquet artifacts, then the batch (%10 == 0 plus planted
    // substitution near-copies of corpus docs at id + 2e6) probes the
    // stored index — no corpus payload is re-read or re-signed at
    // probe time (structural: the probe never receives the corpus
    // frame). Oracle: brute-force corpus×batch over the recomputed
    // signatures.
    "x136_incr_media_neardup" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"),
        col("lang"), col("source"))
      val corpus = base.filter(col("doc_id") % 10 =!= 0)
      val planted = corpus
        .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 12)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(substring(col("text"), 1, 10), lit("Q"),
            expr("substring(text, 12, length(text))")).as("text"),
          col("lang"), col("source"))
      val batch = base.filter(col("doc_id") % 10 === 0).unionByName(planted)
      val w = new graft.sinks.StagingWriter(s, graft.util.Scratch.dir("dhash_idx"))
      Multimodal.DhashIndex.build(Multimodal.mediaTable(corpus), w, "media")
      Multimodal.dhashNeardupAgainstIndex(Multimodal.mediaTable(batch), w, "media")
    }),
    "x16_repetition" -> ((s, d) => TextStats.repetition(docs(s, d))),
    // Per-doc Simpson type concentration: catches reorder-hidden
    // stuffing x16's bigram ratio misses; NULL-text docs report 0.
    "x261_doc_simpson" -> ((s, d) => TextStats.docSimpson(docs(s, d))),
    // Source language purity: majority predicted lang + agreeing
    // share per source — the crawl-labeling audit over lang_best.
    "x262_source_lang_purity" -> ((s, d) =>
      TextStats.sourceLangPurity(docs(s, d))),
    // Per-source heavy hitters: the mg_candidates custom aggregate in
    // GROUPED mode, exact recount per group vs the naive oracle.
    "x265_group_heavy_hitters" -> ((s, d) =>
      // k=32 (3.125% share): the synthetic vocab tops out at ~5.4%
      // per-source share at sf0.01 / 3.7% at sf0.1 — k=16 is vacuous
      TextStats.groupHeavyHitters(docs(s, d), k = 32)),
    // Exact (non-probabilistic) member of the dedup family: prefix-
    // filtered n-gram Jaccard join at 0.7 — a threshold where MinHash
    // banding recall already decays (~1.2% borderline miss), which is
    // exactly when the exact algorithm is the right choice.
    "x18_ngram_jaccard" -> ((s, d) => ngramPairs(s, d)),
    // Asymmetric containment: every 40th doc gets a planted "quote doc"
    // at id+3e6 carrying its first 25 tokens — a contiguous slice, so
    // the quote's shingle set is wholly contained (containment 1.0)
    // while its Jaccard vs the original sits far below pair thresholds.
    // Short originals (≤ 25 tokens) plant an identical copy → mutual
    // containment, so both directions occur. Oracle = brute-force
    // shared-shingle equi-join over the same planted frame.
    "x72_containment" -> ((s, d) => {
      val base = docs(s, d)
      val planted = base.select(col("doc_id"), col("text")).union(
        base.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 25)).as("text")))
      Dedup.containmentJoin(planted)
    }),
    // Benchmark decontamination (13-gram containment). The "benchmark"
    // is PLANTED from the corpus itself — every 50th document's token
    // window [5, 30] becomes an eval item, so contamination exists by
    // construction (docs ≥ 17 tokens quote a full 13-gram) and the
    // oracle row is non-vacuous; near-dups of sliced docs may hit too.
    "x19_decontaminate" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.decontaminate(dd, evalWindow(dd))
    }),
    // Bloom-pre-filtered decontamination: the scale path for when the
    // eval n-gram set outgrows a broadcast. Bit-identical output to x19
    // by construction (Bloom prefilter has no false negatives; the
    // exact confirm join removes false positives) — same planted eval
    // set, same oracle SQL.
    "x53_bloom_decontaminate" -> ((s, d) => {
      val dd = docs(s, d)
      graft.ext.Bloom.decontaminateBloom(dd, evalWindow(dd), bits = 1 << 16, k = 5)
    }),
    // Graded contamination (matched/total distinct 13-grams + ppm) over
    // the same planted eval set as x19 — the trim-vs-drop report.
    "x54_contamination_rate" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.contaminationRate(dd, evalWindow(dd))
    }),
    // Cross-split leakage: the decontamination report run BETWEEN a
    // split's own halves (did test leak into train?) — the check every
    // training run owes its eval numbers. Leakage is PLANTED (every
    // 10th train doc quotes a 26-token window of the first test doc)
    // so the row is non-vacuous; split assignment hashes the ORIGINAL
    // text, so planting can't move a doc across splits.
    "x61_split_leakage" -> ((s, d) => {
      val dd = docs(s, d)
      val joined = dd.join(Assemble.hashSplit(dd), "doc_id")
      val testDocs = joined.filter(col("split") === "test")
      val quote = testDocs.orderBy(col("doc_id")).limit(1)
        .select(array_join(slice(split(col("text"), " "), 5, 26), " "))
        .head().getString(0)
      val train = joined.filter(col("split") === "train")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" " + quote)))
            .otherwise(col("text")).as("text"))
      Dedup.decontaminate(train, testDocs.select(col("text")))
    }),
    // Chunk-level language consistency over PLANTED mixing: every 20th
    // doc gets three repetitions of the German marker set appended, so
    // its tail chunks classify 'de' (or tie deterministically at the
    // boundary) while the rest of the corpus stays single-language —
    // the embedded-foreign-quote case doc-level argmax hides.
    "x67_lang_segments" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 20 === 0,
          concat(col("text"), lit(" der und die das nicht ist" * 3)))
          .otherwise(col("text")).as("text"))
      TextStats.langSegments(planted)
    }),
    // Deterministic stratified eval-set sampling: 15 docs per lang
    // ranked by salted content hash (the fixture carries ~100 per
    // lang, so the cut is non-vacuous in every stratum).
    "x66_stratified_sample" -> ((s, d) =>
      Assemble.stratifiedSample(docs(s, d), perStratum = 15)),
    // HTML -> text extraction over PLANTED markup (the fixture is
    // plain text, so the wrap is the damage): every doc gets a fixed
    // document frame plus <b> wraps around its ' value ' tokens and a
    // trailing entity-bearing paragraph carrying the named ampersand,
    // both numeric apostrophe forms (`&#39;` decimal, `&#x27;` hex —
    // the sanitizer-emitted spellings), AND an ESCAPED reference
    // (`&amp;#x27;` — the correct encoding of the literal string
    // `&#x27;`), which must survive as that literal because `&amp;`
    // decodes last. The extraction round-trips to original-text +
    // " tail & it's 'done' aka &#x27;" — pinned by md5 — and n_tags
    // counts the planted markup (8 fixed + 2 per wrap).
    "x65_html_extract" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        concat(lit("<html><body class=\"doc\"><p>"),
          regexp_replace(col("text"), " value ", " <b>value</b> "),
          lit("</p> <p>tail &amp; it&#39;s &#x27;done&#x27; aka &amp;#x27;</p></body></html>")).as("text"))
      TextStats.htmlExtract(planted)
    }),
    // Span-level decontamination REWRITE: x19's planted eval set, but
    // instead of dropping a contaminated doc the eval-matching 13-gram
    // windows are removed and the doc is rebuilt from what remains —
    // the span-removal treatment for long docs quoting one benchmark
    // passage. Output pins the rebuild via md5 of the cleaned text
    // (the x39 convention), never the body.
    "x64_decontaminate_trim" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.decontaminateTrim(dd, evalWindow(dd))
    }),
    // FUZZY decontamination: MinHash near-dup (j >= 0.8) between the
    // corpus and a planted eval set — every 50th doc's FULL text with
    // a suffix appended (j ~= 0.98 vs its source, unlike x19's 26-token
    // slices which share most 13-grams but few enough 3-gram shingles
    // to stay far below any Jaccard threshold). Non-vacuous both ways:
    // the planted copies flag their sources, and natural near-dup
    // partners of those sources flag too (the lightly-edited-copy case
    // the exact rule misses).
    "x63_fuzzy_decontaminate" -> ((s, d) => {
      val dd = docs(s, d)
      val ev = dd.filter(evalDoc)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" zz eval benchmark suffix")).as("text"))
      Dedup.fuzzyDecontaminate(dd, ev)
    }),
    // The COMPOSED end-to-end prep job (run.CorpusPrepJob): every
    // stage is an operator verified solo elsewhere; this row pins
    // their composition — normalize repairing the planted damage is
    // load-bearing for the exact-dedup stage (copies carry DIFFERENT
    // damage than their originals, so only a correct normalize makes
    // them collide), dedup precedes near-dup (the copies never reach
    // the pair set), decontamination runs on deduped survivors, the
    // split hashes cleaned text. Damage: x25's scheme on the base
    // corpus; exact copies of every 25th doc (id + 2e6, uppercased —
    // ids ≡ 0 mod 50 share the original's damage class, ids ≡ 25 mod
    // 50 don't). Eval set: x19's planted construction. Artifacts land
    // in a per-run temp warehouse (the x23 convention); the output is
    // the funnel — one (stage, n_docs) row per stage.
    "x62_prep_job" -> ((s, d) => {
      val base = docs(s, d)
      val damaged = base.select(col("doc_id"),
        when(col("doc_id") % 10 === 0, upper(col("text")))
          .otherwise(regexp_replace(col("text"), " th", "  th")).as("text"),
        col("lang"), col("source"))
      val copies = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          upper(col("text")).as("text"), col("lang"), col("source"))
      val w = new graft.sinks.StagingWriter(s,
        graft.util.Scratch.dir("prep_job"))
      graft.run.CorpusPrepJob
        .run(damaged.unionByName(copies), evalWindow(base), w).funnel
    }),
    // The INCREMENTAL leg of the composed prep job
    // (CorpusPrepJob.increment): an initial run() over the %3≠0 docs
    // lays the standing artifacts, then ONE batch tick cleans the
    // %3=0 docs plus planted history collisions against them — exact
    // copies of standing docs (id+4e6, every %5 of the initial set →
    // dropped at the standing-corpus hash anti-join), near-copies of
    // standing docs (id+5e6, every %7, suffixed → dropped at the
    // stored-index history probe), and within-batch near-twins
    // (id+6e6, every %11 of the batch, suffixed → the within-batch
    // component/keeper leg is non-vacuous). The output is the BATCH
    // funnel; the oracle re-derives the initial corpus AND the tick
    // in one SQL chain (both closures, both containment joins).
    "x68_incr_funnel" -> ((s, d) => {
      val dd = docs(s, d)
      val exactOfHist = dd.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"),
          col("lang"), col("source"))
      val nearOfHist = dd.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" zz incr suffix")).as("text"),
          col("lang"), col("source"))
      val batchTwin = dd.filter(col("doc_id") % 3 === 0 && col("doc_id") % 11 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" qq batch twin")).as("text"),
          col("lang"), col("source"))
      val batch = dd.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .unionByName(exactOfHist).unionByName(nearOfHist).unionByName(batchTwin)
      // The initial run() is DETERMINISTIC for a given fixture dir, so
      // it is the shared incr_funnel_base artifact and each invocation
      // starts from a fresh COPY of it — the increment leg (the thing
      // this gate pins) runs against byte-identical standing state
      // either way. The copy is per-invocation because increment
      // APPENDS to the standing artifacts.
      val base = incrFunnelBase(s, d)
      val wh = graft.util.Scratch.dir("incr_funnel")
      linkTree(new java.io.File(base), new java.io.File(wh))
      graft.run.CorpusPrepJob.increment(batch, evalWindow(dd),
        new graft.sinks.StagingWriter(s, wh)).funnel
    }),
    // Corpus-level boilerplate-prefix removal (the CCNet/C4 site-level
    // treatment): every 4th doc gets the same 10-token navigation line
    // prepended — within each source that lands near a 25% share, so
    // sources straddle the 20% flag threshold by their own doc mix and
    // both flagged and unflagged states occur naturally. Detection is
    // per (source, prefix) with exact integer share arithmetic; the
    // trimmed rebuild is md5-pinned (the chunk-dedup convention).
    "x69_boilerplate_prefix" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("home menu search login cart help contact about terms privacy "),
            col("text")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      TextStats.boilerplatePrefix(planted)
    }),
    // Corpus assembly: reproducible content-hash split, language
    // mixture (en 100%, zh 50%, es 25%, de 75%, fr dropped — a mixture
    // spec is a whitelist), and shard-local token-budget packing.
    // Incremental ingest dedup: the corpus (doc_id % 10 != 0) is
    // indexed ONCE (per-doc shingle sets + band keys as parquet
    // artifacts), then the "new batch" (doc_id % 10 == 0) near-dups
    // against the index — no corpus signature is recomputed. The index
    // lands in a per-run temp warehouse; content is deterministic.
    "x23_incr_neardup" -> ((s, d) => {
      val dd = docs(s, d)
      val corpus = dd.filter(col("doc_id") % 10 =!= 0)
      val batch = dd.filter(col("doc_id") % 10 === 0)
      val w = new graft.sinks.StagingWriter(s,
        graft.util.Scratch.dir("minhash_idx"))
      Dedup.MinhashIndex.build(corpus, w, "docs")
      Dedup.neardupAgainstIndex(batch, w, "docs")
    }),
    // Incremental EMBEDDING near-dup: the corpus (original vectors) is
    // sign-LSH-indexed once (bands + vectors + geometry sidecar as
    // parquet artifacts), then the "new batch" (the planted cos≈0.97
    // copies, vec_id ≥ 1e6) near-dups against the index — no corpus
    // vector is re-banded. Non-vacuous by construction: every planted
    // copy crosses corpus↔batch. Same per-run temp warehouse as x23.
    "x44_incr_embed_neardup" -> ((s, d) => {
      val e = plantedEmb(s, d)
      val w = new graft.sinks.StagingWriter(s,
        graft.util.Scratch.dir("embed_idx"))
      Similarity.SignLshIndex().build(e.filter(col("vec_id") < 1000000L), w, "emb")
      Similarity.embedNeardupAgainstIndex(e.filter(col("vec_id") >= 1000000L), w, "emb")
    }),
    // Duplicate-cluster labeling over the SHARED MinHash pair set
    // (x2/x14's cache): component = min doc_id reachable.
    "x24_dup_components" -> (dupComps(_, _)),
    // The SAME component labeling by two-phase large-star/small-star
    // contraction (O(log n) rounds vs label propagation's O(diameter)
    // — the 100 TB boilerplate-chain answer); identical output ⇒ the
    // x24 oracle replays verbatim.
    "x266_dup_components_star" -> ((s, d) =>
      graft.ext.Dedup.dupComponentsStar(minhashPairs(s, d))),
    // Duplicate-cluster size histogram over the shared labeling —
    // where the duplicate mass sits (giant boilerplate components vs
    // organic pairs); rides the x24 component cache.
    "x279_component_sizes" -> ((s, d) =>
      Dedup.componentSizeDist(dupComps(s, d))),
    // Per-source dataset cards: volume, language spread (x204 tie
    // policy), near-dup exposure over the SHARED pair set, PII
    // backlog — the release-table composition row.
    "x281_data_cards" -> ((s, d) =>
      TextStats.dataCards(docs(s, d), minhashPairs(s, d))),
    // REVERSE contamination audit over the x19 planted eval set: per
    // eval item, distinct quoting docs + distinct quoted grams — the
    // burned-benchmark-item report (x19 answers per-TRAINING-doc).
    "x280_contamination_sources" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.contaminationSources(dd, evalWindow(dd, col("doc_id").as("eval_id")))
    }),
    // Canonical keeper per duplicate component: best quality (x8 tree)
    // wins, doc_id tiebreak — not blindly the lowest id; shares the
    // component labels with x24.
    "x46_canonical_pick" -> ((s, d) => Dedup.canonicalPick(docs(s, d), dupComps(s, d))),
    // Normalization with PLANTED damage (the fixture is already
    // canonical lowercase/single-space ASCII, so an un-planted oracle
    // would be vacuous): every 10th doc uppercased, the rest get
    // doubled spaces before "th" tokens — both repaired by normalize.
    "x25_normalize" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 === 0, upper(col("text")))
          .otherwise(regexp_replace(col("text"), " th", "  th")).as("text"))
      TextStats.normalized(planted).select(col("doc_id"),
        md5(col("text")).as("norm_hash"),
        length(col("text")).as("n_chars"))
    }),
    "x26_vocab" -> ((s, d) => TextStats.vocabulary(docs(s, d))),
    // Gopher hard-gate rule bundle over PLANTED damage (the clean
    // fixture would leave the word-length and symbol flags constant —
    // vacuous): every 17th doc collapses to one giant word (trips the
    // word-count AND word-length gates), every other 13th doc gets a
    // symbol-run suffix (trips the symbol-ratio gate); the word-count
    // and stopword gates vary naturally (10-99 words, 0-14 stops).
    "x40_gopher_rules" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 17 === 0, regexp_replace(col("text"), " ", ""))
          .when(col("doc_id") % 13 === 0, concat(col("text"), lit(" !!! ### $$$")))
          .otherwise(col("text")).as("text"))
      TextStats.gopherRules(planted)
    }),
    // Classifier distillation over the x40 planted corpus: the gopher
    // teacher labels the even half, the integer NB model scores ALL
    // docs (held-out odd half included) — the FineWeb-edu loop.
    "x57_nb_quality" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 17 === 0, regexp_replace(col("text"), " ", ""))
          .when(col("doc_id") % 13 === 0, concat(col("text"), lit(" !!! ### $$$")))
          .otherwise(col("text")).as("text"))
      val labels = TextStats.gopherRules(planted.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id"), col("passes"))
      TextStats.nbScore(planted, labels)
    }),
    "x27_keywords" -> ((s, d) => TextStats.keywords(docs(s, d))),
    "x28_quantize" -> ((s, d) => Similarity.quantizeInt8(emb(s, d))),
    // SemDeDup semantic pruning over the planted corpus (cos≈0.97
    // copies) — rows-only like x6 (float k-means centroids aren't
    // DuckDB-reproducible); cells=1 ≡ brute force and planted-copy
    // pruning are pinned in ExtSpec.
    "x41_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(plantedEmb(s, d))),
    // JL random projection 64→16 — rows-only (approximate by design);
    // determinism, geometry, and distortion bounds pinned in ExtSpec.
    // Pinned-scalar form: the driver's pandas canonicalizer crashes on
    // raw array<double> gate outputs (x28 convention).
    "x47_random_project" -> ((s, d) => Similarity.randomProjectPinned(emb(s, d))),
    // Filtered vector search: the metadata predicate (lang + length,
    // ~50% selective on the fixture) semi-joins the corpus BEFORE any
    // scoring — filtered-out vectors are never dotted; queries need
    // not satisfy the filter.
    "x48_filtered_topk" -> ((s, d) => {
      val keep = docs(s, d)
        .filter(col("lang").isin("en", "de") && col("n_chars") >= 100)
        .select(col("doc_id").as("vec_id"))
      Similarity.cosTopKFor(
        emb(s, d).join(keep, "vec_id"),
        emb(s, d).filter(col("vec_id") % 50 === 0))
    }),
    // Batch sessionization over the NTZ-shimmed events scan — the
    // gaps-and-islands replay of the streaming session state.
    "x29_sessions" -> ((s, d) =>
      Sessions.sessionize(events(s, d).select("event_id", "user_id", "ts"))),
    "x30_quantiles" -> ((s, d) => Stats.lengthQuantiles(docs(s, d))),
    // Per-language z-score standardization — group moments are exact
    // integer sums, so the per-row standardization tree is bit-exact
    // across engines (no rank tricks needed for a float output).
    "x45_zscore_norm" -> ((s, d) => Stats.zscoreNorm(docs(s, d))),
    "x31_rolling" -> ((s, d) =>
      Sessions.rollingDaily(events(s, d).select("user_id", "ts"))),
    // Ordered conversion funnel view→click→purchase over the first
    // three days only — the full month is vacuous (every user of the
    // 30-day fixture completes all stages: 150/150/150); the 3-day
    // window leaves a real drop-off (115→66→37 at sf0.01). The cut is
    // an event-time predicate INSIDE the fetch, so it rides the scan.
    "x75_event_funnel" -> ((s, d) =>
      Sessions.eventFunnel(events(s, d)
        .filter(col("ts") < lit("2024-01-04 00:00:00").cast("timestamp_ntz"))
        .select("user_id", "event_type", "ts"))),
    // Lag-feature table: per event, previous type + gap under the
    // (us, event_id) total order — row-shaped model features.
    "x173_lag_features" -> ((s, d) =>
      Sessions.lagFeatures(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Matryoshka truncation audit: prefix-16-of-64 search vs the full
    // exact top-10 — overlap counts + recall ppm per query (rank-only,
    // the x3 tie-break).
    "x174_matryoshka_recall" -> ((s, d) =>
      Similarity.matryoshkaRecall(emb(s, d), dims = 16, k = 10)),
    // Sparse tf-idf cosine top-k via the inverted index: the lexical
    // retrieval leg (x50 idf proxy, x141 staged squared-cosine ppm).
    "x175_sparse_topk" -> ((s, d) => {
      val (tf, n) = docTfStats(s, d)
      TextStats.sparseCosTopKFrom(tf, n, k = 5, queryMod = 250)
    }),
    // Markov next-event backtest: train argmax transition on the first
    // half of the time range, score accuracy per prior type on the
    // second (data-derived split, never wall clock).
    "x176_markov_backtest" -> ((s, d) =>
      Sessions.markovBacktest(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Fleiss' kappa over three heuristic judges (label parity + two
    // embedding-sign raters — x137's proxy-rater shape, m = 3).
    "x177_fleiss_kappa" -> ((s, d) => {
      val e = emb(s, d)
        .filter(col("label").isNotNull && size(col("embedding")) >= 2)
      Stats.fleissKappa(e, col("vec_id"), Seq(
        pmod(col("label"), lit(2)),
        (element_at(col("embedding"), 1) > 0f).cast("int"),
        (element_at(col("embedding"), 2) > 0f).cast("int")))
    }),
    // Deterministic negative sampling: 5 never-bought parts per
    // customer via salted md5 probes — O(users x candidates), the
    // users x items domain is never materialized.
    "x182_negative_sampling" -> ((s, d) => {
      val inter = s.read.parquet(s"$d/orders.parquet")
        .join(s.read.parquet(s"$d/lineitem.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("item_id"))
      Assemble.negativeSamples(inter,
        s.read.parquet(s"$d/part.parquet")
          .select(col("p_partkey").as("item_id")))
    }),
    // Period-over-period contribution: revenue drill-down by market
    // segment across the two halves of the order-time range; segment
    // deltas sum to the topline delta exactly (integer cents).
    "x183_period_contribution" -> ((s, d) =>
      Stats.periodContribution(
        s.read.parquet(s"$d/orders.parquet")
          .join(broadcast(s.read.parquet(s"$d/customer.parquet")),
            col("c_custkey") === col("o_custkey")),
        tsCol = "o_orderdate", segCol = "c_mktsegment",
        valueCol = "o_totalprice")),
    // User-user CF neighbors: top-5 most-similar customers by exact
    // Jaccard over distinct purchased-part sets, candidates from the
    // per-item inverted-index join (users x users never materialized).
    "x184_cf_jaccard" -> ((s, d) =>
      Similarity.jaccardUserTopK(
        s.read.parquet(s"$d/orders.parquet")
          .join(s.read.parquet(s"$d/lineitem.parquet"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("user_id"),
            col("l_partkey").as("item_id")))),
    // The CAPPED CF leg (x184's production knob under the oracle, not
    // just spec-pinned): item -777 is PLANTED on every customer — the
    // popularity² head item incarnate (it alone would pair all users²
    // through one shuffle key) — and maxItemDf=500 drops it while
    // every genuine part (≤ ~60 buyers at any SF) survives; the
    // oracle applies the identical df ceiling to the identical
    // planted set, so the hash proves drop + exact-on-filtered.
    "x246_capped_neighbors" -> ((s, d) => {
      val inter = s.read.parquet(s"$d/orders.parquet")
        .join(s.read.parquet(s"$d/lineitem.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("item_id"))
      val planted = inter.unionByName(
        inter.select(col("user_id")).distinct()
          .withColumn("item_id", lit(-777L)))
      Similarity.jaccardUserTopK(planted, k = 5, maxItemDf = Some(500L))
    }),
    // The stop-term drop REPORT (no-silent-caps made oracle-visible):
    // every token above the proportional df ceiling (78% of the
    // corpus — bites at every SF since the synthetic head tokens sit
    // near 80%), with the posting fan-out the cap avoids.
    "x247_head_terms" -> ((s, d) => {
      val (tf, n) = docTfStats(s, d)
      TextStats.headTermsFrom(tf, n * 39L / 50L)
    }),
    // The CAPPED BM25 leg (x189's knob under the oracle, completing
    // the trio): same proportional ceiling; dl/avgdl/idf all reflect
    // the filtered token stream — BM25 exactly over what remains.
    "x249_capped_bm25" -> ((s, d) => {
      val (tf, n) = cappedTfStats(s, d)
      TextStats.bm25TopKFrom(tf, n, k = 5, queryMod = 250)
    }),
    // The CAPPED sparse-retrieval leg (x175's production knob under
    // the oracle): the same proportional ceiling drops the head
    // tokens from the token stream and the scores are EXACTLY the
    // tf·idf cosine over the filtered streams (n_docs unchanged) —
    // the oracle filters its tf CTE by the identical df rule.
    "x248_capped_sparse" -> ((s, d) => {
      val (tf, n) = cappedTfStats(s, d)
      TextStats.sparseCosTopKFrom(tf, n, k = 5, queryMod = 250)
    }),
    // Incremental rollup maintenance: stored-state + batch partial
    // aggregates MERGED per (day, event_type); the oracle aggregates
    // the whole frame directly — the merge-identity proof.
    "x185_rollup_merge" -> ((s, d) =>
      Stats.rollupMerge(events(s, d))),
    // Classifier eval harness: train the x57 NB distillation on the
    // EVEN half's gopher labels, score the held-out ODD half, exact
    // ROC-AUC (tie-averaged doubled-rank Mann-Whitney form) of the
    // score against the odd half's true gopher labels.
    "x186_nb_auc" -> ((s, d) =>
      Stats.mannWhitneyU(nbHeldOut(s, d), "nb_ppm", "passes")
        .select(col("n_a").as("n_pass"), col("n_b").as("n_fail"),
          col("u2_a").as("u2"), col("cles_ppm").as("auc_ppm"))),
    // Classifier operating point: the confusion matrix + P/R/F1 at
    // the p >= 0.5 cut — what a deployed quality gate actually ships.
    "x271_confusion" -> ((s, d) =>
      Stats.confusionAtThreshold(
        nbHeldOut(s, d).select(col("doc_id"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nb_ppm DIV " +
            "(nb_ppm + 1000000) AS BIGINT)")
            .as("forecast_ppm"),
          col("passes")),
        "forecast_ppm", "passes")),
    // Cumulative gains: score deciles best-first, prefix capture and
    // lift vs random — the triage view of the same NB score.
    "x272_gains" -> ((s, d) =>
      Stats.gainsTable(
        nbHeldOut(s, d).select(col("doc_id"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nb_ppm DIV " +
            "(nb_ppm + 1000000) AS BIGINT)")
            .as("forecast_ppm"),
          col("passes")),
        "forecast_ppm", "passes", "doc_id")),
    // Mann-Kendall S per event type over the dense daily grid: the
    // nonparametric trend verdict next to OLS (x222) / Theil-Sen (x251).
    "x273_mann_kendall" -> ((s, d) => Stats.mannKendall(events(s, d))),
    // Expected calibration error over the shared NB held-out forecast
    // (the x269 binning, one headline ppm number + the max-bin gap) —
    // the FIFTH member of the x186 NB oracle-clone family.
    "x278_ece" -> ((s, d) =>
      Stats.ece(
        nbHeldOut(s, d).select(col("doc_id"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nb_ppm DIV " +
            "(nb_ppm + 1000000) AS BIGINT)")
            .as("forecast_ppm"),
          col("passes")),
        "forecast_ppm", "passes", "doc_id")),
    // Cross-split leakage audit: the x18 exact-Jaccard pair set (shared
    // artifact) against the x20 hash-split assignment — near-dup pairs
    // straddling train/val/test (1 train-test + 1 train-val at sf0.01).
    "x274_split_leakage" -> ((s, d) =>
      Dedup.splitLeakage(ngramPairs(s, d),
        graft.ext.Assemble.hashSplit(docs(s, d)))),
    // N-gram novelty of the %50 "incoming batch" docs vs the rest as
    // the standing corpus — ppm of batch shingles unseen in the corpus.
    "x275_ngram_novelty" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.ngramNovelty(dd.filter(!evalDoc), dd.filter(evalDoc))
    }),
    // Gopher-family within-doc repetition ratio over ALL 3-gram windows
    // (27 docs with repeats at sf0.01, max ~71k ppm — non-vacuous).
    "x276_repetition_ratio" -> ((s, d) =>
      TextStats.repetitionRatio(docs(s, d))),
    // PII content scan over a planted corpus: %23 docs get an email
    // (MIXED-CASE — it only counts because the scan lowercases, the
    // case-robustness proof), %29 a phone, %31 an IPv4 (plants inside
    // query AND oracle — the x13 convention); patterns from the ONE
    // TextStats registry.
    "x277_pii_scan" -> ((s, d) => {
      val planted = docs(s, d).select(col("source"), concat(
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 23 === 0,
          lit(" contact A.User@EXAMPLE.COM now")).otherwise(lit("")),
        when(col("doc_id") % 29 === 0,
          lit(" call 555-867-5309 soon")).otherwise(lit("")),
        when(col("doc_id") % 31 === 0,
          lit(" from 192.168.10.42 gateway")).otherwise(lit("")))
        .as("text"))
      TextStats.piiScan(planted)
    }),
    // Murphy decomposition of the NB score's CALIBRATION (x186 is
    // only discrimination): the likelihood-ratio ppm maps to a
    // forecast probability p = r/(r + 1e6) in exact ppm, bins by
    // forecast decile, Brier = REL - RES + UNC in ppm^2.
    "x269_brier" -> ((s, d) =>
      Stats.brierDecomposition(
        nbHeldOut(s, d).select(col("doc_id"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * nb_ppm DIV " +
            "(nb_ppm + 1000000) AS BIGINT)")
            .as("forecast_ppm"),
          col("passes")),
        "forecast_ppm", "passes", "doc_id")),
    // Mutual-NN pair mining within label blocks: reciprocal cosine
    // top-1 pairs, canonical a < b — the alignment-mining primitive.
    "x187_mutual_knn" -> ((s, d) =>
      Similarity.mutualTopPairs(emb(s, d))),
    // BM25 top-k over the inverted index: the canonical lexical
    // ranker with rational (k1=6/5, b=3/4) defaults made exact-integer.
    "x189_bm25_topk" -> ((s, d) => {
      val (tf, n) = docTfStats(s, d)
      TextStats.bm25TopKFrom(tf, n, k = 5, queryMod = 250)
    }),
    // Watermark-lateness audit: arrival = event_id with every 7th
    // event delivered 25 positions late (the plant convention — the
    // synthetic log is otherwise perfectly ordered); P50/P90/P99/max
    // event-time regression per type sizes the streaming watermark.
    "x190_watermark_lateness" -> ((s, d) =>
      Stats.watermarkLateness(events(s, d)
        .filter(col("event_id").isNotNull)
        .withColumn("arrival", col("event_id") +
          when(col("event_id") % 7 === 0, lit(25L)).otherwise(lit(0L))))),
    // Erasure audit: right-to-be-forgotten proof-of-processing — the
    // deletion list is every user_id % 97 == 0; per event type,
    // before/dropped/after + distinct subjects seen.
    "x195_erasure_audit" -> ((s, d) => {
      val e = events(s, d).filter(col("user_id").isNotNull)
      graft.ext.Merge.erasureAudit(
        e, e.filter(col("user_id") % 97 === 0).select("user_id"),
        "user_id", "event_type")
    }),
    // Detector confusion: SimHash hamming<=3 pairs vs the exact
    // n-gram Jaccard>=0.7 reference — precision/recall of the cheap
    // detector against ground truth, one row.
    "x194_neardup_confusion" -> ((s, d) =>
      Dedup.neardupConfusion(
        Dedup.simhashNeardup(docs(s, d)), ngramPairs(s, d))),
    // Dup-cluster size histogram over the shared x24 components —
    // clusters/docs/corpus-share per size, singletons at size 1.
    "x193_dup_size_histogram" -> ((s, d) =>
      Dedup.dupSizeHistogram(dupComps(s, d), docs(s, d))),
    // Schema-drift audit: v2 drops lang, adds n_chars, retypes doc_id
    // to string and floods text with planted NULLs — one of every
    // status plus the null-rate face of the drift.
    "x270_schema_drift" -> ((s, d) => {
      val dd = docs(s, d)
      Stats.schemaDrift(
        dd.select(col("doc_id"), col("text"), col("lang"), col("source")),
        dd.select(col("doc_id").cast("string").as("doc_id"),
          when(col("doc_id") % 31 === 0, lit(null).cast("string"))
            .otherwise(col("text")).as("text"),
          col("source"),
          length(col("text")).as("n_chars")))
    }),
    // Quarter-over-quarter top-20 supplier churn: rank stability of
    // the leaderboard — carried members, new entrants, exact Jaccard.
    "x267_topk_churn" -> ((s, d) =>
      Stats.topkChurn(s.read.parquet(s"$d/lineitem.parquet"))),
    // Z-order layout audit: Morton key over (partkey, suppkey), fixed
    // z-range quadtree regions, per-region count + exact bounding box.
    "x191_zorder_layout" -> ((s, d) =>
      Stats.zorderLayout(s.read.parquet(s"$d/lineitem.parquet"),
        "l_partkey", "l_suppkey", bits = 8, buckets = 64)),
    // Interval-union coverage per supplier: each lineitem is an open
    // exposure interval [orderdate, shipdate]; overlaps count once
    // (sweep-line islands), utilization = covered/span ppm.
    "x192_interval_union" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      val o = s.read.parquet(s"$d/orders.parquet")
      Stats.intervalUnion(
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("l_suppkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("s_us"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("e_us"),
            col("l_orderkey"), col("l_linenumber")),
        key = "l_suppkey", startUs = "s_us", endUs = "e_us",
        tiebreak = Seq("l_orderkey", "l_linenumber"))
    }),
    // Time-weighted average of the event value per type — step-hold
    // metering over irregular samples; the arithmetic mean over-weights
    // burst periods, the TWA weights by holding time.
    "x196_time_weighted" -> ((s, d) =>
      Stats.timeWeightedAvg(events(s, d))),
    // Mass-weighted length percentiles per source: the length at or
    // below which p% of the CHAR MASS sits (doc-count percentiles
    // treat a stub and a book as equals; training cost is mass).
    "x199_weighted_quantiles" -> ((s, d) =>
      Stats.weightedQuantiles(docs(s, d))),
    // Exact 1-Wasserstein length drift per source vs the corpus —
    // integrates ALL cdf gaps where x134's KS takes the worst one.
    "x200_wasserstein_drift" -> ((s, d) =>
      Stats.wassersteinDrift(docs(s, d))),
    // Consecutive-day activity streaks per user (gaps-and-islands on
    // distinct active days): active days, runs, longest run.
    "x201_activity_streaks" -> ((s, d) =>
      Stats.activityStreaks(events(s, d))),
    // Embedding isotropy per label: exact quantized mean pairwise dot
    // via the sum-vector identity — anisotropy breaks cosine
    // retrieval before any single vector looks wrong.
    "x203_isotropy_audit" -> ((s, d) =>
      Similarity.isotropyAudit(emb(s, d))),
    // Exact group mode with a STATED tie policy (count desc, value
    // asc): the dominant order priority per status, its share, and
    // the group's categorical breadth.
    "x204_group_mode" -> ((s, d) =>
      Stats.groupMode(s.read.parquet(s"$d/orders.parquet"),
        group = "o_orderstatus", value = "o_orderpriority")),
    // Near-dup pair evidence: per flagged pair, the exact shared
    // 3-gram count and the lexicographically smallest shared gram —
    // the human-review row a corpus rewrite is approved on.
    "x205_neardup_evidence" -> ((s, d) =>
      Dedup.neardupEvidence(
        ngramPairs(s, d).select("a_id", "b_id"), docs(s, d))),
    // Longest shared token span per flagged pair: exact token-level
    // LCS via the diagonal gaps-and-islands construction — the
    // substring-level rewrite threshold (Lee et al. 2022), and the
    // "similar wording vs block copy-paste" discriminator.
    "x206_shared_span" -> ((s, d) =>
      Dedup.longestSharedSpan(
        ngramPairs(s, d).select("a_id", "b_id"), docs(s, d))),
    // Epoch-repetition planner: half the corpus's tokens as budget,
    // 1.5-epoch repetition cap — uniform targets, cap, ONE
    // proportional redistribution round, all exact integers.
    "x207_epoch_plan" -> ((s, d) => {
      // persist the per-source token counts: the budget collect and
      // the planner's k/target/surplus branches would otherwise each
      // re-run the corpus token-split scan; the K-row plan output is
      // checkpointed eagerly so the cache can be released
      val per = docs(s, d).groupBy(col("source"))
        .agg(sum(size(split(coalesce(col("text"), lit("")), " "))
          .cast("long")).as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val budget =
          per.agg(sum(col("n_tokens"))).collect()(0).getLong(0) / 2
        Assemble.epochPlan(per, budget, capPpm = 1500000L)
          .localCheckpoint(true)
      } finally per.unpersist(blocking = false)
    }),
    // Importance-weight diagnostics: Kish effective sample size per
    // source over the x164 soft-dedup weights — the weighted-mix
    // health check (10^6 = no dups; small = a few heavy rows
    // dominate).
    "x208_ess_weights" -> ((s, d) =>
      Stats.importanceDiagnostics(
        Dedup.softDedupWeights(docs(s, d))
          .join(docs(s, d).select(col("doc_id"), col("source")),
            Seq("doc_id")),
        group = "source", weightCol = "weight_ppm")),
    // Lead-lag cross-correlation: does click activity move BEFORE
    // purchases? Signed squared Pearson per lag in [-3, 3] over the
    // dense day grid, zero-filled absences, staged integer division.
    "x209_lead_lag" -> ((s, d) =>
      Stats.leadLagCorrelation(events(s, d), "click", "purchase")),
    // Deterministic subsampling replicates: 32 salted half-samples of
    // order totals (integer cents) — the spread of replicate means is
    // the metric's stability band, reproducible across engines.
    "x210_subsample_ci" -> ((s, d) =>
      Stats.subsampleMeans(
        s.read.parquet(s"$d/orders.parquet"),
        keyCol = "o_orderkey",
        value = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // ANOVA effect size: does order priority explain order value?
    // eta^2 in exact ppm under the sums-of-floors convention.
    "x211_anova_eta" -> ((s, d) =>
      Stats.anovaEta(
        s.read.parquet(s"$d/orders.parquet"),
        group = "o_orderpriority",
        value = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // Share-of-parent rollup: nation revenue share within its region,
    // exact cents and integral ppm shares.
    "x212_share_of_parent" -> ((s, d) =>
      Stats.hierarchyShares(
        s.read.parquet(s"$d/orders.parquet")
          .join(broadcast(s.read.parquet(s"$d/customer.parquet")),
            col("c_custkey") === col("o_custkey"))
          .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
            col("n_nationkey") === col("c_nationkey"))
          .join(broadcast(s.read.parquet(s"$d/region.parquet")),
            col("r_regionkey") === col("n_regionkey")),
        childCol = "n_name", parentCol = "r_name",
        value = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // Cumulative reach: distinct users ever seen by day d — running
    // sum of first-appearance counts, one distinct pass.
    "x213_cumulative_reach" -> ((s, d) =>
      Stats.cumulativeReach(events(s, d))),
    // Peak 60-second event rate per user, top-20 burstiest under the
    // (peak desc, user) total order — the rate-limit audit view.
    "x214_peak_rate" -> ((s, d) => Stats.peakRate(events(s, d))),
    // Header-vs-detail reconciliation: order totals against recomputed
    // line amounts, drift rolled up per order status.
    "x215_invoice_reconcile" -> ((s, d) =>
      Stats.invoiceReconcile(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),
    // BFS hop depth over the near-dup graph from the smallest source's
    // documents — the contamination blast-radius ball, fixed 4 rounds.
    "x216_bfs_depth" -> ((s, d) => {
      val seeds = docs(s, d)
        .join(broadcast(docs(s, d).agg(min(col("source")).as("s0"))),
          col("source") === col("s0"))
        .select(col("doc_id").as("node"))
      graft.ext.Graph.bfsDepth(
        ngramPairs(s, d).select("a_id", "b_id"), seeds)
    }),
    // Near-dup threshold sensitivity: re-thresholds the SHARED loose
    // pair frame per t in {5..9}/10 (one detector run per (app, dir)
    // serves this sweep, x232 and the ngram pair set — r16) — pairs
    // and documents touched per threshold, explicit zeros.
    "x217_threshold_sweep" -> ((s, d) =>
      Dedup.thresholdSweepFrom(loosePairs(s, d))),
    // HHI concentration: how monopolized is each event type by its
    // heaviest users — exact ppm, squared sums in DECIMAL.
    "x218_hhi" -> ((s, d) =>
      Stats.hhi(events(s, d), group = "event_type", unit = "user_id")),
    // Top-3 nations per region with an Others residual row — the
    // reconciling dashboard table (group still sums to its total).
    "x219_topk_others" -> ((s, d) =>
      Stats.topkOthers(
        s.read.parquet(s"$d/orders.parquet")
          .join(broadcast(s.read.parquet(s"$d/customer.parquet")),
            col("c_custkey") === col("o_custkey"))
          .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
            col("n_nationkey") === col("c_nationkey"))
          .join(broadcast(s.read.parquet(s"$d/region.parquet")),
            col("r_regionkey") === col("n_regionkey")),
        groupCol = "r_name", keyCol = "n_name",
        value = expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // 2-D skyline: documents not beaten on BOTH length and token
    // count — reduce-to-max-per-x, dimension-sized frontier window,
    // vs the oracle's independent NOT EXISTS dominance test.
    "x220_skyline" -> ((s, d) =>
      Stats.skyline2d(
        docs(s, d).select(col("doc_id"), col("n_chars"),
          size(split(coalesce(col("text"), lit("")), " "))
            .cast("long").as("n_tokens")),
        idCol = "doc_id", xCol = "n_chars", yCol = "n_tokens")),
    // nDCG@10 with fixed integer rank discounts (the Benford literal
    // convention) — the graded companion to x180's MRR.
    "x221_ndcg10" -> ((s, d) => Similarity.ndcgAt10(emb(s, d))),
    // Average precision @ 10 per labeled query — the order-sensitive
    // third face of the retrieval-eval harness (x180 MRR, x221 nDCG);
    // per-hit precision terms as independent integral floors.
    "x268_map_eval" -> ((s, d) => Similarity.mapAt10(emb(s, d))),
    // Exact OLS slope of each type's daily count over the dense
    // zero-filled grid — micro-events/day, sign-decomposed division.
    "x222_daily_trend" -> ((s, d) => Stats.dailyTrend(events(s, d))),
    // Theil-Sen robust slope over the same dense grid — the median
    // pairwise slope next to x222's OLS (one outage day can't move
    // it; lower median, documented total order, sign-decomposed).
    "x251_theilsen_trend" -> ((s, d) => Stats.theilSenTrend(events(s, d))),
    // Daily value percentiles: p50/p90 event value per (type, day)
    // via the x30 carve partitioned by group — the ops metrics table.
    "x258_daily_value_p50" -> ((s, d) =>
      Stats.dailyValueQuantiles(events(s, d).select("event_type", "ts", "value"))),
    // Seasonality strength: DOW eta2 per type over the dense daily
    // grid. Planted weekly rhythm: 'view' keeps only every 5th event
    // on Sat/Sun (pure integer weekday; the uniform fixture has no
    // natural rhythm, the x87 plant convention) — view reads ~0.97e6
    // while the untouched types sit at the k-group sampling noise
    // floor E[eta2] ~ (k-1)/(n_days-1) ~ 0.21e6 (30-day fixture).
    "x257_seasonality" -> ((s, d) => {
      val damaged = events(s, d).select("event_id", "event_type", "ts")
        .filter(!(col("event_type") === "view" &&
          pmod(Stats.day(Stats.EpochUs) + 3, lit(7)).isin(5, 6) &&
          col("event_id") % 5 =!= 0))
      Stats.seasonalityStrength(damaged)
    }),
    // Wilson 95% bounds on the per-type high-value hit rate — exact
    // counts into an identically-spelled per-row double tree (the
    // x40/x215 convention; no float aggregation across rows).
    "x253_wilson_ci" -> ((s, d) =>
      Stats.wilsonCi(events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), (col("value") >= 50.0).as("hit")))),
    // Week-over-week growth per type: dense weeks, sign-decomposed
    // ppm rate, NULL (not 0) when the base week is empty.
    "x223_wow_growth" -> ((s, d) => Stats.wowGrowth(events(s, d))),
    // Bag-of-words dedup: reorder-robust copy counts next to the
    // byte-exact ones; reordered_extra is what only the sorted-token
    // view can see.
    "x224_bag_dedup" -> ((s, d) => Dedup.bagDedup(docs(s, d))),
    // Cross-language duplicate audit over the planted mislabeled
    // frame (every 40th doc rejoins under the 'xx' label).
    "x225_crosslang_dups" -> ((s, d) => Dedup.crosslangDups(docs(s, d))),
    // Audience overlap: exact Jaccard between event-type user sets,
    // distinct-before-pair.
    "x226_audience_overlap" -> ((s, d) =>
      Stats.audienceOverlap(events(s, d))),
    // Exact-integer EWMA trend over the dense zero-filled day grid
    // (α = 1/2, sums-of-floors, 20-day lookback).
    "x227_ewma_trend" -> ((s, d) => Stats.ewmaTrend(events(s, d))),
    // Unicode script-mix audit; every 41st doc gets a planted
    // Cyrillic+Arabic suffix (the x63/x172 plant convention —
    // mirrored in the oracle) so those scripts are non-vacuous on
    // the Latin/Han fixture.
    "x228_script_mix" -> ((s, d) =>
      TextStats.scriptMix(
        docs(s, d).select(col("source"), col("doc_id"),
          when(col("doc_id") % 41 === 0,
            concat(coalesce(col("text"), lit("")),
              lit(" Привет مرحبا")))
            .otherwise(col("text")).as("text")))),
    // Leave-one-out target encoding of order priority against the
    // order's cents total — the leakage-safe per-row feature.
    "x229_target_encoding" -> ((s, d) =>
      Assemble.looTargetEncoding(
        s.read.parquet(s"$d/orders.parquet"), "o_orderpriority",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // Forward-fill with staleness age over the dense day grid.
    "x230_forward_fill" -> ((s, d) => Stats.forwardFill(events(s, d))),
    // Exact heavy hitters via the Misra-Gries candidates-then-verify
    // aggregate (bounded state; exact recount decides).
    "x231_heavy_hitters" -> ((s, d) => TextStats.heavyHitters(docs(s, d))),
    // LSH tuning curve: exact pair histogram per Jaccard decile next
    // to the theoretical 16x4 banding S-curve at the bucket midpoint;
    // the histogram rolls up the shared loose pair frame (r16).
    "x232_lsh_tuning" -> ((s, d) =>
      Dedup.lshTuningCurveFrom(s, loosePairs(s, d))),
    // Vocabulary coverage curve: covered ppm at every frequency rank.
    "x233_vocab_curve" -> ((s, d) => TextStats.vocabCurve(docs(s, d))),
    // Transition dwell-time percentiles (the time dimension the x86
    // transition matrix drops), histogram-rank carve over seconds.
    "x234_transition_dwell" -> ((s, d) =>
      Sessions.transitionDwell(events(s, d))),
    // Keeper-policy comparison over the x24 duplicate components.
    "x235_keeper_policies" -> ((s, d) =>
      Dedup.keeperPolicies(docs(s, d), dupComps(s, d))),
    // Packing-efficiency audit over the x22 shard/sequence assignment.
    "x236_pack_efficiency" -> ((s, d) =>
      Assemble.packEfficiency(docs(s, d))),
    // Sample-ratio-mismatch chi^2 gate over the x110 assignment.
    "x237_srm_check" -> ((s, d) =>
      Stats.srmCheck(s.read.parquet(s"$d/customer.parquet"), "c_custkey")),
    // Error-budget burn monitor over the dense day grid.
    "x238_error_budget" -> ((s, d) => Stats.errorBudget(events(s, d))),
    // Subsampled median band: the x210 half-sample membership, P50
    // carve per replicate.
    // the replicate explode (×32) + salted md5 run fused into the
    // orders scan — a single task on the one-row-group fixture file
    // (r15 profile: a 2 s single-task job); hashing the scan across
    // the cores parallelizes the per-row work
    "x239_subsample_p50" -> ((s, d) =>
      Stats.subsampleMedians(
        s.read.parquet(s"$d/orders.parquet")
          .repartition(s.sparkContext.defaultParallelism, col("o_orderkey")),
        "o_orderkey",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))),
    // Join-size forecast from key histograms: events x orders on the
    // user/customer key, predicted without running the join.
    "x240_join_forecast" -> ((s, d) =>
      Stats.joinSizeForecast(
        events(s, d), "user_id",
        s.read.parquet(s"$d/orders.parquet"), "o_custkey")),
    // Rate-vs-volume revenue change decomposition per priority.
    "x241_change_decomposition" -> ((s, d) =>
      Stats.changeDecomposition(s.read.parquet(s"$d/orders.parquet"))),
    // Embedding-dedup threshold sweep: label-blocked exact pairs, one
    // pass re-thresholded, planted similarity ladder (x13 convention).
    "x242_embed_sweep" -> ((s, d) =>
      Similarity.embedThresholdSweep(emb(s, d))),
    // Winsorized A/B lift: global [p5, p95] clamp then per-arm means.
    "x243_winsorized_lift" -> ((s, d) =>
      Stats.winsorizedLift(events(s, d))),
    // CUPED diagnostics: theta and the exact variance-reduction
    // fraction from pre-period revenue as covariate.
    "x244_cuped" -> ((s, d) => Stats.cupedDiagnostics(events(s, d))),
    // SRM trend: the day the ratio broke — cumulative per-arm entries
    // with the chi^2 flag per day.
    "x245_srm_trend" -> ((s, d) => Stats.srmTrend(events(s, d))),
    // Functional-dependency audit over orders: the PK candidate holds
    // (o_orderkey -> o_custkey), the single- and two-column customer
    // determinants are violated — fan-out says by how much.
    "x197_fd_audit" -> ((s, d) => Stats.fdAudit(
      s.read.parquet(s"$d/orders.parquet"),
      Seq(
        Stats.FdCandidate(Seq("o_orderkey"), "o_custkey"),
        Stats.FdCandidate(Seq("o_custkey"), "o_orderpriority"),
        Stats.FdCandidate(Seq("o_custkey", "o_orderstatus"),
          "o_orderpriority")))),
    // Bucketed checksum reconciliation: the replica drops every 997th
    // order and corrupts every 1009th price — the per-bucket
    // (count, digest-sum) cells localize both without a row join.
    "x198_table_checksum" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val dst = o.filter(col("o_orderkey") % 997 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 1009 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.ext.Merge.tableChecksum(o, dst,
        keyStr = "CAST(o_orderkey AS STRING)",
        rowStr = "concat_ws('|', CAST(o_orderkey AS STRING), " +
          "CAST(o_custkey AS STRING), o_orderstatus, " +
          "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) " +
          "AS STRING), " +
          "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING), " +
          "o_orderpriority)",
        buckets = 64)
    }),
    // Synchronous label propagation (4 fixed iterations) over the
    // co-purchase part graph — communities inside x114's components.
    "x188_label_prop" -> ((s, d) => {
      // the co-purchase self-join's fan-out (order-size² pair rows)
      // runs in the partitioning of the distinct's output, which AQE
      // coalesces to a handful of byte-sized partitions (narrow
      // 2-col rows) — the edge build ran on 3–8 of 32 cores (r15
      // profile: ~1.9 s of the key's 5.5 s). Pin the join-side width
      // to the session's shuffle sizing (scale-adaptive conf, not a
      // local constant; at cluster scale the exchange is already
      // this wide and the pin is a no-op).
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("l_orderkey"))
      val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
        .filter(col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("a_id"),
          col("b.l_partkey").as("b_id")).distinct()
      graft.ext.Graph.labelPropagation(e, iters = 4)
    }),
    // Hybrid retrieval: RRF fusion of the DENSE x3 leg and the SPARSE
    // x175 inverted-index leg over the aligned id space (the
    // lexical+vector stack x120 fuses dense-only variants of).
    "x179_hybrid_retrieval" -> ((s, d) => {
      // the sparse leg rides the SHARED tokenized frame (docTfStats —
      // the x175/x189 idiom): sparseCosTopK(docs, …) re-tokenized the
      // corpus, re-counted it, and re-persisted the tf frame on every
      // run even though the identical frame is a standing warm-shared
      // artifact; the frame is definitionally the same, so the hash
      // gate is unchanged (r15: removes a count action + a tokenize
      // pass + a persist per run — at corpus scale the tokenize pass
      // is the key's dominant scan)
      val (tf, n) = docTfStats(s, d)
      Similarity.rrfFuse(Seq(
        Similarity.cosTopK(emb(s, d), k = 10),
        TextStats.sparseCosTopKFrom(tf, n, k = 10, queryMod = 50)
          .select(col("query_id"), col("doc_id").as("neighbor_id"),
            col("rank"))))
    }),
    // Retrieval eval: rank of the first same-label neighbor in the
    // exact cosine ranking + integer reciprocal rank (MRR's exact
    // per-query row; no float crosses an aggregate).
    "x180_label_mrr" -> ((s, d) => Similarity.labelMrr(emb(s, d))),
    // Churn training labels: features strictly before the data-derived
    // split, label window strictly after — the leakage-safe label
    // builder.
    "x181_churn_labels" -> ((s, d) =>
      Sessions.churnLabels(events(s, d).select("user_id", "event_type", "ts"))),
    // t-closeness: lang x 500-char band classes vs the global source
    // distribution — the release gate next to k-anonymity (x139) and
    // l-diversity (x152); threshold 200000 ppm (tv > 0.2 flags).
    "x178_t_closeness" -> ((s, d) =>
      Stats.tCloseness(
        docs(s, d).withColumn("band", expr("n_chars DIV 500")),
        quasi = Seq("lang", "band"), sensitive = "source",
        tPpm = 200000L)),
    // Encoding/mojibake audit: every 37th doc gets one planted U+FFFD
    // and two BEL control chars (the fixture is clean — the plant
    // makes the replacement/control columns non-vacuous, x40's
    // convention); the zh/ar sources make non_ascii_ppm discriminate
    // on its own.
    "x172_encoding_audit" -> ((s, d) =>
      TextStats.encodingAudit(
        docs(s, d).select(col("source"), col("doc_id"),
          when(col("doc_id") % 37 === 0,
            concat(coalesce(col("text"), lit("")),
              lit("\uFFFD\u0007\u0007")))
            .otherwise(col("text")).as("text")))),
    // Split balance audit: per (split, source) char-mass share within
    // the split vs the corpus — the skew report hashSplit itself
    // cannot give (leak-freedom says nothing about balance).
    "x171_split_balance" -> ((s, d) =>
      Assemble.splitBalance(docs(s, d))),
    // Tukey-fence outlier audit over event value cents per type: the
    // fixture's value tail flags ~90-99 high outliers per group at
    // the classic 1.5 IQR (fenceHalf = 3) — strongly non-vacuous.
    "x170_tukey_outliers" -> ((s, d) =>
      Stats.tukeyOutliers(
        events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_cents")),
        value = "v_cents", group = "event_type")),
    // Recency-decayed mixing share per event type at a 7-day
    // half-life over the 30-day fixture (ages span 0..4 half-lives,
    // so every weight tier 1e6..62500 is exercised).
    "x169_decayed_mix" -> ((s, d) =>
      Assemble.decayedMixShare(
        events(s, d).select("event_type", "ts"), key = "event_type")),
    // Forward conversion lookup: every click joined to the user's
    // next purchase strictly after it (NULL when none) — the mirror
    // of x83's backward last-touch attribution, via asofForward.
    "x168_next_conversion" -> ((s, d) =>
      Sessions.nextConversion(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Deadline (conversion-window) funnel over the full month at a
    // 12-hour deadline: ~2 events/user-day makes minute-scale windows
    // vacuous (nobody converts) and multi-day ones saturating
    // (everybody does); 12h leaves 150 -> 136 -> 58 at sf0.01. The
    // greedy-from-earliest shortcut would report 60/25 at stage 2/3 —
    // the exists-chain semantics is load-bearing here, not a nicety.
    "x167_deadline_funnel" -> ((s, d) =>
      Sessions.deadlineFunnel(
        events(s, d).select("user_id", "event_type", "ts"),
        deadlineMinutes = 720)),
    // Cohort retention matrix on first-touch epoch-day: the fixture
    // yields two cohorts (day 0: 134 users, day 1: 16) × ~30 offsets.
    "x76_cohort_retention" -> ((s, d) =>
      Sessions.cohortRetention(events(s, d).select("user_id", "ts"))),
    // DAU/WAU over the 30-day fixture: 150 users at ~2 events/day give
    // dau < wau < 150 on interior days — both columns discriminate.
    "x82_active_users" -> ((s, d) =>
      Sessions.activeUsers(events(s, d).select("user_id", "ts"))),
    // Last-touch attribution inside a 60-minute window: at ~40 events
    // per user-day the fixture leaves attributed AND unattributed
    // purchases, and some same-microsecond tie groups.
    "x83_attribution" -> ((s, d) =>
      Sessions.lastTouchAttribution(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // SCD2 change compression over the per-customer order-priority
    // observation stream: ~10 orders per customer across 5 priority
    // values give most customers several validity runs, and every
    // customer ends with exactly one is_current row.
    "x85_scd2_history" -> ((s, d) => {
      val obs = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      Sessions.changeHistory(obs, key = "o_custkey", timeUs = "us",
        tieBreak = "o_orderkey", attr = "o_orderpriority")
    }),
    // Incremental SCD2 maintenance: the x85 observation stream split
    // at its data-derived time midpoint — changeHistory on the early
    // half, scd2Apply of the late half onto it. The oracle recomputes
    // the FULL history in one pass (x85's construction over all
    // observations), so the gate IS the incremental ≡ batch proof.
    "x252_scd2_apply" -> ((s, d) => {
      val obs = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
        .crossJoin(broadcast(
          s.read.parquet(s"$d/orders.parquet")
            .select(unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
            .agg(expr("min(us) + (max(us) - min(us)) DIV 2").as("split_us"))))
      val base = obs.filter(col("us") <= col("split_us")).drop("split_us")
      val late = obs.filter(col("us") > col("split_us")).drop("split_us")
      val history = Sessions.changeHistory(base, key = "o_custkey",
        timeUs = "us", tieBreak = "o_orderkey", attr = "o_orderpriority")
      Sessions.scd2Apply(history, late, key = "o_custkey", timeUs = "us",
        tieBreak = "o_orderkey", attr = "o_orderpriority")
    }),
    // Next-event transition matrix: 5 event types at ~13 events per
    // user fill most of the 25 cells with well-mixed counts.
    "x86_transition_matrix" -> ((s, d) =>
      Sessions.transitionMatrix(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Negative-pattern funnel: users who view->purchase with NO error
    // strictly between — the sequence-NOT segmentation a positive
    // chain can't express; latest-view optimality by exchange.
    "x260_negative_funnel" -> ((s, d) =>
      Sessions.negativeFunnel(
        events(s, d).select("user_id", "event_type", "ts"))),
    // Session-gap sensitivity sweep: n_sessions at each candidate
    // threshold from ONE lag pass (n_users + gaps-over-T algebra);
    // spec cross-proves each row against a full sessionize run.
    "x259_gap_sweep" -> ((s, d) =>
      Sessions.gapSweep(events(s, d).select("event_id", "user_id", "ts"))),
    // Sequential 3-step patterns: top-20 of the 125 possible type
    // trigrams with exact ppm shares — the second-order view the
    // first-order matrix cannot express.
    "x256_path_trigrams" -> ((s, d) =>
      Sessions.pathTrigrams(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Event-rate anomaly: the uniform fixture has no natural 3σ day,
    // so one is planted — 90% of the clicks on 2024-01-08 are dropped
    // (a collector-outage shape). The damaged day lands ~5σ below the
    // click mean; the other families stay within bounds.
    "x87_event_anomaly" -> ((s, d) => {
      val damaged = events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"))
        .filter(!(col("event_type") === "click" &&
          to_date(col("ts")) === lit("2024-01-08").cast("date") &&
          col("event_id") % 10 =!= 0))
      Stats.dailyAnomaly(damaged)
    }),
    // Max drawdown over the SAME planted click outage: x87 flags the
    // day, this reads the collapse DEPTH (clicks fall to ~10% of the
    // prior peak on 2024-01-08; untouched types read routine noise).
    "x263_drawdown" -> ((s, d) => {
      val damaged = events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"))
        .filter(!(col("event_type") === "click" &&
          to_date(col("ts")) === lit("2024-01-08").cast("date") &&
          col("event_id") % 10 =!= 0))
      Stats.dailyDrawdown(damaged)
    }),
    // Edit-distance near-dup: every %21 doc gets a typo copy at
    // id+8e6 — one 'Z' substitution at char 15 ('Z' never occurs in
    // the fixture, so distance is exactly 1), past the 10-char block
    // prefix so blocking keeps the pair. Natural distance-0 pairs
    // (exact-duplicate fixture docs sharing a 40-char title) also
    // survive — both kinds occur.
    "x88_edit_neardup" -> ((s, d) => {
      val dd = docs(s, d).select("doc_id", "text")
      val typo = dd.filter(col("doc_id") % 21 === 0)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          concat(expr("substring(text, 1, 14)"), lit("Z"),
            expr("substring(text, 16)")).as("text"))
      Dedup.editNeardup(dd.unionByName(typo))
    }),
    // DELETE-AWARE CDC apply: op-tagged ledger over the customer
    // snapshot — %11 updated (seq 1), %13 tombstoned (seq 2), %26
    // RESURRECTED after their tombstone (seq 3 — the later 'U' must
    // outrank the 'D'), %22 deleted AFTER their update (seq 4), a
    // ghost tombstone for never-seen keys (%19 at id+7e6 — must
    // no-op), inserts at id+5e6 (%17). %286 keys ride all four
    // ledger rows with strictly increasing seqs (no per-key tie).
    "x250_cdc_apply" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
      def led(df: DataFrame, seq: Long, op: String) = df
        .withColumn("seq", lit(seq)).withColumn("op", lit(op))
      val u1 = led(cust.filter(col("c_custkey") % 11 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("c_mktsegment", lit("UPDATED")), 1L, "U")
      val del = led(cust.filter(col("c_custkey") % 13 === 0), 2L, "D")
      val res = led(cust.filter(col("c_custkey") % 26 === 0)
        .withColumn("c_mktsegment", lit("RESURRECT")), 3L, "U")
      val delAfter = led(cust.filter(col("c_custkey") % 22 === 0), 4L, "D")
      val ghost = led(cust.filter(col("c_custkey") % 19 === 0)
        .withColumn("c_custkey", col("c_custkey") + 7000000L), 1L, "D")
      val ins = led(cust.filter(col("c_custkey") % 17 === 0)
        .withColumn("c_custkey", col("c_custkey") + 5000000L)
        .withColumn("c_mktsegment", lit("NEW")), 1L, "U")
      graft.ext.Merge.cdcApply(cust,
        u1.unionByName(del).unionByName(res).unionByName(delAfter)
          .unionByName(ghost).unionByName(ins),
        "c_custkey", "seq")
    }),
    // CDC latest-wins merge: the batch updates every %11 customer
    // (seq 1), re-updates every %33 (seq 2 — the within-batch
    // duplicate that must win), and inserts new keys at id+5e6; the
    // %33 keys prove sequence resolution, untouched keys pass through.
    "x89_cdc_upsert" -> ((s, d) => {
      val cust = s.read.parquet(s"$d/customer.parquet")
      val u1 = cust.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit("UPDATED").as("c_mktsegment"), lit(1L).as("seq"))
      val u2 = cust.filter(col("c_custkey") % 33 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("-v2")).as("c_name"),
          col("c_nationkey"), col("c_acctbal"),
          lit("SECOND").as("c_mktsegment"), lit(2L).as("seq"))
      val ins = cust.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 5000000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"),
          lit("NEW").as("c_mktsegment"), lit(1L).as("seq"))
      graft.ext.Merge.latestWinsMerge(
        cust, u1.unionByName(u2).unionByName(ins), "c_custkey", "seq")
    }),
    // Linear multi-touch attribution: ~40 events per user-day leave
    // purchases with 0, 1 and several in-window touches — the ppm
    // split and the remainder-to-last rule both discriminate.
    "x90_multitouch" -> ((s, d) =>
      Sessions.linearAttribution(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // U-shaped (40-20-40) attribution over the same touch sets: the
    // n=1/n=2 renormalized shapes, the first/last 400k anchors and
    // the middle remainder-to-last rule all occur naturally.
    "x142_ushape_attribution" -> ((s, d) =>
      Sessions.uShapedAttribution(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Label-centroid similarity over the 10-label gaussian fixture:
    // shared isotropic geometry puts every off-diagonal pair near 0
    // and the diagonal at exactly 1e6 — the sign, the diagonal and
    // the near-zero spread all come out of the integer pipeline.
    "x91_label_centroids" -> ((s, d) =>
      Similarity.labelCentroidSimilarity(emb(s, d))),
    // Conversion-lag percentiles: first-view→first-click and
    // first-click→first-purchase lags over the month give wide,
    // well-populated second-bucket histograms at every SF.
    "x92_conversion_lag" -> ((s, d) =>
      Sessions.conversionLagQuantiles(
        events(s, d).select("user_id", "event_type", "ts"))),
    // Centroid-outlier audit: the gaussian fixture's labels are
    // near-random vs geometry, so per-label cosine-to-centroid spreads
    // across both signs and the bottom-5 cut is non-vacuous.
    "x93_centroid_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(emb(s, d))),
    // RFM quintiles over the full order history: decomposed-histogram
    // ntile on the Spark side vs DuckDB's NATIVE ntile over the same
    // (value, c_custkey) total order — band-for-band cross-proof.
    "x94_rfm_segments" -> ((s, d) =>
      Stats.rfmSegments(s.read.parquet(s"$d/orders.parquet"))),
    // Entry-path mining: first-5-event-type session paths under the
    // x29 session definition; collect+array_sort vs ordered
    // string_agg is the x64 cross-proof pair.
    "x95_session_paths" -> ((s, d) =>
      Sessions.sessionPaths(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Integer readability: the fixture has no terminal punctuation so
    // every doc floors at one sentence (punctuation semantics are
    // spec-pinned on hand-made frames); words and vowel-run syllables
    // vary per doc, so the FK arithmetic is exercised corpus-wide.
    "x96_readability" -> ((s, d) => TextStats.readability(docs(s, d))),
    // Join-key skew diagnostic over the events stream's natural join
    // key: top-5 heaviest users + exact fixed-point skew factors.
    "x97_key_skew" -> ((s, d) =>
      Stats.keySkew(
        events(s, d).select("user_id", "event_id"), "user_id")),
    // Point-in-time SCD2 lookup: orders enriched with the priority
    // version valid AT each order's own time; %7 facts shift 20 years
    // earlier — before any version, planting the NULL "unknown at the
    // time" branch the left join must keep.
    "x98_pit_enrich" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
      val hist = Sessions.changeHistory(
        o, "o_custkey", "us", "o_orderkey", "o_orderpriority")
      val facts = o.select(col("o_orderkey").as("fact_id"), col("o_custkey"),
        when(col("o_orderkey") % 7 === 0,
          col("us") - lit(631152000000000L))
          .otherwise(col("us")).as("fact_us"))
      graft.ext.Merge.pitLookup(facts, hist, "o_custkey", "fact_us")
        .select(col("fact_id"), col("o_custkey"), col("fact_us"),
          col("o_orderpriority"), col("valid_from_us"))
    }),
    // Integer PageRank over the shared exact-Jaccard pair graph (the
    // x18/x34 shared artifact): hub copies inside duplication clusters.
    // Fixed 5 iterations of an exact-integer recurrence, so the DuckDB
    // oracle replays it CTE-for-CTE and hash-compares.
    "x99_pagerank" -> ((s, d) =>
      graft.ext.Graph.pagerank(ngramPairs(s, d).select("a_id", "b_id"))),
    // Collocation lift over the corpus bigram stream: the 31-token
    // fixture vocabulary gives dense pair counts, so lift spreads well
    // above and below 1e6 without planting.
    "x100_collocations" -> ((s, d) => TextStats.collocations(docs(s, d))),
    // Missing-day feed detection: clicks on two mid-month days are
    // filtered OUT in the query (and oracle) — the planted outage the
    // gap report must recover exactly.
    "x101_ingest_gaps" -> ((s, d) => {
      val withDay = events(s, d).select(col("event_type"), col("ts"))
        .withColumn("day", Stats.day(Stats.EpochUs))
      Stats.ingestGaps(withDay
        .filter(!(col("event_type") === "click" &&
          col("day").isin(19730L, 19740L)))
        .select("event_type", "ts"))
    }),
    // Bot flags: a planted 0.5s-grid stream (every 120th event id,
    // five synthetic users per 2000-id block, all inside one day)
    // fires BOTH rules deterministically; natural users flag neither
    // at sf0.01 (max day 10, min gap 8.2 s).
    "x102_bot_flags" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      val bots = ev.filter(col("event_id") % 120 === 0)
        .select(col("event_id"),
          (lit(9000000L) + expr("event_id DIV 2000")).as("user_id"),
          expr("CAST(timestamp_micros(1704067200000000 + " +
            "(event_id DIV 120) * 500000) AS TIMESTAMP_NTZ)").as("ts"))
      Sessions.botFlags(ev.unionByName(bots))
    }),
    // Pareto concentration: histogram closed-form crossing vs the
    // oracle's naive ranked running-sum window — the x30/x36
    // decomposition cross-proof over the user-count distribution.
    "x103_pareto_concentration" -> ((s, d) =>
      Stats.paretoConcentration(events(s, d).select("user_id", "event_id"))),
    // Diurnal profile: types × 24 hours with exact ppm shares.
    "x104_hourly_profile" -> ((s, d) =>
      Stats.hourlyProfile(events(s, d).select("event_type", "ts"))),
    // MMR diversified retrieval — rows-only like x33 (per-round argmax
    // rewriting is not one SQL query); hand-worked selection, λ=1000
    // degeneration and the diversification property pinned in ExtSpec.
    "x106_mmr_diversify" -> ((s, d) => Similarity.mmrDiversify(emb(s, d))),
    // Weighted (priority) sampling by character volume: the salted
    // md5-32 draw makes both engines pick the identical sample.
    "x109_weighted_sample" -> ((s, d) => Assemble.weightedSample(docs(s, d))),
    // Deterministic A/B assignment + SRM report over the customer
    // dimension: 500/500 split, bucket = salted md5-32 mod 1000.
    "x110_ab_assignment" -> ((s, d) =>
      Stats.abAssignment(
        s.read.parquet(s"$d/customer.parquet"), "c_custkey")),
    // Attribution-window sensitivity: one ungated as-of join, three
    // window gates over the joined purchase frame.
    "x111_attribution_windows" -> ((s, d) =>
      Sessions.attributionWindowSweep(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Salted skew join ≡ plain join: the salt must change the LAYOUT,
    // never the result — the oracle is the unsalted SQL join.
    "x112_salted_join" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"))
      val cust = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ext.SkewJoin.saltedJoin(ev, cust, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // Vocabulary coverage per source against the x26 top-20 cut.
    "x113_vocab_coverage" -> ((s, d) => TextStats.vocabCoverage(docs(s, d))),
    // Triangle counts over the shared pair graph: the degree-oriented
    // node-iterator vs the oracle's canonical u<v<w triple join — two
    // independent constructions of the same count.
    "x114_triangle_count" -> ((s, d) =>
      graft.ext.Graph.triangleCounts(ngramPairs(s, d).select("a_id", "b_id"))),
    // The hubCenters drop report HASH-GATED (the x246/x247 no-silent-
    // caps discipline): part -999 planted into every 3rd order gives
    // it pair-graph degree ~2000 while genuine parts top out at ~14 —
    // the maxDeg=50 ceiling's report must name exactly the hub, with
    // its degree, on both engines.
    "x264_hub_report" -> ((s, d) => {
      // Rides the shared co-purchase frames (r16). Equivalence to the
      // direct planted build (spec-pinned on a hand frame): planting
      // (o, -999) into every %3 order adds ONLY pairs that involve
      // -999 — natural pair counts are untouched (one hub row per
      // order, and (-999, -999) cannot pair with itself) — and since
      // -999 < every l_partkey (>= 1), those pairs all orient as
      // (a_id = -999, b_id = p) with count = |{o : o % 3 = 0, (o, p)
      // in the incidence}|. So the planted edge set at support >= 2
      // is exactly natural-edges(>= 2) ∪ hub-edges(>= 2), both
      // derivable from the standing frames without re-running the
      // order-size² self-join per rep.
      val items = copurchaseItems(s, d)
      val hubEdges = items.filter(col("o") % 3 === 0)
        .groupBy(col("p")).agg(count(lit(1)).as("pc"))
        .filter(col("pc") >= 2)
        .select(lit(-999L).as("a_id"), col("p").as("b_id"))
      val edges = copurchasePairs(s, d)
        .select(col("p1").as("a_id"), col("p2").as("b_id"))
        .unionByName(hubEdges)
      graft.ext.Graph.hubCenters(edges, maxDeg = 50L)
    }),
    // Resource-allocation link prediction over the CO-PURCHASE graph
    // (x115's basket-pair construction at support >= 2; support 3 leaves
    // 2 edges at sf0.1) — non-adjacent part pairs
    // scored by inverse-degree-weighted shared neighbors. NOT the dup
    // graph: duplicate clusters are cliques, every wedge closes and
    // the prediction set is vacuously empty there.
    "x254_link_prediction" -> ((s, d) => {
      // Rides the shared co-purchase frames (r16): the edge set IS
      // the standing support >= 2 pair-count frame (already
      // checkpointed — its three consumers inside linkPredictionRA
      // read a stable materialized frame, the same property the
      // previous per-key localCheckpoint bought).
      graft.ext.Graph.linkPredictionRA(
        copurchasePairs(s, d)
          .select(col("p1").as("a_id"), col("p2").as("b_id")))
    }),
    // 2-core of the near-dup graph: incidental pairs and chains peel
    // away (47 -> 3 nodes at sf0.01), structural cliques survive —
    // 4 synchronous peels, fixpoint spec-pinned.
    "x202_kcore" -> ((s, d) =>
      graft.ext.Graph.kCore(ngramPairs(s, d).select("a_id", "b_id"),
        k = 2, iters = 4)),
    // Market-basket lift over co-ordered parts (63 pairs at count>=3
    // on sf0.01); pair expansion bounded by basket size squared.
    // Rides the shared co-purchase frames (r16): the support >= 3 cut
    // is an integer filter of the standing >= 2 pair-count frame, and
    // the marginals/total are aggregates of the shared incidence —
    // bit-identical to the self-contained build (spec-pinned).
    "x115_basket_affinity" -> ((s, d) =>
      Stats.basketAffinityFrom(
        copurchaseItems(s, d), copurchasePairs(s, d), minCount = 3L)),
    // Dup-cluster profile: the x24 component labels (shared artifact)
    // joined back to doc stats — the curation review row per cluster.
    // Composition in the x81 convention; component aggregate is
    // map-side-combinable over the component-labeled frame.
    "x116_dup_cluster_profile" -> ((s, d) => {
      val dd = docs(s, d)
      dupComps(s, d)
        .join(dd.select(col("doc_id"), col("source"),
          length(coalesce(col("text"), lit(""))).cast("long").as("nc")),
          Seq("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("total_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          countDistinct(col("source")).as("n_sources"))
    }),
    // LTV percentiles: decomposed histogram selection vs the oracle's
    // naive global ranking (the x30 cross-proof convention).
    "x118_ltv_quantiles" -> ((s, d) =>
      Stats.ltvQuantiles(s.read.parquet(s"$d/orders.parquet"))),
    // Degree histogram of the shared pair graph — the one-glance
    // "is this corpus a few boilerplate stars or many small twins".
    "x119_degree_histogram" -> ((s, d) => {
      val p = ngramPairs(s, d)
      p.select(col("a_id").as("n"))
        .unionByName(p.select(col("b_id").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    }),
    // Reciprocal-rank fusion of the cosine and inner-product top-10
    // rankings — both SQL-expressible, so the fusion hash-compares.
    "x120_rrf_fuse" -> ((s, d) =>
      Similarity.rrfFuse(Seq(
        Similarity.cosTopK(emb(s, d), k = 10),
        Similarity.dotTopK(emb(s, d), k = 10)))),
    // Gini over user event counts: histogram closed form vs the
    // oracle's textbook ranked formula (the x103 cross-proof pair).
    "x121_gini" -> ((s, d) =>
      Stats.giniConcentration(events(s, d).select("user_id", "event_id"))),
    // Experiment outcome readout: purchases joined to their x110 arm
    // by the same salted hash; revenue in exact integer cents.
    "x122_ab_lift" -> ((s, d) =>
      Stats.abLift(
        events(s, d).select("user_id", "event_type", "value"))),
    // Segment-split funnel: the x75 chain per customer segment (all
    // fixture users carry a segment; the NULL branch is spec-pinned).
    "x133_segment_funnel" -> ((s, d) =>
      Sessions.segmentFunnel(
        events(s, d).select("event_id", "user_id", "event_type", "ts"),
        s.read.parquet(s"$d/customer.parquet"),
        "c_custkey", "c_mktsegment")),
    // Two-sample KS drift per source over doc lengths — exact
    // integer cdfs evaluated on the corpus value grid.
    "x134_ks_drift" -> ((s, d) => Stats.ksDrift(docs(s, d))),
    // Per-language trimmed mean of doc length (drop 5% each tail,
    // exact interior sum/mean) — the histogram interval carve vs the
    // oracle's naive ranked window.
    "x143_trimmed_mean" -> ((s, d) =>
      Stats.trimmedMean(docs(s, d), "n_chars", "lang")),
    // Spearman rank correlation between doc length and whitespace
    // token count — tie-aware doubled ranks, signed-square ppm (the
    // x129 convention); the x9 token expression keeps both engines
    // splitting identically.
    "x141_spearman" -> ((s, d) => {
      val sig = docs(s, d).filter(col("text").isNotNull)
        .select(col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Stats.spearman(sig, "n_chars", "n_tokens")
    }),
    // Data-contract check: one-pass per-column expectations over
    // documents — n_chars' hi bound (500) is deliberately tighter
    // than the fixture span, so the range-violation branch is
    // non-vacuous; doc_id's contract passes clean.
    "x140_contract_check" -> ((s, d) =>
      Stats.contractCheck(docs(s, d), Seq(
        Stats.ColumnContract("doc_id", maxNullPpm = 0, lo = 0, hi = 10000000L),
        Stats.ColumnContract("n_chars", maxNullPpm = 0, lo = 1, hi = 500)))),
    // Calibration curve: n_chars deciles (exact closed-form ntile)
    // vs the is-English rate per bucket — cross-proved against
    // DuckDB's NATIVE ntile over the identical total order.
    "x138_calibration" -> ((s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("n_chars"),
        (col("lang") === "en").as("is_en"))
      Stats.calibrationCurve(dd, "n_chars", "is_en", "doc_id")
    }),
    // k-anonymity audit: quasi-identifier combos (nation, segment,
    // coarse balance band — floor(bal/1000), the same IEEE double op
    // on both engines) observed in fewer than 10 rows.
    "x139_k_anonymity" -> ((s, d) => {
      val qid = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      Stats.kAnonymity(qid, Seq("c_nationkey", "c_mktsegment", "bal_band"), 10)
    }),
    // Chi-squared independence of nation x market segment over
    // customers — full R x C grid (zero cells included), per-cell
    // integral-division terms summed as a deterministic recurrence
    // (the x99 PageRank convention); Cramer's V^2 alongside.
    "x144_chi2_independence" -> ((s, d) =>
      Stats.chiSquaredIndependence(
        s.read.parquet(s"$d/customer.parquet")
          .select(col("c_nationkey"), col("c_mktsegment")),
        "c_nationkey", "c_mktsegment")),
    // Seasonal-naive backtest per event type: lag-1 vs lag-7 WAPE on
    // the DENSE day grid (zero days are real observations), common
    // evaluation window — "is this feed weekly-seasonal" in one row.
    "x145_seasonal_naive" -> ((s, d) =>
      Stats.seasonalNaiveBacktest(events(s, d).select("event_type", "ts"))),
    // Per-user inter-arrival burstiness: exact CV^2 ppm of the gap
    // multiset — the continuous signal behind x102's binary min-gap
    // bot heuristic.
    "x146_burstiness" -> ((s, d) =>
      Sessions.interarrivalBurstiness(events(s, d))),
    // Mann-Whitney U between English and non-English doc lengths —
    // doubled tie-average ranks from the value histogram (the x141
    // convention); CLES ppm is the "random en doc is longer" odds.
    "x147_mannwhitney" -> ((s, d) =>
      Stats.mannWhitneyU(
        docs(s, d).select(col("n_chars"), (col("lang") === "en").as("is_a")),
        "n_chars", "is_a")),
    // Repeat-purchase cadence: per-segment exact P50/P90 of each
    // customer's order-to-next-order gap — the replenishment-timing
    // report (x127's sibling: order->ship vs order->next order).
    "x166_repeat_purchase" -> ((s, d) =>
      Stats.repeatPurchaseGaps(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/customer.parquet"))),
    // Soft-dedup reweighting: per-doc 1e6/n_copies training weight +
    // weighted token mass — the effective-token count a mixing
    // budget should use instead of the raw total.
    "x164_soft_dedup_weights" -> ((s, d) =>
      Dedup.softDedupWeights(docs(s, d))),
    // User contribution cap at 30 events (time, event_id order):
    // per-type kept/dropped audit — the DP-style bounding report.
    "x165_contribution_cap" -> ((s, d) =>
      Sessions.contributionCap(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Bounce rate by session entry type: lexicographic arg-min entry
    // pick vs the oracle's row_number window — the landing-page
    // triage report.
    "x163_bounce_rate" -> ((s, d) =>
      Sessions.bounceRate(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Order-backlog curve: lineitems entering (order date) vs leaving
    // (ship date) the fulfilment queue per day, cumulatives + open
    // count — the queue-depth operational chart.
    "x161_backlog_curve" -> ((s, d) =>
      Stats.backlogCurve(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),
    // Cohort LTV: first-order epoch-week cohorts, integer cents,
    // cumulative revenue per cohort member by age week.
    "x162_cohort_ltv" -> ((s, d) =>
      Stats.cohortLtv(s.read.parquet(s"$d/orders.parquet"))),
    // Per-source exact-dedup savings: global keeper assignment, so a
    // cross-source duplicate is removed from the copier's source —
    // the crawl-budget attribution report.
    "x159_dedup_savings" -> ((s, d) =>
      Dedup.dedupSavings(docs(s, d))),
    // Keyword search: global top-10 docs for a three-term query by
    // the x27 integer tf*idf proxy — the lexical retrieval face next
    // to x3's vector one.
    "x160_term_search" -> ((s, d) =>
      TextStats.termSearch(docs(s, d), Seq("customer", "vector", "merge"))),
    // Grouped k-fold: every source's docs share one fold — the
    // GroupKFold leakage guard, md5-32 group hash mod 5.
    "x156_grouped_fold" -> ((s, d) =>
      Assemble.groupedFold(docs(s, d), "source", k = 5)),
    // Class-balance report + inverse-frequency weights over the
    // embedding labels — the imbalanced-fine-tuning audit row.
    "x157_class_weights" -> ((s, d) =>
      Stats.classWeights(emb(s, d), "label")),
    // Kaplan-Meier view->purchase conversion curve: right-censored
    // at the corpus horizon, survival as the exact ppm product
    // recurrence (driver fold vs the oracle's recursive CTE).
    "x158_kaplan_meier" -> ((s, d) =>
      Sessions.kaplanMeier(events(s, d))),
    // Quantile normalization of doc length across sources: every
    // source maps onto the corpus reference distribution exactly —
    // the batch-effect correction for per-source length skew.
    "x154_quantile_normalize" -> ((s, d) =>
      Stats.quantileNormalize(docs(s, d), "n_chars", "source")),
    // Empirical-Bayes shrunk long-doc rate per source: raw and
    // prior-pulled ppm side by side — the ranking-stable rate (the
    // x130 convention: the gate pins the arithmetic).
    "x155_shrunk_rate" -> ((s, d) =>
      Stats.shrunkRate(
        docs(s, d).select(col("source"),
          (col("n_chars") >= 250).as("is_long")),
        "is_long", "source", priorWeight = 100L)),
    // Hard-negative mining: per sampled labeled query, nearest
    // same-label and nearest different-label neighbor + the margin
    // verdict — rank-and-compare only, the x3 float discipline.
    "x151_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d))),
    // l-diversity audit: QI groups whose sensitive column (balance
    // band) carries fewer than 5 distinct values — the homogeneity-
    // attack finding k-anonymity (x139) cannot see.
    "x152_l_diversity" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      Stats.lDiversity(c, Seq("c_nationkey", "c_mktsegment"), "bal_band", 5)
    }),
    // CUSUM changepoint per event type: the day where the scaled
    // mean-deviation running sum peaks — the regime boundary the
    // per-day anomaly gates (x87/x148) cannot see.
    "x153_changepoint" -> ((s, d) =>
      Stats.changepointCusum(events(s, d).select("event_type", "ts"))),
    // Robust daily anomaly: median/MAD gate (Hampel) next to x87's
    // mean/sigma — a burst day can't inflate the scale that is
    // supposed to flag it; both medians via the per-type rank carve.
    "x148_robust_anomaly" -> ((s, d) =>
      Stats.robustDailyAnomaly(events(s, d).select("event_type", "ts"))),
    // Daily growth accounting: every (user, active day) classified by
    // the gap since the previous active day — new / retained /
    // resurrected decompose DAU exactly.
    "x149_growth_accounting" -> ((s, d) =>
      Sessions.growthAccounting(events(s, d))),
    // Session-scoped co-occurrence lift between event types — the
    // behavioral sibling of x115's co-order baskets; exact ratio vs
    // the independence prediction.
    "x150_cooccurrence_lift" -> ((s, d) =>
      Sessions.cooccurrenceLift(events(s, d))),
    // Rater-agreement audit (Cohen's kappa + McNemar, exact ppm):
    // rater A = label parity, rater B = a cheap heuristic (sign of
    // the first embedding coordinate) — the label-vs-proxy shape; the
    // gate pins the ARITHMETIC (the x130 Benford convention), not a
    // conformance verdict.
    "x137_rater_agreement" -> ((s, d) => {
      val e = emb(s, d)
        .filter(col("label").isNotNull && size(col("embedding")) >= 1)
      Stats.raterAgreement(e,
        pmod(col("label"), lit(2)),
        (element_at(col("embedding"), 1) > 0f).cast("int"))
    }),
    // Day-of-week profile: integer dow from the epoch day (epoch day
    // 0 was a Thursday) — no engine calendar-convention drift.
    "x131_dow_profile" -> ((s, d) =>
      Stats.dowProfile(events(s, d).select("event_type", "ts"))),
    // Lorenz deciles: closed-form straddle carve vs the oracle's
    // naive ranked bucketing (the x103/x121 family cross-proof).
    "x132_lorenz_curve" -> ((s, d) =>
      Stats.lorenzCurve(events(s, d).select("user_id", "event_id"))),
    // Kendall-τ agreement between the cosine and inner-product top-10
    // rankings — the disagreement measure behind the x120 fusion.
    "x128_kendall_tau" -> ((s, d) =>
      Similarity.kendallTau(
        Similarity.cosTopK(emb(s, d), k = 10),
        Similarity.dotTopK(emb(s, d), k = 10))),
    // Lag-1 autocorrelation of daily counts per type, signed-squared
    // ppm (the x91 no-sqrt convention).
    "x129_daily_autocorr" -> ((s, d) =>
      Stats.dailyAutocorr(events(s, d).select("event_type", "ts"))),
    // Benford first-digit audit over order totals: fixed integer-ppm
    // expectations, exact deviations (a uniform price book fails
    // Benford loudly — the gate pins the arithmetic, not conformance).
    "x130_benford" -> ((s, d) =>
      Stats.benfordDigits(s.read.parquet(s"$d/orders.parquet"))),
    // Quantile-rank transform over doc length — the rank-normalization
    // primitive; cume_dist convention in exact integers.
    "x125_percentile_rank" -> ((s, d) =>
      Stats.percentileRank(
        docs(s, d).select(col("doc_id"),
          length(coalesce(col("text"), lit(""))).cast("long").as("n_chars")),
        "n_chars", "doc_id")),
    // Winsorized doc length at P5/P95 — robust-statistics clamp.
    "x126_winsorize" -> ((s, d) =>
      Stats.winsorize(
        docs(s, d).select(col("doc_id"),
          length(coalesce(col("text"), lit(""))).cast("long").as("n_chars")),
        "n_chars", "doc_id")),
    // Ship-lag percentiles per order priority: the fact-to-fact join
    // quantile (every lineitem joins its order header first).
    "x127_ship_lag" -> ((s, d) =>
      Stats.shipLagQuantiles(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),
    // Vocabulary-growth curve: every 9th doc plants a forever-new
    // `uniq<doc_id>` token (the x77 plant — the 31-token synthetic
    // vocab saturates in bucket 0 otherwise), giving a real Heaps
    // curve across all ten deciles.
    "x123_vocab_growth" -> ((s, d) =>
      TextStats.vocabGrowth(docs(s, d).withColumn("text",
        when(col("doc_id") % 9 === 0,
          concat(coalesce(col("text"), lit("")),
            lit(" uniq"), col("doc_id"))).otherwise(col("text"))))),
    // Contamination rolled up per source — the report a curation team
    // actually reads (WHICH crawl leaked the eval set); the x19
    // construction + one source aggregate.
    "x117_contamination_by_source" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.decontaminate(dd, evalWindow(dd))
        .join(dd.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          expr("1000000 * n_contaminated DIV n_docs").as("rate_ppm"))
    }),
    // Simpson lexical diversity per source: exact repeat-probability
    // ppm over the (source, token) count frame.
    "x107_source_diversity" -> ((s, d) => TextStats.sourceDiversity(docs(s, d))),
    // Session-scoped funnel at the 12-hour gap: 1412 → 422 → 120
    // sessions at sf0.01 — every stage transition is non-vacuous.
    "x108_session_funnel" -> ((s, d) =>
      Sessions.sessionFunnel(
        events(s, d).select("event_id", "user_id", "event_type", "ts"))),
    // Referential-integrity audit: two natural FK relations (clean at
    // every SF) + the trimmed-parent plant (customers < 100 removed →
    // events users 0..99 orphan deterministically).
    "x105_ref_integrity" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
      val lineitem = s.read.parquet(s"$d/lineitem.parquet")
      val cust = s.read.parquet(s"$d/customer.parquet")
      Stats.refIntegrity(Seq(
        ("lineitem.l_orderkey->orders.o_orderkey",
          lineitem, "l_orderkey", orders, "o_orderkey"),
        ("orders.o_custkey->customer.c_custkey",
          orders, "o_custkey", cust, "c_custkey"),
        ("events.user_id->customer.c_custkey[>=100]",
          events(s, d), "user_id",
          cust.filter(col("c_custkey") >= 100), "c_custkey")))
    }),
    // Semi-structured props profile: every 31st event's props loses
    // its closing brace — malformed rows parse to NULL (PERMISSIVE) on
    // the Spark side, json_valid gates the oracle; parse counts and
    // integer k-stats per event_type.
    "x84_props_profile" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("event_type"), col("props"))
        .withColumn("props",
          when(col("event_id") % 31 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")))
      Stats.propsProfile(ev)
    }),
    // BPE merge training — rows-only like x6 (per-round argmax
    // rewriting is not one SQL query); exactness pinned by the
    // hand-worked ExtSpec example.
    "x33_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeMerges(s, d).toDF("rank", "left", "right", "pair_count")
    }),
    // BPE ENCODE under the x33-trained table (shared via bpeMerges —
    // training runs once per (app, dir)): per-doc piece counts from
    // the native bpe_pieces expression, merges passed as two parallel
    // array literals in rank order. Rows-only like x33 (no SQL BPE);
    // exactness pinned by the applyMerge-composition equality spec.
    "x37_bpe_encode" -> ((s, d) => {
      val m = bpeMerges(s, d)
      graft.functions.GraftFunctions.register(s)
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          graft.functions.GraftFunctions.bpePieces(col("text"),
            typedLit(m.map(_._2)), typedLit(m.map(_._3))).as("n_pieces"))
    }),
    // Tokenizer fertility by language — the pieces-per-word report
    // every tokenizer eval publishes (a language whose fertility blows
    // up is under-served by the trained merges): integer sums of the
    // per-doc x37 counts, ratio as ONE division per group. Rows-only
    // like x33/x37 (no SQL BPE); the per-doc counts it sums are pinned
    // by x37's spec chain. Word universe = non-empty tokens (the
    // trainer's filter). Map-side-combinable aggregate; group
    // cardinality = languages.
    "x49_fertility" -> ((s, d) => {
      val m = bpeMerges(s, d)
      graft.functions.GraftFunctions.register(s)
      val toks = split(col("text"), " ")
      docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"),
          size(filter(toks, t => length(t) > 0)).cast("long").as("n_words"),
          graft.functions.GraftFunctions.bpePieces(col("text"),
            typedLit(m.map(_._2)), typedLit(m.map(_._3))).cast("long").as("n_pieces"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("total_words"),
          sum(col("n_pieces")).as("total_pieces"))
        .withColumn("fertility",
          when(col("total_words") === 0, lit(0.0))
            .otherwise(col("total_pieces").cast("double") / col("total_words")))
    }),
    "x34_prep_funnel" -> ((s, d) => Stats.prepFunnel(docs(s, d), ngramPairs(s, d))),
    // Span-level exact-substring dedup (Lee et al. 2021): per-doc
    // duplicated-window and covered-token counts at window width 13 —
    // the same width the x19 decontamination containment uses.
    "x35_span_dedup" -> ((s, d) => Dedup.spanDedup(docs(s, d))),
    // Chunk-level dedup with reconstruction (the CCNet paragraph pass
    // over aligned 10-token chunks — the fixture duplicates ~127 such
    // chunks naturally, so the rewrite path is non-vacuous unplanted).
    "x39_chunk_dedup" -> ((s, d) => Dedup.chunkDedup(docs(s, d))),
    // Quality-ranked prefix cut to a global token budget — corpus
    // curation; the decomposed histogram construction here, the naive
    // global running-sum window in the oracle (cross-proof, x30-style).
    "x36_budget_select" -> ((s, d) => Assemble.budgetSelect(docs(s, d), budget = 10000L)),
    // Source-pair shared-shingle matrix — the quadratic is in sources
    // (config-scale), never documents.
    "x38_source_overlap" -> ((s, d) => Stats.sourceOverlap(docs(s, d))),
    // Sketch family — rows-only (approximate by design; cross-engine
    // sketches differ): HLL distinct-gram cardinality with a rollup
    // total, and the theta-sketch overlap matrix whose exact-mode
    // equality with x38 is pinned in spec.
    "x42_sketch_distinct" -> ((s, d) => Stats.sketchDistinct(docs(s, d))),
    "x43_sketch_overlap" -> ((s, d) => Stats.sketchOverlap(docs(s, d))),
    // Banding range join: docs × broadcast length-band dimension —
    // half-open bands so a boundary length lands in exactly one band.
    "x32_length_bands" -> ((s, d) => {
      import s.implicits._
      val dim = Seq(("short", 0, 100), ("medium", 100, 300),
        ("long", 300, 1000000)).toDF("band", "lo", "hi")
      RangeJoin.bandJoin(
          docs(s, d).select(col("doc_id"), length(col("text")).as("n_chars")),
          dim, "n_chars")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"))
    }),
    // Corpus-relative rarity: integer idf-proxy mean per doc — a
    // quality filter for gibberish/OCR noise (rare-token density).
    "x50_rarity" -> ((s, d) => TextStats.rarityScore(docs(s, d))),
    // Bigram predictability in ppm — the integer-exact CCNet-style
    // perplexity filter (corpus bigram LM, mean conditional prob).
    "x55_lm_score" -> ((s, d) => TextStats.lmScore(docs(s, d))),
    // Intra-doc repeated-chunk collapse: every 6th doc gets its first
    // 10 tokens (= its first chunk) prepended, so chunk 0 and chunk 1
    // repeat within the doc by construction (docs shorter than one
    // chunk just double — no aligned repeat, handled identically by
    // both engines). Spark dedupes per-row via order-preserving
    // array_distinct; the oracle derives it positionally.
    "x74_intradoc_collapse" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(concat_ws(" ", slice(split(col("text"), " "), 1, 10)),
            lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.collapseRepeatedChunks(planted)
    }),
    // C4-style blocklist gate: three common fixture-vocabulary terms
    // stand in for a curated badwords list, so hit and no-hit documents
    // both occur naturally.
    "x73_blocklist" -> ((s, d) =>
      TextStats.blocklistFilter(docs(s, d), Seq("slow", "spark", "window"))),
    // N-gram novelty under ingestion order: natural on this fixture —
    // the 31-token vocabulary makes shingle collisions common, so
    // novel and already-seen grams both occur in every document.
    "x79_ngram_novelty" -> ((s, d) => TextStats.ngramNovelty(docs(s, d))),
    // kNN label-agreement audit over every 10th vector: the gaussian
    // fixture's labels are near-random vs geometry, so agreement
    // spreads across 0..k and the strict-minority flag is non-vacuous.
    "x80_knn_agreement" -> ((s, d) => Similarity.knnLabelAgreement(emb(s, d))),
    // Source-pair duplication matrix over the shared x18 exact-Jaccard
    // pair set (the x34 sharing convention — the pair set is an
    // ingest-time artifact, and whichever consumer runs first pays).
    "x81_source_dup_matrix" -> ((s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      ngramPairs(s, d)
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    // Vocabulary truncation: the 31-token fixture vocabulary has NO
    // natural tail (every token occurs 10+ times), so every %9 doc
    // gets a planted singleton token `uniq<doc_id>` appended — below
    // the minCount=5 bar by construction, while the shared vocabulary
    // stays far above it; scrubbed and untouched docs both occur.
    "x77_rare_token_scrub" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" uniq"), col("doc_id")))
          .otherwise(col("text")).as("text"))
      TextStats.rareTokenScrub(planted)
    }),
    // Pagination stitching: the fixture has NO natural page-boundary
    // overlaps (probed), so every %13 doc gets a planted "page two" at
    // id+7e6 opening with the doc's last 10 tokens. Exact-duplicate
    // fixture docs make some boundaries shared by several prev pages —
    // all such pairs are real and both engines derive them.
    "x78_page_stitch" -> ((s, d) => {
      val dd = docs(s, d)
      val page2 = dd.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(concat_ws(" ", slice(split(col("text"), " "), -10, 10)),
            lit(" stitched continuation page two marker")).as("text"))
      Dedup.pageStitch(dd.select("doc_id", "text").unionByName(page2))
    }),
    // CCNet head/middle/tail banding: per-language ntile(3) over the
    // x55 score, rank decomposed x36-style (no single-task window);
    // the oracle uses DuckDB's native ntile — independent derivations.
    "x70_ppl_buckets" -> ((s, d) => TextStats.perplexityBuckets(docs(s, d))),
    // One-pass column profiling: null/distinct/length stats per column
    // — the per-ingest schema-drift report.
    "x51_profile" -> ((s, d) => Stats.profileColumns(docs(s, d))),
    // Per-source token-distribution drift vs the corpus (scaled L1 in
    // ppm) — the domain-shift monitor; integer end to end.
    "x52_source_drift" -> ((s, d) => Stats.sourceDrift(docs(s, d))),
    // Version-over-version diff: v1 lacks the %29 docs (added later),
    // v2 lacks the %31 docs (removed) and rewrites the %7 texts
    // (changed) — every status is planted and non-vacuous.
    "x60_corpus_diff" -> ((s, d) => {
      val dd = docs(s, d)
      val v1 = dd.filter(col("doc_id") % 29 =!= 0)
      val v2 = dd.filter(col("doc_id") % 31 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Stats.corpusDiff(v1, v2)
    }),
    "x20_hash_split" -> ((s, d) => Assemble.hashSplit(docs(s, d))),
    // Per-source cap at the 15 best-quality docs (non-vacuous: the
    // fixture carries ~25 docs per source) — the per-domain crawl cap.
    "x56_source_cap" -> ((s, d) => Assemble.sourceCap(docs(s, d), maxPerSource = 15)),
    // √n temperature mixture at a 300-doc budget (non-vacuous: below
    // the 500-doc fixture, so the largest-remainder cut really cuts).
    "x58_temperature_mix" -> ((s, d) => Assemble.temperatureMix(docs(s, d), budget = 300)),
    // Strided 12-token windows every 8 — the overlap sibling of x39's
    // exact partition; boundary spans appear intact in the next chunk.
    "x59_overlap_chunks" -> ((s, d) => Assemble.overlapChunks(docs(s, d))),
    "x21_mix_sample" -> ((s, d) => Assemble.mixSample(docs(s, d),
      Map("en" -> ((1, 1)), "zh" -> ((1, 2)), "es" -> ((1, 4)), "de" -> ((3, 4))))),
    "x22_pack" -> ((s, d) => Assemble.packBudget(docs(s, d))))
}
