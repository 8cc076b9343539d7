package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Deduplication operators over the `documents` table — the
  * LLM-training-data half of the engine (SURVEY.md §7.1 step 9; the
  * reference has no analog, these are the 100 TB extension surface).
  *
  * Three families, each designed so the expensive step is NEVER all-pairs:
  *
  *   - exact dedup: hash-groupBy on a content digest. One shuffle on the
  *     digest; at 100 TB this is the plain map-side-combinable groupBy
  *     Spark already does well.
  *   - MinHash-LSH near-dup: shingle → 64 minhashes → 16 bands of 4 →
  *     candidates = pairs sharing a band bucket (self-join on the band
  *     key), then exact Jaccard verification on candidates only. Cost is
  *     O(docs × shingles) + O(candidate pairs); the quadratic all-pairs
  *     step never happens. Band keys are integers, so the join shuffles
  *     narrow rows; skewed buckets (boilerplate shingles) can be salted
  *     or capped with a bucket-size limit at scale.
  *   - SimHash near-dup: 64-bit signature from per-token hashes, banded
  *     into 4×16-bit blocks (the Manku/Jain/Sarma WWW'07 geometry). By
  *     pigeonhole, any pair at hamming distance ≤ 3 shares at least one
  *     of the 4 bands, so banding has EXACT recall for the distance-3
  *     threshold — the banded plan is provably equivalent to the
  *     brute-force quadratic one. Each band key spans 65,536 values, so
  *     unrelated documents (near-uniform signature bits) spread across
  *     ~2¹⁶ buckets per band: expected candidate volume ≈
  *     4·n²/(2·65536) = n²/32768 — 256× below the old 32-bit/8-bit-band
  *     geometry (n²/128), pushing the quadratic-density wall from ~10⁵
  *     to ~10⁷ docs per shard before bucket joins dominate.
  *
  * All hashing is done with engine built-ins (codegen'd, no UDFs):
  * xxhash64 for MinHash permutation bases (oracle-independent — the
  * correctness oracle verifies the final Jaccard pairs, not the
  * signatures), md5-derived 32-bit values where the DuckDB oracle must
  * reproduce the exact signature (SimHash).
  */
object Dedup {

  /** Exact dedup by content digest: one row per distinct text, keeper =
    * min doc_id, with the duplicate count. `md5` groups are
    * map-side-combinable; the only shuffle is on the 128-bit digest. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))

  /** Per-source exact-dedup savings — the "which source is a template
    * factory, which is a copier" report behind [[exactDedup]]'s
    * per-digest view: keeper assignment is GLOBAL (min doc_id per
    * digest, the x1 convention), so a document duplicated across
    * sources keeps only in the keeper's source and every other
    * source's row counts as removed there — exactly the attribution
    * a crawl-budget decision needs. Per source: docs, kept docs,
    * chars, kept chars, and the removed-chars ppm. The digest
    * coalesces NULL text to '' so a null-text row keeps one keeper
    * like any other group (raw `md5(NULL)` would drop the group at
    * the join).
    *
    * Scale shape: the digest groupBy and the flag join key on the
    * SAME digest column, so the keeper frame joins back without a
    * second corpus shuffle pattern (co-partitioned on h); the closing
    * per-source aggregate is map-side-combinable. */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      coalesce(col("n_chars"), lit(0L)).as("nc"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val keepers = base.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper_id"))
    base.join(keepers, Seq("h"))
      .withColumn("is_k", (col("doc_id") === col("keeper_id")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_k")).as("n_kept"),
        sum(col("nc")).as("chars_total"),
        sum(col("nc") * col("is_k")).as("chars_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("chars_total"), col("chars_kept"),
        when(col("chars_total") === 0, lit(0L))
          .otherwise(expr(
            "1000000 * (chars_total - chars_kept) DIV chars_total"))
          .as("removed_ppm"))
  }

  /** Soft-dedup reweighting — the keep-but-downweight alternative to
    * dropping duplicates (the SoftDeDup line of work: duplicated text
    * still carries signal, it just must not vote `n_copies` times):
    * every document keeps a training weight `10⁶ div n_copies` from
    * its exact-duplicate group, plus its whitespace token count and
    * the weighted token mass `tokens·10⁶ div n_copies` — summing that
    * column gives the corpus's EFFECTIVE token count after soft
    * dedup, the number a data-mixing budget should use instead of the
    * raw total. Copies come from the [[exactDedup]] digest (NULL text
    * coalesced to '' so null rows form one group like any other).
    *
    * Scale shape: one digest groupBy + a join back on the SAME digest
    * column (co-partitioned, the X174 shape); the weight arithmetic
    * is per-row integral division — deterministic, identically lossy
    * cross-engine. */
  def softDedupWeights(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(split(coalesce(col("text"), lit("")), " "))
        .cast("long").as("n_tokens"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    val counts = base.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    base.join(counts, Seq("h"))
      .select(col("doc_id"), col("n_copies"), col("n_tokens"),
        expr("1000000 DIV n_copies").as("weight_ppm"),
        expr("n_tokens * 1000000 DIV n_copies").as("weighted_tokens_ppm"))
  }

  /** Distinct word n-gram shingles of `text` (split on single spaces).
    * Documents with fewer than n tokens produce an empty shingle set.
    *
    * Backed by the native [[graft.functions.WordNgrams]] expression: one
    * compiled pass per row. The HOF formulation it replaces (kept in
    * test sources as the equality reference) executes interpreted
    * (higher-order functions are CodegenFallback) with per-element
    * lambda dispatch — this is the hottest text path in the engine
    * (MinHash shingling under x2/x10/x14). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.wordNgrams(text, lit(n))

  /** Evidence rows for flagged near-dup pairs — the explainability
    * report a human reviews BEFORE a corpus rewrite deletes anything:
    * per pair, the exact shared-shingle count and a DETERMINISTIC
    * sample of the overlap (the lexicographically smallest shared
    * 3-gram — a stable policy, not "whatever the first task saw").
    * The detectors say WHICH pairs; this says WHY, in the pair's own
    * words. EVERY input pair gets a row: a pair with no shared 3-gram
    * (possible for SimHash-flagged pairs or NULL-text members)
    * reports n_shared = 0 / NULL evidence_gram — an auditor must be
    * able to distinguish "no shingle evidence" from "not evaluated",
    * so zero-overlap pairs are never silently dropped.
    *
    * Scale shape: the corpus is semi-joined down to the pairs'
    * MEMBERS before any shingling (pairs are detector output, orders
    * smaller than the corpus), then two equi-joins on (doc, gram)
    * bounded by members × shingles-per-doc — never all-pairs, never
    * a full-corpus re-shingle; the final left-join back onto the
    * (distinct) pair list is pair-list-sized. */
  def neardupEvidence(pairs: DataFrame, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val pr = pairs.select(col("a_id"), col("b_id")).distinct()
    val ids = pr.select(col("a_id").as("doc_id"))
      .unionByName(pr.select(col("b_id").as("doc_id"))).distinct()
    val sh = docs.join(ids, Seq("doc_id"), "left_semi")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
    val shared = pr
      .join(sh.select(col("doc_id").as("a_id"), col("gram")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("gram")),
        Seq("b_id", "gram"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_cnt"), min(col("gram")).as("shared_gram"))
    pr.join(shared, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("shared_cnt"), lit(0L)).as("n_shared"),
        col("shared_gram").as("evidence_gram"))
  }

  /** EXACT longest shared token span per flagged pair — the
    * substring-level dedup evidence (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", dedups on ≥50-token
    * shared substrings): where [[neardupEvidence]] reports SET overlap
    * (how many grams two docs share), this reports the longest
    * CONTIGUOUS run of tokens the pair shares verbatim — the quantity
    * a substring-level corpus rewrite thresholds on, and the
    * discriminator between "similar wording" (high Jaccard, short
    * spans) and "block copy-paste" (one long span).
    *
    * Exact longest-common-substring over tokens via the DIAGONAL
    * gaps-and-islands construction — no dynamic-programming table:
    * join the two docs' (position, token) frames on token equality,
    * group matches by the diagonal d = i − j (a shared span advances
    * BOTH positions in lockstep, so all its matches sit on one
    * diagonal), then run-length the consecutive-i islands inside each
    * diagonal (i − row_number() is constant exactly along a
    * consecutive run). Per pair: the max run length, how many maximal
    * runs achieve it, and the (a_start, b_start) anchor of the FIRST
    * such run under the (a_start, b_start) order — a stated policy,
    * not task order. Pairs sharing no token report lcs_tokens = 0
    * with NULL anchors (the x205 never-silently-dropped contract).
    *
    * Scale shape: pairs are detector output (orders smaller than the
    * corpus); the corpus is semi-joined to pair MEMBERS before any
    * tokenization; the match join is (pair, token)-keyed with fan-out
    * Σ_tok cntA·cntB — near-dup pairs by construction, never
    * all-pairs, never a full-corpus pass. The window runs inside a
    * (a_id, b_id, diag) partition — millions of small partitions,
    * no single-task funnel. */
  def longestSharedSpan(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val pr = pairs.select(col("a_id"), col("b_id")).distinct()
    val ids = pr.select(col("a_id").as("doc_id"))
      .unionByName(pr.select(col("b_id").as("doc_id"))).distinct()
    val tok = docs.join(ids, Seq("doc_id"), "left_semi")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("tok"))
    val m = pr
      .join(tok.select(col("doc_id").as("a_id"), col("pos").as("i"),
        col("tok")), Seq("a_id"))
      .join(tok.select(col("doc_id").as("b_id"), col("pos").as("j"),
        col("tok")), Seq("b_id", "tok"))
      .select(col("a_id"), col("b_id"), col("i"), col("j"),
        (col("i") - col("j")).as("diag"))
    // islands: within a diagonal, consecutive i's share i - row_number()
    val isl = m
      .withColumn("grp", col("i") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), col("diag"))
          .orderBy(col("i"))))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_len"), min(col("i")).as("a_start"))
      .select(col("a_id"), col("b_id"), col("run_len"),
        col("a_start"), (col("a_start") - col("diag")).as("b_start"))
    val agg = isl.groupBy(col("a_id"), col("b_id"))
      .agg(max(col("run_len")).as("lcs_tokens"))
    val tied = isl.join(agg, Seq("a_id", "b_id"))
      .filter(col("run_len") === col("lcs_tokens"))
      .groupBy(col("a_id"), col("b_id"), col("lcs_tokens"))
      .agg(count(lit(1)).as("n_max_runs"),
        min(struct(col("a_start"), col("b_start"))).as("first"))
      .select(col("a_id"), col("b_id"), col("lcs_tokens"),
        col("n_max_runs"), col("first.a_start").as("a_start"),
        col("first.b_start").as("b_start"))
    pr.join(tied, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("lcs_tokens"), lit(0L)).as("lcs_tokens"),
        coalesce(col("n_max_runs"), lit(0L)).as("n_max_runs"),
        col("a_start"), col("b_start"))
  }

  /** MinHash signature geometry. Banding recall: a pair at Jaccard s is
    * missed by ALL bands with probability (1 − s^rowsPerBand)^bands —
    * 2.2e-4 at the verification threshold s = 0.8 (pairs above the
    * threshold miss less), i.e. ≥ 99.97% recall per borderline pair.
    * The brute-force DuckDB oracle can therefore diverge on a new
    * fixture without any code change: the miss bound is asserted in
    * ExtSpec, and the sf0.01/sf0.1 fixtures are empirically verified at
    * 100% recall vs a Spark-side brute force (256/256 pairs at sf0.1,
    * see .claude/skills/verify) — re-run that sweep whenever a fixture
    * or this geometry changes. */
  val numHashes: Int = graft.functions.MinhashKernel.NumHashes // 64
  val bands: Int = graft.functions.MinhashKernel.Bands // 16
  val rowsPerBand: Int = graft.functions.MinhashKernel.RowsPerBand // 4

  /** Worst-case per-pair banding miss probability at Jaccard `s`. */
  def bandingMissProb(s: Double): Double =
    math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Exploded (doc_id, shingleHash) rows — the shared intermediate of
    * the MinHash pipeline (n = 3) and the decontamination semi-join
    * (n = 13). */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      explode(transform(shingles(col("text"), n), s => xxhash64(s))).as("h"))
  }

  /** Benchmark decontamination: per training document, how many of its
    * distinct word `n`-grams appear anywhere in the evaluation corpus
    * (the 13-gram containment rule used to scrub benchmark leakage from
    * LLM training sets). Returns one row per training doc:
    * (doc_id, n_eval_ngrams, contaminated) — all integer/boolean, so
    * the output is hash-compare safe.
    *
    * Scale shape: the eval side is a benchmark, i.e. orders of magnitude
    * smaller than the corpus — its distinct n-gram hashes are
    * BROADCAST, so the 100 TB training side streams through a broadcast
    * hash join plus one map-side-combinable count: the corpus is never
    * shuffled. (Intersection is counted on 64-bit shingle hashes, the
    * same vanishing-collision trade the MinHash verify documents.) */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    evalHitReport(train, shingleHashes(train, n).join(evalHashes(evalDocs, n), "h"))
  }

  /** The eval side of every decontamination flavor: its distinct word
    * `n`-gram hashes, BROADCAST (a benchmark is orders of magnitude
    * smaller than the corpus). */
  private def evalHashes(evalDocs: DataFrame, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(evalDocs.sparkSession)
    broadcast(evalDocs
      .select(explode(transform(shingles(col("text"), n), s => xxhash64(s))).as("h"))
      .distinct())
  }

  /** The confirm-and-report tail of every decontamination flavor: count
    * matched (doc_id, h) evidence rows per doc and surface EVERY
    * training doc with (n_eval_ngrams, contaminated). ONE definition —
    * [[Bloom.decontaminateBloom]]'s contract is bit-identity with
    * [[decontaminate]], so the shared output shape must be structural,
    * not coincidental. */
  private[ext] def evalHitReport(train: DataFrame, matched: DataFrame): DataFrame = {
    val hits = matched.groupBy(col("doc_id")).agg(count(lit(1)).as("n_eval_ngrams"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_ngrams"), lit(0L)).as("n_eval_ngrams"),
        (coalesce(col("n_eval_ngrams"), lit(0L)) > 0).as("contaminated"))
  }

  /** Graded contamination: per training doc, the fraction (ppm) of its
    * DISTINCT word n-grams that appear in the eval corpus, alongside the
    * raw counts — the report curation teams act on when the binary
    * [[decontaminate]] flag is too blunt (a 2000-gram doc quoting one
    * eval sentence is a trim candidate, not a drop candidate; Dolma and
    * FineWeb both publish this graded form). Integer end to end
    * (matched/total counts, ppm by integral `div`), so the output is
    * hash-compare safe; docs too short to have any n-gram report zeros.
    *
    * Scale shape: identical to [[decontaminate]] — eval n-gram hashes
    * broadcast, the corpus streams through narrowly and is shingled
    * exactly ONCE: the total and the matched count ride the same
    * exploded hash stream (membership left-join + one aggregate), so
    * the expensive n-gram parse never runs twice. */
  def contaminationRate(train: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val perDoc = shingleHashes(train, n)
      .join(evalHashes(evalDocs, n).withColumn("m", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("m"), lit(0L))).as("n_matched"))
    train.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        when(coalesce(col("n_ngrams"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(1000000 * coalesce(n_matched, CAST(0 AS BIGINT))) div n_ngrams"))
          .as("rate_ppm"))
  }

  /** Span-level decontamination REWRITE — the third member of the
    * decontamination family: where [[decontaminate]] DROPS a
    * contaminated document and [[contaminationRate]] grades it, this
    * TRIMS it — every token covered by an eval-matching `n`-gram
    * window is removed and the document is rebuilt from what remains
    * (the span-removal treatment the open-corpus pipelines apply when
    * a long document quotes one benchmark passage: dropping it whole
    * wastes the other 95%). Returns one row per (non-NULL-text)
    * training doc: (doc_id, n_tokens, n_removed, clean_hash) — the
    * rewritten text ships in production; the hash-compared gate form
    * follows the [[chunkDedup]] convention of never shipping bodies.
    *
    * Scale shape: eval n-gram hashes BROADCAST (the x19 story); the
    * corpus contributes its positional window stream (filtered to
    * matches immediately against the broadcast) and its token stream —
    * two narrow per-doc-keyed shuffles of O(corpus tokens) (coverage
    * join + rebuild aggregate) plus one MATCH-scale exchange (the
    * covered-position distinct, sized by contamination, not corpus),
    * no all-pairs step. The rebuild
    * is the [[chunkDedup]] null-skipping collect + array_sort idiom:
    * deterministic (tpos leads the sort), and a fully-covered document
    * hashes the empty string on both engines. NULL texts excluded by
    * contract (the x39 convention). */
  def decontaminateTrim(train: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val evalH = evalHashes(evalDocs, n)
    val base = train.filter(col("text").isNotNull)
    val matched = base
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.wordNgramsAll(col("text"), lit(n)))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), xxhash64(col("g")).as("h"))
      .join(evalH, "h")
    val covered = matched
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tpos"))
      .distinct()
      .withColumn("cov", lit(1))
    base
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("tpos", "tok")))
      .join(covered, Seq("doc_id", "tpos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cov") === 1, lit(1L)).otherwise(lit(0L))).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("cov").isNull,
              struct(col("tpos"), col("tok"))))),
            s => s.getField("tok")),
          " ")).as("clean_hash"))
  }

  /** FUZZY decontamination — the near-duplicate sibling of the exact
    * n-gram containment ([[decontaminate]]): a training document is
    * flagged when it is a MinHash near-dup (3-gram Jaccard ≥
    * `threshold`) of ANY eval document — the paragraph/document-level
    * fuzzy scrub the major open corpus pipelines run next to the exact
    * 13-gram rule, catching lightly-edited benchmark copies the exact
    * rule misses (a paraphrased prompt shares few 13-grams but most of
    * its 3-gram shingles). Returns one row per training doc:
    * (doc_id, n_eval_neardups, contaminated) — integer/boolean, hash-
    * compare safe; the per-pair Jaccard stays internal.
    *
    * Scale shape: the x19 story made fuzzy — both sides are signed per
    * row by the MinHash kernel ([[signedDocs]]), each persisted so its
    * text is parsed once; the eval side (band keys AND the verify's
    * signature rows) is benchmark-sized and BROADCAST, so the corpus
    * never shuffles in full. Candidates come from the same 16×4 banding
    * as [[minhashNeardupMaterialized]] (recall regime verified by
    * RecallCheck), with the train-side band buckets capped — an
    * over-full bucket is boilerplate, and here it would fan out across
    * every eval doc in the bucket. */
  /** Cost profile (r8, sf0.1, local[16], steady-state after one JIT
    * rep): full query ≈ 2.1 s of which corpus shingling is 0.2–0.3 s —
    * the banded-candidates + verify join dominates, so making the
    * corpus signature a shared [[graft.util.Artifact]] would
    * shave ~10% at the cost of coupling this operator to the query
    * inventory; not taken. The ~9 s single readings in earlier round benches were
    * first-rep JIT (4.9 s cold vs 2.1 s warm measured on the same
    * session), not a plan problem. */
  def fuzzyDecontaminate(
      train: DataFrame,
      evalDocs: DataFrame,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val trainSigs = signedDocs(train)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val evalSigs = signedDocs(evalDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cand = BucketCap
          .keepSmall(bandRows(trainSigs), Seq("band", "band_hash"), maxBucket)
          .select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
          .join(broadcast(bandRows(evalSigs)
            .select(col("band"), col("band_hash"), col("doc_id").as("b_id"))),
            Seq("band", "band_hash"))
          .select("a_id", "b_id")
          .distinct()
        val hits = verified(cand, trainSigs, broadcast(evalSigs))
          .filter(col("jaccard") >= threshold)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_eval_neardups"))
        train.select(col("doc_id"))
          .join(hits.withColumnRenamed("a_id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_eval_neardups"), lit(0L)).as("n_eval_neardups"),
            (coalesce(col("n_eval_neardups"), lit(0L)) > 0).as("contaminated"))
          .localCheckpoint(true)
      } finally evalSigs.unpersist(blocking = false)
    } finally trainSigs.unpersist(blocking = false)
  }

  /** One row per document of `docs`: (doc_id, hs, cnt, sz, bands), the
    * [[graft.functions.MinhashSign]] kernel's signature of its text —
    * sorted distinct shingle hashes, their multiplicities, the shingle
    * count and the 16 band keys — as a projection with no shuffle. Each
    * row is signed on its own: a repeated doc_id is several signed
    * documents that share an id, never one merged multiset. A row with
    * no shingle (NULL or fewer than 3 tokens) has no band key, so no
    * candidate pair; `sz > 0` selects the signed rows. */
  private[graft] def signedDocs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), graft.functions.GraftFunctions.minhashSign(col("text")).as("s"))
      .select(col("doc_id"), col("s.hs"), col("s.cnt"), col("s.sz"), col("s.bands"))
  }

  /** Signed rows exploded to their band keys (doc_id, band, band_hash) —
    * the only exploded form the candidate joins shuffle. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_hash")))

  /** Default bucket-size cap for the LSH candidate joins: a bucket this
    * over-full is boilerplate, not duplication signal (see [[BucketCap]]
    * for why dropped buckets almost never lose a true pair). */
  val DefaultMaxBucket = 5000

  /** Candidate near-dup pairs: doc pairs sharing any LSH band bucket.
    * Self-join on the narrow (band, band_hash) key — shuffle is on
    * integers, never on document text. Buckets above `maxBucket` are
    * dropped ([[BucketCap]]); [[minhashCapReport]] lists them. */
  def minhashCandidates(docs: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame =
    candidatesFrom(signedDocs(docs), maxBucket)

  /** Dropped-bucket report for [[minhashCandidates]]'s cap. */
  def minhashCapReport(docs: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame =
    BucketCap.droppedReport(bandRows(signedDocs(docs)), Seq("band", "band_hash"), maxBucket)

  private def candidatesFrom(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val b = BucketCap.keepSmall(bandRows(sigs), Seq("band", "band_hash"), maxBucket)
    val l = b.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
    val r = b.select(col("band"), col("band_hash"), col("doc_id").as("b_id"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified: candidates kept when exact
    * Jaccard ≥ `threshold`. The Jaccard is an integer ratio (|∩| / |∪|),
    * so the value is bit-exact and safe for hash-compared oracles.
    *
    * |∩| is the multiset intersection of the two documents' signed
    * 64-bit shingle hashes ([[graft.functions.MinhashKernel.meet]])
    * instead of interpreted array_intersect over string arrays — same
    * result unless two distinct shingles of one pair collide in 64 bits
    * (P ≈ |sh|²/2⁶⁴, vanishing). |∪| = |A| + |B| − |∩|.
    *
    * Computed EAGERLY from one [[Signatures]] of `docs` (text parsed
    * once), released before returning — nothing lingers in the
    * session's cache budget, and the result can be consumed any number
    * of times without re-running the LSH pipeline (the ingest-once
    * shape a production corpus uses for its near-dup artifact).
    * Input-adaptive: a signature within [[LocalMaxShingleRows]] is
    * verified DRIVER-SIDE and the pairs return as a local frame; above
    * the bound the distributed plan runs and its pair set is
    * materialized with localCheckpoint. Both paths emit the same rows. */
  def minhashNeardupMaterialized(
      docs: DataFrame,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    Signatures.using(docs, LocalMaxShingleRows, maxBucket)(_.pairs(threshold))

  /** One frame's MinHash signature, computed ONCE for all its readers —
    * the [[MinhashIndex]] family's signed batch: the per-document
    * [[signedDocs]] rows, persisted, and — when their shingles number at
    * most `maxRows` in TOTAL (Σ sz) under non-null LONG ids — the same
    * rows gathered on first use by ONE [[collectAtMost]] (None above the
    * bound, and at a bound of 0, the force-distributed switch the
    * equality specs use). It serves the within-frame verify
    * ([[pairs]]), the stored-index probe ([[against]]) and the index
    * artifact frames ([[frames]], projections of the signed rows, which
    * need no collect); an increment signs its exact-dedup survivors
    * once and feeds all three, as a streaming tick does its batch.
    * `maxBucket` is the [[BucketCap]] of both candidate joins. The
    * caller owns [[release]]. */
  private[graft] final class Signatures private (
      signed: DataFrame, maxRows: Long, maxBucket: Int)
      extends NeardupIndex.Signed[Double] {

    /** The rows that have a signature (at least one shingle). */
    private val rows = signed.filter(col("sz") > 0)

    private lazy val local: Option[Seq[Sig]] =
      if (maxRows <= 0 || signed.schema("doc_id").dataType != LongType) None
      else collectAtMost(rows, maxRows, _.getLong(3)).filter(_.forall(!_.isNullAt(0)))
        .map(_.toSeq.map(Sig(_)))

    /** Verified within-frame pairs: [[verifyLocal]] on the driver, else
      * the distributed plan, checkpointed. */
    def pairs(threshold: Double = 0.8): DataFrame =
      local.flatMap(verifyLocal(rows.sparkSession, _, threshold, maxBucket))
        .getOrElse(verified(candidatesFrom(rows, maxBucket), rows, rows)
          .filter(col("jaccard") >= threshold).localCheckpoint(true))

    /** Pairs (a_id = stored, b_id = signed) against a stored
      * [[MinhashIndex]] — see [[neardupAgainstIndex]]. */
    def against(
        writer: graft.sinks.StagingWriter, table: String, threshold: Double = 0.8): DataFrame = {
      MinhashIndex.requireLayout(writer, table)
      local.flatMap(probeLocal(rows.sparkSession, _, writer, table, threshold, maxBucket, maxRows))
        .getOrElse(neardupAgainstIndexPlan(rows, writer, table, threshold, maxBucket)
          .localCheckpoint(true))
    }

    /** The [[MinhashIndex]] artifact frames of the signed docs `keep`
      * holds (every signed doc when None): projections of the signed
      * rows, so no text is parsed again. `keep` is at most the signed
      * batch (its landed or kept rows), so its ids are broadcast into
      * the semi-join and the signed rows never shuffle. */
    def frames(keep: Option[DataFrame]): GrowingIndex.Frames = emit => {
      val kept = keep.fold(rows)(k =>
        rows.join(broadcast(k.select(col("doc_id"))), Seq("doc_id"), "left_semi"))
      emit(kept.select(col("doc_id"), col("hs"), col("cnt"), col("sz")))
      emit(bandRows(kept))
    }

    /** The signed docs' (doc_id, h) rows, each hash repeated by its
      * multiplicity — the [[shingleHashes]] rows of the same docs, for
      * the exact prefix-filter join that shares this parse. */
    private[graft] def shingleRows: DataFrame =
      rows.select(col("doc_id"), explode(arrays_zip(col("hs"), col("cnt"))).as("z"))
        .select(col("doc_id"), explode(array_repeat(col("z.hs"), col("z.cnt"))).as("h"))

    def release(): Unit = signed.unpersist(blocking = false): Unit
  }

  private[graft] object Signatures {
    def of(docs: DataFrame, localMaxShingleRows: Long,
        maxBucket: Int = DefaultMaxBucket): Signatures =
      new Signatures(signedDocs(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        localMaxShingleRows, maxBucket)

    /** [[of]] released when `f` returns. */
    def using[T](docs: DataFrame, localMaxShingleRows: Long,
        maxBucket: Int = DefaultMaxBucket)(f: Signatures => T): T =
      NeardupIndex.using(of(docs, localMaxShingleRows, maxBucket))(f)
  }

  /** The [[MinhashIndex]] artifacts' columns after `doc_id`, by suffix,
    * declared once: the probe's stored reads pass them instead of
    * running parquet's schema inference, a job per read. */
  private val IndexColumns = Map(
    "__sets" -> Seq(StructField("hs", ArrayType(LongType)),
      StructField("cnt", ArrayType(IntegerType)), StructField("sz", LongType)),
    "__bands" -> Seq(StructField("band", IntegerType), StructField("band_hash", LongType)))

  /** A stored index artifact under its declared schema; the index's ids
    * have the probing batch's type. */
  private def readIndex(
      writer: graft.sinks.StagingWriter, table: String, artifact: String, id: DataType) =
    writer.read(table + artifact, StructType(StructField("doc_id", id) +: IndexColumns(artifact)))

  /** The driver-side verify of [[Signatures.pairs]]: band
    * buckets, the [[BucketCap]] guard, candidates and exact Jaccard over
    * the collected signed rows. None when the kept buckets would
    * enumerate more than [[StarLocalMaxEdges]] candidate collisions
    * (Σ C(|bucket|, 2), a pair counted once per band it shares) — a few
    * thousand templated near-twins fit in the row bound yet give
    * millions of pairs, which stay distributed. */
  private def verifyLocal(
      spark: SparkSession, docs: Seq[Sig],
      threshold: Double, maxBucket: Int): Option[DataFrame] = {
    val buckets = docs
      .flatMap(s => s.bands.zipWithIndex.map { case (bh, j) => (j, bh) -> s.id })
      .groupMap(_._1)(_._2).values.filter(_.size <= maxBucket)
    if (buckets.iterator.map(b => b.size.toLong * (b.size - 1) / 2).sum > StarLocalMaxEdges)
      None
    else {
      val cand = buckets.iterator
        .flatMap(ms => for (a <- ms; b <- ms if a < b) yield (a, b))
        .toSet
      val byId = docs.groupBy(_.id)
      Some(localPairs(spark, meets(cand.iterator, byId, byId), threshold))
    }
  }

  /** The bound of a [[Signatures]]' driver-side path: at most this many
    * shingles (Σ sz of the signed rows, the (doc_id, h) rows of
    * [[shingleHashes]]) per driver read — the bounded collect class of
    * [[StarLocalMaxEdges]] (centroids, codebooks, Bloom words). It
    * enters through [[Signatures.of]] alone and covers the signature's
    * one collect and the probe's two stored reads, each a
    * [[collectAtMost]], bounded by its TOTAL: 200k shingle hashes are
    * ≈ 2.4 MB of hashes and multiplicities, and an over-bound input
    * never lands on the driver. The candidate pairs the driver
    * enumerates are bounded separately, by [[StarLocalMaxEdges]]
    * collisions. A batch-sized input otherwise pays the distributed
    * plan's fixed cost — under AQE every exchange of the banding
    * self-join, the bucket-cap window and the verify joins is its own
    * job. The driver path reads the band keys and shingle multisets the
    * [[graft.functions.MinhashKernel]] computed and intersects with the
    * same [[graft.functions.MinhashKernel.meet]], so its pair sets hold
    * the same rows; an input over either bound, or a bound of 0, takes
    * the distributed plan. */
  val LocalMaxShingleRows = 200000L

  /** `df`'s rows when their `weight`s sum to at most `maxRows`, else
    * None, with what reaches the driver bounded by the TOTAL, not per
    * task: each of the n tasks ships its rows only when their weight
    * fits its share ⌈maxRows / n⌉, else just its total. One job when the
    * rows spread evenly; when the totals sum within the bound but some
    * partitions overflowed their share (a small, skewed input), a second
    * job fetches exactly those. With weights of at least 1 the driver
    * never holds more than ≈ maxRows + n rows, and an over-bound input
    * costs one counting pass. */
  private[graft] def collectAtMost(
      df: DataFrame, maxRows: Long, weight: Row => Long = _ => 1L): Option[Array[Row]] = {
    val rdd = df.rdd
    val sc = df.sparkSession.sparkContext
    val share = (maxRows + rdd.getNumPartitions - 1) / math.max(rdd.getNumPartitions, 1)
    val counted = sc.runJob(rdd, (it: Iterator[Row]) => {
      val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
      var n = 0L
      it.foreach { r => n += weight(r); if (n <= share) kept += r }
      (n, if (n <= share) kept.toArray else Array.empty[Row])
    })
    if (counted.iterator.map(_._1).sum > maxRows) None
    else {
      val over = counted.indices.filter(i => counted(i)._1 > share)
      val fetched =
        if (over.isEmpty) Map.empty[Int, Array[Row]]
        else over.zip(sc.runJob(rdd, (it: Iterator[Row]) => it.toArray, over)).toMap
      Some(counted.indices.flatMap(i => fetched.getOrElse(i, counted(i)._2)).toArray)
    }
  }

  /** One signed row on the driver — a [[signedDocs]] row, or a stored
    * `__sets` row (no band keys). */
  private final case class Sig(id: Long, hs: Array[Long], cnt: Array[Int], sz: Long,
      bands: Seq[Long])

  private object Sig {
    def apply(r: Row): Sig = Sig(r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Int](2).toArray,
      r.getLong(3), if (r.length > 4) r.getSeq[Long](4) else Nil)
  }

  /** Every candidate (a, b) verified over each pair of their signed
    * rows that shares a hash (the distributed join of [[verified]] emits
    * no i = 0 row): the same `i / (sz_a + sz_b − i)`, one double
    * division of the same integers. */
  private def meets(cand: Iterator[(Long, Long)], a: Map[Long, Seq[Sig]],
      b: Map[Long, Seq[Sig]]): Iterator[(Long, Long, Double)] =
    for {
      (x, y) <- cand
      sa <- a.getOrElse(x, Nil).iterator
      sb <- b.getOrElse(y, Nil).iterator
      i = graft.functions.MinhashKernel.meet(sa.hs, sa.cnt, sb.hs, sb.cnt)
      if i > 0
    } yield (x, y, i.toDouble / (sa.sz + sb.sz - i).toDouble)

  private val pairSchema = StructType(Seq(
    StructField("a_id", LongType),
    StructField("b_id", LongType),
    StructField("jaccard", org.apache.spark.sql.types.DoubleType)))

  /** Verified (a_id, b_id, jaccard) rows at or above `threshold` as a
    * LOCAL frame, ordered by (a_id, b_id, jaccard): its static size
    * lets every downstream join plan it as a broadcast. */
  private def localPairs(
      spark: SparkSession, pairs: Iterator[(Long, Long, Double)],
      threshold: Double): DataFrame =
    localFrame(spark, pairSchema, pairs.filter(_._3 >= threshold).toSeq.sorted(
      Ordering.Tuple3(Ordering.Long, Ordering.Long, Ordering.Double.TotalOrdering))
      .map { case (a, b, j) => Row(a, b, j) })

  /** Driver-held rows as a local frame (a `LocalRelation`). */
  private def localFrame(
      spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The distributed MinHash verify: each candidate (a_id, b_id) joined
    * to its two documents' signed rows (side `a`'s, side `b`'s — the
    * same frame for a self-join, the stored `__sets` artifact and the
    * batch for the index probe), |∩| by one
    * [[graft.functions.MinhashMeet]] per joined row and
    * `jaccard = i / (sz_a + sz_b − i)`, a single division of exact
    * integers (bit-stable for hash-compared oracles). Only the
    * candidates and one row per candidate document meet in the joins:
    * no shingle row is exploded. */
  private def verified(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    def side(s: DataFrame, k: String) = s.select(col("doc_id").as(s"${k}_id"),
      col("hs").as(s"hs_$k"), col("cnt").as(s"cnt_$k"), col("sz").as(s"sz_$k"))
    cand.join(side(a, "a"), "a_id").join(side(b, "b"), "b_id")
      .withColumn("i", graft.functions.GraftFunctions.minhashMeet(
        col("hs_a"), col("cnt_a"), col("hs_b"), col("cnt_b")))
      .filter(col("i") > 0)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i"))).as("jaccard"))
  }

  /** Exact Jaccard for each candidate (a_id, b_id) pair: |∩| by a
    * hash-join count over the exploded shingle hashes, |∪| from the
    * per-doc set `sizes` (computed once by the caller — the candidate
    * generators need it too). Emits (a_id, b_id, i, sz_a, sz_b,
    * jaccard); `jaccard` is a single division of exact integers
    * (bit-stable for hash-compared oracles). Shared by the
    * prefix-filter candidate generators. */
  private def pairJaccard(hs: DataFrame, sizes: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(hs.select(col("doc_id").as("a_id"), col("h")), "a_id")
      .join(hs.select(col("doc_id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), "b_id")
      .withColumn("jaccard",
        col("i").cast("double") / (col("sz_a") + col("sz_b") - col("i")))

  /** EXACT n-gram Jaccard similarity self-join at threshold tNum/tDen,
    * via document-frequency-ordered prefix filtering (the AllPairs /
    * PPJoin family: Bayardo, Ma & Srikant, WWW'07; Xiao et al.,
    * WWW'08). Unlike the MinHash and SimHash operators this is not
    * probabilistic — recall at the threshold is 1.0 by construction —
    * which is the right tool at looser thresholds where banding recall
    * decays (at Jaccard 0.7 the 16×4 MinHash geometry already misses
    * ~1.2% of borderline pairs; the prefix join misses none).
    *
    * Prefix principle: order every document's shingle set by one global
    * total order (rarest document-frequency first, hash as tiebreak). A
    * pair with Jaccard ≥ t must overlap in at least ceil(t·|x|) elements
    * of either set, so each document only needs to expose its first
    * |x| − ceil(t·|x|) + 1 elements — any qualifying pair is GUARANTEED
    * to collide on at least one exposed element. Candidates = the
    * equi-join of those prefixes, plus the length filter
    * (tDen·min(|a|,|b|) ≥ tNum·max — a pair whose sizes differ more can
    * never reach t). Exact Jaccard verification then gives precision
    * 1.0, so the whole operator is exact.
    *
    * Scale shape: candidate volume is bounded by Σ over prefix tokens of
    * (bucket size)² — and prefixes keep each document's RAREST tokens,
    * so buckets are small by construction on natural text (rare-first
    * ordering is what makes AllPairs subquadratic in practice). No
    * bucket cap is applied: a cap would break exactness, and an
    * over-full rare-token bucket is a genuine duplicate clique whose
    * output is itself quadratic — output-bound, not plan-bound. All
    * threshold comparisons are integer multiplications (never float
    * ceil: IEEE 0.7·sz can round UP at representability edges, which
    * would shrink the prefix below the guarantee), using
    * rn ≤ |x| − ceil(t·|x|) + 1  ⟺  tNum·|x| ≤ tDen·(|x| − rn + 1).
    *
    * Returns (a_id, b_id, jaccard) for every pair with Jaccard ≥ t,
    * computed eagerly with the shingle cache released before returning
    * (mirrors [[minhashNeardupMaterialized]]). */
  def ngramJaccardJoinMaterialized(docs: DataFrame, tNum: Int = 7, tDen: Int = 10): DataFrame = {
    val hs = shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try ngramJaccardFrom(hs, tNum, tDen).localCheckpoint(true)
    finally hs.unpersist(blocking = false)
  }

  private def ngramJaccardFrom(hs: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0, 1]")
    val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    pairJaccard(hs, sizes, ngramPrefixCandidates(hs, sizes, tNum, tDen))
      // i/(sz_a+sz_b-i) ≥ tNum/tDen, cross-multiplied: exact in integers
      .filter(col("i") * tDen >= (col("sz_a") + col("sz_b") - col("i")) * tNum)
      .select("a_id", "b_id", "jaccard")
  }

  /** THE SHARED LOOSE PAIR FRAME (r16, guide §3 "join once, reuse"):
    * every unordered pair (a_id < b_id) with exact Jaccard ≥ 1/2 over
    * distinct 3-gram shingle sets, carrying the exact integers
    * `i = |A∩B|` and `un = |A∪B|`. 1/2 is the loosest threshold any
    * consumer uses, and the prefix bound is monotone in the threshold,
    * so every tighter-threshold consumer derives its rows from this
    * frame by ONE integer filter instead of re-shingling the corpus
    * and re-running the prefix-filtered join: the t = 7/10 near-dup
    * pair set ([[ngramPairsFromLoose]]), the {5..9}/10 threshold sweep
    * ([[thresholdSweepFrom]]), the LSH tuning histogram
    * ([[lshTuningCurveFrom]]). Before the share, each of those paid
    * the full detector run per invocation (x217 ≈ 4.2 s and x232 ≈
    * 3.4 s per bench rep at sf0.1, each ≈ the whole ngram_pairs warm
    * build). Eagerly materialized; the shingle cache is released
    * before returning (the [[minhashNeardupMaterialized]] contract). */
  def loosePairsMaterialized(docs: DataFrame): DataFrame = {
    val hs = shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try loosePairsFromShingles(hs)
    finally hs.unpersist(blocking = false)
  }

  /** [[loosePairsMaterialized]] over a shingle frame whose parse the
    * caller owns (the shared-parse entry: ExtQueries' pair sets read
    * [[Signatures.shingleRows]], the exploded form of one signature's
    * persisted rows). */
  private[graft] def loosePairsFromShingles(hs: DataFrame): DataFrame = {
    val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    pairJaccard(hs, sizes, ngramPrefixCandidates(hs, sizes, 1, 2))
      .filter(col("i") * 2 >= col("sz_a") + col("sz_b") - col("i"))
      .select(col("a_id"), col("b_id"), col("i"),
        (col("sz_a") + col("sz_b") - col("i")).as("un"))
      .localCheckpoint(true)
  }

  /** [[ngramJaccardJoinMaterialized]]'s (a_id, b_id, jaccard) rows
    * derived from the loose pair frame by one integer filter — complete
    * for any threshold ≥ 1/2 (the frame's floor) by the prefix bound's
    * monotonicity; `jaccard` is the same single division of the same
    * exact integers, so the derived rows are bit-identical to the
    * direct join's. */
  def ngramPairsFromLoose(
      loose: DataFrame, tNum: Int = 7, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0, 1]")
    require(2 * tNum >= tDen,
      s"threshold $tNum/$tDen is below the loose frame's 1/2 floor")
    loose.filter(col("i") * tDen >= col("un") * tNum)
      .select(col("a_id"), col("b_id"),
        (col("i").cast("double") / col("un")).as("jaccard"))
  }

  /** LSH TUNING CURVE — the detector-calibration view a dedup rollout
    * picks its geometry from: per Jaccard decile bucket (0.5–1.0, the
    * range banding decisions live in), the EXACT number of pairs the
    * corpus holds there, next to the THEORETICAL detection probability
    * of the production X2 geometry (b = 16 bands × r = 4 rows:
    * `1 − (1 − s^4)^16`, the classic S-curve) evaluated at the bucket
    * midpoint — "at 0.7 the corpus has 212 pairs and banding finds
    * 98.6% of them; at 0.5, 340 pairs at 63%" is exactly the view that
    * justifies (or indicts) a threshold. X232's sweep re-thresholds
    * the measured pairs; THIS row joins them against theory.
    *
    * The S-curve is exact integer ppm end to end: `s⁴` and the 16th
    * power are STAGED squarings, each an independent `DIV 10⁶` floor
    * (sums-of-floors convention, stated; every product of two ppm
    * values is ≤ 10¹² — inside BIGINT, no decimal staging needed),
    * written identically on both engines. Pairs come from the exact
    * prefix-filtered join at t = 1/2 (recall 1.0 by construction —
    * the probabilistic detector under audit never generates its own
    * calibration data); the bucket is an integer CASE descent
    * (`10·i ≥ d·union`), never a float floor. Empty buckets emit
    * explicit zero rows — "no pairs there" is a finding.
    *
    * Scale shape: the pair join is the X14 prefix-filter shape (its
    * cost rises as the floor drops — t = 1/2 exposes longer
    * prefixes; that is the honest price of an exact calibration
    * corpus, paid once per tuning decision, not per ingest); the
    * bucket rollup is 5 rows. */
  def lshTuningCurve(docs: DataFrame): DataFrame =
    lshTuningCurveFrom(docs.sparkSession, loosePairsMaterialized(docs))

  /** [[lshTuningCurve]] over the shared loose pair frame
    * ([[loosePairsMaterialized]]) — the histogram derives from the
    * already-verified (i, un) integers of every pair with Jaccard ≥ 1/2,
    * so the tuning key pays a 5-row rollup instead of a full detector
    * run (r16; one pair build per (app, dir) now serves x217, x232 and
    * the ngram pair set). */
  def lshTuningCurveFrom(spark: SparkSession, loose: DataFrame): DataFrame = {
    val counts = loose
      .select(when(col("i") * 10 >= col("un") * 9, 9L)
        .when(col("i") * 10 >= col("un") * 8, 8L)
        .when(col("i") * 10 >= col("un") * 7, 7L)
        .when(col("i") * 10 >= col("un") * 6, 6L)
        .otherwise(5L).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(true)
    spark.range(5, 10)
      .select(col("id").as("bucket"),
        (col("id") * 100000L + 50000L).as("mid_ppm"))
      .join(counts, Seq("bucket"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("s2", expr("mid_ppm * mid_ppm DIV 1000000"))
      .withColumn("s4", expr("s2 * s2 DIV 1000000"))
      .withColumn("q1", expr("1000000 - s4"))
      .withColumn("q2", expr("q1 * q1 DIV 1000000"))
      .withColumn("q4", expr("q2 * q2 DIV 1000000"))
      .withColumn("q8", expr("q4 * q4 DIV 1000000"))
      .withColumn("q16", expr("q8 * q8 DIV 1000000"))
      .select(col("bucket"), col("mid_ppm"), col("n_pairs"),
        expr("1000000 - q16").as("theo_detect_ppm"))
  }

  /** BAG-OF-WORDS DEDUP — the reorder-robust exact-dup axis between
    * byte-exact dedup (X1) and near-dup (X2): two documents with the
    * SAME token multiset in a different order (shuffled boilerplate
    * sections, list reorderings) hash apart under md5(text) but
    * together under md5(sorted tokens). Per document: its exact-copy
    * count, its bag-copy count, and `reordered_extra = bag − exact`
    * — the copies only the order-insensitive view can see (≥ 0
    * always: byte-equal ⟹ bag-equal). Sorting is the byte order of
    * the tokens (both engines' binary collation), join is null-safe
    * on the digest.
    *
    * Scale shape: two content digests per row at the scan, two
    * map-side-combinable digest counts, two broadcast-friendly
    * joins back — the X1 shape twice, never all-pairs. */
  def bagDedup(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("ex_h"),
      md5(array_join(array_sort(split(coalesce(col("text"), lit("")), " ")),
        " ")).as("bag_h"))
    val exc = base.groupBy(col("ex_h")).agg(count(lit(1)).as("exact_copies"))
    val bagc = base.groupBy(col("bag_h")).agg(count(lit(1)).as("bag_copies"))
    base.join(exc, Seq("ex_h")).join(bagc, Seq("bag_h"))
      .select(col("doc_id"), col("exact_copies"), col("bag_copies"),
        (col("bag_copies") - col("exact_copies")).as("reordered_extra"))
  }

  /** CROSS-LANGUAGE DUPLICATE AUDIT — identical text carrying
    * DIFFERENT language labels (a mislabeled-language screen: the
    * same document cannot be both 'en' and 'de'; one label is wrong,
    * and a lang-stratified mix double-counts the content): per
    * byte-identical text group spanning >1 label, the keeper id
    * (min doc_id — the x1 policy), copy count, label breadth, and
    * the sorted label list. The fixture has no natural cross-label
    * dups, so the GATE plants them (every `plantMod`-th doc rejoins
    * at id + 3·10⁶ under the 'xx' label — the x13/x63 planted
    * construction, mirrored in the oracle).
    *
    * Scale shape: one digest groupBy (map-side combinable), the
    * label set bounded by the language inventory — never a pair
    * join. */
  def crosslangDups(docs: DataFrame, plantMod: Int = 40): DataFrame = {
    require(plantMod >= 1, s"plantMod $plantMod must be positive")
    val planted = docs
      .select(col("doc_id"), col("text"), col("lang"))
      .unionByName(docs.filter(col("doc_id") % plantMod === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          lit("xx").as("lang")))
    planted.filter(col("text").isNotNull && col("lang").isNotNull)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        array_join(sort_array(collect_set(col("lang"))), ",").as("langs"))
      .filter(col("n_langs") > 1)
      .select(col("keeper_id"), col("n_docs"), col("n_langs"), col("langs"))
  }

  /** NEAR-DUP THRESHOLD SENSITIVITY SWEEP — the tuning view a dedup
    * rollout decides its cut on ("at 0.7 we rewrite 4% of the corpus;
    * at 0.8, 1%"): for each Jaccard threshold t/10, how many pairs
    * flag and how many distinct documents are touched. One shingle
    * pass and ONE candidate join serve every threshold — candidates
    * are prefix-filtered at the SWEEP MINIMUM (complete for every
    * t ≥ min by the prefix bound's monotonicity), then each pair's
    * exact (i, sz_a, sz_b) is re-thresholded per t by the same
    * cross-multiplied integer test. Thresholds with no flagged pairs
    * report explicit zero rows (a missing row would read as "not
    * evaluated").
    *
    * Scale shape: the sweep costs ONE detector run at the loosest
    * cut, not |thresholds| runs — the per-threshold explode happens
    * on the flagged-pair frame (detector output, orders smaller than
    * the corpus). */
  def thresholdSweep(
      docs: DataFrame,
      thresholdsTenths: Seq[Int] = Seq(5, 6, 7, 8, 9)): DataFrame = {
    require(thresholdsTenths.nonEmpty, "sweep needs at least one threshold")
    require(thresholdsTenths.forall(t => t >= 1 && t <= 10),
      s"thresholds $thresholdsTenths must be tenths in [1, 10]")
    // dedupe: a repeated threshold would double-count its pairs
    // through the explode AND emit duplicate output rows
    val ts = thresholdsTenths.distinct
    val tMin = ts.min
    val hs = shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val pairs = pairJaccard(hs, sizes,
        ngramPrefixCandidates(hs, sizes, tMin, 10))
        .filter(col("i") * 10 >= (col("sz_a") + col("sz_b") - col("i")) * tMin)
        .select(col("a_id"), col("b_id"), col("i"),
          (col("sz_a") + col("sz_b") - col("i")).as("un"))
        .localCheckpoint(true)
      sweepOverPairs(docs.sparkSession, pairs, ts)
    } finally hs.unpersist(blocking = false)
  }

  /** [[thresholdSweep]] over the shared loose pair frame
    * ([[loosePairsMaterialized]]): the sweep re-thresholds the frame's
    * verified (i, un) integers, so the sensitivity key pays a
    * pair-set-sized explode + two rollups instead of a full detector
    * run (r16 — the x217/x232/ngram share). Valid only for thresholds
    * ≥ 5/10, the frame's completeness floor. */
  def thresholdSweepFrom(
      loose: DataFrame,
      thresholdsTenths: Seq[Int] = Seq(5, 6, 7, 8, 9)): DataFrame = {
    require(thresholdsTenths.nonEmpty, "sweep needs at least one threshold")
    require(thresholdsTenths.forall(t => t >= 5 && t <= 10),
      s"thresholds $thresholdsTenths must be tenths in [5, 10] — the " +
        "loose frame is complete only above its 1/2 floor")
    sweepOverPairs(loose.sparkSession,
      loose.select(col("a_id"), col("b_id"), col("i"), col("un")),
      thresholdsTenths.distinct)
  }

  /** The per-threshold explode + rollup tail shared by
    * [[thresholdSweep]] and [[thresholdSweepFrom]] — one definition so
    * the direct and shared-frame paths can never drift. `pairs` carries
    * (a_id, b_id, i, un) for every pair at or above the sweep minimum. */
  private def sweepOverPairs(
      spark: SparkSession, pairs: DataFrame, ts: Seq[Int]): DataFrame = {
    val flagged = pairs
      .select(col("a_id"), col("b_id"), col("i"), col("un"),
        explode(typedLit(ts.toList)).as("t"))
      .filter(col("i") * 10 >= col("un") * col("t"))
    val perT = flagged.groupBy(col("t"))
      .agg(count(lit(1)).as("n_pairs"))
    val docsT = flagged
      .select(col("t"), col("a_id").as("doc_id"))
      .unionByName(flagged.select(col("t"), col("b_id").as("doc_id")))
      .distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("n_docs"))
    val thr = spark.range(1).select(
      explode(typedLit(ts.toList)).as("t"))
    thr.join(perT, Seq("t"), "left").join(docsT, Seq("t"), "left")
      .select(col("t").cast("long").as("threshold_tenths"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Prefix-filtered candidate pairs (complete for Jaccard ≥ tNum/tDen).
    * Exposed for the exactness spec, which compares against the
    * unrestricted shared-shingle candidate set. */
  private[graft] def ngramPrefixCandidates(
      hs: DataFrame, sizes: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val dfreq = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = hs
      .join(dfreq, "h")
      .withColumn("rn", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(lit(tNum) * col("sz") <= lit(tDen) * (col("sz") - col("rn") + 1))
      .select(col("h"), col("doc_id"), col("sz"))
    val l = prefix.select(col("h"), col("doc_id").as("a_id"), col("sz").as("sz_a"))
    val r = prefix.select(col("h"), col("doc_id").as("b_id"), col("sz").as("sz_b"))
    l.join(r, "h")
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("sz_a"), col("sz_b")) * tDen >=
        greatest(col("sz_a"), col("sz_b")) * tNum)
      .select("a_id", "b_id")
      .distinct()
  }

  /** EXACT asymmetric containment self-join at threshold tNum/tDen:
    * every ordered pair where |A∩B| ≥ t·|A| on distinct 3-gram shingle
    * sets — the subsumption axis Jaccard cannot see. A 30-token quote
    * embedded in a 3000-token article has Jaccard ≈ 0.01 (invisible to
    * X2/X24 at any usable threshold) but containment 1.0; this is the
    * operator that finds quote-docs, excerpt pages, and
    * expanded-revision chains so curation can drop the subsumed copy
    * (keep the superset doc — the X51 keeper policy composes).
    *
    * Prefix principle, asymmetric form (the AllPairs/PPJoin bound
    * applied to one side): order shingles rarest-document-frequency
    * first; a pair with overlap ≥ ⌈t·|A|⌉ must collide inside A's first
    * |A| − ⌈t·|A|⌉ + 1 elements BY PIGEONHOLE — but only if the
    * container side exposes everything, so B contributes its FULL
    * shingle stream (no symmetric prefix, no length filter: |B| is
    * unbounded relative to |A| by design — that asymmetry IS the
    * semantics). Same integer threshold algebra as
    * [[ngramJaccardJoinMaterialized]] (never float ceil). Exact
    * intersection verify then gives precision 1.0 — recall and
    * precision both exact.
    *
    * Scale shape: candidate volume = Σ over A-prefix tokens of df(h) —
    * prefixes keep each doc's RAREST tokens, so the container-side
    * buckets are the corpus's thinnest; the full stream side only ever
    * equi-joins (one shuffle on the 8-byte hash), never self-pairs.
    * `minSz` (shingle-count floor on the contained side) cuts the
    * trivially-contained short-doc noise a production corpus carries.
    *
    * Returns (contained_id, container_id, n_shared, n_shingles) — all
    * integer, hash-compare safe; identical docs qualify in BOTH
    * directions. */
  def containmentJoin(
      docs: DataFrame, tNum: Int = 9, tDen: Int = 10,
      minSz: Int = 5): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0, 1]")
    require(minSz >= 1, s"minSz $minSz must be positive")
    val hs = shingleHashes(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val dfreq = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      val prefix = hs
        .join(dfreq, "h")
        .withColumn("rn", row_number().over(w))
        .join(sizes, "doc_id")
        .filter(col("sz") >= minSz)
        .filter(lit(tNum) * col("sz") <= lit(tDen) * (col("sz") - col("rn") + 1))
        .select(col("h"), col("doc_id").as("contained_id"))
      val cand = prefix
        .join(hs.select(col("h"), col("doc_id").as("container_id")), "h")
        .filter(col("contained_id") =!= col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
      cand
        .join(hs.select(col("doc_id").as("contained_id"), col("h")), "contained_id")
        .join(hs.select(col("doc_id").as("container_id"), col("h")),
          Seq("container_id", "h"))
        .groupBy(col("contained_id"), col("container_id"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes.select(col("doc_id").as("contained_id"),
          col("sz").as("n_shingles")), "contained_id")
        .filter(col("n_shared") * tDen >= col("n_shingles") * tNum)
        .select(col("contained_id"), col("container_id"),
          col("n_shared"), col("n_shingles"))
        // eager so the shingle cache can be released here (the
        // materialized-pair-set idiom)
        .localCheckpoint(true)
    } finally hs.unpersist(blocking = false)
  }

  /** Span-level exact-substring dedup (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better" pass,
    * re-expressed relationally): a token window of width `n` is
    * DUPLICATED when the identical window occurs at ≥ 2 sites in the
    * corpus (site = (doc, position) — repeats WITHIN a doc count, they
    * are the same memorization risk). Per doc this reports how much of
    * the text sits under duplicated windows — the signal used to cut or
    * down-weight boilerplate spans, which doc-level Jaccard (x2/x18)
    * cannot see when the containing documents are otherwise different.
    *
    * Plan, all linear and SINGLE-PASS: one
    * [[graft.functions.WordNgramsAll]] evaluation per row (positional
    * windows are per-row compute — no token-explode shuffle for
    * construction), posexplode to (doc, pos, hash) sites, then a count
    * WINDOW over the window-hash partition (the [[BucketCap]] idiom:
    * one shuffle on the 8-byte hash, no self-join, and — unlike a
    * groupBy + join back — no duplicated aggregate subtree feeding two
    * consumers). Coverage explodes DUP SITES ONLY ×n positions (at
    * 100 TB dup sites ≪ all sites; the fixture measures ~9%), and ONE
    * per-doc aggregate serves both outputs: sites are unique per
    * (doc, pos), so n_dup_windows = countDistinct(pos) rides the same
    * exploded frame that countDistinct(tok) needs. No all-pairs step
    * exists at any scale — cost is O(tokens) + O(dup sites × n), never
    * O(docs²).
    *
    * Window identity is xxhash64 of the window string (same
    * vanishing-collision caveat as x2/x18: the oracle groups on the
    * window STRING, cross-proving the hash grouping). NULL texts are
    * excluded by contract, mirrored in the oracle. */
  def spanDedup(docs: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 2, s"window width $n must be at least 2")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs.filter(col("text").isNotNull)
    val sites = base
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.wordNgramsAll(col("text"), lit(n)))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), xxhash64(col("g")).as("h"))
    val bySiteCount = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val dupSites = sites
      .withColumn("n_sites", count(lit(1)).over(bySiteCount))
      .filter(col("n_sites") >= 2)
    val perDoc = dupSites
      .select(col("doc_id"), col("pos"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("pos")).as("n_dup_windows"),
        countDistinct(col("tok")).as("n_covered_tokens"))
    val nTokens = size(split(col("text"), " "))
    base
      .select(col("doc_id"), nTokens.as("n_tokens"),
        greatest(nTokens - lit(n - 1), lit(0)).as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered_tokens"), lit(0L)).as("n_covered_tokens"))
  }

  /** Chunk-level dedup with reconstruction — the CCNet/RefinedWeb
    * paragraph-dedup pass (Wenzek et al. 2019 dedup by paragraph hash),
    * re-expressed over aligned token chunks because this corpus has no
    * natural line breaks: the document is PARTITIONED into
    * `chunkTokens`-token chunks (tail partial included — see
    * [[graft.functions.WordChunks]]: joining the chunks reconstructs
    * the text exactly), each chunk keeps only its FIRST occurrence
    * corpus-wide (order = (doc_id, chunk_index) — total, so "first" is
    * a function of the data alone; a chunk repeated WITHIN a document
    * keeps only its earliest site too), and every document is
    * reassembled from its surviving chunks. Unlike span-level counting
    * ([[spanDedup]] reports how much text is duplicated), this REWRITES
    * the corpus — the output a pipeline actually trains on.
    *
    * Plan, linear end-to-end: one word_chunks evaluation per row (no
    * token explode), posexplode to (doc, ci, chunk) sites — ~tokens/n
    * rows — then first-occurrence via row_number over the chunk-hash
    * partition (one narrow shuffle keyed on the 8-byte xxhash64; same
    * single-window shape as [[spanDedup]] — no groupBy + join-back
    * planning the site subtree twice), then one per-doc aggregate
    * rebuilds the text from kept chunks (array_sort on (ci, chunk)
    * structs: ci leads, so the sort is deterministic). Emitted as
    * md5(clean text) + integer counts — the full rewritten corpus would
    * be the production output, but hash-compared oracles never ship
    * text bodies. No all-pairs step at any scale: cost is O(sites) +
    * one text-sized shuffle, the same shape CCNet runs at web scale.
    *
    * Chunk identity is xxhash64 of the chunk string; the oracle
    * partitions on the STRING (the x2/x18/x35 vanishing-collision
    * cross-proof). NULL texts are excluded by contract; a document
    * whose every chunk already occurred hashes the empty string. */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1, s"chunk width $chunkTokens must be at least 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sites = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.wordChunks(col("text"), lit(chunkTokens)))
          .as(Seq("ci", "chunk")))
    val firstSite = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("chunk")))
      .orderBy(col("doc_id"), col("ci"))
    sites
      .withColumn("rn", row_number().over(firstSite))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, lit(1L)).otherwise(lit(0L))).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("ci"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("clean_hash"))
  }

  /** INTRA-document repeated-chunk collapse — the crawler-artifact
    * cleaner [[chunkDedup]] is not: chunkDedup's first-site-wins runs
    * CORPUS-wide (cross-document paragraph dedup), while this removes
    * a chunk repeated WITHIN one document (pagination glitches, infinite
    * -scroll stutter, template loops re-rendering the same paragraph)
    * and leaves legitimate cross-document repetition alone. Reports the
    * X20 repetition family's signal as a REWRITE, not just a ratio.
    *
    * Scale shape: zero shuffles — chunks, first-occurrence dedup
    * (`array_distinct` evaluates left-to-right, so "keep the FIRST
    * occurrence" is its documented order), and the md5 rebuild are all
    * per-row array expressions riding the corpus scan; the DuckDB
    * oracle derives the same result POSITIONALLY (chunk comprehension +
    * per-doc row_number + ordered string_agg) — two independent
    * constructions, hash-compared. Same output contract as
    * [[chunkDedup]]: (doc_id, n_chunks, n_kept, clean_hash). */
  def collapseRepeatedChunks(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1, s"chunk width $chunkTokens must be at least 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val chunks = graft.functions.GraftFunctions.wordChunks(col("text"), lit(chunkTokens))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), chunks.as("chunks"))
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        size(array_distinct(col("chunks"))).cast("long").as("n_kept"),
        md5(array_join(array_distinct(col("chunks")), " ")).as("clean_hash"))
  }

  /** Pagination-stitch detection: pairs of documents where one page's
    * LAST `w` tokens are exactly another page's FIRST `w` tokens —
    * the boundary-overlap artifact a crawler leaves when a paginated
    * article is extracted page by page with a repeated carry-over
    * paragraph. Jaccard misses these (the shared span is a sliver of
    * either doc) and containment misses the ORDER; the boundary key is
    * exact and directional: `prev_id`'s tail flows into `next_id`'s
    * head. Only docs with at least `w` tokens participate (a shorter
    * doc has no full boundary window); self-pairs are excluded.
    *
    * Scale shape: ONE equi-join on the boundary key — each doc emits
    * one head key and one tail key, so the join input is linear in the
    * corpus, never all-pairs. The join key is the md5 of the w-token
    * boundary (a fixed-width integer-like key, so the exchange never
    * carries the token text); matched pairs re-verify the actual
    * boundary strings, making an md5 collision harmless. A hot
    * boundary key is boilerplate, not pagination — the same argument
    * as the LSH buckets — so over-full keys are dropped via
    * [[BucketCap]] (default cap 64) rather than salted. */
  def pageStitch(docs: DataFrame, w: Int = 10, maxBucket: Int = 64): DataFrame = {
    require(w >= 1, s"boundary width $w must be at least 1")
    val base = docs
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("toks"))
      .filter(size(col("toks")) >= w)
    val heads = base.select(col("doc_id").as("next_id"),
      array_join(slice(col("toks"), 1, w), " ").as("boundary"))
      .withColumn("bkey", md5(col("boundary")))
    val tails = base.select(col("doc_id").as("prev_id"),
      array_join(slice(col("toks"), -w, w), " ").as("boundary"))
      .withColumn("bkey", md5(col("boundary")))
    val h = BucketCap.keepSmall(heads, Seq("bkey"), maxBucket)
    val t = BucketCap.keepSmall(tails, Seq("bkey"), maxBucket)
    t.join(h, Seq("bkey"))
      .filter(col("prev_id") =!= col("next_id") &&
        t("boundary") === h("boundary"))
      .select(col("prev_id"), col("next_id"))
  }

  /** Edit-distance near-dup pairs over a fixed-width title slice: two
    * docs pair when the first `titleLen` characters of their texts are
    * within Levenshtein distance `maxDist` — the TYPO axis of the dedup
    * family. Token-set methods (MinHash/SimHash/Jaccard) are blind to a
    * one-character slip: "recieved" vs "received" shares NO token and
    * at most a sliver of character shingles, yet the documents are the
    * same scan/OCR/keyboard artifact; edit distance is the measure that
    * sees it. Applied to the title slice (not the full text): that is
    * where catalog/scrape typo-duplicates disagree, and it bounds the
    * O(titleLen²) DP cost per comparison to a constant.
    *
    * Candidates come from PREFIX BLOCKING — equal first `blockLen`
    * characters — plus the |len difference| ≤ maxDist necessity filter;
    * the declared recall contract is "edits past the block prefix"
    * (a typo inside the first blockLen characters is invisible, the
    * standard prefix-blocking trade). Matched candidates verify with
    * the real `levenshtein`, so precision is exact.
    *
    * Scale shape: ONE equi-join on the block key, linear join input
    * (each doc emits one blocking row); an over-full block is a shared
    * boilerplate head, not a typo cluster — dropped via [[BucketCap]],
    * the [[pageStitch]] argument. The DP verify runs only on
    * candidate pairs inside capped buckets, never all-pairs. */
  def editNeardup(
      docs: DataFrame, titleLen: Int = 40, blockLen: Int = 10,
      maxDist: Int = 2, maxBucket: Int = 64): DataFrame = {
    require(titleLen > blockLen && blockLen >= 1,
      s"need titleLen $titleLen > blockLen $blockLen >= 1")
    require(maxDist >= 0, s"maxDist $maxDist must be non-negative")
    val titled = docs
      .select(col("doc_id"),
        substring(coalesce(col("text"), lit("")), 1, titleLen).as("title"))
      .withColumn("blk", substring(col("title"), 1, blockLen))
      .withColumn("l", length(col("title")))
    val capped = BucketCap.keepSmall(titled, Seq("blk"), maxBucket)
    val a = capped.select(col("blk"), col("doc_id").as("a_id"),
      col("title").as("a_title"), col("l").as("a_l"))
    val b = capped.select(col("blk"), col("doc_id").as("b_id"),
      col("title").as("b_title"), col("l").as("b_l"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("a_l") - col("b_l")) <= maxDist)
      .withColumn("dist", levenshtein(col("a_title"), col("b_title")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
  }

  /** Ingest-time MinHash index ([[GrowingIndex]]): persists two
    * per-document artifacts — `__sets`, each signed document's shingle
    * multiset (doc_id, hs, cnt, sz), and `__bands`, its 16 LSH band keys,
    * last (the probe's existence gate) — so incremental batches can
    * near-dup against the FULL corpus history without recomputing a
    * single corpus signature ([[neardupAgainstIndex]]). At 100 TB the
    * index is the linear byproduct of the first dedup pass (one row of
    * integer arrays per document, ~8 bytes per shingle); re-shingling
    * the corpus per batch would instead re-pay the full text parse on
    * every ingest tick. A batch is signed once ([[Signatures]]) and both
    * artifacts are projections of its signed rows; a batch signed
    * upstream appends its [[Signatures.frames]]. An index of the older
    * three-artifact layout (`__shingles`, `__sizes`, `__bands`) fails
    * every probe and growth with [[GrowingIndex.StaleLayout]];
    * [[rebuild]] (`CorpusPrepJob.refreshArtifacts`) converts it and
    * drops the retired tables. */
  object MinhashIndex extends NeardupIndex[Double] with GrowingIndex.NoSidecar {
    val artifacts = Seq("__sets", "__bands")
    override val retired = Seq("__shingles", "__sizes")
    val idCol = "doc_id"
    val defaultThreshold = 0.8

    protected def sign(docs: DataFrame, g: Unit): Signatures =
      Signatures.of(docs, LocalMaxShingleRows)
  }

  /** Incremental near-dup: pairs (a_id = indexed corpus doc, b_id = new
    * batch doc) at Jaccard ≥ `threshold`, computed against a
    * [[MinhashIndex]] artifact. Only the NEW batch is shingled and
    * banded ([[Signatures.against]] over its one signature); the corpus
    * side is read back under declared schemas. Candidates = band-bucket
    * collisions between the batch's bands and the stored bands; the
    * stored buckets get the usual [[BucketCap]] guard. Within-batch
    * pairs are NOT emitted — run [[minhashNeardupMaterialized]] on the
    * batch for those. Id spaces are assumed disjoint (a shared id would
    * pair a document with its own history, which is exactly what an
    * UPDATE wants anyway).
    *
    * Two plans, one pair set (the incremental contract is |batch| ≪
    * |corpus|). A batch signed on the driver (at most
    * [[LocalMaxShingleRows]] shingles) probes the index through TWO
    * narrow stored reads, each collected under the same bound and
    * verified on the driver: `__bands` semi-joined with the batch's band
    * keys (every stored row of the touched buckets, so the cap counts
    * whole buckets), then `__sets` semi-joined with the candidate
    * `a_id`s — each semi-join a membership filter inside the scan, so
    * nothing of the standing index is shuffled or broadcast. A larger
    * batch, a stored read over the bound, or touched buckets that would
    * give more than [[StarLocalMaxEdges]] candidate collisions run the
    * distributed plan ([[neardupAgainstIndexPlan]], the batch's bands
    * broadcast into the stored band scan). An index in the older layout
    * fails with [[GrowingIndex.StaleLayout]]. */
  def neardupAgainstIndex(
      newDocs: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    Signatures.using(newDocs, LocalMaxShingleRows, maxBucket)(_.against(writer, table, threshold))

  /** The driver-side probe of [[Signatures.against]]; None when a stored
    * read exceeds `maxRows` or the candidates exceed
    * [[StarLocalMaxEdges]] collisions. Each stored read is a semi-join
    * by a membership filter over the driver's key set, evaluated inside
    * the scan: no exchange, and no broadcast build job (an `isin`
    * literal list would cost analysis time linear in thousands of keys
    * on every tick). */
  private def probeLocal(
      spark: SparkSession,
      batch: Seq[Sig],
      writer: graft.sinks.StagingWriter,
      table: String,
      threshold: Double,
      maxBucket: Int,
      maxRows: Long): Option[DataFrame] = {
    val keyed = batch.flatMap(s => s.bands.zipWithIndex.map { case (bh, j) => ((j, bh), s.id) })
    if (keyed.isEmpty) return Some(localPairs(spark, Iterator.empty, threshold))
    val keys = keyed.map(_._1).toSet
    // every stored row of each bucket the batch touches, so the cap
    // counts WHOLE buckets
    collectAtMost(readIndex(writer, table, "__bands", LongType)
      .filter(udf((j: Int, bh: Long) => keys((j, bh))).apply(col("band"), col("band_hash")))
      .select(col("band"), col("band_hash"), col("doc_id")), maxRows)
      .filter(_.forall(!_.isNullAt(2)))
      .map(_.map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2)))
        .groupMap(_._1)(_._2)
        .filter(_._2.length <= maxBucket))
      // the (stored, batch) collisions the candidate list would hold stay
      // under the verify's candidate bound
      .filter(members => keyed.iterator
        .map { case (k, _) => members.get(k).fold(0L)(_.length.toLong) }
        .sum <= StarLocalMaxEdges)
      .flatMap { members =>
        val cand = keyed.flatMap { case (k, b) =>
          members.getOrElse(k, Array.empty[Long]).map((_, b))
        }.distinct
        val ids = cand.map(_._1).toSet
        if (ids.isEmpty) Some(localPairs(spark, Iterator.empty, threshold))
        else collectAtMost(readIndex(writer, table, "__sets", LongType)
          .filter(udf((d: Long) => ids(d)).apply(col("doc_id")))
          .select(col("doc_id"), col("hs"), col("cnt"), col("sz")), maxRows, _.getLong(3))
          .map(stored => localPairs(spark, meets(cand.iterator,
            stored.toSeq.map(Sig(_)).groupBy(_.id), batch.groupBy(_.id)), threshold))
      }
  }

  /** The LAZY incremental plan over a frame of [[signedDocs]] rows —
    * exposed for the index-read plan proof (the public path
    * checkpoints, which collapses the executed plan to a Scan of the
    * materialized RDD). */
  private[graft] def neardupAgainstIndexPlan(
      sigs: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    def stored(a: String) = readIndex(writer, table, a, sigs.schema("doc_id").dataType)
    val cand = BucketCap.keepSmall(stored("__bands"), Seq("band", "band_hash"), maxBucket)
      .select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
      .join(broadcast(bandRows(sigs)
        .select(col("band"), col("band_hash"), col("doc_id").as("b_id"))),
        Seq("band", "band_hash"))
      .select("a_id", "b_id")
      .distinct()
    verified(cand, stored("__sets"), sigs).filter(col("jaccard") >= threshold)
  }

  /** Near-dup CLUSTERING: connected components over a pair graph,
    * labeling every document with the minimum doc_id reachable from it.
    * Pairwise keeper selection (drop every b_id) under-drops transitive
    * chains — in a component {3,7,9} with edges (7,9),(3,9) it keeps
    * both 3 and 7 — while component labeling keeps exactly one document
    * per duplicate cluster.
    *
    * Algorithm: TWO-PHASE LARGE-STAR/SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Min-label propagation needs O(component diameter) rounds — a
    * 10⁶-long near-dup chain (pathological boilerplate) costs it 10⁶
    * rounds — while star contraction converges in O(log n) rounds
    * regardless of diameter, with the IDENTICAL labeling (ExtSpec
    * cross-proves it against a min-label propagation reference on
    * planted chain/star/clique graphs).
    *
    * Each round rewrites the edge set twice. LARGE-STAR: for every
    * center u with neighborhood Γ(u), m = min(Γ(u) ∪ \{u\}); every
    * strictly-larger neighbor v > u re-links to m — emit (v, m).
    * SMALL-STAR over the canonical big→small edges: for every big
    * end u, m = min(its small neighbors) (< u always); every other
    * small neighbor and u itself re-link to m. Both steps preserve
    * connectivity and the vertex set (the paper's invariants), and
    * the fixpoint is the star forest rooted at component minima.
    *
    * Scale shape: per round, two map-side-combinable min aggregates
    * and two equi-joins on the center key — no window, no driver
    * state beyond the convergence probe; each edge frame eagerly
    * checkpoints so lineage stays one round deep. Convergence is an
    * exact set-equality probe (|B| = |A∩B| = |A|) whose inputs ride
    * the checkpoint action as observe metrics — one Spark action per
    * round.
    *
    * Returns (doc_id, component) for every doc that appears in ≥ 1
    * pair; singleton documents are their own implicit component. */
  def dupComponentsStar(pairs: DataFrame): DataFrame =
    dupComponentsStarRounds(pairs)._1

  /** Below this canonical-edge count the component labeling computes
    * DRIVER-SIDE by union-find instead of iterating star rounds — the
    * broadcast-join-threshold pattern: each distributed round costs a
    * fixed handful of jobs (two joins, two aggregates, a checkpoint)
    * regardless of data size, so a small graph pays ~5 rounds of pure
    * scheduling overhead for work a μs-scale union-find finishes
    * instantly. 100k edges ≈ 1.6 MB on the driver — the bounded
    * collect class (centroids/codebooks/Bloom words, and the MinHash
    * verify and index probe under [[LocalMaxShingleRows]], whose
    * candidate collisions this same bound caps), never a data-scale
    * pull: the bound is CHECKED against the observe-metric seed count
    * before any collect, or against the row count of a LOCAL pair frame
    * (the driver-side verify's output — never more rows than the
    * bound, as its candidates were capped by it), which is labeled
    * without a single Spark job. Labeling is identical by
    * construction (component = min reachable id; spec cross-proves
    * threshold-0 vs default on chain/star/clique graphs). */
  val StarLocalMaxEdges = 100000L

  /** [[dupComponentsStar]] plus the converged round count — split out
    * so the spec can pin the O(log n) bound a planted long chain
    * exercises (pass `localMaxEdges = 0` to force the distributed
    * path — honored even on an empty edge set; the local fast path
    * reports 0 rounds and additionally requires LONG id columns,
    * falling through to the type-generic star loop otherwise). */
  private[graft] def dupComponentsStarRounds(
      pairs: DataFrame,
      localMaxEdges: Long = StarLocalMaxEdges): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // fast-path eligibility: a POSITIVE threshold (0 = disabled — the
    // documented force-distributed switch, which must hold even for an
    // empty edge set), the bounded size, and LONG ids — the union-find
    // below is Long-typed while the star loop is type-generic, so a
    // non-long id column must fall through, never ClassCastException.
    def longIds(df: DataFrame): Boolean = df.schema.fields
      .forall(_.dataType == LongType)
    // a LOCAL pair frame (the driver-side MinHash verify's output) is
    // labeled on the driver outright — collecting it runs no job, and
    // its endpoints are the whole node universe
    if (localMaxEdges > 0 && pairs.isLocal) {
      val ends = pairs.select(col("a_id"), col("b_id"))
      if (longIds(ends)) {
        val es = ends.collect()
        if (es.length <= localMaxEdges && !es.exists(_.anyNull)) {
          val uv = es.map(r => (r.getLong(0), r.getLong(1)))
          val nodes = uv.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
          return (labelFrame(spark, unionFind(uv, nodes)), 0)
        }
      }
    }
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // the seed |A| rides the canonical edges' own checkpoint action as
    // an observe metric — a follow-up count() was a second pass over
    // the just-materialized edge set (ADVICE r14), contradicting the
    // one-action-per-round discipline the loop below pins
    val seedObs = org.apache.spark.sql.Observation()
    var edges = canon(pairs.select(col("a_id").as("u"), col("b_id").as("v")))
      .observe(seedObs, count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    // the node universe is pinned UP FRONT: star rewrites preserve the
    // vertex set, but a self-loop-only doc (degenerate input) has no
    // canonical edge at all — the final left join keeps its row
    val nodes = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
      .localCheckpoint(true)
    val seedCount = seedObs.get("n_edges").asInstanceOf[Long]
    if (localMaxEdges > 0 && seedCount <= localMaxEdges && longIds(edges)) {
      // SMALL-GRAPH FAST PATH: union-find over the (bounded, just
      // counted) edge set. The node universe stays DISTRIBUTED
      // (self-loop-only docs may outnumber edges): only the edge
      // endpoints' labels ship back.
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = labelFrame(spark,
        unionFind(es, es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet))
      return (nodes.join(broadcast(labels), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component")), 0)
    }
    // ONE action per round (VERDICT r13 task 3 — the observe-metric
    // idiom): the set-equality probe rides the checkpoint action
    // itself. New edge set B equals old set A
    // iff |B| = |A∩B| and |B| = |A| (both sides are distinct); |A| is
    // last round's |B| (seeded by the observe metric on the canonical
    // edges' checkpoint — no separate count() job), |B| and |A∩B| are
    // observe metrics on the SAME job that materializes B — no
    // count()+left_anti follow-up jobs.
    var prevCount = seedCount
    var converged = prevCount == 0L
    var rounds = 0
    while (!converged) {
      // LARGE-STAR over symmetric neighborhoods
      val sym = edges.select(col("u").as("ctr"), col("v").as("nbr"))
        .union(edges.select(col("v").as("ctr"), col("u").as("nbr")))
      val large = sym
        .join(sym.groupBy(col("ctr")).agg(min(col("nbr")).as("mn")), "ctr")
        .filter(col("nbr") > col("ctr"))
        .select(col("nbr").as("u"), least(col("mn"), col("ctr")).as("v"))
        .distinct()
      // SMALL-STAR over the (already canonical) big→small edges
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val obs = org.apache.spark.sql.Observation()
      val next = large.join(minsS, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(minsS.select(col("u"), col("mn").as("v")))
        .distinct()
        // old edges are unique on (u,v), so the membership tag never
        // duplicates a new edge; the left join feeds the n_shared
        // metric and is projected away before the checkpoint lands
        .join(edges.select(col("u"), col("v"), lit(1L).as("__old")),
          Seq("u", "v"), "left")
        .observe(obs, count(lit(1)).as("n_new"),
          sum(coalesce(col("__old"), lit(0L))).as("n_shared"))
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val nNew = obs.get("n_new").asInstanceOf[Long]
      val nShared = Option(obs.get("n_shared"))
        .fold(0L)(_.asInstanceOf[Long])
      converged = nNew == nShared && nNew == prevCount
      prevCount = nNew
      edges = next
      rounds += 1
    }
    val labels = edges.select(col("u").as("doc_id"), col("v").as("component"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .distinct()
    (nodes.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component")),
      rounds)
  }

  /** (doc_id, component) for every id in `nodes`: union-find over
    * `es`, label = min member per component — the labeling the star
    * fixpoint converges to. Union by MIN root keeps "root = min of the
    * merged roots", so by induction the root IS the component minimum;
    * an id on no edge is its own root. */
  private def unionFind(es: Array[(Long, Long)], nodes: Set[Long]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    nodes.toSeq.sorted.map(d => d -> find(d))
  }

  private def labelFrame(spark: SparkSession, labels: Seq[(Long, Long)]): DataFrame =
    localFrame(spark, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("component", LongType, nullable = false))),
      labels.map { case (d, c) => Row(d, c) })

  /** The shared cross-engine token hash ([[OracleHash.md5Hash32]]).
    * Two disjoint halves of one md5 give the 64 independent SimHash
    * signature bits without a second hash pass. */
  private def h32(c: Column, from: Int): Column =
    OracleHash.md5Hash32(c, from)

  /** SimHash signature geometry: 64 bits banded as 4 blocks of 16 —
    * pigeonhole-exact recall for hamming distance ≤ SimhashBands − 1 = 3,
    * 65,536-value band keys (see the density analysis in the object
    * doc). */
  val SimhashBits = 64
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 16

  /** Per-document 64-bit SimHash over whitespace tokens (with
    * repetition): bit i is the sign of Σ_tokens (bit_i(h(token))·2−1),
    * where bits 0–31 come from md5 hex chars 1–8 and bits 32–63 from
    * chars 9–16. One explode + one groupBy with 64 integer sums — fully
    * map-side-combinable, no float math anywhere.
    *
    * Packing order sums bits 0..62 first (every ANSI partial sum ≤
    * 2⁶³−1), then adds bit 63's value (1L<<63 = Long.MinValue in two's
    * complement) — a positive+negative add that cannot overflow. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
      .withColumn("lo", h32(col("tok"), 1))
      .withColumn("hi", h32(col("tok"), 9))
    val bitSums = (0 until SimhashBits).map { i =>
      val half = if (i < 32) shiftright(col("lo"), i) else shiftright(col("hi"), i - 32)
      sum(half.bitwiseAND(1) * 2 - 1).as(s"s$i")
    }
    val packed = (0 until SimhashBits)
      .map(i => when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs at hamming distance ≤ `maxDist` (≤ 3), found
    * via 4×16-bit band blocking over the 64-bit signature. Pigeonhole
    * over 4 bands guarantees every pair within distance 3 shares a band
    * — exact recall, never all-pairs.
    *
    * Bucket cap: still OFF by default, but for a different reason than
    * the old 32-bit geometry. With 65,536-value band keys, unrelated
    * documents spread to ~n/2¹⁶ per bucket — an over-full bucket now
    * really is pathology (boilerplate duplication), not ambient density.
    * A hamming≤3 pair may still share exactly ONE band, so any drop can
    * lose a true pair outright (breaking the pigeonhole guarantee);
    * opt in only on corpora with known skew, and read
    * [[simhashCapReport]] alongside. Density bound: candidate volume ≈
    * SimhashBands·n²/(2·2¹⁶) = n²/32768 on unrelated text, so the
    * candidate join stays sub-dominant to the O(n·tokens) signature
    * pass until ~10⁷ docs per shard (vs ~10⁵ for the old 256-value
    * bands). */
  def simhashNeardup(
      docs: DataFrame,
      maxDist: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist < SimhashBands,
      s"$SimhashBands-band blocking guarantees recall only for distance <= ${SimhashBands - 1}")
    val banded = BucketCap.keepSmall(simhashBands(docs), Seq("band", "band_val"), maxBucket)
    val l = banded.select(col("band"), col("band_val"),
      col("doc_id").as("a_id"), col("simhash").as("sig_a"))
    val r = banded.select(col("band"), col("band_val"),
      col("doc_id").as("b_id"), col("simhash").as("sig_b"))
    l.join(r, Seq("band", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Detector confusion audit between two near-dup PAIR SETS — the
    * meta-report that says which detector to trust before a corpus
    * rewrite: candidate pairs (e.g. SimHash hamming ≤ 3) against a
    * reference set (e.g. exact n-gram Jaccard ≥ threshold), agreement
    * and each side's exclusive mass, plus exact precision/recall ppm
    * with the reference as truth. The sets must share the canonical
    * `a_id < b_id` orientation (every pair producer here does).
    * Degenerate empty sides report 0, never divide.
    *
    * Scale shape: one full-outer equi-join on the pair key — pair
    * sets are detector OUTPUT (orders smaller than the corpus), and
    * the aggregate is one row. */
  def neardupConfusion(candPairs: DataFrame, truthPairs: DataFrame): DataFrame = {
    val c = candPairs.select(col("a_id"), col("b_id")).distinct()
      .withColumn("in_cand", lit(1L))
    val t = truthPairs.select(col("a_id"), col("b_id")).distinct()
      .withColumn("in_truth", lit(1L))
    c.join(t, Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("in_cand").isNotNull &&
          col("in_truth").isNotNull, 1L)), lit(0L)).as("n_both"),
        coalesce(sum(when(col("in_truth").isNull, 1L)), lit(0L))
          .as("n_cand_only"),
        coalesce(sum(when(col("in_cand").isNull, 1L)), lit(0L))
          .as("n_truth_only"))
      .select(col("n_both"), col("n_cand_only"), col("n_truth_only"),
        when(col("n_both") + col("n_cand_only") === 0, lit(0L))
          .otherwise(expr("1000000 * n_both DIV (n_both + n_cand_only)"))
          .as("precision_ppm"),
        when(col("n_both") + col("n_truth_only") === 0, lit(0L))
          .otherwise(expr("1000000 * n_both DIV (n_both + n_truth_only)"))
          .as("recall_ppm"))
  }

  /** Duplicate-cluster size histogram — "how much of the corpus exists
    * in how many copies": per cluster size, the number of clusters,
    * docs covered, and their exact corpus share in ppm — the dedup
    * savings CURVE behind the per-source charge table (which sizes
    * dominate decides the strategy: a fat size-2 band is near-dup
    * noise, a long tail of giant clusters is template spam).
    * Components label only docs appearing in ≥ 1 pair
    * ([[dupComponentsStar]]' contract), so the singleton row is the
    * corpus minus the labeled mass, joined at size 1; Σ n_docs over
    * the histogram equals the corpus count by construction (the
    * spec's identity).
    *
    * Scale shape: everything past the component labels is bounded by
    * the cluster-size domain; the two one-row totals broadcast. */
  def dupSizeHistogram(components: DataFrame, docs: DataFrame): DataFrame = {
    val h = components.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val lab = h.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_labeled"))
    val singles = tot.crossJoin(lab)
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_labeled")).as("n_clusters"),
        (col("n_total") - col("n_labeled")).as("n_docs"))
      .filter(col("n_docs") > 0)
    h.unionByName(singles)
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("1000000 * n_docs DIV n_total").as("docs_ppm"))
  }

  /** Canonical-keeper selection per duplicate component — the step
    * between [[dupComponentsStar]]' labeling and the corpus rewrite: every
    * component keeps its BEST member (highest quality score, doc_id
    * tiebreak), not blindly its lowest id — pairwise lowest-id-survives
    * can keep a truncated or boilerplate copy over the clean one. Both
    * ranking inputs are functions of the data alone (the quality score
    * is the x8 per-row tree, bit-exact across engines, and doc_id
    * completes the total order), so the keeper set is deterministic.
    *
    * One window pass over the component partition serves both outputs
    * (rank + member count — same exchange); components are dup-cluster
    * sized (shallow, small), so per-partition state is trivial.
    * Documents outside any component are implicitly their own keepers
    * (components only label docs appearing in ≥ 1 pair, per
    * [[dupComponentsStar]]). */
  def canonicalPick(docs: DataFrame, components: DataFrame): DataFrame = {
    // join FIRST, score the survivors: components cover only docs in
    // ≥ 1 pair (a few percent of a real corpus), so scoring before the
    // join would pay the full-corpus regex quality scan for rows the
    // join immediately discards
    val members = docs.join(components, "doc_id")
    val byComponent = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    val best = byComponent.orderBy(col("quality_score").desc, col("doc_id"))
    TextStats.withQuality(members)
      .select(col("doc_id"), col("component"), col("quality_score"))
      .withColumn("rn", row_number().over(best))
      .withColumn("n_members", count(lit(1)).over(byComponent))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keeper_id"),
        col("n_members"), col("quality_score").as("keeper_quality"))
  }

  /** The members the canonical rewrite drops: every member of a
    * component that has a [[canonicalPick]] keeper, other than that
    * keeper, as (doc_id). A LOCAL component frame with LONG ids (the
    * driver-side labeling's output, bounded by [[StarLocalMaxEdges]])
    * resolves on the driver: one narrow scan scores only the members,
    * and the same keeper rule — quality desc under Spark's double
    * ordering (NULL last, NaN highest, −0.0 = 0.0), then doc_id — runs
    * per component, so no window, sort or join stage remains; the
    * result is a local frame. Otherwise the distributed
    * [[canonicalPick]] join. */
  private[graft] def nonKeepers(docs: DataFrame, components: DataFrame): DataFrame = {
    val labels = components.select(col("doc_id"), col("component"))
    if (!components.isLocal || !(labels.schema.fields :+ docs.schema("doc_id"))
        .forall(_.dataType == LongType))
      return components
        .join(canonicalPick(docs, components).select(col("component"), col("keeper_id")),
          "component")
        .filter(col("doc_id") =!= col("keeper_id"))
        .select("doc_id")
    val comp = labels.collect().collect {
      case r if !r.anyNull => r.getLong(0) -> r.getLong(1)
    }
    val members = comp.iterator.map(_._1).toSet
    val scored = TextStats.withQuality(docs.filter(udf((d: Long) => members(d)).apply(col("doc_id"))))
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val best = Ordering.fromLessThan[(Long, Option[Double])] { case ((da, qa), (db, qb)) =>
      val byQuality = (qa, qb) match {
        case (Some(x), Some(y)) => if (x == y) 0 else java.lang.Double.compare(y, x)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case _ => 0
      }
      byQuality < 0 || (byQuality == 0 && da < db)
    }
    val label = comp.toMap
    val keeper = scored.groupBy(m => label(m._1)).map { case (c, ms) => c -> ms.min(best)._1 }
    localFrame(components.sparkSession,
      StructType(Seq(StructField("doc_id", LongType, nullable = false))),
      comp.toSeq.collect { case (d, c) if keeper.get(c).exists(_ != d) => Row(d) })
  }

  /** KEEPER-POLICY COMPARISON — "does the survivorship rule matter?":
    * per duplicate component, the keeper each of the three standard
    * policies would pick — smallest id (X51's stable default), best
    * quality (X46's curation pick), longest text (the recall-greedy
    * crawler default) — and how many DISTINCT keepers that is. A
    * corpus where the policies agree can dedup with the cheap id rule;
    * one where they diverge is losing content or quality to whichever
    * rule it happens to run — the audit that decides BEFORE the
    * rewrite. Rankings are rank-only under total orders
    * ((quality desc, doc_id) / (chars desc, doc_id) — comparing
    * doubles both engines computed identically is hash-safe, the x151
    * rule); components come from the exact X24 closure.
    *
    * Scale shape: scoring joins the component membership FIRST (the
    * X46 rationale — members are a few percent of a corpus), the two
    * rank windows partition by component (no global sort), the rollup
    * is component-sized. */
  def keeperPolicies(docs: DataFrame, components: DataFrame): DataFrame = {
    val members = docs.join(components, "doc_id")
    val byComp = Window.partitionBy(col("component"))
    val scored = TextStats.withQuality(members)
      .withColumn("kp_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
      .select(col("doc_id"), col("component"), col("quality_score"),
        col("kp_chars"))
      .withColumn("rq", row_number().over(
        byComp.orderBy(col("quality_score").desc, col("doc_id"))))
      .withColumn("rl", row_number().over(
        byComp.orderBy(col("kp_chars").desc, col("doc_id"))))
    scored.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("keep_min_id"),
        min(when(col("rq") === 1, col("doc_id"))).as("keep_best_quality"),
        min(when(col("rl") === 1, col("doc_id"))).as("keep_longest"))
      .withColumn("n_distinct_keepers",
        size(array_distinct(array(col("keep_min_id"),
          col("keep_best_quality"), col("keep_longest")))).cast("long"))
  }

  /** (doc_id, simhash, band, band_val) rows — the SimHash blocking key
    * space, shared by the candidate join and its cap report. */
  private def simhashBands(docs: DataFrame): DataFrame =
    simhash(docs).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(j =>
        shiftright(col("simhash"), SimhashBandBits * j)
          .bitwiseAND((1 << SimhashBandBits) - 1)): _*))
        .as(Seq("band", "band_val")))

  /** Dropped-bucket report for [[simhashNeardup]]'s cap. */
  def simhashCapReport(docs: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame =
    BucketCap.droppedReport(simhashBands(docs), Seq("band", "band_val"), maxBucket)

  /** CROSS-SPLIT LEAKAGE AUDIT — near-dup pairs straddling a
    * train/val/test assignment (the evaluation-integrity row every
    * split ships with: a test document whose near-duplicate sits in
    * train inflates every benchmark number, and the x20 hash split is
    * CONTENT-blind by design, so near-dups land in different splits at
    * the background rate). Input: the flagged pair set (a_id, b_id)
    * and the (doc_id, split) assignment; output: one row per ordered
    * (split_a, split_b) cell with the pair count and the cross flag —
    * any `is_cross` row with n_pairs > 0 is actionable (dedup before
    * splitting, or co-assign components).
    *
    * Scale shape: two broadcast-or-shuffle equi-joins on doc ids over
    * the (already small) pair set, then a map-side-combinable count
    * over ≤ 9 cells. The corpus itself is never re-scanned. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame =
    pairs.select(col("a_id"), col("b_id"))
      .join(splits.select(col("doc_id").as("a_id"),
        col("split").as("split_a")), Seq("a_id"))
      .join(splits.select(col("doc_id").as("b_id"),
        col("split").as("split_b")), Seq("b_id"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", col("split_a") =!= col("split_b"))

  /** REVERSE contamination audit — the per-EVAL-ITEM view
    * [[decontaminate]]'s per-training-doc flag cannot give: for every
    * eval item, how many DISTINCT training documents quote at least
    * one of its word `n`-grams, and how many of its distinct grams are
    * quoted at all. The report an eval-suite owner reads to decide
    * which benchmark items are BURNED (quoted by half the corpus —
    * scrubbing the corpus is hopeless, retire the item) versus
    * lightly leaked (drop the few offending docs). `evalDocs` carries
    * (eval_id, text); every eval item reports, zeros included.
    *
    * Scale shape: identical to [[decontaminate]] — the benchmark-sized
    * (eval_id, hash) pairs BROADCAST, the corpus streams through its
    * deduped shingle hashes once, and the two distinct-counts ride one
    * map-side-combinable aggregate per eval item. Counting on 64-bit
    * shingle hashes, the standing x18/x35 collision trade. */
  def contaminationSources(
      train: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val evalHashes = broadcast(
      evalDocs.select(col("eval_id"),
        explode(transform(shingles(col("text"), n), s => xxhash64(s)))
          .as("h"))
        .distinct())
    val hits = shingleHashes(train, n)
      .join(evalHashes, "h")
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_contaminating_docs"),
        countDistinct(col("h")).as("n_matched_ngrams"))
    evalDocs.select(col("eval_id")).distinct()
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_contaminating_docs"), lit(0L))
          .as("n_contaminating_docs"),
        coalesce(col("n_matched_ngrams"), lit(0L)).as("n_matched_ngrams"))
  }

  /** Duplicate-cluster SIZE DISTRIBUTION over a component labeling —
    * the one-page answer to "where does the duplicate mass sit":
    * boilerplate shows up as a few giant components (one keeper,
    * thousands dropped), organic duplication as many pairs. One row
    * per component size: how many components have it and how many
    * docs they hold. Feeds capacity planning for the canonical
    * rewrite (a 10⁶-doc component means 10⁶−1 deletions riding one
    * keeper pick).
    *
    * Scale shape: two map-side-combinable aggregates over the
    * (doc_id, component) labels — the corpus never appears. */
  def componentSizeDist(components: DataFrame): DataFrame =
    components.groupBy(col("component"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_components"))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_docs"))

  /** N-GRAM NOVELTY of an incoming batch against the standing corpus —
    * the ingest-time "is this new data or more of the same" score a
    * dedup-aware crawler reads before paying for full processing: per
    * batch document, the ppm of its distinct word n-grams that appear
    * NOWHERE in the corpus. 0 = fully redundant (an exact or near
    * duplicate), 1e6 = entirely novel vocabulary context. Documents
    * with no n-gram (under n tokens, NULL text) have no novelty to
    * report and are absent — stated, mirrored in the oracle.
    *
    * Scale shape: both sides reduce to (id, gram-hash) at the scan
    * (the [[shingleHashes]] projection — no text shuffles); the
    * corpus side folds to DISTINCT hashes (map-side combine), the
    * membership probe is ONE narrow equi-join on the hash followed by
    * a per-doc count — the chunk-dedup shuffle shape. Counts compare
    * cross-engine (hashes here, gram strings in the oracle) — the
    * x18/x35 collision caveat applies. */
  def ngramNovelty(corpus: DataFrame, batch: DataFrame, n: Int = 3): DataFrame = {
    val corpusGrams = shingleHashes(corpus, n).select(col("h")).distinct()
    shingleHashes(batch, n).distinct()
      .join(corpusGrams.withColumn("__seen", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_shingles"), col("n_new"),
        expr("1000000 * n_new DIV n_shingles").as("novelty_ppm"))
  }
}
