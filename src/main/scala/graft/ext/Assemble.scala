package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus assembly — the operators that turn a cleaned document corpus
  * into training shards: reproducible splits, mixture sampling, and
  * sequence packing. Downstream of the dedup/quality surface
  * ([[Dedup]], [[TextStats]]); the reference has no analog (these are
  * part of the LLM-pipeline extension surface).
  *
  * All three are driven by a salted, md5-derived CONTENT bucket rather
  * than row position or RNG state:
  *   - deterministic and engine-reproducible (the DuckDB oracles
  *     recompute identical assignments — md5 is the one cross-engine
  *     hash, see ExtOracles);
  *   - stable under re-sharding/re-partitioning — a row's assignment
  *     never depends on which partition it landed in or how many
  *     executors ran (sampling by `rand()` or zipWithIndex would);
  *   - content-keyed: exact duplicates co-travel into the same split,
  *     so a dup pair can never straddle train/test and leak;
  *   - per-use salts decorrelate the buckets (the split bucket and the
  *     mixture bucket of one document are independent hashes).
  *
  * Every assignment is integer arithmetic on the bucket — no float
  * thresholds, so outputs are hash-compare safe and immune to IEEE
  * boundary drift between engines.
  */
object Assemble {

  /** 32-bit md5-derived bucket in [0, den): uniform over content,
    * decorrelated across salts. Same md5 idiom the SimHash oracle
    * shares (`('0x'||substr(md5(..),1,8))::BIGINT` in ANSI SQL). */
  private def bucket(text: Column, salt: String, den: Int): Column =
    pmod(OracleHash.md5Hash32(concat(text, lit(salt))), lit(den.toLong))

  /** Deterministic train/val/test split by content hash (permille
    * thresholds, default 900/50/50). One narrow projection, no shuffle,
    * no RNG: re-running on a re-partitioned 100 TB corpus reproduces
    * the exact assignment, and identical texts always land in the same
    * split (no dup leakage across the eval boundary). */
  def hashSplit(
      docs: DataFrame,
      trainPermille: Int = 900,
      valPermille: Int = 50,
      salt: String = "split-v1"): DataFrame =
    docs.select(col("doc_id"),
      splitColumn(trainPermille, valPermille, salt).as("split"))

  /** `docs` with the [[hashSplit]] assignment ATTACHED as a column —
    * the composition form for pipelines that want every input row
    * back with its split (exactly `docs ⋈ hashSplit(docs)` when
    * doc_id is unique, minus the join): the split is a pure
    * projection of the text, so joining it back forces the input
    * subtree to evaluate twice (the two join inputs' exchanges differ
    * and ReuseExchange cannot dedupe them — at corpus scale that was
    * a second full decontamination pass in CorpusPrepJob). Shares the
    * single assignment expression with [[hashSplit]]/[[splitBalance]]
    * (drift = lying audit). */
  def splitAssigned(
      docs: DataFrame,
      trainPermille: Int = 900,
      valPermille: Int = 50,
      salt: String = "split-v1"): DataFrame =
    docs.withColumn("split", splitColumn(trainPermille, valPermille, salt))

  /** Every value the split column takes, in [[splitColumn]]'s order:
    * the first `trainPermille` buckets, the next `valPermille`, the
    * rest. The column is built from this list, so a consumer that
    * enumerates splits (the prep funnel) can never miss one. */
  val SplitNames: Seq[String] = Seq("train", "val", "test")

  /** The [[hashSplit]] assignment as a column — shared with
    * [[splitBalance]] so the audit can never drift from the split it
    * audits. */
  private def splitColumn(
      trainPermille: Int, valPermille: Int, salt: String): Column = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000, "permille thresholds must fit in [0, 1000]")
    val b = bucket(col("text"), salt, 1000)
    val Seq(train, valSplit, test) = SplitNames.map(lit)
    when(b < trainPermille, train)
      .when(b < trainPermille + valPermille, valSplit)
      .otherwise(test)
  }

  /** Split balance audit: does the content-hash split skew sources?
    * [[hashSplit]] guarantees leak-freedom, not balance — a source
    * whose documents happen to hash into `test` more than its corpus
    * share would make eval unrepresentative, and nobody notices
    * without this report. Per (split, source): docs, char mass, the
    * source's char share WITHIN the split vs its share of the WHOLE
    * corpus (both exact ppm via DECIMAL ↔ HUGEINT), and the absolute
    * gap — the number to alarm on (sum it per split for an L1
    * imbalance score). Shares a single split-assignment expression
    * with [[hashSplit]] (audit drift = lying audit).
    *
    * Scale shape: one scan → one groupBy(split, source); the three
    * totals frames are split- or source-bounded and broadcast back.
    * NULL sources are dropped (no balance contract for them); NULL
    * char counts weigh zero. */
  def splitBalance(
      docs: DataFrame,
      trainPermille: Int = 900,
      valPermille: Int = 50,
      salt: String = "split-v1"): DataFrame = {
    val g = docs.filter(col("source").isNotNull)
      .select(splitColumn(trainPermille, valPermille, salt).as("split"),
        col("source"), coalesce(col("n_chars"), lit(0L)).as("chars"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"))
    val splitTot = g.groupBy(col("split"))
      .agg(sum(col("chars")).as("split_chars"))
    val srcTot = g.groupBy(col("source"))
      .agg(sum(col("chars")).as("source_chars"))
    val corpTot = srcTot.agg(sum(col("source_chars")).as("total_chars"))
    def sharePpm(part: String, whole: String): Column =
      when(col(whole) > 0L, expr(
        s"CAST(CAST($part AS DECIMAL(38,0)) * 1000000 DIV $whole AS BIGINT)"))
        .otherwise(0L)
    g.join(broadcast(splitTot), Seq("split"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(corpTot))
      .select(col("split"), col("source"), col("n_docs"), col("chars"),
        sharePpm("chars", "split_chars").as("split_share_ppm"),
        sharePpm("source_chars", "total_chars").as("corpus_share_ppm"))
      .withColumn("abs_gap_ppm",
        abs(col("split_share_ppm") - col("corpus_share_ppm")))
  }

  /** Grouped k-fold assignment (the GroupKFold guard): every row of a
    * group lands in ONE fold — fold = md5-32(group ⊕ salt) mod k — so
    * cross-validation can never train on one document of a source and
    * validate on its sibling (group leakage, the cross-validation
    * twin of what [[hashSplit]]'s content hash prevents for exact
    * dups: hashSplit keys on the TEXT, this keys on the GROUP, and a
    * multi-doc source is exactly where the two differ). Deterministic,
    * no RNG, re-partition-stable; a NULL group has no leakage unit
    * and reports a NULL fold (assignable by neither side — the caller
    * decides, loudly). One narrow projection, zero shuffles.
    *
    * Fold sizes are as balanced as the group-size distribution
    * allows — a dominant group necessarily dominates its fold; that
    * is the price of the leakage guarantee and the reason the fold
    * column rides next to the group for auditing. */
  def groupedFold(
      docs: DataFrame, groupCol: String, k: Int = 5,
      salt: String = "fold-v1"): DataFrame = {
    require(k >= 2, s"fold count $k must be at least 2")
    docs.select(col("doc_id"), col(groupCol),
      pmod(OracleHash.md5Hash32(
        concat(col(groupCol).cast("string"), lit(salt))), lit(k.toLong))
        .as("fold"))
  }

  /** Mixture denominator: weights are exact rationals over 10000 so the
    * keep decision is an integer comparison. */
  private val MixDen = 10000

  /** Deterministic weighted mixture sampling per stratum (the
    * data-mixing step of a training run: "keep 100% of en, 50% of zh,
    * 25% of es…"). A document is kept iff its mixture bucket falls
    * below the stratum's weight: bucket·wDen < wNum·10000 — exact
    * integer arithmetic, so a weight like 1/3 is honored without any
    * float boundary. Strata missing from `weights` are DROPPED (weight
    * 0) — a mixture spec is a whitelist. Embarrassingly parallel scan;
    * the keep rate converges to the weight per stratum without any
    * shuffle or global count. */
  def mixSample(
      docs: DataFrame,
      weights: Map[String, (Int, Int)],
      stratum: String = "lang",
      salt: String = "mix-v1"): DataFrame = {
    weights.foreach { case (k, (num, den)) =>
      require(den > 0 && num >= 0 && num <= den, s"weight $num/$den for '$k' not in [0, 1]")
    }
    val b = bucket(col("text"), salt, MixDen)
    val keep = weights.foldLeft(lit(false)) { case (acc, (value, (num, den))) =>
      when(col(stratum) === value, b * den < lit(num.toLong) * MixDen).otherwise(acc)
    }
    docs.filter(keep).select(col("doc_id"), col(stratum))
  }

  /** Shard-local sequence packing by token budget: assign each document
    * to a shard (content bucket) and, within the shard's doc_id order,
    * to the sequence index its exclusive prefix token sum falls in —
    * consecutive documents fill ~`budgetTokens`-token sequences, the
    * contiguous-run shape a pretraining data loader consumes (docs may
    * straddle a boundary; the loader truncates/pads downstream).
    *
    * Scale: the window partitions by shard — `shards` independent
    * running sums, never a global sort or single-partition window. At
    * 100 TB, set `shards` ≈ the loader's file parallelism; each shard
    * streams independently. All arithmetic is integer (token counts,
    * prefix sums, truncating division on non-negative values). */
  def packBudget(
      docs: DataFrame,
      budgetTokens: Int = 2048,
      shards: Int = 32,
      salt: String = "pack-v1"): DataFrame = {
    require(budgetTokens > 0 && shards > 0, "budget and shard count must be positive")
    val d = docs.select(col("doc_id"),
      bucket(col("text"), salt, shards).as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        // exclusive prefix sum DIV budget — integer `div` end to end,
        // so neither side depends on double exactness
        expr(s"(cum - n_tokens) div ${budgetTokens}L").as("seq_idx"))
  }

  /** Quality-ranked corpus selection to a GLOBAL token budget: walk the
    * corpus in (quality_score DESC, doc_id) order and keep every
    * document whose inclusive running token total stays ≤ `budget` —
    * the curation step that cuts a cleaned corpus down to a target
    * training-token count, keeping the best documents first. This is a
    * PREFIX CUT on the inclusive running total: the first document that
    * would cross the budget ends the selection (every token count is
    * ≥ 1, so the running total is strictly increasing and nothing after
    * the straddler can fit) — the document that crosses is excluded
    * whole, never truncated.
    *
    * The naive plan — `sum() OVER (ORDER BY quality DESC, doc_id)` with
    * no partition — puts the ENTIRE corpus through one task. Instead
    * the running total is decomposed (same design rationale as the x30
    * HISTOGRAM quantiles):
    *
    *   1. per-VALUE aggregate: groupBy(quality_score) → token totals —
    *      map-side combinable, corpus-linear;
    *   2. value-level exclusive prefix over quality DESC — a window
    *      over the DISTINCT-VALUE aggregate, never raw documents;
    *   3. per-value inclusive running sum over doc_id — a window
    *      PARTITIONED by quality_score (parallel across values);
    *   4. global cum = value prefix + within-value running sum.
    *
    * The quality score is the x8 per-row expression tree (bit-exact in
    * both engines), so ordering and the value-equality join key are
    * deterministic; doc_id breaks ties totally. The DuckDB oracle
    * deliberately uses the naive single-window construction — the two
    * independent derivations cross-prove each other.
    *
    * Scale caveat (documented, x30-style): stage 3's parallelism is
    * bounded by the largest single-value group, and stage 2's window by
    * the distinct-value count. A continuous score spreads both; a
    * heavily-discretized score (few distinct values) degrades stage 3
    * toward per-value sorts — refine the score's granularity before
    * coarsening it. NULL texts are excluded by contract. */
  /** Curriculum-ordered shard export: write the corpus as `shards`
    * parquet files in GLOBAL quality order (easy → hard staged
    * training reads shard 0, 1, … in sequence and sees a monotone
    * difficulty ramp; deterministic tiebreak on doc_id).
    *
    * The scale point is the sort primitive: a global `orderBy` into
    * one writer is a single-task funnel, and `TakeOrderedAndProject`
    * (X31's bounded top-N) doesn't apply to a FULL ordering — the
    * scalable total sort is RANGE partitioning (sampled split points,
    * each shard owns a disjoint key range) + a per-shard local sort,
    * which is exactly `repartitionByRange + sortWithinPartitions`
    * (plan-pinned RangePartitioning in the spec). Cross-shard order
    * holds because ranges are disjoint; within-shard order by the
    * local sort — no stage ever holds more than one shard. */
  def curriculumExport(
      docs: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      shards: Int): Unit = {
    require(shards >= 1, s"shards must be at least 1, got $shards")
    // through the sink's crash-safe swap: a re-export that dies
    // mid-write must leave the PREVIOUS export readable (plain
    // Overwrite deletes the live table before writing a byte)
    writer.writeAndSwap(
      TextStats.withQuality(docs)
        .select(col("doc_id"), col("source"), col("quality_score"))
        .repartitionByRange(shards, col("quality_score").asc, col("doc_id").asc)
        .sortWithinPartitions(col("quality_score").asc, col("doc_id").asc),
      table)
    ()
  }

  /** Sliding-window chunking WITH OVERLAP — the training-sample
    * construction step for context-length fitting (`word_chunks` /
    * X44's chunking is a PARTITION: exact reassembly, dedup keys; this
    * is its strided sibling: windows of `window` tokens every `stride`
    * tokens, so a span near a chunk boundary still appears intact in
    * the next chunk — the standard long-document treatment when
    * truncation would lose the boundary context). The last window
    * starts at the final stride position and simply runs short —
    * every token is covered, the tail is never dropped.
    *
    * Per-row arithmetic only (chunk count = 1 + ceil((n−window)/stride)
    * in integer `div`, starts from `sequence`, bodies from codegen'd
    * `slice`) — embarrassingly parallel, no shuffle at all; output
    * rows ≈ corpus tokens × (1/stride) · window. */
  def overlapChunks(docs: DataFrame, window: Int = 12, stride: Int = 8): DataFrame = {
    require(window >= 1, s"window must be at least 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride (window $window)")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n") > window,
          expr(s"CAST((n - $window + $stride - 1) div $stride AS INT) + 1"))
          .otherwise(lit(1)))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("ci"))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("ci") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("toks"), col("ci") * stride + 1, lit(window)))
          .cast("long").as("chunk_tokens"))
  }

  /** Temperature-weighted mixture allocation (α = ½) — the standard
    * multi-source rebalancing step (Pile/FineWeb style: raw source
    * sizes span orders of magnitude, so sampling ∝ n flattens nothing
    * and sampling uniformly starves the big sources; weights ∝ √n are
    * the classic compromise): allocate an exact `budget` of documents
    * across sources with weights floor(√n_s), rounded by LARGEST
    * REMAINDER so the allocations sum to the budget exactly (never
    * budget±sources like independent rounding), each source capped at
    * its own size (an exhausted source under-fills the budget rather
    * than redistributing — deterministic and oracle-expressible), then
    * select each source's first alloc_s documents in content-hash
    * order (the md5-32 idiom — reproducible sampling, no RNG).
    *
    * Determinism: weights/allocation are integer driver math over the
    * per-source counts (sources are driver-bounded, the x38/x52
    * contract); floor(√·) over an integral double is IEEE-identical
    * across engines. The DuckDB oracle re-derives the whole allocation
    * in SQL — cross-proof of the largest-remainder arithmetic.
    *
    * Scale shape: one map-side count, one window per source over the
    * hash order. The selection filter is `rn <= alloc_s` with a
    * PER-SOURCE bound, which the WindowGroupLimit rewrite cannot
    * consume (it needs a literal) — so the filter ALSO carries the
    * static bound `rn <= max alloc` to restore the partial push-down:
    * each scan partition forwards at most max-alloc rows per source
    * and the dynamic cut runs on the survivors. */
  /** The pure allocation math of [[temperatureMix]], exposed for
    * property tests: √n weights, largest-remainder rounding to exactly
    * `budget` (before caps), each source capped at its own count.
    * NULL keys sort LAST (Ordering[String] NPEs on null; DuckDB's ASC
    * default is NULLS LAST, which the oracle's tiebreak mirrors). */
  private[graft] def temperatureAllocation(
      counts: Seq[(String, Long)], budget: Long): Seq[(String, Long)] = {
    def nullLast(s: String): (Boolean, String) = (s == null, Option(s).getOrElse(""))
    val weighted = counts.sortBy { case (s, _) => nullLast(s) }
      .map { case (s, n) => (s, n, math.sqrt(n.toDouble).toLong) }
    val totalW = weighted.map(_._3).sum
    // BigInt products: budget·w can pass 2⁶³ at production sizes
    val base = weighted.map { case (s, n, w) =>
      (s, n, (BigInt(budget) * w / totalW).toLong, (BigInt(budget) * w % totalW).toLong)
    }
    val remainder = base.map(_._3).foldLeft(budget)(_ - _)
    base.sortBy { case (s, _, _, rem) => (-rem, nullLast(s)) }
      .zipWithIndex
      .map { case ((s, n, b, _), i) =>
        (s, math.min(b + (if (i < remainder) 1L else 0L), n))
      }
  }

  def temperatureMix(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // NULL source is its own group (the x30/x52 lesson: never silently
    // drop a NULL key)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    require(counts.nonEmpty, "temperatureMix: empty corpus")
    val bonus = temperatureAllocation(counts, budget)
    val spark = docs.sparkSession
    import spark.implicits._
    val alloc = bonus.toDF("alloc_source", "alloc_s")
    val maxAlloc = bonus.map(_._2).max
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("pick_hash"), col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("pick_hash", OracleHash.md5Hash32(col("doc_id").cast("string")))
      .withColumn("rn", row_number().over(bySource))
      // literal bound first: restores the partial WindowGroupLimit
      .filter(col("rn") <= lit(maxAlloc))
      // null-SAFE join so the NULL-source group meets its allocation
      .join(broadcast(alloc), col("source") <=> col("alloc_source"))
      .filter(col("rn") <= col("alloc_s"))
      .select(col("source"), col("doc_id"),
        col("rn").cast("long").as("pick_rank"), col("alloc_s"))
  }

  /** Per-source document cap — the per-domain cap every crawl-derived
    * corpus applies (Common-Crawl-style pipelines bound any one domain's
    * share so boilerplate-heavy hosts can't dominate the mixture): keep
    * each source's top `maxPerSource` documents by quality, ranked
    * deterministically (the x8 per-row quality tree — bit-exact across
    * engines — with doc_id completing the total order), and report the
    * surviving rank.
    *
    * Scale shape: ONE shuffle on source, and the `rank <= N` filter
    * rewrites to a PARTIAL WindowGroupLimit below the exchange
    * (SPARK-37099, plan-pinned in the spec) — each scan partition
    * forwards at most N rows per source, so the exchange moves
    * O(sources × N × partitions), never the corpus; per-source state
    * after the exchange is the open top-N, not the source's documents. */
  def sourceCap(docs: DataFrame, maxPerSource: Int = 100): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    TextStats.withQuality(docs)
      .select(col("source"), col("doc_id"), col("quality_score"))
      .withColumn("rn", row_number().over(bySource))
      .filter(col("rn") <= maxPerSource)
      .select(col("source"), col("doc_id"),
        col("rn").cast("long").as("source_rank"), col("quality_score"))
  }

  /** Deterministic stratified sample — the held-out / eval-set
    * construction step (the set the decontamination family then
    * scrubs against): keep exactly `perStratum` documents per stratum,
    * ranked by a salted content hash (uniform over the stratum,
    * reproducible on any engine and any partitioning — no RNG) with
    * doc_id completing the total order. A different `salt` draws an
    * independent sample; identical texts always rank adjacently, so a
    * dedup BEFORE sampling keeps the draw honest.
    *
    * Scale shape: ONE shuffle on the stratum, and the literal
    * `rank <= N` bound rewrites to a PARTIAL WindowGroupLimit below
    * the exchange (the [[sourceCap]] / SPARK-37099 shape) — each scan
    * partition forwards at most N rows per stratum, so the exchange
    * moves O(strata × N × partitions), never the corpus. */
  def stratifiedSample(
      docs: DataFrame,
      perStratum: Int = 20,
      stratum: String = "lang",
      salt: String = "sample-v1"): DataFrame = {
    require(perStratum >= 1, s"perStratum must be at least 1, got $perStratum")
    // coalesce before hashing: a NULL text must get a rank too, and
    // NULL ordering differs across engines (Spark nulls-first vs
    // DuckDB NULLS LAST) — '' hashes identically everywhere
    val h = OracleHash.md5Hash32(concat(coalesce(col("text"), lit("")), lit(salt)))
    val byStratum = Window.partitionBy(col(stratum)).orderBy(h, col("doc_id"))
    docs
      .withColumn("rn", row_number().over(byStratum))
      .filter(col("rn") <= perStratum)
      .select(col("doc_id"), col(stratum),
        col("rn").cast("long").as("sample_rank"))
  }

  def budgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, s"token budget $budget must be non-negative")
    // both the value histogram and the final join consume this frame —
    // persist so the corpus scan + quality tree run once, not twice
    // (released below; the returned report is materialized)
    val scored = TextStats.withQuality(docs.filter(col("text").isNotNull))
      .select(col("doc_id"), col("quality_score"),
        col("n_tokens").cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val byValue = scored.groupBy(col("quality_score"))
        .agg(sum(col("n_tokens")).as("value_tokens"))
      val valuePrefix = byValue
        // exclusive prefix: tokens of all STRICTLY better quality values
        .withColumn("prefix_tokens",
          coalesce(sum(col("value_tokens")).over(
            Window.orderBy(col("quality_score").desc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("quality_score"), col("prefix_tokens"))
      val withinValue = Window.partitionBy(col("quality_score"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored
        // no broadcast hint: the prefix table is one row per DISTINCT
        // quality value — unbounded, and largest exactly when the score
        // is granular (the shape the caveat below recommends). AQE
        // broadcasts it when it measures small, shuffles when not.
        .join(valuePrefix, Seq("quality_score"))
        .withColumn("cum_tokens",
          col("prefix_tokens") + sum(col("n_tokens")).over(withinValue))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .localCheckpoint(true)
    } finally scored.unpersist(blocking = false)
  }

  /** Deterministic weighted sampling without replacement — priority
    * sampling (Duffield, Lund & Thorup 2007; the exponent-free form):
    * each doc draws a pseudo-uniform `u ∈ [1, 2³²]` from the salted
    * md5-32 of its id and competes with priority `w·2³² div u`
    * (integer-exact; a doc's win probability is proportional to its
    * weight), the top `k` priorities win. Weight = character count —
    * "sample by volume", the eval-set recipe when long docs should
    * appear proportionally to the tokens they contribute; the
    * UNIFORM sibling is X73's stratified sampler. Changing `salt`
    * redraws independently; the same salt is exactly reproducible —
    * sampling as a pure function of (corpus, config), the property
    * every ablation rerun needs.
    *
    * Scale shape: one codegen'd projection (md5 + integer ops) and a
    * `TakeOrderedAndProject` top-k — each map task forwards its own
    * top `k`, no global sort, no shuffle of the corpus. The priority
    * product runs in DECIMAL(38,0) ↔ HUGEINT (w·2³² exceeds BIGINT
    * past ~2³¹ chars). */
  def weightedSample(docs: DataFrame, k: Int = 100,
      salt: String = "ws1"): DataFrame = {
    require(k >= 1, s"sample size $k must be positive")
    docs
      .select(col("doc_id"),
        // greatest AFTER coalesce: Spark's greatest skips NULLs but
        // DuckDB's returns NULL — the null must die before the compare
        greatest(coalesce(col("n_chars"), lit(0L)), lit(1L)).cast("long")
          .as("weight"))
      .withColumn("u", graft.ext.OracleHash.md5Hash32(
        concat(lit(salt), lit(":"), col("doc_id").cast("string"))) + 1L)
      .withColumn("priority", expr(
        "CAST(CAST(weight AS DECIMAL(38,0)) * 4294967296 DIV u AS BIGINT)"))
      .orderBy(col("priority").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("weight"), col("priority"))
  }

  /** Recency-decayed mixing share: per key (source, event type, …),
    * the HALF-LIFE-weighted row mass and its share of the total — the
    * freshness-weighted sibling of [[temperatureMix]]'s count-based
    * allocation (a mixing budget that treats a five-year-old crawl
    * slice like last week's overweights stale data; exponential decay
    * is the standard fix, and a power-of-two half-life keeps it EXACT:
    * weight_ppm = 10⁶ >> (age_days div halfLifeDays), pure integer on
    * both engines — no float pow, no IEEE drift). Age is measured
    * backward from the frame's OWN newest row (corpus-derived, so the
    * result is a pure function of the data, not of run time), with
    * epoch days floor-divided (the X160 pre-1970 convention).
    *
    * The shift is GUARDED at 20 (10⁶ < 2²⁰): Java's `>>` masks the
    * shift amount to the low 6 bits — `x >> 64 == x`, not 0 — while
    * DuckDB zeroes it, so an unguarded old row would silently revive
    * at full weight on the Spark side (worked spec pins ages past the
    * guard).
    *
    * Scale shape: one max-day aggregate broadcast back onto the scan,
    * one groupBy(key) with map-side partials — two narrow passes, no
    * window, no join by key. mass_ppm sums row-weights ≤ 10⁶: BIGINT
    * holds past 9×10¹² rows per key.
    *
    * Output: (key, n_rows, mass_ppm, share_ppm). */
  def decayedMixShare(
      events: DataFrame, key: String, tsCol: String = "ts",
      halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays >= 1, s"half-life $halfLifeDays must be positive")
    val rows = events
      .filter(col(tsCol).isNotNull && col(key).isNotNull)
      .select(col(key),
        Stats.day(s"unix_micros(CAST($tsCol AS TIMESTAMP))").as("day"))
    // max over ONE tiny aggregate; crossJoin(broadcast) keeps the big
    // side un-shuffled
    val newest = rows.agg(max(col("day")).as("max_day"))
    val weighted = rows.crossJoin(broadcast(newest))
      // age is non-negative by construction (day <= max_day), so DIV
      // and floor agree here
      .withColumn("k", expr(s"(max_day - day) DIV $halfLifeDays"))
      .withColumn("w",
        when(col("k") < 20L,
          expr("shiftright(CAST(1000000 AS BIGINT), CAST(k AS INT))"))
          .otherwise(0L))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_rows"), sum(col("w")).as("mass_ppm"))
    val total = weighted.agg(sum(col("mass_ppm")).as("total_mass"))
    weighted.crossJoin(broadcast(total))
      .select(col(key), col("n_rows"), col("mass_ppm"),
        // the ×10⁶ product overflows BIGINT past ~9×10⁶ full-weight
        // rows — ride DECIMAL(38,0) ↔ HUGEINT; DIV lands back in Long
        expr("CAST(CAST(mass_ppm AS DECIMAL(38,0)) * 1000000" +
          " DIV total_mass AS BIGINT)").as("share_ppm"))
  }

  /** Deterministic NEGATIVE SAMPLING — the recsys/contrastive
    * training-pair builder: per user, `k` items they have NOT
    * interacted with, chosen by salted content hash so the sample is
    * reproducible, re-shardable, and engine-checkable (the module's
    * no-RNG discipline). THE SCALE POINT IS WHAT THIS DOES NOT DO:
    * it never materializes users × items (the naive anti-join domain
    * — 10⁹ users × 10⁸ items is not a frame). Instead each user gets
    * `candidates` PROBE slots; each probe hashes (salt, user, slot)
    * to an item index (md5-32, the one cross-engine hash), the
    * candidates are validated against the item dimension
    * (semi-join), de-duplicated (min-hash-value keeps the earliest
    * probe), anti-joined against the user's interactions, and the
    * first `k` survive under the (hash, item) total order. Cost is
    * O(users·candidates) — probe count, never the item domain.
    * `candidates` must give enough headroom over `k` that a user
    * whose probes collide with their positives still fills the
    * sample; the deterministic construction makes the shortfall
    * VISIBLE (a user row with fewer than k negatives), never
    * silently re-rolled.
    *
    * The probe hash lands on a DENSE RANK of the item dimension
    * (rank of `item_id` under its natural order), not on the raw id
    * value — sparse, offset, or non-numeric id spaces (UUIDs,
    * high-offset keys) sample exactly as well as dense ones, and
    * every probe maps to a real item. The rank is computed by a
    * distributed sort + zipWithIndex, never a single-task global
    * window. */
  def negativeSamples(
      interactions: DataFrame, items: DataFrame,
      k: Int = 5, candidates: Int = 15, salt: String = "neg7"): DataFrame = {
    require(k >= 1, s"k $k must be positive")
    require(candidates >= k, s"candidates $candidates must cover k $k")
    val dim = items.select(col("item_id")).distinct()
    val nItems = dim.count()
    require(nItems > 0, "negative sampling needs a non-empty item dimension")
    // dense index of the item dimension: idx = rank of item_id in the
    // sorted distinct id set. The mapping is a pure function of the id
    // SET (partition boundaries can vary; global positions cannot).
    val spark = items.sparkSession
    val idxField = org.apache.spark.sql.types.StructField(
      "item_idx", org.apache.spark.sql.types.LongType, nullable = false)
    val indexed = spark.createDataFrame(
      dim.sort(col("item_id")).rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      },
      org.apache.spark.sql.types.StructType(dim.schema.fields :+ idxField))
    val inter = interactions
      .select(col("user_id"), col("item_id")).distinct()
    val probes = inter.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(typedLit((0 until candidates).toList)).as("probe"))
      .withColumn("h", OracleHash.md5Hash32(
        concat(lit(salt + "|"), col("user_id"), lit("|"), col("probe"))))
      .withColumn("item_idx", pmod(col("h"), lit(nItems)))
    probes
      .join(indexed, Seq("item_idx"))
      .groupBy(col("user_id"), col("item_id")).agg(min(col("h")).as("h"))
      .join(inter, Seq("user_id", "item_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("h"), col("item_id"))).cast("int"))
      .filter(col("neg_rank") <= k)
      .select(col("user_id"), col("item_id"), col("neg_rank"))
  }

  /** EPOCH-REPETITION PLANNER — data-constrained mixture allocation
    * (the Muennighoff et al. 2023 "Scaling Data-Constrained Language
    * Models" regime): given per-source available token counts, a
    * global training-token budget, and a maximum repetition cap
    * (epochs, in ppm — 1 500 000 = each source may be seen at most
    * 1.5×), decide how many tokens each source contributes.
    *
    * Policy, all exact integer arithmetic (a budget is a CONTRACT —
    * float shares drift and the plan stops summing to the budget):
    *   1. uniform target: `budget div K` per source, remainder to the
    *      lexicographically smallest source (stated policy);
    *   2. cap: a source contributes at most
    *      `n_tokens · cap_ppm div 10⁶` tokens;
    *   3. ONE proportional redistribution round: the surplus the
    *      capped sources could not absorb is re-split across sources
    *      with headroom, proportional to that headroom (exact
    *      `surplus · headroom div total_headroom`, DECIMAL(38,0)
    *      staging so a 10¹²-token budget cannot overflow).
    * The integer-division dribble after round 3 is left UNALLOCATED
    * and visible (`budget − Σ alloc_tokens`) — a silent re-spread
    * would hide that the cap binds; callers wanting exhaustion raise
    * `capPpm` or the budget.
    *
    * Output per source: available tokens, uniform target, cap,
    * allocated tokens, and the resulting repetition `epochs_ppm =
    * alloc · 10⁶ div n_tokens`. One K-row frame end to end (K =
    * source count): every aggregate is map-side-combinable over the
    * input; the planner itself is dimension-sized, never corpus-
    * sized. */
  def epochPlan(
      perSource: DataFrame, budget: Long, capPpm: Long): DataFrame = {
    require(budget > 0, s"budget $budget must be positive")
    require(capPpm > 0, s"capPpm $capPpm must be positive")
    val base = perSource
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val k = base.select(countDistinct(col("source")).as("k"),
      min(col("source")).as("first_source"))
    val t1 = base.crossJoin(broadcast(k))
      .select(col("source"), col("n_tokens"),
        expr(s"${budget}L DIV k")
          .plus(when(col("source") === col("first_source"),
            pmod(lit(budget), col("k"))).otherwise(lit(0L)))
          .as("target_tokens"),
        expr(s"CAST(CAST(n_tokens AS DECIMAL(38,0)) * ${capPpm}" +
          " DIV 1000000 AS BIGINT)").as("cap_tokens"))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        col("cap_tokens"),
        least(col("target_tokens"), col("cap_tokens")).as("alloc1"))
    val tot = t1.agg(
      sum(col("target_tokens") - col("alloc1")).as("surplus"),
      sum(when(col("alloc1") < col("cap_tokens"),
        col("cap_tokens") - col("alloc1")).otherwise(lit(0L)))
        .as("headroom_total"))
    // extra never exceeds the source's own headroom: with surplus >
    // total headroom (budget beyond what the cap admits at all) every
    // source saturates its cap and the rest stays unallocated
    t1.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        col("cap_tokens"),
        (col("alloc1") + when(col("headroom_total") > 0,
          expr("least(CASE WHEN alloc1 < cap_tokens THEN" +
            " cap_tokens - alloc1 ELSE 0 END," +
            " CAST(CAST(surplus AS DECIMAL(38,0)) *" +
            " (CASE WHEN alloc1 < cap_tokens THEN cap_tokens - alloc1" +
            " ELSE 0 END) DIV headroom_total AS BIGINT))"))
          .otherwise(lit(0L))).as("alloc_tokens"))
      .withColumn("epochs_ppm",
        expr("CAST(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000" +
          " DIV n_tokens AS BIGINT)"))
  }

  /** PACKING-EFFICIENCY AUDIT — the trainer-facing rollup of
    * [[packBudget]]'s shard/sequence assignment ("how much of every
    * 2048-token window is real data"): per shard, sequence count,
    * docs, token mass, exact fill ppm against the budget, the count
    * of OVERFLOW sequences and the worst one. packBudget assigns by
    * START offset, so a sequence's last document can run past the
    * budget — fill_ppm can exceed 10⁶ and `n_overflow_seqs` counts
    * exactly the sequences where the trainer must truncate or spill;
    * the complement (fill below 10⁶ on the shard's LAST sequence) is
    * padding waste. Shares packBudget's construction verbatim, so the
    * audit can never drift from the packing it audits.
    *
    * Exact integers end to end (token counts, one integral ppm
    * division); two map-side rollups above the packing window —
    * sequence-sized, then shard-sized. */
  def packEfficiency(
      docs: DataFrame, budgetTokens: Int = 2048, shards: Int = 32,
      salt: String = "pack-v1"): DataFrame = {
    val seqs = packBudget(docs, budgetTokens, shards, salt)
      .groupBy(col("shard"), col("seq_idx"))
      .agg(sum(col("n_tokens")).as("seq_tokens"),
        count(lit(1)).as("n_docs"))
    seqs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("seq_tokens")).as("n_tokens"),
        sum(when(col("seq_tokens") > budgetTokens, 1L).otherwise(0L))
          .as("n_overflow_seqs"),
        max(col("seq_tokens")).as("max_seq_tokens"))
      .withColumn("fill_ppm",
        expr(s"CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000" +
          s" DIV (n_seqs * ${budgetTokens}L) AS BIGINT)"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING — the leakage-safe categorical
    * feature every tabular training pipeline derives (turn a category
    * into "the mean target of the OTHER rows in my category"): per
    * row, `loo = ⌊(S_cat − x_row) / (n_cat − 1)⌋` — the row's own
    * target is excluded, so the feature never memorizes its own
    * label (the naive per-category mean leaks the row's target into
    * its feature and a tree splits straight to it). Singleton
    * categories report NULL — there are no other rows, and NULL
    * stays distinguishable from a real mean of 0. X170's shrunk rate
    * is the AGGREGATE view (one smoothed rate per group); this is
    * the per-ROW feature column with self-exclusion.
    *
    * Exact integers: targets are cents (`⌊p·100 + 0.5⌋`, the x40
    * convention); `S_cat` rides DECIMAL(38,0) (10⁹ rows × 10⁷ cents
    * passes BIGINT); numerator and divisor are non-negative, so the
    * integral DIV is floor on both engines (stated contract: the
    * target is non-negative — mixed-sign targets would hit the
    * trunc-vs-floor divergence).
    *
    * Scale shape: one map-side-combinable category aggregate
    * (dimension-sized), broadcast back over the fact — no shuffle of
    * the fact table at all. */
  def looTargetEncoding(
      fact: DataFrame, category: String, target: Column): DataFrame = {
    val base = fact.select(col("o_orderkey"),
      col(category).as("category"), target.as("cents"))
      .filter(col("category").isNotNull && col("cents").isNotNull)
    val cats = base.groupBy(col("category"))
      .agg(count(lit(1)).as("n_cat"),
        sum(expr("CAST(cents AS DECIMAL(38,0))")).as("s_cat"))
    base.join(broadcast(cats), Seq("category"))
      .select(col("o_orderkey"), col("category"), col("cents"),
        col("n_cat"),
        when(col("n_cat") > 1, expr(
          "CAST((s_cat - cents) DIV (n_cat - 1) AS BIGINT)"))
          .as("loo_mean_cents"))
  }
}
