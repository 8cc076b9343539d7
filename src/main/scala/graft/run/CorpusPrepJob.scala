package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Assemble, Dedup, TextStats}
import graft.sinks.StagingWriter
import graft.sources.JsonlIngest

/** The ONE runnable end-to-end curation pipeline — the LLM-data analog
  * of [[Platform.initialDataLoad]]'s lifecycle composition (the
  * reference's identity is composing its operators into a single
  * launched job, app.py:146-189; this is the same move over the corpus
  * operators): ingest → normalize → quality gate → exact dedup →
  * MinHash near-dup components + canonical rewrite → decontaminate →
  * split → pack/export, with a per-stage funnel row published and the
  * artifacts laid out exactly where the incremental ingest loops
  * ([[Dedup.MinhashIndex]]'s `ingestQuery` and `append`) expect to
  * grow them.
  *
  * Every stage is an operator verified solo in its own gate query; the
  * job pins their COMPOSITION — the ordering constraints that only
  * show up end-to-end (exact dedup must precede near-dup or planted
  * copies flood the pair set; decontamination runs on the deduped
  * survivors so eval hits are counted once; the split hashes the
  * CLEANED text so a near-dup pair can never straddle train/test).
  *
  * Scale shape: the corpus flows through narrow projections and the
  * operators' own bounded shuffles. The two text-bearing intermediates
  * that feed multiple consumers are persisted and RELEASED in a
  * finally (the sourceDrift ownership convention); the near-dup pair
  * set is materialized once ([[Dedup.minhashNeardupMaterialized]]);
  * everything durable lands in the warehouse via the staging writer.
  * Nothing is ever collected to the driver except funnel counts
  * (one row per stage).
  */
object CorpusPrepJob {

  /** Knobs of a prep run. Defaults mirror the solo-operator gate
    * queries so the composed funnel stays oracle-checkable. */
  final case class PrepConfig(
      neardupThreshold: Double = 0.8,
      decontamNgram: Int = 13,
      trainPermille: Int = 900,
      valPermille: Int = 50,
      splitSalt: String = "split-v1",
      packTokens: Int = 2048,
      packShards: Int = 32,
      curriculumShards: Int = 8,
      /** When set, the train split is additionally temperature-mixed
        * to this document budget and the selection is written as the
        * `train_mix` artifact. */
      mixBudget: Option[Long] = None,
      /** When true, the input text is raw web markup: the pipeline
        * prepends the HTML→text extraction ([[TextStats.htmlToText]])
        * as stage 0, before normalization. The extraction is a pure
        * per-row projection — it fuses into the normalize scan, no
        * extra pass. */
      htmlInput: Boolean = false,
      /** When non-empty, the C4 blocklist gate
        * ([[TextStats.blocklistFilter]]) runs between the Gopher gate
        * and exact dedup: any document containing a listed TOKEN
        * (whitespace-delimited exact match — 'customer.' or
        * 'customers' are NOT caught by 'customer'; C4's published
        * gate is substring-based and therefore stricter) drops,
        * and the funnel gains a `2b_blocklist_passed` row. Empty
        * (default) leaves the pipeline and its funnel BYTE-identical
        * to the ungated form — the x62/x68 gate rows depend on that. */
      blocklist: Seq[String] = Nil,
      /** When false, [[run]] skips the derived EXPORTS (packed train
        * sequences, curriculum, mixture) — they are re-derivable from
        * the corpus table at compaction cadence ([[refreshArtifacts]]),
        * so a caller that ingests continuously can defer them instead
        * of paying the export sorts on every initial load. The corpus,
        * the MinHash index, and the funnel always land. */
      exports: Boolean = true,
      /** When true, the funnel gains two AUDIT rows over the written
        * corpus (VERDICT r14 task 6 — the x274/x277 operators surfaced
        * in the run report a curation team actually watches):
        * `7_audit_cross_split_pairs` = near-dup pairs whose BOTH
        * endpoints survived into the corpus with DIFFERENT splits
        * (0 by construction — the canonical rewrite keeps at most one
        * member per component; a non-zero row means the
        * dedup-before-split invariant broke), and `7_audit_pii_docs`
        * = corpus docs with >= 1 registry PII hit (the scrubbing
        * backlog). Default OFF: the default funnel stays
        * BYTE-identical — the x62/x68 gate rows depend on that (the
        * blocklist convention). */
      auditRows: Boolean = false)

  /** What a run leaves behind: the funnel (one row per stage — the
    * observability row a curation team watches), the same counts as a
    * driver-side map, the quarantine count (JSONL entry point only),
    * and the warehouse tables written. */
  final case class PrepReport(
      funnel: DataFrame,
      stageCounts: Map[String, Long],
      quarantined: Long,
      artifacts: Seq[String])

  /** Table names of the durable artifacts a run lays out. */
  val CorpusTable = "corpus_clean"
  val IndexTable = "corpus_minhash"

  /** Every table an [[increment]] batch appends a slice to — the
    * rollback set of the replay protocol, derived from the index's own
    * artifact list so the two can never drift. */
  private def batchSliceTables: Seq[String] =
    CorpusTable +: Dedup.MinhashIndex.artifacts.map(IndexTable + _)
  val PackedTable = "train_packed"
  val CurriculumTable = "curriculum"
  val FunnelTable = "prep_funnel"
  val MixTable = "train_mix"

  /** Run the full prep pipeline over an already-loaded document frame
    * (`doc_id, text, ...` — extra columns ride along). `evalDocs`
    * carries the benchmark/eval texts to decontaminate against. */
  def run(
      docs: DataFrame,
      evalDocs: DataFrame,
      writer: StagingWriter,
      cfg: PrepConfig = PrepConfig()): PrepReport =
    stages(docs, evalDocs, cfg)(
      standing = identity, history = identity,
      // the split rides the cleaned corpus to disk — THE durable
      // deliverable — through the crash-safe swap: a re-run that dies
      // mid-write must leave the PREVIOUS corpus readable. Downstream
      // reads it back, so its lineage starts at the warehouse, not at
      // the raw scan.
      land = { withSplit =>
        writer.writeAndSwap(withSplit, CorpusTable)
        writer.read(CorpusTable)
      }) { (corpus, funnel) =>
      // the index build, the derived exports and the funnel are
      // INDEPENDENT actions over disjoint tables, all downstream of the
      // one corpus write — [[writeTailArtifacts]] runs them from a small
      // thread pool (guide §2.6 overlap; r15 — the tail was 4-6
      // sequential actions, each leaving most cores idle at bench
      // scale). Per-table artifacts are byte-identical to the
      // sequential order.
      val (written, exportArtifacts) = writeTailArtifacts(cfg, writer, corpus, funnel)
      report(written, Seq(CorpusTable, IndexTable) ++ exportArtifacts :+ FunnelTable)
    }

  /** The ONE stage chain [[run]] and [[increment]] share — an
    * incremental tick is the initial load's work bounded by the batch:
    * landing (optional HTML→text, fused into the normalize scan) →
    * normalize → Gopher gate → optional blocklist → exact dedup →
    * near-dup component rewrite → decontaminate → split, plus the lazy
    * funnel over those stages. The callers supply only what differs:
    *
    *   - `standing`: applied to the exact-dedup survivors before they
    *     are persisted (the increment's standing-corpus anti-join);
    *   - `history`: applied to the near-dup rewrite's survivors (the
    *     increment's stored-index probe);
    *   - `land`: where the split frame lands; the funnel counts `5_clean`
    *     and the split rows over what it returns.
    *
    * `finish` receives the landed frame and the LAZY funnel and runs
    * inside the chain's scope: the two text-bearing intermediates that
    * feed several consumers (the normalized batch and the exact-dedup
    * survivors) are persisted here and RELEASED in the finally (the
    * sourceDrift ownership convention), so every funnel leg must
    * materialize before `finish` returns. */
  private def stages[A](docs: DataFrame, evalDocs: DataFrame, cfg: PrepConfig)(
      standing: DataFrame => DataFrame,
      history: DataFrame => DataFrame,
      land: DataFrame => DataFrame)(
      finish: (DataFrame, DataFrame) => A): A = {
    val landed =
      if (cfg.htmlInput) docs.withColumn("text", TextStats.htmlToText(col("text")))
      else docs
    val normalized = TextStats.normalized(landed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // gopher pass-ids computed ONCE, eagerly checkpointed (r15): the
    // dedup gate join AND the 2_gate_passed funnel count consume it —
    // lazily each re-ran the regex-heavy gopherRules text pass (r16 A/B
    // re-confirmed on the increment: ~0.6 s slower per tick)
    val gateIds = TextStats.gopherRules(normalized)
      .filter(col("passes")).select("doc_id").localCheckpoint(true)
    val gated = {
      val gated0 = normalized.join(gateIds, "doc_id")
      // optional C4 blocklist gate — empty list leaves the frame (and
      // therefore every downstream count) byte-identical
      if (cfg.blocklist.isEmpty) gated0
      else gated0.join(
        TextStats.blocklistFilter(gated0, cfg.blocklist)
          .filter(col("flagged")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
    // exact dedup keeps the lowest doc_id per content hash — ONE
    // shuffle on the hash; dup groups are tiny. Persisted: feeds the
    // pair set, the component join, decontamination, the funnel.
    val exactKept = {
      val byHash = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      standing(gated.withColumn("__rn", row_number().over(byHash))
        .filter(col("__rn") === 1).drop("__rn"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // near-dup pairs → components (star contraction — label-identical
      // to min-label propagation, spec-proved, but O(log n) rounds where
      // a boilerplate chain stalls min-label) → canonical keeper;
      // non-keepers are rewritten away. The pair set is materialized
      // once and also feeds the audit rows.
      val pairs = Dedup.minhashNeardupMaterialized(exactKept, cfg.neardupThreshold)
      val components = Dedup.dupComponentsStar(pairs)
      val keepers = Dedup.canonicalPick(exactKept, components)
      val dropIds = components
        .join(keepers.select(col("component"), col("keeper_id")), "component")
        .filter(col("doc_id") =!= col("keeper_id"))
        .select("doc_id")
      val neardupKept = history(exactKept.join(dropIds, Seq("doc_id"), "left_anti"))

      // benchmark decontamination over the deduped survivors
      val contaminatedIds = Dedup
        .decontaminate(neardupKept, evalDocs, cfg.decontamNgram)
        .filter(col("contaminated")).select("doc_id")
      val clean = neardupKept.join(contaminatedIds, Seq("doc_id"), "left_anti")

      // the content-hash split attaches as a COLUMN (splitAssigned):
      // joining hashSplit back would evaluate the clean subtree — the
      // whole decontamination pass — twice inside the one landing action
      val split = land(Assemble.splitAssigned(
        clean, cfg.trainPermille, cfg.valPermille, cfg.splitSalt))
      finish(split, funnel(cfg, Seq(
        "1_raw" -> normalized, "2_gate_passed" -> gateIds) ++
        (if (cfg.blocklist.isEmpty) Nil else Seq("2b_blocklist_passed" -> gated)) ++
        Seq("3_exact_unique" -> exactKept, "4_neardup_kept" -> neardupKept),
        split, pairs))
    } finally {
      normalized.unpersist(blocking = false)
      exactKept.unpersist(blocking = false)
    }
  }

  /** The funnel: one unioned aggregate query — every count is an
    * integer aggregate, map-side combinable, one small row per stage —
    * over the named stage frames, then `5_clean` and one
    * `6_split_<split>` row per split over the LANDED frame (≡ clean:
    * the split column is 1:1, so the decontamination subtree is never
    * evaluated a second time), then the opt-in audit rows. The
    * blocklist row exists only when configured and the audit rows only
    * on opt-in, so the default funnel stays byte-identical (x62/x68 pin
    * it). LAZY: the caller checkpoints it once. */
  private def funnel(
      cfg: PrepConfig, counted: Seq[(String, DataFrame)],
      split: DataFrame, pairs: DataFrame): DataFrame = {
    def stage(name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("stage"), col("n_docs"))
    val base = (counted :+ ("5_clean" -> split))
      .map { case (name, d) => stage(name, d) }.reduce(_ unionByName _)
      .unionByName(split.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .select(concat(lit("6_split_"), col("split")).as("stage"), col("n_docs")))
    if (!cfg.auditRows) base
    else base.unionByName(auditFunnelRows(pairs, split))
  }

  /** The two opt-in audit rows (cfg.auditRows — see the knob's
    * scaladoc): both read the LANDED split frame — the written corpus
    * of a [[run]], the batch survivors of an [[increment]] — so they
    * audit what downstream actually consumes, not an intermediate. The
    * leakage join touches only the (small) pair set — pairs whose
    * endpoints were rewritten away vanish at the inner join; the PII row
    * is one codegen'd predicate sum riding a scan. */
  private def auditFunnelRows(pairs: DataFrame, corpus: DataFrame): DataFrame = {
    val leaky = Dedup
      .splitLeakage(pairs, corpus.select(col("doc_id"), col("split")))
      .filter(col("is_cross"))
      .agg(coalesce(sum(col("n_pairs")), lit(0L)).as("n_docs"))
      .select(lit("7_audit_cross_split_pairs").as("stage"), col("n_docs"))
    val pii = corpus
      .agg(coalesce(sum(TextStats.piiAnyHit.cast("long")), lit(0L))
        .as("n_docs"))
      .select(lit("7_audit_pii_docs").as("stage"), col("n_docs"))
    leaky.unionByName(pii)
  }

  private def report(funnel: DataFrame, artifacts: Seq[String]): PrepReport =
    PrepReport(funnel, funnel.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      quarantined = 0L, artifacts = artifacts)

  /** The tail of [[run]]: the MinHash index build, the derived
    * exports ([[writeExports]], unless the caller defers them with
    * `cfg.exports`) and the funnel write — independent jobs over
    * disjoint tables, all downstream of the corpus write — submitted
    * from a 3-thread [[graft.util.FanOut]] so each job's tasks back-fill
    * the ramp/tail idle of the others (guide §2.6; r15). The funnel
    * frame passed in is LAZY — it is checkpointed once, inside its task,
    * before the write, so the table write and the caller's counts
    * collect read one evaluation. On a failure the surviving siblings'
    * jobs are cancelled and their threads joined before the rethrow
    * (ADVICE r15): no background write may race the caller's
    * finally-unpersist or mutate tables after the run reported failure.
    * Returns the written funnel and the export tables. */
  private def writeTailArtifacts(
      cfg: PrepConfig, writer: StagingWriter, corpus: DataFrame,
      funnelLazy: DataFrame): (DataFrame, Seq[String]) = {
    // each task yields (funnel frame, export tables) — at most one of
    // the two non-empty
    val done = graft.util.FanOut.all[(Option[DataFrame], Seq[String])](
      corpus.sparkSession.sparkContext, threads = 3)(Seq(
      () => {
        Dedup.MinhashIndex.build(corpus, writer, IndexTable)
        (None, Nil)
      },
      () => (None, if (cfg.exports) writeExports(cfg, writer, corpus) else Nil),
      () => {
        val f = funnelLazy.localCheckpoint(true)
        writer.write(f, FunnelTable, append = false)
        (Some(f), Nil)
      }))
    (done.flatMap(_._1).head, done.flatMap(_._2))
  }

  /** The derived exports over a corpus table — the packed train
    * sequences, the curriculum export and the optional mixture — each
    * through the crash-safe [[graft.sinks.StagingWriter.writeAndSwap]]
    * (a plain Overwrite deletes the live table before writing a byte).
    * Returns the tables written. */
  private def writeExports(
      cfg: PrepConfig, writer: StagingWriter, corpus: DataFrame): Seq[String] = {
    val train = corpus.filter(col("split") === "train")
    writer.writeAndSwap(
      Assemble.packBudget(train, cfg.packTokens, cfg.packShards), PackedTable)
    Assemble.curriculumExport(corpus, writer, CurriculumTable, cfg.curriculumShards)
    val mix = cfg.mixBudget.toSeq.map { budget =>
      writer.writeAndSwap(Assemble.temperatureMix(train, budget), MixTable)
      MixTable
    }
    Seq(PackedTable, CurriculumTable) ++ mix
  }

  /** The refresh leg of the lifecycle — [[run]] is the corpus analog
    * of [[Platform.initialDataLoad]]; this is its `refreshData`: clean
    * a NEW batch against the STANDING artifacts and grow them, never
    * re-touching history. It runs [[run]]'s stage chain with the two
    * incremental twists a production tick needs:
    *
    *   - exact dedup is within-batch AND against the standing corpus
    *     (content digests computed at the corpus scan — text never
    *     shuffles for the anti-join's build side);
    *   - near-dup is within-batch (components + canonical keeper)
    *     THEN a probe of the survivors against the stored MinHash
    *     index ([[Dedup.neardupAgainstIndex]]) — history always wins,
    *     the streaming loop's semantic, and no standing signature is
    *     ever recomputed.
    *
    * Survivors append to the corpus table and the index
    * ([[Dedup.MinhashIndex]]), so the NEXT tick — batch or
    * streaming — sees this one as history. The curriculum/pack exports
    * are compaction-cadence jobs, deliberately NOT re-run per tick
    * (re-sorting the full corpus per batch would be quadratic over a
    * day of ticks); [[refreshArtifacts]] re-derives them. The returned
    * funnel describes THIS batch only and is not written over the
    * initial run's funnel table — publishing cadence belongs to the
    * caller.
    *
    * Delivery semantics: EXACTLY-ONCE per batch when a `batchId` is
    * supplied — the tick then runs the flat-table replay protocol:
    *
    *   1. a batch whose commit marker exists is SKIPPED wholesale (the
    *      crashed run finished its appends; replay is a no-op);
    *   2. otherwise every partial slice the crashed attempt may have
    *      left — corpus and all three index artifacts — is ROLLED BACK
    *      by its `b<batchId>_` file-name discriminator
    *      ([[graft.sinks.StagingWriter.deleteBatchSlice]]) BEFORE any
    *      frame reads the standing tables, so the recomputation sees
    *      exactly the pre-batch state (and the anti-joins can never
    *      count the batch's own crashed appends as history);
    *   3. the appends land as named slices
    *      ([[graft.sinks.StagingWriter.appendBatchSlice]]) and the
    *      commit marker is written LAST — the tick's commit point.
    *
    * WITHOUT a `batchId` the appends are plain flat appends:
    * at-most-once per batch, the caller owns replay. The streaming
    * loop (`Dedup.MinhashIndex.ingestQuery`) keeps
    * its own idempotence protocol (ingest_batch-partition overwrite) —
    * use it when batches arrive as a stream. */
  def increment(
      newDocs: DataFrame,
      evalDocs: DataFrame,
      writer: StagingWriter,
      cfg: PrepConfig = PrepConfig(),
      batchId: Option[Long] = None): PrepReport = {
    if (batchId.exists(writer.batchCommitted(CorpusTable, _)))
      return PrepReport(
        emptyFunnel(newDocs.sparkSession), Map.empty, quarantined = 0L,
        artifacts = Seq(CorpusTable, IndexTable))
    // rollback BEFORE any read below lists the standing tables
    batchId.foreach { id =>
      batchSliceTables.foreach(t => writer.deleteBatchSlice(t, id))
    }
    stages(newDocs, evalDocs, cfg)(
      // standing-corpus digests ride the scan projection — narrow
      standing = batchUniq => batchUniq.join(
        writer.read(CorpusTable).select(md5(col("text")).as("__corpus_hash")).distinct(),
        md5(batchUniq("text")) === col("__corpus_hash"), "left_anti"),
      // eager: the component rewrite + stored-index probe chain is the
      // tick's most expensive subtree and BOTH the split chain and the
      // funnel read it — without the checkpoint each consumer re-ran
      // the probe. Batch-bounded, so the materialization is cheap at
      // any corpus scale.
      history = batchKept => batchKept.join(
        Dedup.neardupAgainstIndex(batchKept, writer, IndexTable, cfg.neardupThreshold)
          .select(col("b_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").localCheckpoint(true),
      // eager before the appends: the writes must see ONE evaluation
      // of the batch chain, and the corpus append must not re-read the
      // corpus it is appending to via the anti-join lineage
      land = _.localCheckpoint(true)) { (withSplit, funnelLazy) =>
      // the funnel is ALSO materialized before the artifacts grow — a
      // lazy count evaluated after the append would re-run the
      // standing-corpus anti-join against a corpus that now contains
      // this batch's own survivors and report them as duplicates
      val funnel = funnelLazy.localCheckpoint(true)
      batchId match {
        case Some(id) =>
          writer.appendBatchSlice(withSplit, CorpusTable, id)
          Dedup.MinhashIndex.appendBatchSlice(withSplit, writer, IndexTable, id)
          writer.commitBatch(CorpusTable, id) // the tick's commit point
        case None =>
          writer.write(withSplit, CorpusTable, append = true)
          Dedup.MinhashIndex.append(withSplit, writer, IndexTable)
      }
      report(funnel, Seq(CorpusTable, IndexTable))
    }
  }

  /** The funnel's (stage, n_docs) shape with no rows — what a replayed,
    * already-committed [[increment]] batch reports. */
  private def emptyFunnel(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("stage", StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false))))
  }

  /** The compaction-cadence job [[increment]]'s contract defers to:
    * re-derive every derived artifact from the (appended-to) corpus
    * table — a fresh MinHash index built in one pass (collapsing the
    * per-tick append files) and the derived exports ([[writeExports]]).
    * Run this when the tick count makes the index's file listing
    * expensive or the exports stale; the corpus table itself is never
    * rewritten (it is the source of truth the derivations read).
    *
    * CRASH-SAFE throughout: the index rebuild stages all three
    * artifacts under `__rebuild*` names and swaps them in through the
    * sink's backup protocol (`Dedup.MinhashIndex.rebuild` — a refresh
    * that dies mid-rebuild leaves the PREVIOUS index probe-consistent,
    * which matters because the INCREMENTAL ingest loops keep probing
    * it between refreshes), and every export is swapped in the same
    * way. */
  def refreshArtifacts(
      writer: StagingWriter,
      cfg: PrepConfig = PrepConfig()): Unit = {
    // An UNCOMMITTED crashed tick's slices must not be absorbed: the
    // batch is still replayable, and baking its rows into fresh
    // (undiscriminated) index/export files would make the replay's
    // rollback a no-op and its recompute see the crashed attempt as
    // history (every batch doc self-near-dups against its own crashed
    // copy and the batch vanishes). Roll such slices back first —
    // exactly what the replay itself would do on arrival.
    val committed = writer.committedBatchIds(CorpusTable)
    batchSliceTables.foreach { t =>
      (writer.batchSliceIds(t) -- committed)
        .foreach(id => writer.deleteBatchSlice(t, id))
    }
    val corpus = writer.read(CorpusTable)
    Dedup.MinhashIndex.rebuild(corpus, writer, IndexTable)
    writeExports(cfg, writer, corpus)
    ()
  }


  /** JSONL landing entry point: quarantine-splitting ingest
    * ([[JsonlIngest]]), then [[run]] over the parsed side. The
    * quarantine is written as a durable table (re-ingest fodder) and
    * its count lands in the report; the shared ingest cache is
    * released once both sides are consumed (the Split ownership
    * contract). */
  def runFromJsonl(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      evalDocs: DataFrame,
      writer: StagingWriter,
      cfg: PrepConfig = PrepConfig()): PrepReport = {
    val split = JsonlIngest.read(spark, path, schema)
    try {
      val quarantined = writer.write(split.quarantined, "quarantine", append = false)
      val report = run(split.docs, evalDocs, writer, cfg)
      report.copy(
        quarantined = quarantined,
        artifacts = report.artifacts :+ "quarantine")
    } finally split.unpersist()
  }
}
