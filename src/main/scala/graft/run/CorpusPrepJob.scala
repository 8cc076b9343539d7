package graft.run

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
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
  * operators' own bounded shuffles. The text-bearing stages that feed
  * multiple consumers are materialized once each (the normalized batch
  * persisted, the dedup survivors checkpointed) and RELEASED in a
  * finally (the sourceDrift ownership convention); the exact-dedup
  * survivors are signed once ([[Dedup.Signatures]]: one shingle parse,
  * one signed row per document) and that signature feeds the near-dup
  * pair set, an increment's index probe and its index append;
  * everything durable lands in the warehouse via the staging writer.
  * The driver receives the funnel counts (observe metrics, one per
  * stage) and, only through the bounded collect class, integer rows:
  * the signature's per-document hash arrays, in one collect, and the
  * stored index rows a probe touches, at most
  * [[Dedup.LocalMaxShingleRows]] shingles per read in total, and
  * candidate pairs and near-dup edges under
  * [[Dedup.StarLocalMaxEdges]]. Above a bound the step runs
  * distributed; text never reaches the driver.
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
    stages(docs, evalDocs, cfg, Dedup.LocalMaxShingleRows)(
      standing = identity, history = None,
      // the split rides the cleaned corpus to disk — THE durable
      // deliverable — through the crash-safe swap: a re-run that dies
      // mid-write must leave the PREVIOUS corpus readable. Downstream
      // reads it back, so its lineage starts at the warehouse, not at
      // the raw scan.
      land = { withSplit =>
        writer.writeAndSwap(withSplit, CorpusTable)
        writer.read(CorpusTable)
      }) { (corpus, funnel, _) =>
      // the index build, the derived exports and the funnel write are
      // INDEPENDENT actions over disjoint tables, all downstream of the
      // one corpus write — [[writeTailArtifacts]] runs them from a small
      // thread pool (guide §2.6 overlap; r15 — the tail was 4-6
      // sequential actions, each leaving most cores idle at bench
      // scale). Per-table artifacts are byte-identical to the
      // sequential order.
      val exportArtifacts = writeTailArtifacts(cfg, writer, corpus, funnel)
      report(funnel, Seq(CorpusTable, IndexTable) ++ exportArtifacts :+ FunnelTable)
    }

  /** The ONE stage chain [[run]] and [[increment]] share — an
    * incremental tick is the initial load's work bounded by the batch:
    * landing (optional HTML→text, fused into the normalize scan) →
    * normalize → Gopher gate → optional blocklist → exact dedup →
    * near-dup component rewrite → decontaminate → split, plus the
    * funnel over those stages. The callers supply only what differs:
    *
    *   - `standing`: applied to the exact-dedup survivors before they
    *     are materialized (the increment's standing-corpus anti-join);
    *   - `history`: near-dup pairs (b_id = signed doc) of the
    *     exact-dedup survivors' signature against earlier data (the
    *     increment's stored-index probe). It probes every exact survivor:
    *     a pair whose b_id the rewrite already dropped leaves the
    *     anti-join unchanged. Given one, the rewrite's survivors minus
    *     its b_ids are materialized for the landing; without one they
    *     stay lazy and one narrow job counts them;
    *   - `land`: where the split frame lands.
    *
    * The exact-dedup survivors are signed ONCE ([[Dedup.Signatures]]:
    * one shingle parse, at most one bounded collect). The signature
    * feeds the within-batch verify and `history`, and `finish` receives
    * it for the index append; without `history` the verify is its last
    * reader ([[run]] indexes the written corpus) and it is released
    * right after.
    *
    * Every other funnel count rides, as an observe metric, an action
    * that runs anyway: `1_raw` and `2_gate_passed` the gate checkpoint,
    * `2b_blocklist_passed` and `3_exact_unique` the exact-dedup
    * checkpoint, `4_neardup_kept` the probe survivors' checkpoint, and
    * `5_clean` and the `6_split_*` rows the landing — no separate
    * funnel query. The stages are local checkpoints, not persists: a
    * cached plan keeps its shuffle partitioning, while AQE coalesces a
    * checkpoint's, and the slice writes' file counts follow it.
    * `finish` receives the landed frame and the funnel and runs inside
    * the chain's scope: the normalized batch (persisted) and every
    * checkpoint the chain made, the landed frame's included, are
    * RELEASED in the finally (the sourceDrift ownership convention) —
    * nothing lingers in the session's storage until a driver GC lets
    * the context cleaner find it. */
  private def stages[A](
      docs: DataFrame, evalDocs: DataFrame, cfg: PrepConfig, localMaxShingleRows: Long)(
      standing: DataFrame => DataFrame,
      history: Option[Dedup.Signatures => DataFrame],
      land: DataFrame => DataFrame)(
      finish: (DataFrame, DataFrame, Dedup.Signatures) => A): A = {
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var signature = Option.empty[Dedup.Signatures]
    // no observed count may sit where AQE can prune it at runtime (the
    // side of an anti-join that turns out empty): its Observation would
    // complete with no row at all
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation()
      (df.observe(obs, count(lit(1)).as("n")), obs)
    }
    def n(obs: Observation): Long = obs.get("n").asInstanceOf[Long]
    def checkpointed(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      owned += cp
      cp
    }
    val landed =
      if (cfg.htmlInput) docs.withColumn("text", TextStats.htmlToText(col("text")))
      else docs
    val (normalizedObs, raw) = observed(TextStats.normalized(landed))
    val normalized = normalizedObs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // gopher pass-ids computed ONCE, eagerly checkpointed (r15): the
      // dedup gate join consumes it, and this one action also carries
      // the raw and gate-passed counts — lazily the regex-heavy
      // gopherRules text pass re-ran per consumer (r16 A/B re-confirmed
      // on the increment: ~0.6 s slower per tick)
      val (gateIdsLazy, gatePassed) = observed(TextStats.gopherRules(normalized)
        .filter(col("passes")).select("doc_id"))
      val gateIds = checkpointed(gateIdsLazy)
      val (gated, blocklistPassed) = {
        val gated0 = normalized.join(gateIds, "doc_id")
        // optional C4 blocklist gate — empty list leaves the frame (and
        // therefore every downstream count) byte-identical
        if (cfg.blocklist.isEmpty) (gated0, None)
        else {
          val (g, obs) = observed(gated0.join(
            TextStats.blocklistFilter(gated0, cfg.blocklist)
              .filter(col("flagged")).select("doc_id"),
            Seq("doc_id"), "left_anti"))
          (g, Some(obs))
        }
      }
      // exact dedup keeps the lowest doc_id per content hash — ONE
      // shuffle on the hash; dup groups are tiny. Materialized here, so
      // the near-dup step's own jobs start from stored rows: it feeds
      // the pair set, the component join and the rewrite.
      val (exactKeptLazy, nExact) = {
        val byHash = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        observed(standing(gated.withColumn("__rn", row_number().over(byHash))
          .filter(col("__rn") === 1).drop("__rn")))
      }
      val exactKept = checkpointed(exactKeptLazy)
      // near-dup pairs → components (star contraction — label-identical
      // to min-label propagation, spec-proved, but O(log n) rounds where
      // a boilerplate chain stalls min-label) → canonical keeper;
      // non-keepers are rewritten away. The pair set is materialized
      // once and also feeds the audit rows.
      val signed = Dedup.Signatures.of(exactKept, localMaxShingleRows)
      signature = Some(signed)
      val pairs = signed.pairs(cfg.neardupThreshold)
      owned += pairs
      // run's index is built from the written corpus
      if (history.isEmpty) signed.release()
      val within = exactKept.join(
        Dedup.nonKeepers(exactKept, Dedup.dupComponentsStar(pairs)), Seq("doc_id"), "left_anti")
      val (neardupKept, nKept) = history match {
        // the survivors stay lazy — the landing is their only reader —
        // and are counted by one narrow job
        case None => (within, within.count())
        case Some(against) =>
          val found = against(signed)
          owned += found
          val (survivors, obs) = observed(
            within.join(found.select(col("b_id").as("doc_id")), Seq("doc_id"), "left_anti"))
          (checkpointed(survivors), n(obs))
      }

      // benchmark decontamination over the deduped survivors
      val contaminatedIds = Dedup
        .decontaminate(neardupKept, evalDocs, cfg.decontamNgram)
        .filter(col("contaminated")).select("doc_id")
      val clean = neardupKept.join(contaminatedIds, Seq("doc_id"), "left_anti")

      // the content-hash split attaches as a COLUMN (splitAssigned):
      // joining hashSplit back would evaluate the clean subtree — the
      // whole decontamination pass — twice inside the one landing action
      val landObs = Observation()
      val split = land(Assemble.splitAssigned(
        clean, cfg.trainPermille, cfg.valPermille, cfg.splitSalt)
        .observe(landObs, count(lit(1)).as("5_clean"),
          Assemble.SplitNames.map(s => count(when(col("split") === s, 1)).as(s)): _*))
      owned += split
      val landCounts = landObs.get
      val counts = Seq("1_raw" -> n(raw), "2_gate_passed" -> n(gatePassed)) ++
        blocklistPassed.map(o => "2b_blocklist_passed" -> n(o)) ++
        Seq("3_exact_unique" -> n(nExact), "4_neardup_kept" -> nKept,
          "5_clean" -> landCounts("5_clean").asInstanceOf[Long]) ++
        Assemble.SplitNames.sorted.map(s => s"6_split_$s" -> landCounts(s).asInstanceOf[Long])
          .filter(_._2 > 0)
      finish(split, funnel(cfg, split.sparkSession, counts, split, pairs), signed)
    } finally {
      normalized.unpersist(blocking = false)
      signature.foreach(_.release())
      owned.foreach(graft.util.Checkpoints.release)
    }
  }

  /** The funnel: one `(stage, n_docs)` row per stage from the counts the
    * chain observed — a `6_split_<split>` row per non-empty split —
    * then the opt-in audit rows. The blocklist row exists only when
    * configured and the audit rows only on opt-in, so the default
    * funnel stays byte-identical (x62/x68 pin it). Returned
    * materialized: a local frame, checkpointed once when the audit
    * rows join it. */
  private def funnel(
      cfg: PrepConfig, spark: SparkSession, counts: Seq[(String, Long)],
      split: DataFrame, pairs: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val base = spark.createDataFrame(
      counts.map { case (stage, n) => Row(stage, n) }.asJava, FunnelSchema)
    if (!cfg.auditRows) base
    else base.unionByName(auditFunnelRows(pairs, split)).localCheckpoint(true)
  }

  /** The funnel table's schema (`stage` nullable, as the funnel table
    * has always been written). */
  private val FunnelSchema = StructType(Seq(
    StructField("stage", StringType),
    StructField("n_docs", LongType, nullable = false)))

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
    * the ramp/tail idle of the others (guide §2.6; r15). On a failure
    * the surviving siblings' jobs are cancelled and their threads
    * joined before the rethrow (ADVICE r15): no background write may
    * race the caller's finally-unpersist or mutate tables after the run
    * reported failure. Returns the export tables. */
  private def writeTailArtifacts(
      cfg: PrepConfig, writer: StagingWriter, corpus: DataFrame,
      funnel: DataFrame): Seq[String] =
    graft.util.FanOut.all[Seq[String]](
      corpus.sparkSession.sparkContext, threads = 3)(Seq(
      () => {
        Dedup.MinhashIndex.build(corpus, writer, IndexTable)
        Nil
      },
      () => if (cfg.exports) writeExports(cfg, writer, corpus) else Nil,
      () => {
        writer.write(funnel, FunnelTable, append = false)
        Nil
      })).flatten

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
    *     THEN a probe against the stored MinHash index
    *     ([[Dedup.Signatures.against]], the batch's one signature) —
    *     history always wins, the streaming loop's semantic, and no
    *     standing signature is ever recomputed.
    *
    * Survivors append to the corpus table and, from the same signature,
    * to the index ([[Dedup.MinhashIndex]]), so the NEXT tick — batch or
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
    *      left — corpus and every index artifact — is ROLLED BACK
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
      batchId: Option[Long] = None): PrepReport =
    incrementBounded(newDocs, evalDocs, writer, cfg, batchId, Dedup.LocalMaxShingleRows)

  /** [[increment]] with the bound of its batch signature explicit
    * ([[Dedup.LocalMaxShingleRows]]); 0 forces the distributed verify,
    * probe and index frames — the spec's equality switch. */
  private[graft] def incrementBounded(
      newDocs: DataFrame,
      evalDocs: DataFrame,
      writer: StagingWriter,
      cfg: PrepConfig,
      batchId: Option[Long],
      localMaxShingleRows: Long): PrepReport = {
    if (batchId.exists(writer.batchCommitted(CorpusTable, _)))
      return PrepReport(
        emptyFunnel(newDocs.sparkSession), Map.empty, quarantined = 0L,
        artifacts = Seq(CorpusTable, IndexTable))
    // an index of an older layout fails before any stage runs
    Dedup.MinhashIndex.requireLayout(writer, IndexTable)
    // rollback BEFORE any read below lists the standing tables
    batchId.foreach { id =>
      batchSliceTables.foreach(t => writer.deleteBatchSlice(t, id))
    }
    stages(newDocs, evalDocs, cfg, localMaxShingleRows)(
      // standing-corpus digests ride the scan projection — narrow, and
      // read under a declared schema: no schema-inference job per tick
      standing = batchUniq => batchUniq.join(
        writer.read(CorpusTable, CorpusText)
          .select(md5(col("text")).as("__corpus_hash")).distinct(),
        md5(batchUniq("text")) === col("__corpus_hash"), "left_anti"),
      // the stored-index probe of the batch's signature; a signature
      // on the driver probes with narrow scans and its pairs are a
      // local frame, so the chain's anti-join plans as a broadcast
      history = Some(_.against(writer, IndexTable, cfg.neardupThreshold)),
      // eager before the appends: the writes must see ONE evaluation
      // of the batch chain, and the corpus append must not re-read the
      // corpus it is appending to via the anti-join lineage. The
      // funnel is materialized by then too — a lazy count evaluated
      // after the append would re-run the standing-corpus anti-join
      // against a corpus that now contains this batch's own survivors
      // and report them as duplicates.
      land = _.localCheckpoint(true)) { (withSplit, funnel, signed) =>
      // the landed docs' index rows come from the batch's signature:
      // their text is not parsed again
      val index = signed.frames(Some(withSplit))
      batchId match {
        case Some(id) =>
          writer.appendBatchSlice(withSplit, CorpusTable, id)
          Dedup.MinhashIndex.appendBatchSlice(index, writer, IndexTable, id)
          writer.commitBatch(CorpusTable, id) // the tick's commit point
        case None =>
          writer.write(withSplit, CorpusTable, append = true)
          Dedup.MinhashIndex.append(index, writer, IndexTable)
      }
      report(funnel, Seq(CorpusTable, IndexTable))
    }
  }

  /** The one corpus column the standing-corpus anti-join reads. */
  private val CorpusText = StructType(Seq(StructField("text", StringType)))

  /** The funnel's (stage, n_docs) shape with no rows — what a replayed,
    * already-committed [[increment]] batch reports. */
  private def emptyFunnel(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), FunnelSchema)

  /** The compaction-cadence job [[increment]]'s contract defers to:
    * re-derive every derived artifact from the (appended-to) corpus
    * table — a fresh MinHash index built in one pass (collapsing the
    * per-tick append files) and the derived exports ([[writeExports]]).
    * Run this when the tick count makes the index's file listing
    * expensive or the exports stale; the corpus table itself is never
    * rewritten (it is the source of truth the derivations read).
    *
    * CRASH-SAFE throughout: the index rebuild stages both
    * artifacts under `__rebuild*` names and swaps them in through the
    * sink's backup protocol (`Dedup.MinhashIndex.rebuild` — a refresh
    * that dies mid-rebuild leaves the PREVIOUS index probe-consistent,
    * which matters because the INCREMENTAL ingest loops keep probing
    * it between refreshes), and every export is swapped in the same
    * way. It also converts an index of the older three-artifact layout,
    * which every increment refuses with
    * [[graft.ext.GrowingIndex.StaleLayout]], and drops its retired
    * tables. */
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
