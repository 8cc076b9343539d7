package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.run.CorpusPrepJob
import graft.run.CorpusPrepJob.PrepConfig
import graft.sinks.StagingWriter

/** End-to-end composition of the corpus prep pipeline — the x62 gate
  * row pins the funnel counts against the DuckDB oracle; this spec
  * pins the LIFECYCLE: monotone stage counts, exhaustive split,
  * durable artifacts where the incremental loops expect them, the
  * quarantine path, and the optional mixture stage. */
class CorpusPrepJobSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def evalDocs = docs.filter(col("doc_id") % 50 === 0)
    .select(array_join(slice(split(col("text"), " "), 5, 26), " ").as("text"))

  test("run: funnel is monotone, split exhaustive, artifacts durable and probeable") {
    val wh = tmpDir("prepjob")
    val writer = new StagingWriter(spark, wh)
    val report = CorpusPrepJob.run(docs, evalDocs, writer)

    val c = report.stageCounts
    assert(c("1_raw") == docs.count())
    // the funnel only ever narrows
    assert(c("1_raw") >= c("2_gate_passed"))
    assert(c("2_gate_passed") >= c("3_exact_unique"))
    assert(c("3_exact_unique") >= c("4_neardup_kept"))
    assert(c("4_neardup_kept") >= c("5_clean"))
    assert(c("5_clean") > 0, s"pipeline dropped everything: $c")
    // split partitions the clean corpus exactly
    val splits = c.filter(_._1.startsWith("6_split_")).values.sum
    assert(splits == c("5_clean"), s"split not exhaustive: $c")

    // durable deliverable: the clean corpus with its split column
    val corpus = writer.read(CorpusPrepJob.CorpusTable)
    assert(corpus.count() == c("5_clean"))
    assert(corpus.columns.contains("split"))
    // the funnel table matches the report
    val funnelTbl = writer.read(CorpusPrepJob.FunnelTable)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnelTbl == c)

    // packed train sequences cover exactly the train split
    val packed = writer.read(CorpusPrepJob.PackedTable)
    assert(packed.count() == c("6_split_train"))
    // curriculum export produced the requested shard files
    val shardFiles = new java.io.File(writer.path(CorpusPrepJob.CurriculumTable))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(shardFiles == PrepConfig().curriculumShards,
      s"expected ${PrepConfig().curriculumShards} curriculum shards, got $shardFiles")

    // the MinHash index artifact is live: a mutated copy of a kept doc
    // probes to its original through the incremental-ingest read path
    val keeper = corpus.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), col("text")).head()
    val probe = spark.createDataFrame(Seq(
      (9999999L, keeper.getString(1) + " tail tweak")))
      .toDF("doc_id", "text")
    val found = graft.ext.Dedup
      .neardupAgainstIndex(probe, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((keeper.getLong(0), 9999999L)),
      s"index probe missed the planted near-copy: $found")

    // and the incremental loop GROWS that same artifact: append a new
    // batch through the ingest-time writer, then a later probe pairs
    // against the appended doc — the prep job's layout and the
    // streaming tick's layout are one artifact, not two copies
    val newDoc = spark.createDataFrame(Seq(
      (8888888L, "a wholly fresh document about migratory lighthouse maintenance schedules " +
        "and the keepers who follow them across the northern coast every single year")))
      .toDF("doc_id", "text")
    graft.ext.Dedup.MinhashIndex.append(newDoc, writer, CorpusPrepJob.IndexTable)
    val probe2 = spark.createDataFrame(Seq(
      (8888889L, "a wholly fresh document about migratory lighthouse maintenance schedules " +
        "and the keepers who follow them across the northern coast every single year indeed")))
      .toDF("doc_id", "text")
    val found2 = graft.ext.Dedup
      .neardupAgainstIndex(probe2, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found2.contains((8888888L, 8888889L)),
      s"appended batch invisible to a later probe: $found2")
  }

  test("increment: a new batch dedups against standing artifacts and grows them") {
    val wh = tmpDir("prepincr")
    val writer = new StagingWriter(spark, wh)
    val initial = CorpusPrepJob.run(docs, evalDocs, writer)
    val corpusBefore = writer.read(CorpusPrepJob.CorpusTable)
      .select("doc_id", "text").collect()
    val kept = corpusBefore.sortBy(_.getLong(0))
    assert(kept.length >= 2, "fixture too small for the increment scenario")

    // four batch docs, one per drop stage:
    //  (a) exact copy of a standing doc        -> exact stage
    //  (b) near-dup of a standing doc          -> history-probe stage
    //  (c) fresh text quoting an eval window   -> decontamination stage
    //  (d) genuinely new clean doc             -> survives
    val t1 = kept.head.getString(1)
    val t2 = kept(1).getString(1)
    val evalWindow = evalDocs.limit(1).head().getString(0)
    val contaminated = (t1.split(" ").take(40) ++ evalWindow.split(" ") ++
      t2.split(" ").takeRight(40)).mkString(" ")
    val fresh = ("the keepers of a coastal lighthouse follow maintenance schedules " +
      "across the northern route every year and the log of each visit records " +
      "paint wear lens state and the long slow drift of the foundation stones " +
      "while a small boat waits in the cove below the cliff path and the gulls " +
      "turn slow circles over the light before the fog rolls in again").trim
    val batch = spark.createDataFrame(Seq(
      (9000001L, t1, "en", "incr"),
      (9000002L, t2 + " with a few extra trailing tokens appended", "en", "incr"),
      (9000003L, contaminated, "en", "incr"),
      (9000004L, fresh, "en", "incr")))
      .toDF("doc_id", "text", "lang", "source")

    val tick = CorpusPrepJob.increment(batch, evalDocs, writer)
    val c = tick.stageCounts
    assert(c("1_raw") == 4, s"got $c")
    assert(c("2_gate_passed") == 4, s"gate dropped a crafted doc: $c")
    assert(c("3_exact_unique") == 3, s"exact copy not dropped vs corpus: $c")
    assert(c("4_neardup_kept") == 2, s"near-dup not dropped vs index: $c")
    assert(c("5_clean") == 1, s"contaminated doc not dropped: $c")
    assert(c.filter(_._1.startsWith("6_split_")).values.sum == 1)

    // artifacts grew by exactly the surviving doc...
    val corpusAfter = writer.read(CorpusPrepJob.CorpusTable)
    assert(corpusAfter.count() == corpusBefore.length + 1)
    assert(corpusAfter.filter(col("doc_id") === 9000004L).count() == 1)
    // ...and the NEXT tick sees it as history: a near-copy of the
    // survivor probes to it through the grown index
    val probe = spark.createDataFrame(Seq(
      (9000005L, fresh + " indeed"))).toDF("doc_id", "text")
    val found = graft.ext.Dedup
      .neardupAgainstIndex(probe, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((9000004L, 9000005L)),
      s"grown index invisible to the next tick: $found")
  }

  test("refreshArtifacts: post-increment rebuild covers the grown corpus, probes intact") {
    val wh = tmpDir("preprefresh")
    val writer = new StagingWriter(spark, wh)
    CorpusPrepJob.run(docs, evalDocs, writer)
    val fresh = ("the keepers of a coastal lighthouse follow maintenance schedules " +
      "across the northern route every year and the log of each visit records " +
      "paint wear lens state and the long slow drift of the foundation stones " +
      "while a small boat waits in the cove below the cliff path and the gulls " +
      "turn slow circles over the light before the fog rolls in again").trim
    val batch = spark.createDataFrame(Seq((9100001L, fresh, "en", "incr")))
      .toDF("doc_id", "text", "lang", "source")
    CorpusPrepJob.increment(batch, evalDocs, writer)
    CorpusPrepJob.refreshArtifacts(writer)
    val corpus = writer.read(CorpusPrepJob.CorpusTable)
    // exports re-derive over the FULL grown corpus
    assert(writer.read(CorpusPrepJob.PackedTable).count() ==
      corpus.filter(col("split") === "train").count())
    val curriculum = spark.read.parquet(writer.path(CorpusPrepJob.CurriculumTable))
    assert(curriculum.count() == corpus.count())
    // the rebuilt index still answers for BOTH original and appended docs
    val probe = spark.createDataFrame(Seq(
      (9100002L, fresh + " indeed"))).toDF("doc_id", "text")
    val found = graft.ext.Dedup
      .neardupAgainstIndex(probe, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((9100001L, 9100002L)),
      s"rebuilt index lost the appended doc: $found")
  }

  test("increment with batchId is exactly-once: committed replays no-op, crashed replays rebuild the same state") {
    val wh = tmpDir("prepreplay")
    val writer = new StagingWriter(spark, wh)
    CorpusPrepJob.run(docs, evalDocs, writer)
    val fresh1 = ("the keepers of a coastal lighthouse follow maintenance schedules " +
      "across the northern route every year and the log of each visit records " +
      "paint wear lens state and the long slow drift of the foundation stones " +
      "while a small boat waits in the cove below the cliff path and the gulls " +
      "turn slow circles over the light before the fog rolls in again").trim
    val fresh2 = ("a completely different field journal follows the migration of " +
      "shore birds along the eastern flats where the tide uncovers long mud banks " +
      "and the counting teams wade out before dawn with their spotting scopes and " +
      "their notebooks to record each flock as the light comes up over the water " +
      "and the first skeins lift away toward the north").trim
    val batch = spark.createDataFrame(Seq(
      (9300001L, fresh1, "en", "incr"), (9300002L, fresh2, "en", "incr")))
      .toDF("doc_id", "text", "lang", "source")

    val tables = CorpusPrepJob.CorpusTable +:
      graft.ext.Dedup.MinhashIndex.artifacts.map(CorpusPrepJob.IndexTable + _)
    def snapshot(): Map[String, Seq[org.apache.spark.sql.Row]] =
      tables.map { t =>
        val df = writer.read(t)
        t -> df.orderBy(df.columns.map(col): _*).collect().toSeq
      }.toMap

    val tick = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(7L))
    assert(tick.stageCounts("6_split_train") +
      tick.stageCounts.getOrElse("6_split_val", 0L) +
      tick.stageCounts.getOrElse("6_split_test", 0L) == 2L)
    val committed = snapshot()

    // replay of a COMMITTED batch: a recognized no-op, state untouched
    val replay = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(7L))
    assert(replay.stageCounts.isEmpty, "committed replay recomputed the batch")
    assert(replay.funnel.columns.toSeq == Seq("stage", "n_docs"))
    assert(snapshot() == committed)

    // crash BETWEEN the appends and the commit marker: the slices
    // landed, the marker didn't — replay rolls back and re-lands the
    // identical state (the anti-joins must not see the crashed
    // attempt's own rows as history, or the funnel drops to zero)
    val marker = new java.io.File(
      writer.path(CorpusPrepJob.CorpusTable), "_graft_commit_b7")
    assert(marker.delete(), "commit marker missing after a committed tick")
    val replay2 = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(7L))
    assert(replay2.stageCounts == tick.stageCounts,
      s"crash replay diverged: ${replay2.stageCounts} vs ${tick.stageCounts}")
    assert(snapshot() == committed)

    // crash BETWEEN artifact appends (corpus landed, bands didn't):
    // rollback restores the pre-batch state before recomputing
    assert(new java.io.File(
      writer.path(CorpusPrepJob.CorpusTable), "_graft_commit_b7").delete())
    writer.deleteBatchSlice(s"${CorpusPrepJob.IndexTable}__bands", 7L)
    val replay3 = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(7L))
    assert(replay3.stageCounts == tick.stageCounts)
    assert(snapshot() == committed)
  }

  test("refreshArtifacts crash-safety: an interrupt at EVERY swap point leaves the index probe-consistent") {
    val wh = tmpDir("preprebuildcrash")
    val writer = new StagingWriter(spark, wh)
    CorpusPrepJob.run(docs, evalDocs, writer)
    val fresh = ("the keepers of a coastal lighthouse follow maintenance schedules " +
      "across the northern route every year and the log of each visit records " +
      "paint wear lens state and the long slow drift of the foundation stones " +
      "while a small boat waits in the cove below the cliff path and the gulls " +
      "turn slow circles over the light before the fog rolls in again").trim
    val batch = spark.createDataFrame(Seq((9200001L, fresh, "en", "incr")))
      .toDF("doc_id", "text", "lang", "source")
    CorpusPrepJob.increment(batch, evalDocs, writer)

    // probes cover BOTH index generations' content: a near-copy of an
    // initial-corpus keeper and one of the appended tick's survivor
    val keeper = writer.read(CorpusPrepJob.CorpusTable)
      .orderBy(col("doc_id")).limit(1).select(col("doc_id"), col("text")).head()
    val probe = spark.createDataFrame(Seq(
      (9200002L, keeper.getString(1) + " tail tweak"),
      (9200003L, fresh + " indeed")))
      .toDF("doc_id", "text")
    def probeSet() = graft.ext.Dedup
      .neardupAgainstIndex(probe, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probeSet()
    assert(before.contains((keeper.getLong(0), 9200002L)))
    assert(before.contains((9200001L, 9200003L)))

    // crash point 1: staging completed, NO swap yet — live index
    // untouched by construction (staged writes land under __rebuild*)
    val staged = graft.ext.Dedup.MinhashIndex.stage(
      writer.read(CorpusPrepJob.CorpusTable), writer, CorpusPrepJob.IndexTable)
    assert(probeSet() == before, "staging alone disturbed the live index")

    // crash points 2..4: after EACH individual swap (shingles, sizes,
    // bands — the rebuild's order). Mixed generations stay consistent
    // because the rebuild derives from the same corpus the old index
    // covers: every doc the old bands gate emits still finds its
    // shingle rows, and per-doc shingle content is deterministic.
    graft.ext.Dedup.MinhashIndex.artifacts.foreach { s =>
      writer.swapIn(s"$staged$s", s"${CorpusPrepJob.IndexTable}$s")
      assert(probeSet() == before, s"probe diverged after swapping $s")
    }
  }

  test("refreshArtifacts rolls back an uncommitted crashed tick instead of absorbing it; the replay still lands it") {
    val wh = tmpDir("preprebuilduncommitted")
    val writer = new StagingWriter(spark, wh)
    CorpusPrepJob.run(docs, evalDocs, writer)
    val corpusBefore = writer.read(CorpusPrepJob.CorpusTable).count()
    val fresh = ("the keepers of a coastal lighthouse follow maintenance schedules " +
      "across the northern route every year and the log of each visit records " +
      "paint wear lens state and the long slow drift of the foundation stones " +
      "while a small boat waits in the cove below the cliff path and the gulls " +
      "turn slow circles over the light before the fog rolls in again").trim
    val batch = spark.createDataFrame(Seq((9400001L, fresh, "en", "incr")))
      .toDF("doc_id", "text", "lang", "source")
    val tick = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(3L))
    assert(tick.stageCounts("5_clean") == 1L)

    // the crash: every append landed, the commit marker didn't
    assert(new java.io.File(
      writer.path(CorpusPrepJob.CorpusTable), "_graft_commit_b3").delete())
    CorpusPrepJob.refreshArtifacts(writer)

    // the rebuild covered exactly the COMMITTED corpus — the crashed
    // tick's doc is in neither the corpus nor the rebuilt index
    assert(writer.read(CorpusPrepJob.CorpusTable).count() == corpusBefore)
    val probe = spark.createDataFrame(Seq(
      (9400002L, fresh + " indeed"))).toDF("doc_id", "text")
    def probeHits() = graft.ext.Dedup
      .neardupAgainstIndex(probe, writer, CorpusPrepJob.IndexTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!probeHits().exists(_._1 == 9400001L),
      "rebuilt index absorbed the uncommitted crashed tick")

    // the replay lands the batch as if the crash never happened —
    // in particular its docs must NOT self-near-dup against any
    // absorbed copy of themselves
    val replay = CorpusPrepJob.increment(batch, evalDocs, writer, batchId = Some(3L))
    assert(replay.stageCounts == tick.stageCounts,
      s"replay diverged after refresh: ${replay.stageCounts} vs ${tick.stageCounts}")
    assert(writer.read(CorpusPrepJob.CorpusTable)
      .filter(col("doc_id") === 9400001L).count() == 1)
    assert(probeHits().contains((9400001L, 9400002L)))
  }

  test("runFromJsonl: quarantine is counted and written; parsed side feeds the pipeline") {
    val dir = tmpDir("prepjsonl")
    val lines =
      docs.limit(60).collect().map { r =>
        s"""{"doc_id": ${r.getAs[Long]("doc_id")}, "text": ${jsonStr(r.getAs[String]("text"))}, "lang": "en", "source": "s1"}"""
      } ++ Seq("""{"doc_id": 7, "text": "truncat""", "garbage line")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "in.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val wh = tmpDir("prepjsonlwh")
    val writer = new StagingWriter(spark, wh)
    val report = CorpusPrepJob.runFromJsonl(
      spark, s"$dir/in.jsonl", schema, evalDocs, writer)
    assert(report.quarantined == 2)
    assert(report.stageCounts("1_raw") == 60)
    assert(report.artifacts.contains("quarantine"))
    assert(writer.read("quarantine").count() == 2)
  }

  test("htmlInput: a markup-wrapped corpus lands at the same funnel as its plain original") {
    val whPlain = tmpDir("prephtml1")
    val whHtml = tmpDir("prephtml2")
    val plain = CorpusPrepJob.run(docs, evalDocs, new StagingWriter(spark, whPlain))
    // wrap every doc in markup the landing stage must strip; the
    // extraction round-trips, so every downstream count must match
    def wrapped(d: org.apache.spark.sql.DataFrame) = d.withColumn("text",
      concat(lit("<html><p>"),
        regexp_replace(col("text"), " value ", " <b>value</b> "),
        lit("</p></html>")))
    val html = CorpusPrepJob.run(wrapped(docs), evalDocs, new StagingWriter(spark, whHtml),
      CorpusPrepJob.PrepConfig(htmlInput = true))
    assert(html.stageCounts == plain.stageCounts,
      s"landing extraction changed the funnel: ${html.stageCounts} vs ${plain.stageCounts}")

    // the increment leg lands markup the same way: a wrapped batch
    // ticks to the same funnel as its plain copy against the same
    // standing corpus
    val batch = incrementBatch
    val plainTick = CorpusPrepJob.increment(batch, evalDocs,
      new StagingWriter(spark, whPlain))
    val htmlTick = CorpusPrepJob.increment(wrapped(batch), evalDocs,
      new StagingWriter(spark, whHtml), CorpusPrepJob.PrepConfig(htmlInput = true))
    assert(plainTick.stageCounts("3_exact_unique") < plainTick.stageCounts("1_raw") &&
      plainTick.stageCounts("5_clean") > 0, s"vacuous batch: ${plainTick.stageCounts}")
    assert(htmlTick.stageCounts == plainTick.stageCounts,
      s"landing extraction changed the tick funnel: ${htmlTick.stageCounts} vs " +
        s"${plainTick.stageCounts}")
  }

  test("blocklist: listed-term docs drop between gate and dedup; empty list is identity") {
    val whOff = tmpDir("prepbl1")
    val whOn = tmpDir("prepbl2")
    val off = CorpusPrepJob.run(docs, evalDocs, new StagingWriter(spark, whOff))
    // every fixture doc containing 'customer' is blocked; the term is
    // frequent enough that the gate is non-vacuous
    val on = CorpusPrepJob.run(docs, evalDocs, new StagingWriter(spark, whOn),
      CorpusPrepJob.PrepConfig(blocklist = Seq("customer")))
    // off-path funnel has NO blocklist row and equals the historical shape
    assert(!off.stageCounts.contains("2b_blocklist_passed"),
      s"identity broken: ${off.stageCounts}")
    val passed = on.stageCounts("2b_blocklist_passed")
    assert(passed < on.stageCounts("2_gate_passed"),
      s"blocklist dropped nothing: ${on.stageCounts}")
    assert(on.stageCounts("3_exact_unique") <= passed,
      s"dedup saw blocked docs: ${on.stageCounts}")
    // the blocked docs really carried the term — none survives
    val survivors = new StagingWriter(spark, whOn).read(CorpusPrepJob.CorpusTable)
    assert(survivors.filter(col("text").contains("customer")).count() == 0,
      "a blocklisted doc reached the corpus")
    // the same corpus WITHOUT the term is untouched by the gate
    assert(off.stageCounts("1_raw") == on.stageCounts("1_raw"))

    // the increment leg clears the same bar and reports it
    val onWriter = new StagingWriter(spark, whOn)
    val tick = CorpusPrepJob.increment(incrementBatch, evalDocs, onWriter,
      CorpusPrepJob.PrepConfig(blocklist = Seq("customer")))
    val tickPassed = tick.stageCounts("2b_blocklist_passed")
    assert(tickPassed < tick.stageCounts("2_gate_passed"),
      s"tick blocklist dropped nothing: ${tick.stageCounts}")
    assert(tick.stageCounts("3_exact_unique") <= tickPassed,
      s"tick dedup saw blocked docs: ${tick.stageCounts}")
    val grown = onWriter.read(CorpusPrepJob.CorpusTable)
    val landed = grown.filter(col("doc_id") >= 7000000L).count()
    assert(landed == tick.stageCounts("5_clean") && landed > 0,
      s"vacuous tick: ${tick.stageCounts}")
    assert(grown.filter(col("text").contains("customer")).count() == 0,
      "a blocklisted batch doc reached the corpus")
  }

  test("exports=false: run defers pack/curriculum to refreshArtifacts; funnel identical") {
    val whFull = tmpDir("prepexp1")
    val whLean = tmpDir("prepexp2")
    val full = CorpusPrepJob.run(docs, evalDocs, new StagingWriter(spark, whFull))
    val leanWriter = new StagingWriter(spark, whLean)
    val lean = CorpusPrepJob.run(docs, evalDocs, leanWriter,
      PrepConfig(exports = false))
    assert(lean.stageCounts == full.stageCounts)
    // corpus, index, and funnel always land; the export tables don't
    assert(leanWriter.exists(CorpusPrepJob.CorpusTable))
    assert(leanWriter.exists(s"${CorpusPrepJob.IndexTable}__bands"))
    assert(leanWriter.exists(CorpusPrepJob.FunnelTable))
    assert(!leanWriter.exists(CorpusPrepJob.PackedTable))
    assert(!leanWriter.exists(CorpusPrepJob.CurriculumTable))
    assert(!lean.artifacts.contains(CorpusPrepJob.PackedTable))
    // the compaction-cadence job materializes the deferred exports
    CorpusPrepJob.refreshArtifacts(leanWriter)
    val corpus = leanWriter.read(CorpusPrepJob.CorpusTable)
    assert(leanWriter.read(CorpusPrepJob.PackedTable).count() ==
      corpus.filter(col("split") === "train").count())
    assert(spark.read.parquet(leanWriter.path(CorpusPrepJob.CurriculumTable)).count() ==
      corpus.count())
  }

  test("auditRows: funnel gains the leakage + PII rows; default funnel " +
    "unchanged; the cross-split invariant holds and PII matches a " +
    "direct registry scan") {
    // plant PII on every 10th doc so the audit row is non-vacuous —
    // mixed case, so the row also rides the lower(text) discipline
    val planted = docs.withColumn("text",
      when(col("doc_id") % 10 === 0,
        concat(coalesce(col("text"), lit("")),
          lit(" contact A.User@EXAMPLE.COM now")))
        .otherwise(col("text")))
    val wh = tmpDir("prepaudit")
    val writer = new StagingWriter(spark, wh)
    val report = CorpusPrepJob.run(planted, evalDocs, writer,
      PrepConfig(exports = false, auditRows = true))
    val c = report.stageCounts
    // the canonical rewrite keeps at most one member per dup
    // component, so no surviving near-dup pair can straddle splits —
    // a non-zero row here means the dedup-before-split ordering broke
    assert(c("7_audit_cross_split_pairs") == 0L, s"leaky pairs: $c")
    // the PII row equals a direct registry scan of the WRITTEN corpus
    val corpus = writer.read(CorpusPrepJob.CorpusTable)
    val direct = corpus
      .filter(graft.ext.TextStats.piiAnyHit).count()
    assert(c("7_audit_pii_docs") == direct,
      s"audit row ${c.get("7_audit_pii_docs")} != direct $direct")
    assert(direct > 0L, "PII plant vacuous — no doc survived with a hit")
    // non-audit stages are the same set the default funnel publishes
    val defaultRun = CorpusPrepJob.run(planted, evalDocs,
      new StagingWriter(spark, tmpDir("prepaudit0")),
      PrepConfig(exports = false))
    assert(c.keySet.filterNot(_.startsWith("7_audit_")) ==
      defaultRun.stageCounts.keySet,
      "audit flag must only ADD rows")
    assert(defaultRun.stageCounts.keySet.forall(!_.startsWith("7_audit_")),
      "default funnel must carry no audit rows")
    // the increment leg publishes the same audit rows, batch-scoped
    val batch = planted.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val inc = CorpusPrepJob.increment(batch, evalDocs, writer,
      PrepConfig(exports = false, auditRows = true))
    assert(inc.stageCounts.contains("7_audit_cross_split_pairs"))
    assert(inc.stageCounts.contains("7_audit_pii_docs"))
    assert(inc.stageCounts("7_audit_cross_split_pairs") == 0L)
  }

  test("mixBudget: the train mixture artifact is written and within budget") {
    val wh = tmpDir("prepmix")
    val writer = new StagingWriter(spark, wh)
    val report = CorpusPrepJob.run(docs, evalDocs, writer,
      PrepConfig(mixBudget = Some(10L)))
    assert(report.artifacts.contains(CorpusPrepJob.MixTable))
    val mixed = writer.read(CorpusPrepJob.MixTable)
    assert(mixed.count() <= 10L)
    assert(mixed.count() > 0L)
  }

  /** An increment batch against a corpus prepped from the full fixture:
    * exact copies of every 10th doc (dropped at the standing-corpus
    * anti-join), suffixed near copies of the docs ≡ 5 mod 10 (dropped
    * at the index probe) and token-reversed docs ≡ 3 mod 10 (new text
    * that shares no 3-gram shingle order with the corpus). */
  private def incrementBatch = {
    val d = docs.select("doc_id", "text", "lang", "source")
    d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 7000000L)
      .unionByName(d.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", col("doc_id") + 8000000L)
        .withColumn("text", concat(col("text"), lit(" zz incr suffix"))))
      .unionByName(d.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 9000000L)
        .withColumn("text", array_join(reverse(split(col("text"), " ")), " ")))
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
